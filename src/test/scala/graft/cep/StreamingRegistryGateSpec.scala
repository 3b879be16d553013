package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The batch==stream correctness gate over the *registry* CEP queries:
  * every `Queries.cepRegistryQueries` pattern runs through
  * `StreamingCep.matchPattern` on a real file-stream source (the sf0.001
  * events table re-written as four contiguous event_id slices, consumed
  * one file per micro-batch) and must produce exactly the batch
  * operator's match multiset. Any future divergence between the two
  * operators on a shipped pattern fails here.
  *
  * Slices are contiguous in event_id and written in order, so per-key
  * arrival order across micro-batches matches the batch sort — the
  * reference's processing-time semantics.
  */
class StreamingRegistryGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var sliceDir: String = _
  private var sliceSchema: org.apache.spark.sql.types.StructType = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_id", "event_type", "value")
    sliceSchema = ev.schema
    val mm = ev.selectExpr("min(event_id)", "max(event_id)").head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    sliceDir = java.nio.file.Files
      .createTempDirectory("cep-stream-gate").toString
    // four contiguous event_id ranges, written sequentially: one file per
    // slice, so maxFilesPerTrigger=1 replays them as ordered micro-batches
    val width = (hi - lo) / 4 + 1
    for (s <- 0 until 4) {
      ev.filter(
        org.apache.spark.sql.functions.col("event_id")
          .between(lo + s * width, lo + (s + 1) * width - 1))
        .coalesce(1).write.mode("append").parquet(sliceDir)
    }
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  for ((name, query) <- graft.Queries.cepRegistryQueries.toSeq.sortBy(_._1))
    test(s"stream == batch on registry query $name") {
      val batch = SparkCep.matchPatternExec(
        spark.read.parquet(s"$sfDir/events.parquet"), query,
        graft.Queries.eventSpec)
        .collect().map(_.toString).sorted.toVector

      val streamDf = spark.readStream.schema(sliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(sliceDir)
      val out = StreamingCep.matchPattern(streamDf, query,
        graft.Queries.eventSpec)
      val qn = s"gate_$name"
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val streamed =
        try {
          sq.processAllAvailable()
          spark.sql(s"SELECT * FROM $qn").collect()
            .map(_.toString).sorted.toVector
        } finally sq.stop()

      assert(batch.nonEmpty, s"$name produced no matches at sf0.001")
      assert(streamed == batch,
        s"$name diverged: stream ${streamed.length} rows vs batch " +
          s"${batch.length}")
    }
}

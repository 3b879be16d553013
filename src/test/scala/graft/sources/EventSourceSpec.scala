package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CSV/JSON round-trips through the source layer feed the CEP operator
  * identically to the native frame, and a file-backed stream drives
  * streaming CEP end to end (source → NFA → memory sink).
  */
class EventSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("value", LongType)))

  import graft.cep._
  private val q = CepQuery(
    Pattern.Combine(Contiguity.Strict, Pattern.spat("x", "a", "True"),
      Pattern.spat("y", "b", "True")),
    Vector("a" -> Vector("event_id", "value"),
      "b" -> Vector("event_id", "value")))
  private val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
    "event_type", Seq("value"))

  test("csv and json sources produce identical CEP matches") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 1L, "a", 5L), (1L, 2L, "b", 1L), (2L, 3L, "a", 7L),
      (2L, 4L, "b", 2L)).toDF("user_id", "event_id", "event_type", "value")
    val dir = Files.createTempDirectory("src").toString
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/json")

    def matches(in: org.apache.spark.sql.DataFrame) =
      SparkCep.matchPatternExec(in, q, spec).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).head,
          r.getSeq[Long](2).head)).toSet

    val want = matches(df)
    assert(want == Set((1L, 1L, 2L), (2L, 3L, 4L)))
    assert(matches(EventSource.csv(spark, s"$dir/csv", schema)) == want)
    assert(matches(EventSource.json(spark, s"$dir/json", schema)) == want)
  }

  test("file stream source drives streaming CEP to a sink") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("srcstream").toString
    Seq((1L, 1L, "a", 5L), (1L, 2L, "b", 1L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.json(s"$dir/in")
    val in = EventSource.jsonStream(spark, s"$dir/in", schema)
    assert(in.isStreaming)
    val out = StreamingCep.matchPattern(in, q, spec)
    val query = out.writeStream.format("memory").queryName("src_cep")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("src_cep").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).head,
        r.getSeq[Long](2).head)).toSet
    assert(got == Set((1L, 1L, 2L)))
  }
}

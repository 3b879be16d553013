package graft.cep

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Golden per-key STATE of every streaming entry point: each of the ten
  * `StreamingCep` operators runs two micro-batches (one per query start,
  * so the second restores from the checkpoint) over the same small
  * parquet fixture; the committed state store is then read back through
  * Spark's `statestore` data source, every `VersionedState` payload is
  * decoded with `CepStateCodec.decode`, and the rendering — together
  * with the rows each batch emitted — must equal the checked-in
  * `streaming_state.golden` byte for byte.
  *
  * The state is the checkpoint contract: a change in what an operator
  * stores (layout, member order, held-back NEXT tail form, nav section,
  * SHOW EMPTY sites, timeout stamp) breaks restores of existing
  * checkpoints even when the emitted rows stay the same, so it is
  * pinned here directly. The cases cover both single-query and shared
  * layouts in arrival and event-time order, PREV in the arrival shared
  * nav section, PREV+NEXT in both event-time layouts, SHOW EMPTY site
  * tracking and both timeout operators.
  *
  * Regenerate (only for an intended state change, which needs a codec
  * version bump): `GRAFT_GOLDEN_UPDATE=1 sbt "testOnly
  * graft.cep.StreamingStateGoldenSpec"`.
  */
class StreamingStateGoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "1")
      // exactly two batches: no trailing no-data batch after a
      // watermark move, which would race the query stop
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val goldenPath =
    Paths.get("src/test/resources/golden/streaming_state.golden")

  private val evSchema: Vector[(String, Vector[String])] = Vector(
    "click" -> Vector("event_id", "value"),
    "view" -> Vector("event_id", "value"),
    "purchase" -> Vector("event_id", "value"))
  private val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
    "event_type", Seq("value"))
  private val fileSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("value", LongType),
    StructField("ts_sec", LongType)))

  // (user_id, event_id, event_type, value, ts_sec). Key 9 drives the
  // watermark (10 s delay): batch 1 ends at 30 s, so batch 2 runs under
  // a 20 s watermark and releases every batch-1 event of keys 1 and 2,
  // out of arrival order (event 3 precedes event 2 in event time).
  private val batch1 = Seq(
    (1L, 1L, "click", 5L, 10L), (1L, 2L, "view", 3L, 12L),
    (1L, 3L, "click", 8L, 11L), (1L, 4L, "click", 2L, 14L),
    (2L, 5L, "click", 4L, 10L), (2L, 6L, "view", 9L, 13L),
    (2L, 7L, "click", 6L, 15L), (9L, 8L, "view", 0L, 30L))
  private val batch2 = Seq(
    (1L, 9L, "view", 7L, 25L), (1L, 10L, "click", 9L, 26L),
    (2L, 11L, "click", 1L, 24L), (2L, 12L, "purchase", 5L, 27L),
    (1L, 13L, "click", 3L, 31L), (9L, 14L, "view", 0L, 45L))

  private def q(sql: String): CepQuery = CepSql.parse(sql, evSchema)
  private def st(sql: String): CepSql.CepSqlStatement =
    CepSql.parseStatement(sql, evSchema)

  private val relaxed = "PATTERN (a -> b) DEFINE a AS click; b AS view"
  private val timeout =
    "PATTERN (a -> b) DEFINE a AS click; b AS purchase WITHIN 3"
  private val showEmpty = "PATTERN (c{0,2}) MEASURES COUNT(c) AS n_c, " +
    "SUM(c.value) AS sv ONE ROW PER MATCH SHOW EMPTY MATCHES " +
    "DEFINE c AS click WITHIN 3"
  private val measured = "PATTERN (x -> y) MEASURES FIRST(x) AS x_id, " +
    "LAST(y.value) AS y_v DEFINE x AS click; y AS view"
  private val prevPair = "PATTERN (x y) DEFINE x AS click; " +
    "y AS click WHERE value > PREV(value)"
  private val prevNext = "PATTERN (x -> y) DEFINE x AS click WHERE " +
    "value < NEXT(value); y AS click WHERE value > PREV(value)"
  private val nextOnly =
    "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value)"

  private val et = ("ts", "10 seconds")

  /** The ten entry points, in declaration order. */
  private val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
    "matchPattern" -> (df => StreamingCep.matchPattern(df, q(relaxed), spec)),
    "matchPatternMeasures" -> (df =>
      StreamingCep.matchPatternMeasures(df, st(showEmpty), spec)),
    "timedOutPartials" -> (df =>
      StreamingCep.timedOutPartials(df, q(timeout), spec)),
    "matchPatternsShared" -> (df => StreamingCep.matchPatternsShared(df,
      Seq("prv" -> q(prevPair), "plain" -> q(relaxed)), spec)),
    "matchPatternsSharedMeasures" -> (df =>
      StreamingCep.matchPatternsSharedMeasures(df,
        Seq("se" -> st(showEmpty), "plain" -> st(measured)), spec)),
    "matchPatternEventTime" -> (df => StreamingCep.matchPatternEventTime(
      df, q(prevNext), spec, et._1, et._2)),
    "matchPatternMeasuresEventTime" -> (df =>
      StreamingCep.matchPatternMeasuresEventTime(df, st(showEmpty), spec,
        et._1, et._2)),
    "timedOutPartialsEventTime" -> (df =>
      StreamingCep.timedOutPartialsEventTime(df, q(timeout), spec,
        et._1, et._2)),
    "matchPatternsSharedEventTime" -> (df =>
      StreamingCep.matchPatternsSharedEventTime(df,
        Seq("nxt" -> q(nextOnly), "prv" -> q(prevPair),
          "plain" -> q(relaxed)), spec, et._1, et._2)),
    "matchPatternsSharedMeasuresEventTime" -> (df =>
      StreamingCep.matchPatternsSharedMeasuresEventTime(df,
        Seq("se" -> st(showEmpty), "plain" -> st(measured)), spec,
        et._1, et._2)))

  /** Render a state-store value: every `(ver, payload)` struct is a
    * `VersionedState` and renders as its decoded `CepStateEt`.
    */
  private def renderValue(v: Any): String = v match {
    case null => "null"
    case r: Row if r.schema != null &&
        r.schema.fieldNames.toSeq == Seq("ver", "payload") =>
      CepStateCodec.decode(CepStateCodec.VersionedState(r.getInt(0),
        r.getAs[Array[Byte]](1))).toString
    case r: Row =>
      r.schema.fieldNames.zip(r.toSeq).map { case (n, x) =>
        s"$n=${renderValue(x)}" }.mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(renderValue).mkString("[", ", ", "]")
    case x => String.valueOf(x)
  }

  private def renderRow(r: Row): String =
    r.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"$k->$x" }.sorted.mkString("{", ",", "}")
      case x => String.valueOf(x)
    }.mkString("|")

  /** Two checkpointed batches through one operator; the emitted rows
    * per batch and the committed state, rendered.
    */
  private def runCase(name: String, op: DataFrame => DataFrame): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory(s"golden-$name").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    def start() = {
      val in = spark.readStream.schema(fileSchema).parquet(inDir)
        .withColumn("ts", col("ts_sec").cast("timestamp"))
      op(in).writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (ds: DataFrame, id: Long) =>
          emitted.synchronized {
            emitted ++= ds.collect().map(r => s"out $id ${renderRow(r)}")
              .sorted
          }
          ()
        }.start()
    }
    for ((rows, i) <- Seq(batch1, batch2).zipWithIndex) {
      val stage = s"$dir/stage$i"
      rows.toDF("user_id", "event_id", "event_type", "value", "ts_sec")
        .coalesce(1).write.parquet(stage)
      // one new file per batch, moved in whole so the source never
      // lists a half-written one
      Files.createDirectories(Paths.get(inDir))
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          Files.move(f.toPath, Paths.get(s"$inDir/batch$i.parquet"))
        }
      val sq = start()
      try sq.processAllAvailable() finally sq.stop()
    }
    val state = spark.read.format("statestore").load(ckpt)
    val stateLines = state.collect().map { r =>
      s"state key=${renderValue(r.getAs[Any]("key"))} " +
        s"value=${renderValue(r.getAs[Any]("value"))}"
    }.sorted
    (Seq(s"== $name") ++ emitted ++ stateLines).mkString("\n")
  }

  test("every streaming entry point writes its golden per-key state") {
    val actual = cases.map { case (n, op) => runCase(n, op) }
      .mkString("", "\n", "\n")
    if (sys.env.get("GRAFT_GOLDEN_UPDATE").contains("1")) {
      Files.createDirectories(goldenPath.getParent)
      Files.write(goldenPath, actual.getBytes(StandardCharsets.UTF_8))
    }
    val expected = new String(Files.readAllBytes(goldenPath),
      StandardCharsets.UTF_8)
    if (actual != expected) {
      val exp = expected.split("\n"); val act = actual.split("\n")
      val firstDiff = exp.zipAll(act, "<none>", "<none>")
        .indexWhere { case (a, b) => a != b }
      fail(s"state differs from $goldenPath at line ${firstDiff + 1}:\n" +
        s"  expected: ${exp.lift(firstDiff).getOrElse("<none>")}\n" +
        s"  actual:   ${act.lift(firstDiff).getOrElse("<none>")}")
    }
  }
}

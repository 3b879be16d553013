package graft.cep

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Sinks (CSV/JSON/Parquet round-trips of match frames, reference-format
  * testcase artifacts) and composite (multi-column) keys via a struct key
  * column carried through the operator EXACTLY (output key = the
  * original struct value).
  */
class MatchSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schema = Vector("a" -> Vector("event_id", "value"),
    "b" -> Vector("event_id", "value"))

  private def matchFrame() = {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, 1L, "a", 5L), (1L, 2L, "b", 1L), (1L, 3L, "a", 7L),
      (1L, 4L, "b", 2L))
      .toDF("user_id", "event_id", "event_type", "value")
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed, Pattern.spat("x", "a", "True"),
        Pattern.spat("y", "b", "True")), schema)
    SparkCep.matchPatternExec(df, q,
      SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
        Seq("value")))
  }

  test("csv sink joins array columns; json and parquet round-trip exactly") {
    val mf = matchFrame()
    val dir = Files.createTempDirectory("sink").toString
    MatchSink.writeCsv(mf, s"$dir/csv")
    MatchSink.writeJson(mf, s"$dir/json")
    MatchSink.writeParquet(mf, s"$dir/parquet")

    val csv = spark.read.option("header", "true").csv(s"$dir/csv")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    // relaxed cannot skip a *matching* b, so only adjacent pairs match
    assert(csv == Set(("1", "2"), ("3", "4")))

    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("x")(0), col("y")(0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs(spark.read.json(s"$dir/json")) == pairs(mf))
    assert(pairs(spark.read.parquet(s"$dir/parquet")) == pairs(mf))
  }

  test("reference repr formats") {
    val m: Match = Vector(
      "a" -> Vector(Event("e", "id" -> 1L, "name" -> 1L, "price" -> 0L)),
      "b" -> Vector(Event("e", "id" -> 2L, "name" -> 2L, "price" -> 0L)))
    assert(MatchSink.dictRepr(m) == "{'a': [e(1,1,0)], 'b': [e(2,2,0)]}")
    assert(MatchSink.fancyRepr(Seq(m)) == "a: e(1,1,0); b: e(2,2,0)")
    assert(MatchSink.csvRow(0, "t.yml", "pat", Nil, Seq(m), 1.5) ==
      "0,\"t.yml\",\"pat\",\"[]\",\"a: e(1,1,0); b: e(2,2,0)\",1.5")
  }

  test("composite keys: struct column is carried exactly per (k1, k2) pair") {
    val s = spark
    import s.implicits._
    // two composite entities sharing user_id 1 but differing in device
    val df = Seq(
      (1L, "ph", 1L, "a", 5L), (1L, "ph", 2L, "b", 1L),
      (1L, "pc", 3L, "a", 7L), (1L, "pc", 4L, "b", 2L),
      (2L, "ph", 5L, "a", 9L), (2L, "ph", 6L, "b", 3L))
      .toDF("user_id", "device", "event_id", "event_type", "value")
      .withColumn("__ck", struct(col("user_id"), col("device")))
    val q = CepQuery(
      Pattern.Combine(Contiguity.Strict, Pattern.spat("x", "a", "True"),
        Pattern.spat("y", "b", "True")), schema)
    val out = SparkCep.matchPatternExec(df, q,
      SparkCep.CepSpec(Some("__ck"), "event_id", "event_type", Seq("value")))
      .collect().map(r => (r.getSeq[Long](1).head, r.getSeq[Long](2).head))
      .toSet
    // strict pairs only within each composite (user, device) sequence
    assert(out == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    // the OUTPUT key is the original struct value, exactly
    val keys = SparkCep.matchPatternExec(df, q,
      SparkCep.CepSpec(Some("__ck"), "event_id", "event_type", Seq("value")))
      .collect().map(r => (r.getStruct(0).getLong(0),
        r.getStruct(0).getString(1))).toSet
    assert(keys == Set((1L, "ph"), (1L, "pc"), (2L, "ph")))
  }
}

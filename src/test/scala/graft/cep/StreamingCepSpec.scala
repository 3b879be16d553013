package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

case class Ev(user_id: Long, event_id: Long, event_type: String, value: Long)
/** An event whose order value may be null (the decoder's refusal). */
case class NullOrdEv(user_id: Long, event_id: Option[Long],
    event_type: String, value: Long, ts: java.sql.Timestamp)

/** Streaming CEP must produce exactly the batch operator's matches when the
  * same events arrive across multiple micro-batches — state carries the NFA
  * run-set between batches (including a partial match spanning the batch
  * boundary).
  */
class StreamingCepSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("streaming matches == batch matches across micro-batch boundary") {
    val s = spark
    import s.implicits._

    // signup then (strict) purchase, twice per user; the second pair spans
    // the micro-batch boundary
    val batch1 = Seq(
      Ev(1, 1, "signup", 0), Ev(1, 2, "purchase", 10),
      Ev(1, 3, "click", 0), Ev(1, 4, "signup", 0),
      Ev(2, 5, "signup", 0))
    val batch2 = Seq(
      Ev(1, 6, "purchase", 20), // completes the signup@4 pair
      Ev(2, 7, "purchase", 30), // completes signup@5 across the boundary
      Ev(2, 8, "signup", 0))

    val query = CepQuery(
      Pattern.Combine(Contiguity.Strict,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      Vector("signup" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value"),
        "click" -> Vector("event_id", "value")))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), query, spec)
    val q = out.writeStream.format("memory").queryName("cep_stream")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = s.sql("SELECT * FROM cep_stream").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet

    val batchDf = SparkCep.matchPatternExec(
      (batch1 ++ batch2).toDF(), query, spec)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet

    assert(streamed == batch)
    assert(streamed == Set(
      (1L, Vector(1L), Vector(2L)),
      (1L, Vector(4L), Vector(6L)), // partial run crossed the boundary
      (2L, Vector(5L), Vector(7L))))
  }

  test("SkipToLast anchor stamps survive the micro-batch boundary " +
    "(streaming == batch)") {
    val s = spark
    import s.implicits._

    // nd-relaxed click pairs with SkipToLast("a") = consecutive click
    // pairs only. The run holding click@2 carries its anchor stamp into
    // batch 2 (state codec v4), where its accept at click@4 prunes the
    // pre-boundary fork — a wrong/missing stamp would emit extra pairs.
    val batch1 = Seq(
      Ev(1, 1, "click", 0), Ev(1, 2, "click", 0), Ev(1, 3, "purchase", 0))
    val batch2 = Seq(
      Ev(1, 4, "click", 0), Ev(1, 5, "click", 0))

    val query = CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed, 2, 2),
      Vector("click" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value")),
      AfterMatchStrategy.SkipToLast("a"))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), query, spec)
    val q = out.writeStream.format("memory").queryName("cep_anchor_stream")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = s.sql("SELECT * FROM cep_anchor_stream").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    val batch = SparkCep.matchPatternExec((batch1 ++ batch2).toDF(), query, spec)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet

    assert(streamed == batch)
    assert(streamed == Set(
      (1L, Vector(1L, 2L)),
      (1L, Vector(2L, 4L)), // anchor + partial run crossed the boundary
      (1L, Vector(4L, 5L))))
  }

  test("streaming operators refuse a null order value, naming the key") {
    val s = spark
    import s.implicits._
    val query = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      Vector("signup" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value")))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    val ops: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "matchPattern" -> (df => StreamingCep.matchPattern(df, query, spec)),
      "matchPatternEventTime" -> (df => StreamingCep.matchPatternEventTime(
        df, query, spec, "ts", "0 seconds")))
    implicit val sqlCtx = s.sqlContext
    for (((opName, op), i) <- ops.zipWithIndex) {
      val mem = MemoryStream[NullOrdEv]
      val q = op(mem.toDF()).writeStream.format("memory")
        .queryName(s"cep_null_ord_$i").outputMode("append").start()
      val e = try {
        mem.addData(
          NullOrdEv(7, Some(1L), "signup", 0, new java.sql.Timestamp(1000)),
          NullOrdEv(7, None, "purchase", 0, new java.sql.Timestamp(2000)))
        intercept[Exception](q.processAllAvailable())
      } finally q.stop()
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).toVector
      assert(msgs.exists(_.contains("CEP order column is null for key 7")),
        s"$opName: ${msgs.mkString(" | ")}")
    }
  }
}

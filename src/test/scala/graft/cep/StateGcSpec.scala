package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Idle-key state GC: the streaming CEP operators REMOVE a key's state
  * entry when its run set is empty (and, event-time, its reorder buffer
  * too) instead of storing an empty snapshot — the state store then
  * scales with keys holding LIVE RUNS, not with every key ever seen.
  *
  * Soundness (doc'd at the matchPattern GC site): every semantic
  * quantity is a step/clock DIFFERENCE within a live run, so a key with
  * no runs restores indistinguishably from a fresh key; only the
  * withinTime rewind GUARD weakens across the gap. Pinned here two
  * ways: the store's row count tracks pending-run keys exactly, and a
  * key that cycles empty → active again still matches batch.
  */
class StateGcSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schema = Vector(
    "signup" -> Vector("event_id", "value"),
    "click" -> Vector("event_id", "value"),
    "purchase" -> Vector("event_id", "value"))
  private val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
    "event_type", Seq("value"))
  private val pairQ = CepQuery(
    Pattern.Combine(Contiguity.Relaxed,
      Pattern.spat("s", "signup", "True"),
      Pattern.spat("p", "purchase", "True")),
    schema)

  test("state rows == keys with pending runs; completed and never-" +
    "started keys are removed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), pairQ, spec)
    val q = out.writeStream.format("memory").queryName("gc1")
      .outputMode("append").start()
    try {
      // user 1: pending signup (live run) -> state kept
      // user 2: signup + purchase completed, nothing pending -> removed
      // user 3: clicks only, no run ever survives the event -> removed
      mem.addData(
        Ev(1, 1, "signup", 0),
        Ev(2, 2, "signup", 0), Ev(2, 3, "purchase", 0),
        Ev(3, 4, "click", 0), Ev(3, 5, "click", 0))
      q.processAllAvailable()
      val rows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows == 1L,
        s"expected exactly user 1's pending-run state, store has $rows")
    } finally q.stop()
  }

  test("a key whose state was GCed re-activates exactly like batch " +
    "(empty == fresh)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batch1 = Seq(
      Ev(2, 1, "signup", 0), Ev(2, 2, "purchase", 0)) // completes, GCed
    val batch2 = Seq(
      Ev(2, 3, "signup", 0)) // re-activates from removed state
    val batch3 = Seq(
      Ev(2, 4, "purchase", 0)) // completes again
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), pairQ, spec)
    val q = out.writeStream.format("memory").queryName("gc2")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 0L)
      mem.addData(batch2: _*); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
      mem.addData(batch3: _*); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 0L)
    } finally q.stop()
    val streamed = s.sql("SELECT * FROM gc2").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    val batch = SparkCep.matchPatternExec(
      (batch1 ++ batch2 ++ batch3).toDF(), pairQ, spec)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (2L, Vector(1L), Vector(2L)), (2L, Vector(3L), Vector(4L))))
  }

  test("shared multi-query operator GCs only when EVERY member is empty") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // member A completes immediately (spat), member B holds a pending
    // signup — the key must stay stored while B is pending
    val qs = Seq(
      "spat" -> CepQuery(Pattern.spat("x", "purchase", "True"), schema),
      "pair" -> pairQ)
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPatternsShared(mem.toDF(), qs, spec)
    val q = out.writeStream.format("memory").queryName("gc3")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, 1, "signup", 0)) // pair member pending
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
      mem.addData(Ev(1, 2, "purchase", 0)) // completes the pair too
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 0L)
    } finally q.stop()
  }

  test("event-time operator keeps buffered-only keys, GCs drained ones") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternEventTime(
      mem.toDF(), pairQ, spec, "ts", "5 seconds")
    val q = out.writeStream.format("memory").queryName("gc4")
      .outputMode("append").start()
    try {
      // user 1's completed pair is buffered until the watermark passes
      mem.addData(TsEv(1, 1, "signup", 0, ts(10)),
        TsEv(1, 2, "purchase", 0, ts(11)))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L,
        "buffered events must keep the key stored")
      // advance the watermark far past: user 1 drains, matches, and GCs
      // (user 9's click leaves no run, so it stores only while buffered)
      mem.addData(TsEv(9, 99, "click", 0, ts(60)))
      q.processAllAvailable()
      mem.addData(TsEv(9, 100, "click", 0, ts(90)))
      q.processAllAvailable()
      mem.addData(TsEv(9, 101, "click", 0, ts(120)))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal <= 1L,
        "drained keys must be removed (at most the still-buffered tail)")
    } finally q.stop()
    val got = s.sql("SELECT * FROM gc4").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    assert(got == Set((1L, Vector(1L), Vector(2L))))
  }
}

package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import GoldenUtil._
import Pattern._
import graft.plans.CepExecMetrics

/** The shed-oldest run-cap salvage (VERDICT r9 #7): a NEGATIVE maxRuns
  * survives the hot key that the positive cap fails on, with the
  * documented semantics — deterministic, NoSkip output a sub-multiset of
  * the uncapped output, and exact wherever the cap is never exceeded.
  */
class CepRunCapShedSpec extends AnyFunSuite {

  private def multiset(ms: Seq[Match]): Map[String, Int] =
    ms.map(_.toString).groupBy(identity).view.mapValues(_.size).toMap

  private def subMultiset(a: Map[String, Int], b: Map[String, Int]): Boolean =
    a.forall { case (k, n) => b.getOrElse(k, 0) >= n }

  private val nd = CepQuery(
    lpatInf("a", "e", "name == 1", Contiguity.NdRelaxed, 1), schemaINP)

  private def run(cap: Option[Int], n: Int = 30): (Seq[Match], Long) = {
    val stream = eventsOf(Seq.fill(n)((1, 0)): _*)
    val ex = new Executor(DstCompiler.compile(nd), nd.strategy, cap)
    ex.reset()
    val out = stream.flatMap(ex.feed)
    (out, ex.shedCount)
  }

  test("negative cap completes where the positive cap throws, and sheds") {
    intercept[IllegalStateException] { run(Some(100)) }
    val (_, shed) = run(Some(-100))
    assert(shed > 0L)
  }

  test("NoSkip shed output is a sub-multiset of the uncapped output, " +
    "deterministically") {
    // nd-relaxed on all-matching events DOUBLES the run set per event
    // (take + ignore per run), so the uncapped reference must stay small:
    // n=16 is 2^16 runs; the shed side caps at 100 regardless
    val (uncapped, _) = run(None, n = 16)
    val (shed1, s1) = run(Some(-100), n = 16)
    val (shed2, s2) = run(Some(-100), n = 16)
    assert(shed1 == shed2 && s1 == s2) // deterministic
    assert(shed1.size < uncapped.size) // it really dropped matches
    assert(subMultiset(multiset(shed1), multiset(uncapped)))
  }

  test("a cap never exceeded is exact (negative == positive == uncapped)") {
    val (uncapped, _) = run(None, n = 12)
    val (shedOut, shed) = run(Some(-100000), n = 12)
    assert(shed == 0L)
    assert(shedOut == uncapped)
    val (failOut, _) = run(Some(100000), n = 12)
    assert(failOut == uncapped)
  }
}

/** Shed mode must hold batch == stream: the shed decision interacts
  * with the state codec (live runs persist across micro-batches; the
  * shed counter deliberately does not), so a stream whose hot key sheds
  * across a batch boundary must still emit exactly the batch operator's
  * multiset under the same negative cap.
  */
class CepRunCapShedStreamSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

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

  test("streaming shed == batch shed across a micro-batch boundary") {
    val s = spark
    import s.implicits._
    val schema = Vector("click" -> Vector("event_id", "value"))
    // relaxed a+ with all-taking clicks: one run per start, so 40 events
    // on key 1 hold ~40 live runs — cap 10 sheds continuously, including
    // across the boundary at event 20
    val query = CepQuery(
      Pattern.lpatInf("a", "click", "True", Contiguity.Relaxed, 1), schema)
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    val evs = (1L to 40L).map(i => Ev(1, i, "click", i % 7))
    val (b1, b2) = evs.splitAt(20)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), query, spec,
      maxRunsPerKey = Some(-10))
    val q = out.writeStream.format("memory").queryName("cep_shed_stream")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def multiset(rows: Array[org.apache.spark.sql.Row]): Map[String, Int] =
      rows.map(r => (r.getLong(0), r.getSeq[Long](1).toVector).toString())
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val streamed = multiset(s.sql("SELECT * FROM cep_shed_stream").collect())
    val batch = multiset(SparkCep.matchPatternExec(evs.toDF(), query, spec,
      maxRunsPerKey = Some(-10)).collect())
    assert(streamed == batch)
    // sanity: shedding really happened (uncapped would emit 40*41/2 rows)
    assert(streamed.values.sum < 820)
  }
}

/** End-to-end salvage through the Catalyst exec path on a skew-keyed
  * frame: with `spark.graft.cep.runCapPolicy=shedOldest` the job that the
  * fail-fast default dies on completes, its output is a sub-multiset of
  * the uncapped run, and every key with fewer events than the cap — the
  * cold tail, i.e. all keys the valve never touched — is EXACT.
  */
class CepRunCapShedSparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = Vector("click" -> Vector("event_id", "value"))
  private val unbounded = CepQuery(
    lpatInf("a", "click", "True", Contiguity.Relaxed, 1), schema)

  test("zipf-keyed stream completes under shedOldest where fail dies; " +
    "cold keys exact, hot key sub-multiset") {
    // hot key 1 carries 300 events (blows a cap of 50); cold keys 2-21
    // carry 10 each (can never reach 50 live runs: runs <= events fed)
    val hot = spark.range(300).select(lit(1L).as("user_id"),
      col("id").as("event_id"))
    val cold = spark.range(200).select((col("id") % 20 + 2).as("user_id"),
      (col("id") + 1000).as("event_id"))
    val events = hot.union(cold)
      .select(col("user_id"), col("event_id"),
        lit("click").as("event_type"), (col("event_id") % 10).as("value"))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    def rows(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().map(_.toString).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap

    val uncapped = rows(SparkCep.matchPatternExec(events, unbounded, spec))

    spark.conf.set(SparkCep.DefaultUnboundedMaxRunsKey, "50")
    try {
      // fail-fast default: the hot key kills the job
      intercept[Exception] {
        SparkCep.matchPatternExec(events, unbounded, spec).count()
      }
      // shedOldest: completes, and the operator reports the sheds
      spark.conf.set(SparkCep.RunCapPolicyKey, "shedOldest")
      val out = SparkCep.matchPatternExec(events, unbounded, spec)
      val shedRows = rows(out)
      assert(CepExecMetrics.of(out, "runsShed").sum > 0L,
        "shed telemetry must report the dropped runs")
      assert(shedRows.forall { case (k, n) => uncapped.getOrElse(k, 0) >= n })
      assert(shedRows.values.sum < uncapped.values.sum)
      // cold keys (< cap events each) are untouched by the valve
      val coldUncapped = rows(
        SparkCep.matchPatternExec(events.filter(col("user_id") =!= 1L),
          unbounded, spec))
      val coldShed = shedRows.filter(!_._1.startsWith("[1,"))
      val coldRef = coldUncapped
      assert(coldShed == coldRef)
    } finally {
      spark.conf.unset(SparkCep.DefaultUnboundedMaxRunsKey)
      spark.conf.unset(SparkCep.RunCapPolicyKey)
    }
  }
}

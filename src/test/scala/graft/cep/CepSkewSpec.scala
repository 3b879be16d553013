package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.{CepExecMetrics, CepMatchExec}

/** The operator's skew metrics: `CepMatchExec` must report events fed,
  * keys, matches and the peak live-run set without changing the match
  * output, and `SparkCep.shedGauge` must name the hottest key (the one
  * holding the largest live-run set).
  */
class CepSkewSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("accumulator reports hottest key, max runs, and event totals") {
    val s = spark
    import s.implicits._
    // key 7 gets 12 clicks (nd-relaxed keeps all partial runs live →
    // run count grows with clicks); key 1 gets 2
    val rows =
      (1L to 12L).map(i => Ev(7, i, "click", 0)) ++
        Seq(Ev(1, 13, "click", 0), Ev(1, 14, "click", 0))
    val df = rows.toDF()

    val query = CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed, 2, 2),
      Vector("click" -> Vector("event_id", "value")))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    val out = SparkCep.matchPatternExec(df, query, spec)
    val (matches, perExecution) =
      CepExecMetrics.ran(s)(out.collect().length.toLong)
    assert(matches == (11L * 12L / 2L) + 1L) // all ordered pairs per key
    def metric(n: String): Long = CepExecMetrics.of(out, n).sum
    assert(metric("numEvents") == rows.length.toLong)
    assert(metric("numKeys") == 2L)
    assert(metric("numMatches") == matches)
    assert(metric("numOutputRows") == matches)
    val peak = metric("peakLiveRuns")
    assert(peak > 2L) // nd-relaxed run set grows on the hot key
    // the status store holds the same values (peakLiveRuns: by max too)
    assert(perExecution == Seq(CepMatchExec.MetricNames.map(m =>
      m._1 -> metric(m._1)).toMap))

    // shedGauge at a cap the cold key never exceeds names the hot key
    val coldOnly = SparkCep.matchPatternExec(df.where("user_id = 1"),
      query, spec)
    coldOnly.collect()
    val cap = CepExecMetrics.of(coldOnly, "peakLiveRuns").sum.toInt
    assert(cap < peak)
    val shed = SparkCep.shedGauge(df, query, spec, cap).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shed(1L) == 0L && shed(7L) > 0L)
    assert(shed.maxBy(_._2)._1 == 7L)
  }

  test("registry row cep_ndrelaxed_click_pairs reports its metrics") {
    val dir = "/root/testdata/sf0.001"
    val row = graft.Queries.cepNdRelaxedClickPairs(spark, dir)
    val n = row.collect().length.toLong
    assert(n > 0L)
    def metric(df: org.apache.spark.sql.DataFrame, m: String): Long =
      CepExecMetrics.of(df, m).sum
    for (m <- Seq("numEvents", "numKeys", "numMatches", "peakLiveRuns"))
      assert(metric(row, m) > 0L, s"$m is 0")
    // one row per match; the row's ORDER BY samples its input for the
    // range exchange, which runs the operator a second time
    assert(metric(row, "numOutputRows") == metric(row, "numMatches"))
    val matches = SparkCep.matchPatternExec(
      graft.Queries.table(spark, dir, "events"),
      graft.Queries.cepNdRelaxedClickPairsQuery, graft.Queries.eventSpec)
    assert(matches.collect().length == n)
    assert(CepExecMetrics.of(matches, "numOutputRows") == Seq(n))
  }
}

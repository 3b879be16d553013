package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The skew gauge: `CepSkewAccumulator` must surface the hottest key (the
  * one holding the largest live-run set) and total events fed, without
  * changing the match output.
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

    val skew = CepSkewAccumulator.registered(s, "cep_skew_test")
    val out = SparkCep.matchPatternExec(df, query, spec, skewAcc = Some(skew))
    val matches = out.count()
    assert(matches == (11L * 12L / 2L) + 1L) // all ordered pairs per key

    val stats = skew.value
    assert(stats.hottestKey == 7L)
    assert(stats.maxRuns > 2L) // nd-relaxed run set grows on the hot key
    assert(stats.events == rows.length.toLong)

    // the gauge must not perturb results: identical output without it
    val plain = SparkCep.matchPatternExec(df, query, spec).count()
    assert(plain == matches)

    // the Catalyst-planned operator carries the same gauge
    val skew2 = CepSkewAccumulator.registered(s, "cep_skew_exec")
    val execMatches = SparkCep.matchPatternExec(df, query, spec,
      skewAcc = Some(skew2)).count()
    assert(execMatches == matches)
    val st2 = skew2.value
    assert(st2.hottestKey == 7L && st2.events == rows.length.toLong)
    assert(st2.maxRuns == stats.maxRuns)
  }
}

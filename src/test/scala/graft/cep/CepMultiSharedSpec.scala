package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.CepExecMetrics

/** `matchPatternsShared` contract (ADVICE r7: the shared path had no unit
  * test and its OR-pushdown branch was never exercised):
  *
  *  1. differential — shared output == union of per-query `matchPatternExec`
  *     outputs rendered to the binding shape, BOTH when the union filter
  *     engages (every member has a prefilter) and when it is disabled
  *     (a strict member needs the full stream);
  *  2. the union filter itself — engaged iff all members carry one, and
  *     when engaged it reaches the parquet scan with ONE exchange above;
  *  3. skew-gauge semantics — the operator's `numEvents` metric counts
  *     EVENTS fed (not event × query), `peakLiveRuns` the hottest member
  *     on any key.
  */
class CepMultiSharedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def events = graft.Queries.table(spark, sfDir, "events")
  private val spec = graft.Queries.eventSpec

  /** All-prefilter trio: union filter ENGAGES. */
  private val pushdownSet = Seq(
    "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
    "lpat_relaxed_purchase_pairs" ->
      graft.Queries.cepLpatRelaxedPurchasePairsQuery,
    "not_followed_by_purchase" ->
      graft.Queries.cepNotFollowedByPurchaseQuery)

  /** Registry trio: the strict member disables the union filter. */
  private val mixedSet = Seq(
    "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
    "next_signup_purchase" -> graft.Queries.cepNextSignupPurchaseQuery,
    "not_followed_by_purchase" ->
      graft.Queries.cepNotFollowedByPurchaseQuery)

  /** Per-query `matchPatternExec` outputs rendered to the shared binding
    * shape — the independent baseline.
    */
  private def expected(qs: Seq[(String, CepQuery)]): Vector[String] =
    qs.flatMap { case (name, q) =>
      val piNames = SparkCep.patternNames(q.patseq)
      SparkCep.matchPatternExec(events, q, spec).collect().map { row =>
        val binding = piNames.map(n =>
          row.getAs[scala.collection.Seq[Long]](n).mkString(","))
          .mkString(";")
        s"$name|${row.getLong(0)}|$binding"
      }
    }.toVector.sorted

  private def shared(qs: Seq[(String, CepQuery)]): Vector[String] =
    rendered(SparkCep.matchPatternsShared(events, qs, spec))

  private def rendered(df: org.apache.spark.sql.DataFrame): Vector[String] =
    df.collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
      .toVector.sorted

  test("shared == union of per-query matchPattern (union filter ENGAGED)") {
    val exp = expected(pushdownSet)
    assert(exp.nonEmpty, "degenerate fixture: no matches to compare")
    assert(shared(pushdownSet) == exp)
  }

  test("shared == union of per-query matchPattern (union filter disabled " +
    "by the strict member)") {
    assert(shared(mixedSet) == expected(mixedSet))
  }

  test("union prefilter: engaged iff every member carries one") {
    assert(SparkCep.unionPrefilter(pushdownSet, spec).isDefined)
    assert(SparkCep.unionPrefilter(mixedSet, spec).isEmpty)
  }

  test("engaged union filter reaches the scan; one exchange total") {
    val df = SparkCep.matchPatternsShared(events, pushdownSet, spec)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("event_type"),
      s"union filter not visible in the physical plan:\n$plan")
    val pushed = df.queryExecution.executedPlan.collectLeaves().mkString
    assert(pushed.contains("event_type"),
      s"union filter did not reach the scan leaf:\n$pushed")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$plan")
  }

  test("SQL-declared members: parseQueries lowers onto the same shared " +
    "operator — equal to builder members, union filter still engaged") {
    val sqlMembers = CepSql.parseQueries(
      graft.Queries.cepSqlMultiSharedStatements,
      Vector("click" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value"),
        "error" -> Vector("event_id", "value"),
        "signup" -> Vector("event_id", "value"),
        "view" -> Vector("event_id", "value")))
    // text and builder declarations are the SAME queries
    assert(sqlMembers.map(_._2) == pushdownSet.map(_._2))
    // shared-vs-solo differential on the SQL-declared set
    assert(shared(sqlMembers) == expected(sqlMembers))
    // pushdown legality audit applies to lowered members: all three keep
    // their prefilters, so the union filter engages
    assert(SparkCep.unionPrefilter(sqlMembers, spec).isDefined)
    // guard: members with MEASURES or their own spec sections refuse
    intercept[IllegalArgumentException] {
      CepSql.parseQueries(Seq("m" ->
        ("PATTERN (a) MEASURES COUNT(a) AS n DEFINE a AS purchase")),
        Vector("purchase" -> Vector("event_id", "value")))
    }
    intercept[IllegalArgumentException] {
      CepSql.parseQueries(Seq("m" ->
        ("PATTERN (a) ORDER BY event_id DEFINE a AS purchase")),
        Vector("purchase" -> Vector("event_id", "value")))
    }
  }

  test("a within member disables the union filter and matches its solo " +
    "run (position windows make dropped events observable)") {
    // non-spat within ⇒ the member declines a prefilter
    // (SparkCep.prefilter returns None), which must veto the WHOLE
    // union filter: dropping a non-alphabet event would shrink every
    // span and admit pairs the 5-step window should reject.
    val withinSet = Seq(
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "within_signup_purchase" -> graft.Queries.cepWithinSignupPurchaseQuery)
    assert(SparkCep.unionPrefilter(withinSet, spec).isEmpty,
      "within member must veto the union pushdown")
    assert(SparkCep.memberFeedTypes(
      graft.Queries.cepWithinSignupPurchaseQuery, spec).isEmpty,
      "within member must not get a feed gate either")
    assert(shared(withinSet) == expected(withinSet))
  }

  test("a lone-spat within member keeps the union pushdown (span is " +
    "always zero)") {
    val spatWithin = graft.Queries.cepSpatPurchaseQuery.copy(
      within = Some(3))
    val set = Seq(
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "spat_purchase_w3" -> spatWithin)
    assert(SparkCep.unionPrefilter(set, spec).isDefined)
    assert(shared(set) == expected(set))
  }

  test("skew gauge counts events once, not once per member query") {
    val out = SparkCep.matchPatternsShared(events, pushdownSet, spec)
    rendered(out)
    val numEvents = CepExecMetrics.of(out, "numEvents").sum
    // events that actually reach the NFA: union-filtered, non-null key
    val fed = events.filter(SparkCep.unionPrefilter(pushdownSet, spec).get)
      .filter("user_id IS NOT NULL").count()
    assert(numEvents == fed,
      s"operator saw $numEvents events, stream has $fed " +
        "(inflated => counted per query, not per event)")
    // peakLiveRuns = the hottest member's per-key max — equals the max
    // over the members run individually
    val sharedPeak = CepExecMetrics.of(out, "peakLiveRuns").max
    val perQueryMax = pushdownSet.map { case (_, q) =>
      val solo = SparkCep.matchPatternExec(events, q, spec)
      solo.collect()
      CepExecMetrics.of(solo, "peakLiveRuns").max
    }.max
    assert(sharedPeak == perQueryMax,
      s"shared peakLiveRuns $sharedPeak != per-query max $perQueryMax")
  }
}

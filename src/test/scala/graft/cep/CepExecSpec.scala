package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The Catalyst-planned CEP operator (`matchPatternExec` →
  * `CepMatchPlan`/`CepStrategy`/`CepMatchExec`) must (1) produce exactly
  * the pure per-key model's match multiset (`CepModel`) on every
  * registry pattern, and (2) declare its distribution so the planner
  * elides the key shuffle when the input is already partitioned by the
  * key — the property the custom plan exists for. (Test names that say
  * "mapPartitions" or "typed path" predate the model; they compare
  * against it now.)
  */
class CepExecSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // static plans: exchange counting below must not depend on AQE
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def events = spark.read.parquet(s"$sfDir/events.parquet")

  for ((name, query) <- graft.Queries.cepRegistryQueries.toSeq.sortBy(_._1))
    test(s"exec == mapPartitions on registry query $name") {
      val spec = graft.Queries.eventSpec
      val a = CepModel.matches(events, query, spec)
      val b = CepModel.canon(SparkCep.matchPatternExec(events, query, spec))
      assert(a.nonEmpty && a == b,
        s"$name diverged: exec ${b.length} rows vs ${a.length}")
    }

  test("exec reuses an existing key partitioning (no second exchange)") {
    val s = spark
    import s.implicits._
    val spec = graft.Queries.eventSpec
    val query = graft.Queries.cepNextSignupPurchaseQuery
    // the realistic shape: enrich events with a per-user dimension, then
    // CEP — the sort-merge join leaves the stream hash-partitioned by
    // user_id (broadcast disabled so the join must shuffle both sides)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dim = events.select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % 3)
    val pre = events.join(dim, "user_id")

    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

    val execPlan = SparkCep.matchPatternExec(pre, query, spec)
    // the exec path adds NO exchange on top of the join's output
    // partitioning — its ClusteredDistribution is satisfied and only a
    // local (key, ord) sort is inserted
    val base = exchanges(pre)
    assert(exchanges(execPlan) == base,
      s"exec added a shuffle:\n${execPlan.queryExecution.executedPlan}")
    // and it runs on InternalRow end-to-end: no external-Row object
    // conversion
    val execStr = execPlan.queryExecution.executedPlan.toString
    assert(execStr.contains("CepMatch"), "custom operator missing")
    assert(!execStr.contains("DeserializeToObject"),
      "exec path must not round-trip through external Rows")
    // the join is 1:1 on user_id: the same rows as on the plain events
    assert(execPlan.collect().map(_.toString).sorted.toSeq ==
      SparkCep.matchPatternExec(events, query, spec).collect()
        .map(_.toString).sorted.toSeq)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("downstream key aggregation reuses the operator's partitioning") {
    val spec = graft.Queries.eventSpec
    val query = graft.Queries.cepNextSignupPurchaseQuery
    val perKey = SparkCep.matchPatternExec(events, query, spec)
      .groupBy(col("user_id")).count()
    val plan = perKey.queryExecution.executedPlan.toString
    // exactly the operator's own key exchange — the aggregate rides on the
    // rewritten outputPartitioning instead of adding a second shuffle
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected the CEP exchange only:\n$plan")
  }

  test("exec matches the typed path on hashed (non-numeric) keys") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("alice", 1L, "signup", 0L), ("alice", 2L, "purchase", 10L),
      ("bob", 3L, "signup", 0L), ("bob", 4L, "click", 0L),
      ("bob", 5L, "purchase", 20L))
      .toDF("user", "event_id", "event_type", "value")
    val spec = SparkCep.CepSpec(Some("user"), "event_id", "event_type",
      Seq("value"))
    val query = graft.Queries.cepNextSignupPurchaseQuery
    val a = CepModel.matches(df, query, spec)
    val b = CepModel.canon(SparkCep.matchPatternExec(df, query, spec))
    assert(a == b && a.size == 1) // only alice's strict pair
  }

  test("exec treats null event types as non-matching, errs on null order") {
    val s = spark
    import s.implicits._
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    val query = graft.Queries.cepNextSignupPurchaseQuery
    // a null type between signup and purchase breaks strict contiguity
    // (it is an event, just of no matching type)
    val withNullType = Seq(
      (1L, 1L, Option("signup"), 0L), (1L, 2L, None: Option[String], 0L),
      (1L, 3L, Option("purchase"), 0L), (2L, 4L, Option("signup"), 0L),
      (2L, 5L, Option("purchase"), 0L))
      .toDF("user_id", "event_id", "event_type", "value")
    val a = CepModel.matches(withNullType, query, spec)
    val b = CepModel.canon(SparkCep.matchPatternExec(withNullType, query,
      spec))
    assert(a == b && a.size == 1) // only user 2's uninterrupted pair

    val withNullOrd = Seq(
      (1L, Option(1L), "signup", 0L), (1L, None: Option[Long], "purchase", 0L))
      .toDF("user_id", "event_id", "event_type", "value")
    val nullOrdOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "matchPatternExec" -> (df => SparkCep.matchPatternExec(df, query, spec)),
      "shedGauge" -> (df => SparkCep.shedGauge(df, query, spec, cap = 1)),
      "timedOutPartials" -> (df => SparkCep.timedOutPartials(df,
        query.copy(within = Some(6)), spec)))
    for ((opName, op) <- nullOrdOps) {
      val e = intercept[org.apache.spark.SparkException] {
        op(withNullOrd).collect()
      }
      assert(e.getMessage.contains("order column is null") ||
        Option(e.getCause).flatMap(c => Option(c.getMessage))
          .exists(_.contains("order column is null")),
        s"$opName: ${e.getMessage}")
    }
  }

  test("exec handles the un-keyed global-sequence mode") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Ev(1, 1, "signup", 0), Ev(2, 2, "purchase", 10),
      Ev(3, 3, "signup", 0), Ev(1, 4, "purchase", 20))
      .toDF()
    val spec = SparkCep.CepSpec(None, "event_id", "event_type", Seq("value"))
    val query = graft.Queries.cepNextSignupPurchaseQuery
    val a = CepModel.matches(df, query, spec)
    val b = CepModel.canon(SparkCep.matchPatternExec(df, query, spec))
    assert(a == b && a.size == 2) // (1,2) and (3,4) across users globally
  }
}

package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.CepMatchExec

/** The Catalyst CEP operators keep their key exchange at
  * `spark.sql.shuffle.partitions` partitions under AQE. A small
  * prefiltered input would otherwise be coalesced by bytes into one
  * partition, and the whole NFA would run in one task. The pin must not
  * cost an exchange: an input already hash-partitioned by the key (a
  * bucketed table, a join on the key) is reused at its own partition
  * count. AQE stays on with Spark's default coalescing throughout.
  */
class CepExecParallelismSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private val warehouse =
    s"/tmp/graft-warehouse-par-${ProcessHandle.current.pid}"
  private val queryName = "cep_ndrelaxed_click_pairs"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      spark.sql("DROP TABLE IF EXISTS graft_par_bev")
      spark.stop()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
  }

  private def events = graft.Queries.table(spark, dir, "events")
  private def query = graft.Queries.cepRegistryQueries(queryName)
  private val spec = graft.Queries.eventSpec

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "matchPatternExec" -> (df => SparkCep.matchPatternExec(df, query, spec)),
    "matchPatternsShared" ->
      (df => SparkCep.matchPatternsShared(df, Seq(queryName -> query), spec)))

  /** The per-key gauge and timeout entry points, on their registry
    * queries: the same pinned exchange serves them.
    */
  private val gaugeAndTimeoutOperators: Seq[(String, DataFrame => DataFrame)] =
    Seq(
      "shedGauge" -> (df => SparkCep.shedGauge(df,
        graft.Queries.cepShedGaugeQuery, spec, cap = 1)),
      "timedOutPartials" -> (df => SparkCep.timedOutPartials(df,
        graft.Queries.cepTimeoutAbandonedSignupsQuery, spec)))

  /** Every node of an executed plan, descending into AQE's final plan and
    * its query stages.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case _                        => p +: p.children.flatMap(nodes)
  }

  private def finalPlan(df: DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan
    assert(p.isInstanceOf[AdaptiveSparkPlanExec], s"AQE is off:\n$p")
    val a = p.asInstanceOf[AdaptiveSparkPlanExec]
    assert(a.isFinalPlan, "the plan was not executed")
    a.executedPlan
  }

  private def cepNodes(p: SparkPlan): Seq[SparkPlan] =
    nodes(p).filter(_.isInstanceOf[CepMatchExec])

  private def shuffles(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  private def rows(df: DataFrame): Vector[String] =
    df.collect().map(_.toString).sorted.toVector

  for ((opName, op) <- operators ++ gaugeAndTimeoutOperators)
    test(s"$opName: AQE does not coalesce the key exchange, rows as AQE off") {
      val df = op(events)
      val got = rows(df)
      val plan = finalPlan(df)
      val ceps = cepNodes(plan)
      assert(ceps.length == 1, s"CEP operator not planned:\n$plan")
      val cep = ceps.head
      val coalesced = nodes(cep.children.head).collect {
        case r: AQEShuffleReadExec if r.hasCoalescedPartition => r
      }
      assert(coalesced.isEmpty,
        s"AQE coalesced the CEP input exchange:\n$plan")
      assert(cep.children.head.outputPartitioning.numPartitions == 4,
        s"CEP input is not 4 partitions:\n$plan")

      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val expected =
        try rows(op(events))
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(got.nonEmpty && got == expected,
        s"AQE on: ${got.length} rows, AQE off: ${expected.length} rows")
    }

  test("AQE on: a bucketed input with 3 buckets stays exchange-free") {
    events.select("user_id", "event_id", "event_type", "value")
      .write.bucketBy(3, "user_id").sortBy("user_id", "event_id")
      .mode("overwrite").saveAsTable("graft_par_bev")
    for ((opName, op) <- operators) {
      val bucketed = op(spark.table("graft_par_bev"))
      val got = rows(bucketed)
      val plan = finalPlan(bucketed)
      val ceps = cepNodes(plan)
      assert(ceps.length == 1, s"$opName: CEP operator not planned:\n$plan")
      assert(shuffles(plan) == 0,
        s"$opName: bucketed CEP input shuffles under AQE:\n$plan")
      assert(ceps.head.children.head.outputPartitioning.numPartitions == 3,
        s"$opName: the 3 buckets were not reused as they are:\n$plan")
      assert(got.nonEmpty && got == rows(op(events)),
        s"$opName: bucketed and plain runs diverged")
    }
  }

  test("AQE on: join on the key then CEP adds no exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dim = events.select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 3)
      val pre = events.join(dim, "user_id")
      pre.collect()
      val base = shuffles(finalPlan(pre))
      assert(base > 0, "control check: the join should shuffle")
      for ((opName, op) <- operators) {
        val df = op(pre)
        val got = rows(df)
        val plan = finalPlan(df)
        assert(cepNodes(plan).length == 1,
          s"$opName: CEP operator not planned:\n$plan")
        assert(shuffles(plan) == base,
          s"$opName: CEP added an exchange on top of the join:\n$plan")
        assert(got.nonEmpty && got == rows(op(events)),
          s"$opName: join->CEP and plain CEP diverged")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec
import graft.plans.CepMatchExec

/** SHOW EMPTY MATCHES and WITH UNMATCHED ROWS render rows the NFA never
  * binds (empty-match sites, unmatched rows). The CEP operator renders
  * them itself at each key's last event, so an executed plan holds
  * exactly one `CepMatchExec` — one NFA sweep per execution, with no
  * second consumer of a match frame.
  */
class CepShowEmptySinglePassSpec extends AnyFunSuite
    with BeforeAndAfterAll {

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

  private val schema: Vector[(String, Vector[String])] = Vector(
    "A" -> Vector("id", "v"), "C" -> Vector("id", "v"))

  private def events(): DataFrame = {
    val rnd = new scala.util.Random(20260818L)
    val s = spark
    import s.implicits._
    (1 to 300).map(i =>
      (1L + rnd.nextInt(5), i.toLong,
        if (rnd.nextBoolean()) "A" else "C", rnd.nextInt(9).toLong))
      .toDF("k", "id", "t", "v")
  }

  private val spec = CepSpec(Some("k"), "id", "t", Seq("v"))

  /** Every node of an executed plan, descending into AQE's final plan
    * and its query stages.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case _                        => p +: p.children.flatMap(nodes)
  }

  /** Execute `sql` twice and count the CEP nodes of each executed plan. */
  private def cepNodesPerRun(sql: String): Seq[Int] = {
    val st = CepSql.parseStatement(sql, schema)
    (1 to 2).map { _ =>
      val out = CepMeasures.run(events(), st, spec)
      assert(out.collect().nonEmpty, "probe stream rendered no rows")
      nodes(out.queryExecution.executedPlan)
        .count(_.isInstanceOf[CepMatchExec])
    }
  }

  test("SHOW EMPTY (ALL ROWS): one NFA sweep however often the " +
    "result is consumed") {
    val counts = cepNodesPerRun(
      "PATTERN (c{0,2}) MEASURES COUNT(c) AS n_c, SUM(c.v) AS sv " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE c AS C AFTER MATCH SKIP PAST LAST ROW")
    assert(counts == Seq(1, 1), s"CEP nodes per executed plan: $counts")
  }

  test("SHOW EMPTY (ONE ROW): one NFA sweep") {
    val counts = cepNodesPerRun(
      "PATTERN (c{0,2}) MEASURES COUNT(c) AS n_c, SUM(c.v) AS sv " +
        "ONE ROW PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE c AS C AFTER MATCH SKIP PAST LAST ROW")
    assert(counts == Seq(1, 1), s"CEP nodes per executed plan: $counts")
  }

  test("WITH UNMATCHED ROWS: one NFA sweep (output + bound set share " +
    "the materialized frame)") {
    val counts = cepNodesPerRun(
      "PATTERN (c{1,2}) MEASURES COUNT(c) AS n_c " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "PARTITION BY k ORDER BY id TYPE t DEFINE c AS C")
    assert(counts == Seq(1, 1), s"CEP nodes per executed plan: $counts")
  }
}

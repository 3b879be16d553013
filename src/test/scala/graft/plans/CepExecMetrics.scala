package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftprobe.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** A named SQL metric of every `CepMatchExec` a frame or a SQL execution
  * ran, for specs and lab tools.
  */
object CepExecMetrics {

  /** `metric` of each `CepMatchExec` in `df`'s executed plan, read after
    * an action on `df` itself (the plan is AQE-final by then), including
    * the plans of the caches it reads.
    */
  def of(df: DataFrame, metric: String): Seq[Long] =
    nodes(df.queryExecution.executedPlan).collect {
      case e: CepMatchExec => e.metrics(metric).value
    }

  /** `body`'s result, and the metrics, by key, of each `CepMatchExec`
    * the SQL executions `body` started ran, from the session's SQL status
    * store: for plans no frame holds, such as an eager checkpoint's. An
    * operator drawn more than once in one execution's graph (a cache
    * scanned twice) is counted once; its metrics are per execution.
    */
  def ran[T](spark: SparkSession)(body: => T)
      : (T, Seq[Map[String, Long]]) = {
    val store = spark.sharedState.statusStore
    val keys = CepMatchExec.MetricNames.map(_.swap).toMap
    ListenerDrain(spark.sparkContext)
    val before = store.executionsList().map(_.executionId).toSet
    val result = body
    ListenerDrain(spark.sparkContext)
    val ids = store.executionsList().map(_.executionId).filterNot(before)
    result -> ids.flatMap { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.filter(_.name == "CepMatch")
        .map(_.metrics).distinctBy(_.map(_.accumulatorId).toSet)
        .map(_.map(m => keys(m.name) ->
          values.get(m.accumulatorId).fold(0L)(_.replace(",", "").toLong))
          .toMap[String, Long])
    }.toSeq
  }

  /** `ran`, with the seconds `body` alone took: the listener drains and
    * status-store reads stay outside the timed window.
    */
  def timedRan[T](spark: SparkSession)(body: => T)
      : (T, Double, Seq[Map[String, Long]]) = {
    val ((result, sec), metrics) = ran(spark) {
      val t0 = System.nanoTime()
      val r = body
      r -> (System.nanoTime() - t0) / 1e9
    }
    (result, sec, metrics)
  }

  /** Every node of `plan`: through AQE stages, reused exchanges, cached
    * plans and subqueries, as the SQL UI draws it.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer.empty[SparkPlan]
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]
    def walk(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      out += p
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case im: InMemoryTableScanExec => Seq(im.relation.cachedPlan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }).foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}

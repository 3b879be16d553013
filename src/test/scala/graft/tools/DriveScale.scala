package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._
import graft.plans.CepExecMetrics

/** Scale probe: 4M synthetic events over 400 keys (10k events/key) through
  * the batch CEP operator — validates the streaming-NFA memory claim and
  * measures throughput on a selective strict pattern, with the
  * operator's peak live-run and fed-event metrics.
  */
object DriveScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(4000000L)
    val df = spark.range(n).select(
      (col("id") % 400).as("user_id"),
      col("id").as("event_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup")),
        (pmod(hash(col("id")), lit(4)) + 1).cast("int"))
        .as("event_type"),
      pmod(col("id") * 40503, lit(500)).as("value"))
    val q = CepQuery(
      Pattern.Combine(Contiguity.Strict,
        Pattern.spat("a", "signup", "True"),
        Pattern.lpat("b", "purchase", "value < 250", Contiguity.Strict, 1, 2)),
      Vector("click" -> Vector("event_id", "value"),
        "view" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value"),
        "signup" -> Vector("event_id", "value")))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    val (matches, sec, st) = CepExecMetrics.timedRan(spark)(
      SparkCep.matchPatternExec(df, q, spec).count())
    println(f"SCALE_MATCHES=$matches SECONDS=$sec%.1f EVENTS_PER_SEC=${(n / sec).toLong}")
    println(s"SCALE_SKEW max_runs=${st.map(_("peakLiveRuns")).max} " +
      s"events_fed=${st.map(_("numEvents")).sum}")
    spark.stop()
  }
}

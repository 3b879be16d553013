package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._
import graft.plans.CepExecMetrics

/** Scale probe for the `^` partition-start anchor: the anchored funnel
  * seeds ONE run per key (seed-at-step-1 + firstTake==1 emit gate)
  * where the unanchored form seeds at every event — on dense keys that
  * is the difference between O(1) and O(events-in-flight) live runs per
  * key. The probe feeds the same parquet-backed stream through both
  * forms and reports seconds, matches, and the operator's
  * `peakLiveRuns` metric (the per-key state bound the anchor buys). Note the
  * anchored form also declines the alphabet pushdown (it must observe
  * the true partition edge), so its scan is the FULL stream — the probe
  * shows the state win surviving that handicap.
  *
  * Usage: DriveAnchorScale [threads] [nEvents]
  */
object DriveAnchorScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(4000000L)
    val path = s"/tmp/graft_anchor_scale_$n"
    spark.range(n).select(
      (col("id") % 400).as("user_id"),
      col("id").as("event_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
          lit("error")),
        (pmod(hash(col("id")), lit(5)) + 1).cast("int"))
        .as("event_type"),
      pmod(col("id") * 40503, lit(500)).as("value"),
      sha2(col("id").cast("string"), 256).as("props"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val schema = Vector("click", "view", "purchase", "signup", "error")
      .map(_ -> Vector("event_id", "value"))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    def q(anchored: Boolean) = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("s", "signup", "True"),
        Pattern.spat("p", "purchase", "value < 250")),
      schema, anchorStart = anchored)

    SparkCep.matchPatternExec(df, q(anchored = false), spec).count() // warm

    for (anchored <- Vector(false, true)) {
      val (m, sec, st) = CepExecMetrics.timedRan(spark)(
        SparkCep.matchPatternExec(df, q(anchored), spec).count())
      val fed = st.map(_("numEvents")).sum
      println(f"ANCHOR=$anchored MATCHES=$m SECONDS=$sec%.2f " +
        f"MAX_LIVE_RUNS=${st.map(_("peakLiveRuns")).max} " +
        f"FED=$fed EVENTS_PER_SEC=${(fed / sec).toLong}")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._

/** Scale probe for the multi-query shared-scan CEP exec path
  * (`matchPatternsShared` → `CepMatchExec`): k patterns over one
  * PARQUET-backed stream, shared pass vs the same patterns run separately
  * through `matchPatternExec`.
  *
  * The source is written to parquet first (with a payload column, so the
  * scan has real I/O weight like a production event table) because the
  * operator's win is amortizing the SCAN across the query set — on a free
  * in-memory `spark.range` source the shared pass is strictly worse (it
  * feeds every NFA the union stream: k × more feed work, no scan saved;
  * measured 0.34× on 8M rows), and an honest probe must show where the
  * crossover sits, not synthesize a win.
  *
  * Usage: DriveMultiScale [threads] [nEvents]
  */
object DriveMultiScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(4000000L)
    val path = s"/tmp/graft_multi_scale_$n"
    spark.range(n).select(
      (col("id") % 400).as("user_id"),
      col("id").as("event_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
          lit("error")),
        (pmod(hash(col("id")), lit(5)) + 1).cast("int"))
        .as("event_type"),
      pmod(col("id") * 40503, lit(500)).as("value"),
      // payload ~100 B/row: the part of a production event row that the
      // scan pays for even when pruned late (and that pushdown skips)
      sha2(col("id").cast("string"), 256).as("props"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val schema = Vector("click" -> Vector("event_id", "value"),
      "view" -> Vector("event_id", "value"),
      "purchase" -> Vector("event_id", "value"),
      "signup" -> Vector("event_id", "value"),
      "error" -> Vector("event_id", "value"))
    // all-prefilter set: the union pushdown engages, as deployed
    val queries = Seq(
      "spat_cheap" -> CepQuery(
        Pattern.spat("a", "purchase", "value < 100"), schema),
      "pairs" -> CepQuery(
        Pattern.lpat("a", "purchase", "value < 250", Contiguity.Relaxed,
          2, 2), schema),
      "signup_then_purchase" -> CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("a", "signup", "True"),
          Pattern.spat("b", "purchase", "value < 250")), schema))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    // warm-up: one untimed pass of each formulation — JVM/codegen warmup
    // charged ~4s to whichever path ran first and flipped the verdict
    SparkCep.matchPatternsShared(df, queries.take(1), spec).count()
    SparkCep.matchPatternExec(df, queries.head._2, spec).count()

    val t0 = System.nanoTime()
    val sharedN =
      SparkCep.matchPatternsShared(df, queries, spec).count()
    val secShared = (System.nanoTime() - t0) / 1e9
    println(f"MULTI_SHARED MATCHES=$sharedN SECONDS=$secShared%.1f " +
      f"EVENTS_PER_SEC=${(n / secShared).toLong}")

    val t1 = System.nanoTime()
    val sepN = queries.map { case (_, q) =>
      SparkCep.matchPatternExec(df, q, spec).count()
    }.sum
    val secSep = (System.nanoTime() - t1) / 1e9
    require(sepN == sharedN, s"shared diverged: $sharedN vs separate $sepN")
    println(f"MULTI_SEPARATE MATCHES=$sepN SECONDS=$secSep%.1f " +
      f"SPEEDUP=${secSep / secShared}%.2fx")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._
import graft.plans.CepExecMetrics

/** Scale probe for `CepMeasures.runShared` after the single-pass fix:
  * consume ALL members' measures for k = 1..kMax member sets over one
  * parquet-backed stream and report seconds plus the operator's
  * `numEvents` metric. Before the fix, consuming k members re-ran the
  * shared sweep k times (each matching all k patterns): quadratic in k
  * and the count read k× the feed. After it, it reads one pass and the
  * time curve is one sweep + k cheap projections over the SMALL match
  * frame — near-flat in k.
  *
  * Usage: DriveSharedMeasuresScale [threads] [nEvents] [kMax]
  */
object DriveSharedMeasuresScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(4000000L)
    val kMax = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val path = s"/tmp/graft_shared_measures_$n"
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
    val pool = Seq(
      "sp" -> ("PATTERN (s p) MEASURES FIRST(s) AS a, SUM(p.value) AS d " +
        "DEFINE s AS signup; p AS purchase"),
      "se" -> ("PATTERN (s x) MEASURES FIRST(s) AS a, SUM(x.value) AS d " +
        "DEFINE s AS signup; x AS error"),
      "cp" -> ("PATTERN (c p) MEASURES FIRST(c) AS a, SUM(p.value) AS d " +
        "DEFINE c AS click; p AS purchase"),
      "vp" -> ("PATTERN (v p) MEASURES FIRST(v) AS a, SUM(p.value) AS d " +
        "DEFINE v AS view; p AS purchase"))
    require(kMax <= pool.size, s"kMax > ${pool.size} statements in pool")
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    def consumeAll(k: Int): Long =
      CepMeasures.runShared(df,
        CepSql.parseStatements(pool.take(k), schema), spec)
        .map(_._2.count()).sum

    consumeAll(1) // warm-up: JVM + codegen, untimed
    for (k <- 1 to kMax) {
      val (rows, sec, st) = CepExecMetrics.timedRan(spark)(consumeAll(k))
      val fed = st.map(_("numEvents")).sum
      println(f"SHARED_MEASURES k=$k MATCHES=$rows SECONDS=$sec%.2f " +
        f"FED_EVENTS=$fed EVENTS_PER_SEC=${(fed / sec).toLong}")
    }
    spark.stop()
  }
}

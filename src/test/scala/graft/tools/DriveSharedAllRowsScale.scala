package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._
import graft.plans.CepExecMetrics

/** Scale probe for ALL ROWS PER MATCH members on the shared scan
  * (round 16 — `CepMeasures.runShared` admits every rows-per-match
  * mode): k ALL-ROWS statements on ONE operator pass vs the same k run
  * SOLO. The claim under test: the shared formulation pays one scan +
  * one NFA sweep (the operator's `numEvents` metric stays flat in k)
  * plus k per-member explode + event joins — which the members would
  * pay solo too — so shared wall-clock grows sub-linearly while solo
  * grows ~linearly, and the metric reads exactly one pass however many
  * ALL-ROWS members consume their slices.
  *
  * Usage: DriveSharedAllRowsScale [threads] [nEvents] [kMax]
  */
object DriveSharedAllRowsScale {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val kMax = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val path = s"/tmp/graft_shared_allrows_$n"
    spark.range(n).select(
      (col("id") % 400).as("user_id"),
      col("id").as("event_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
          lit("error")),
        (pmod(hash(col("id")), lit(5)) + 1).cast("int"))
        .as("event_type"),
      pmod(col("id") * 40503, lit(500)).as("value"))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val schema = Vector("click", "view", "purchase", "signup", "error")
      .map(_ -> Vector("event_id", "value"))
    val pool = Seq(
      "sp" -> ("PATTERN (s p) MEASURES COUNT(p) AS n, SUM(p.value) AS d " +
        "ALL ROWS PER MATCH DEFINE s AS signup; p AS purchase"),
      "se" -> ("PATTERN (s x) MEASURES COUNT(x) AS n, SUM(x.value) AS d " +
        "ALL ROWS PER MATCH DEFINE s AS signup; x AS error"),
      "cp" -> ("PATTERN (c p) MEASURES COUNT(p) AS n, SUM(p.value) AS d " +
        "ALL ROWS PER MATCH DEFINE c AS click; p AS purchase"),
      "vp" -> ("PATTERN (v p) MEASURES COUNT(p) AS n, SUM(p.value) AS d " +
        "ALL ROWS PER MATCH DEFINE v AS view; p AS purchase"))
    require(kMax <= pool.size, s"kMax > ${pool.size} statements in pool")
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    def sharedAll(k: Int): Long =
      CepMeasures.runShared(df,
        CepSql.parseStatements(pool.take(k), schema), spec)
        .map(_._2.count()).sum

    def soloAll(k: Int): Long =
      CepSql.parseStatements(pool.take(k), schema)
        .map { case (_, st) => CepMeasures.run(df, st, spec).count() }.sum

    // warm-up (codegen, page cache)
    sharedAll(1); soloAll(1)
    println(f"${"k"}%3s ${"shared_s"}%9s ${"solo_s"}%8s " +
      f"${"fed_events"}%11s ${"rows"}%10s")
    for (k <- 1 to kMax) {
      val (rows, tShared, st) = CepExecMetrics.timedRan(spark)(sharedAll(k))
      val fed = st.map(_("numEvents")).sum
      val t1 = System.nanoTime()
      val rowsSolo = soloAll(k)
      val tSolo = (System.nanoTime() - t1) / 1e9
      require(rows == rowsSolo, s"shared/solo row counts diverge at k=$k")
      println(f"$k%3d $tShared%9.2f $tSolo%8.2f " +
        f"$fed%11d $rows%10d")
    }
    spark.stop()
  }
}

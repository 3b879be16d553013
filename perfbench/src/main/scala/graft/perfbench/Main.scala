package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Benchmark harness for one workload run.
  *
  * {{{
  * Main --workload cep_batch --seed 1 --seconds 6 --trace 0
  *      --work <dir> --out <result.json> --cores 4 [--size tiny]
  *      [--fingerprints <file.tsv>]
  * }}}
  *
  * The inputs are generated before the JVM starts, into `<work>/data`,
  * with their properties in `<work>/inputs.json`. A run starts one
  * session and runs the untimed warm-up (`setup_s` covers both);
  * then it repeats the workload's pass until the passes' timed parts add
  * up to `--seconds` (`--trace 0`), or runs a traced pass between two
  * plain ones (`--trace 1`); then, untimed, it computes the expected
  * results and judges every operation against them. The result, with the
  * run's stamps and input properties, is written as JSON to `--out`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, cores: Int, tiny: Boolean,
      fingerprints: Option[Path])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")), Paths.get(m("out")),
      m("cores").toInt, m.get("size").contains("tiny"),
      m.get("fingerprints").map(Paths.get(_)))
  }

  /** Checked-in fingerprints: lines `workload size seed op fingerprint`. */
  def checkedIn(a: Args): Map[String, String] = a.fingerprints match {
    case Some(p) if Files.exists(p) =>
      val src = Source.fromFile(p.toFile)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty &&
          !l.startsWith("#")).map(_.split("\\s+")).collect {
          case Array(w, sz, sd, op, fp) if w == a.workload &&
              sz == (if (a.tiny) "tiny" else "full") &&
              sd == a.seed.toString => op -> fp
        }.toMap
      finally src.close()
    case _ => Map.empty
  }

  /** The flat numeric properties the generator recorded. */
  def inputs(work: Path): Map[String, Double] = {
    import org.json4s._
    val text = new String(Files.readAllBytes(work.resolve("inputs.json")),
      "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text) match {
      case JObject(fields) => fields.collect {
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JLong(v)) => k -> v.toDouble
        case (k, JDouble(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def procLine(file: String): String = {
    val src = Source.fromFile(file)
    try src.mkString finally src.close()
  }

  def peakRssMb: Double =
    procLine("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.stripPrefix("VmHWM:").stripSuffix("kB").trim.toDouble / 1024.0)
      .getOrElse(0.0)

  def loadavg: Seq[Double] =
    procLine("/proc/loadavg").trim.split("\\s+").take(2).map(_.toDouble)
      .toSeq

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result =
      try run(a)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Map[String, Any]("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    Files.createDirectories(a.out.getParent)
    Files.write(a.out, Json(result).getBytes("UTF-8"))
    // stop lingering non-daemon threads of a failed session
    System.exit(if (result.contains("error")) 1 else 0)
  }

  def run(a: Args): Map[String, Any] = {
    val load0 = loadavg
    val ctx = RunCtx(a.work, inputs(a.work), checkedIn(a))
    val w = Workloads(a.workload, ctx)

    val t0 = System.nanoTime()
    val spark = session(a)
    if (a.trace) w.attach(spark)
    val h = new Harness(spark, new Tracer(false), None)
    val warmups = w.warmup(h)
    val setupS = (System.nanoTime() - t0) / 1e9

    val timed = Seq.newBuilder[PassRun]
    var traceOut: Map[String, Any] = Map.empty
    var layer: Map[String, Double] = Map.empty
    if (!a.trace) {
      // the window counts timed time only, not the untimed verification
      var spentS = 0.0
      do {
        val p = w.pass(h, verify = true)
        timed += p
        spentS += p.ms / 1000.0
      } while (spentS < a.seconds)
    } else {
      val plain = w.pass(h, verify = true)
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      val tracer = new Tracer(true)
      val th = new Harness(spark, tracer, Some(counters))
      val traced = tracer.span("pass", a.workload)(w.pass(th, verify = true))
      val extras = w.layerExtras(spark, th)
      spark.sparkContext.removeSparkListener(counters)
      // a plain pass on each side of the traced one, so warm-up drift
      // cancels in the overhead
      val after = w.pass(h, verify = true)
      timed += plain += traced += after
      layer = Layers.metrics(a.cores, (plain.ms + after.ms) / 2, traced,
        th.spent, th.opTraces.toSeq, extras.metrics)
      traceOut = Map(
        "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
          "op" -> s.op, "parent" -> s.parent, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)),
        "ops" -> th.opTraces.map(t => Map("name" -> t.name,
          "wall_ms" -> t.wallMs, "build_ms" -> t.buildMs,
          "build_jobs" -> t.buildJobs, "plan_ms" -> t.planMs,
          "exec_ms" -> t.execMs, "jobs" -> t.spark.jobs,
          "stages" -> t.spark.stages, "tasks" -> t.spark.tasks,
          "task_run_ms" -> t.spark.runMs, "task_cpu_ms" -> t.spark.cpuMs,
          "shuffle_bytes" -> (t.spark.shuffleRead + t.spark.shuffleWrite),
          "cached_bytes_peak" -> t.spark.cachedPeak,
          "sql_metrics" -> t.sqlMetrics.toMap)),
        "extras" -> extras.detail)
    }
    // expected results, untimed; every operation is judged against them
    val tRef = System.nanoTime()
    w.reference(spark)
    val refS = (System.nanoTime() - tRef) / 1e9
    val rss = peakRssMb
    spark.stop()

    def judge(p: PassRun): PassRun = {
      def j(r: OpRun) = w.expected(r.name) match {
        case Some(e) if r.ok && e != r.fp =>
          r.copy(ok = false, err = s"fingerprint ${r.fp} != expected $e")
        case _ => r
      }
      val checks = p.checks.map(j)
      // a pass whose output fails its check fails every operation in it
      val ops = if (checks.forall(_.ok)) p.ops.map(j)
        else p.ops.map(_.copy(ok = false, err = "pass output check failed"))
      PassRun(p.ms, ops, checks)
    }
    val passes = timed.result().map(judge)
    // warm-up operations are not verified; one that threw still fails
    val warmFailed = warmups.flatMap(_.ops).filterNot(_.ok)
    val failures =
      warmFailed ++ passes.flatMap(p => (p.ops ++ p.checks).filterNot(_.ok))
    val attempted =
      warmFailed.length + passes.map(p => p.ops.length + p.checks.length).sum
    val okPasses = passes.filter(_.ok)
    val passS = Stats.median(okPasses.map(_.ms / 1000.0))
    val samples = passes.flatMap(_.ops.filter(_.ok).map(_.ms))
    // each operation's median over the passes, then their geometric mean:
    // every operation moves it, whichever falls in the middle
    val opMedians = passes.flatMap(_.ops).filter(_.ok).groupBy(_.name)
      .map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
    val opGmean =
      if (opMedians.isEmpty) 0.0
      else math.exp(opMedians.values.map(math.log).sum / opMedians.size)
    def orZero(d: Double) = if (d.isNaN || d.isInfinite) 0.0 else d
    val endToEnd = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "pass_s" -> orZero(passS),
      "op_gmean_ms" -> opGmean,
      "op_p50_ms" -> orZero(Stats.quantile(samples, 0.5)),
      "op_p90_ms" -> orZero(Stats.quantile(samples, 0.9)),
      "items_per_s" -> orZero(w.passItems / passS))
    Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "size" -> (if (a.tiny) "tiny" else "full"),
      "correct" -> failures.isEmpty,
      "attempted" -> attempted, "failed" -> failures.length,
      "end_to_end" -> endToEnd, "per_layer" -> layer,
      "detail" -> Map(
        "passes_s" -> passes.map(_.ms / 1000.0),
        "op_samples" -> samples.length, "pass_items" -> w.passItems,
        "reference_s" -> refS, "inputs" -> ctx.inputs,
        "checked_in_fingerprints" -> ctx.checkedIn.size,
        "fingerprints" -> okPasses.headOption.toSeq
          .flatMap(_.ops.filter(_.fp.nonEmpty).map(r => r.name -> r.fp))
          .toMap,
        "failures" -> failures.take(20).map(f => s"${f.name}: ${f.err}"),
        "op_median_ms" -> opMedians),
      "stamps" -> Map(
        "loadavg_start" -> load0, "loadavg_end" -> loadavg,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> a.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.toSeq.map(_.toString)
          .filter(_.startsWith("-X")),
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION),
      "trace" -> traceOut)
  }
}

/** Per-layer metrics of a traced run. */
object Layers {

  def metrics(cores: Int, plainMs: Double, traced: PassRun,
      tot: CounterSnap, ops: Seq[OpTrace],
      extras: Map[String, Double]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val wall = ops.map(_.wallMs).sum
    def share(x: Double) = if (wall <= 0) 0.0 else x / wall
    val base = Map(
      "build_ms" -> mean(ops.map(_.buildMs)),
      "build_jobs" -> ops.map(_.buildJobs).sum.toDouble,
      "plan_ms" -> mean(ops.map(_.planMs)),
      "exec_ms" -> mean(ops.map(_.execMs)),
      "build_share" -> share(ops.map(_.buildMs).sum),
      "plan_share" -> share(ops.map(_.planMs).sum),
      "exec_share" -> share(ops.map(_.execMs).sum),
      "jobs" -> tot.jobs.toDouble, "stages" -> tot.stages.toDouble,
      "tasks" -> tot.tasks.toDouble, "task_run_ms" -> tot.runMs.toDouble,
      "task_cpu_ms" -> tot.cpuMs.toDouble, "gc_ms" -> tot.gcMs.toDouble,
      "input_bytes" -> tot.inputBytes.toDouble,
      "shuffle_read_bytes" -> tot.shuffleRead.toDouble,
      "shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
      "spill_bytes" -> tot.spillBytes.toDouble,
      "task_skew" -> tot.taskSkew,
      "cached_bytes_peak" -> tot.cachedPeak.toDouble,
      "driver_overhead_frac" ->
        (1.0 - tot.runMs / (cores * math.max(traced.ms, 1e-9))),
      "trace_overhead_frac" -> (traced.ms / plainMs - 1.0))
    val stream = Map("stream_plan_ms" -> 0.0, "stream_addbatch_ms" -> 0.0,
      "stream_walcommit_ms" -> 0.0, "state_rows" -> 0.0,
      "state_bytes" -> 0.0, "state_update_ms" -> 0.0,
      "state_commit_ms" -> 0.0)
    val cep = Map("cep_parse_ms" -> 0.0, "dst_compile_ms" -> 0.0,
      "dst_states" -> 0.0, "nfa_events_per_s" -> 0.0,
      "nfa_alloc_bytes_per_event" -> 0.0, "nfa_peak_live_runs" -> 0.0,
      "nfa_matches" -> 0.0)
    stream ++ cep ++ base ++
      Map("state_share" -> 0.0, "progress_share" -> 0.0) ++ extras
  }
}

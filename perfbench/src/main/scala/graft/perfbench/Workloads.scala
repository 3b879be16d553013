package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.cep.{CepOperator, CepQuery, Event, SparkCep, StreamingCep}

/** What a workload needs from the run: the directory holding its generated
  * inputs (`data/`) and scratch space, the inputs' recorded sizes, and the
  * fingerprints checked in for this seed.
  */
final case class RunCtx(work: Path, inputs: Map[String, Double],
    checkedIn: Map[String, String]) {
  val data: Path = work.resolve("data")
  def size(key: String): Long = inputs(key).toLong
}

/** Per-layer numbers a workload adds in a traced run. */
final case class LayerExtras(metrics: Map[String, Double],
    detail: Map[String, Any])

/** A workload: a warm-up pass and a pass repeated for the timed window,
  * over inputs generated before the JVM starts. Samples are per operation,
  * in milliseconds.
  */
trait Workload {
  def name: String
  /** The untimed warm-up of a fresh session: one pass, not verified. */
  def warmup(h: Harness): Seq[PassRun] = Seq(pass(h, verify = false))
  /** One pass; with `verify`, every operation's result is checked, out
    * of the timed region.
    */
  def pass(h: Harness, verify: Boolean = true): PassRun
  /** Input items one pass consumes (events x patterns, files, queries). */
  def passItems: Long
  /** Computes the expected results, after the timed window (untimed). */
  def reference(spark: SparkSession): Unit = ()
  /** What the operation or check `name` must produce, once `reference`
    * has run.
    */
  def expected(name: String): Option[String] = None
  def layerExtras(spark: SparkSession, h: Harness): LayerExtras =
    LayerExtras(Map.empty, Map.empty)
  /** Called on every new session of a traced run. */
  def attach(spark: SparkSession): Unit = ()
}

object Workloads {
  /** The CEP registry patterns of different NFA shapes that cep_batch
    * runs.
    */
  val CepPatterns: Seq[String] = Seq("cep_lpat_strict_clicks",
    "cep_lpat_relaxed_purchase_pairs", "cep_ndrelaxed_click_pairs",
    "cep_gpat_inf_sp", "cep_iter_budget", "cep_until_error_runs")

  def queryOf(n: String): CepQuery = graft.Queries.cepRegistryQueries(n)

  def apply(name: String, ctx: RunCtx): Workload = name match {
    case "cep_batch" => new CepBatch(ctx)
    case "cep_stream" => new CepStream(ctx)
    case "registry" => new Registry(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def toEvent(t: String, id: Long, v: Double): Event =
    Event(t, Vector("event_id" -> id, "value" -> v.toLong))

  /** Pure reference: `CepOperator.run` per key over the key's events in
    * `event_id` order, for every pattern, as rows `(qname, user_id, arrs)`
    * with one id array per pattern name.
    */
  def pureMatches(events: DataFrame, names: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val qs = names.map(n => n -> queryOf(n))
    events.select(col("user_id"), col("event_id"), col("event_type"),
      col("value"))
      .as[(Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val evs = it.toVector.sortBy(_._2).map { case (_, id, t, v) =>
          toEvent(t, id, v)
        }
        qs.iterator.flatMap { case (qn, q) =>
          val piNames = SparkCep.patternNames(q.patseq)
          CepOperator.run(q, evs).map { m =>
            val byName = m.toMap
            (qn, key, piNames.map(p =>
              byName.getOrElse(p, Vector.empty).map(_("event_id"))))
          }
        }
      }
      .toDF("qname", "user_id", "arrs")
  }

  /** CEP front end and compiler, timed on their own: the registry's
    * pattern texts parsed, and `patterns` compiled, `reps` times each.
    */
  def frontEnd(patterns: Seq[String], reps: Int): Map[String, Double] = {
    val texts = graft.Queries.cepSqlMultiSharedStatements.map(_._2) :+
      ("PATTERN (s -> c{1,2} -> p) DEFINE s AS signup; c AS click; " +
        "p AS purchase WITHIN 8")
    val schema = Vector("click", "purchase", "error", "signup", "view")
      .map(t => t -> Vector("event_id", "value"))
    val qs = patterns.map(queryOf)
    def perCall(n: Int)(body: => Unit): Double = {
      body // warm
      val t0 = System.nanoTime()
      for (_ <- 0 until n) body
      (System.nanoTime() - t0) / 1e6 / n
    }
    val parse = perCall(reps)(texts.foreach(graft.cep.CepSql.parse(_, schema)))
    val compile = perCall(reps)(qs.foreach(graft.cep.DstCompiler.compile))
    Map("cep_parse_ms" -> parse / texts.length,
      "dst_compile_ms" -> compile / qs.length,
      "dst_states" -> qs.map(q =>
        graft.cep.DstCompiler.compile(q).states.size).sum.toDouble)
  }

  /** NFA core alone: every pattern run single-threaded through
    * `CepOperator` over the first `limit` events, one call per key, as
    * the operators run it. Allocation is the thread's allocated bytes
    * around the calls. The peak live-run count comes from a second,
    * untimed feed that probes the executor after every event.
    */
  def nfaCore(events: DataFrame, patterns: Seq[String], limit: Int)
      : Map[String, Double] = {
    val rows = events.select("user_id", "event_id", "event_type", "value")
      .orderBy("event_id").limit(limit).collect()
    val byKey = rows.groupBy(_.getLong(0)).values.map(_.toVector.map(r =>
      toEvent(r.getString(2), r.getLong(1), r.getDouble(3)))).toVector
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    var fed, matches, ns, bytes = 0L
    for (p <- patterns) {
      val op = CepOperator.fromQuery(queryOf(p))
      val b0 = mx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      byKey.foreach { evs =>
        matches += op(evs).length
        fed += evs.length
      }
      ns += System.nanoTime() - t0
      bytes += mx.getCurrentThreadAllocatedBytes - b0
    }
    val peak = patterns.map { p =>
      val ex = CepOperator.fromQuery(queryOf(p)).executor
      byKey.map { evs =>
        ex.reset()
        evs.map { e => ex.feed(e); ex.liveRunCount }.maxOption.getOrElse(0)
      }.maxOption.getOrElse(0)
    }.max
    Map("nfa_events_per_s" -> fed / (ns / 1e9),
      "nfa_alloc_bytes_per_event" -> bytes.toDouble / fed,
      "nfa_peak_live_runs" -> peak.toDouble,
      "nfa_matches" -> matches.toDouble)
  }
}

import Workloads._

/** cep_batch: a seeded events table through six registry patterns of
  * different NFA shapes (`matchPatternExec`), plus all six at once through
  * `matchPatternsShared`. Every result must equal the pure per-key
  * `CepOperator.run` reference.
  */
final class CepBatch(ctx: RunCtx) extends Workload {
  val name = "cep_batch"
  private val n = ctx.size("rows")
  private var ref: Map[String, String] = Map.empty

  private def events(spark: SparkSession): DataFrame =
    graft.Queries.table(spark, ctx.data.toString, "events")

  private def ops(spark: SparkSession): Seq[Op] =
    CepPatterns.map(q => Op(q, () =>
      SparkCep.matchPatternExec(events(spark), queryOf(q),
        graft.Queries.eventSpec))) :+
      Op("cep_shared", () =>
        SparkCep.matchPatternsShared(events(spark),
          CepPatterns.map(q => q -> queryOf(q)), graft.Queries.eventSpec))

  def passItems: Long = 2 * n * CepPatterns.length
  def pass(h: Harness, verify: Boolean): PassRun =
    h.runPass(ops(h.spark), _ => None, verify)

  override def expected(name: String): Option[String] = ref.get(name)

  override def reference(spark: SparkSession): Unit = {
    // one job: each pattern's rows hashed in its operator's output shape,
    // and every row hashed in the shared operator's shape
    val pure = pureMatches(events(spark), CepPatterns)
    val own = CepPatterns.foldLeft(lit(null).cast("array<bigint>")) {
      (acc, q) =>
        val k = SparkCep.patternNames(queryOf(q).patseq).length
        val (h1, h2) = Fingerprint.rowHashes(col("user_id") +:
          (0 until k).map(i => col("arrs")(i)))
        when(col("qname") === q, array(h1, h2)).otherwise(acc)
    }
    // matchPatternsShared's (qname, key, binding) row: ids ','-joined
    // per pattern name, ';'-joined across names in declared order
    val binding = concat_ws(";",
      transform(col("arrs"), a => array_join(a, ",")))
    val (s1, s2) =
      Fingerprint.rowHashes(Seq(col("qname"), col("user_id"), binding))
    val rows = pure.withColumn("own", own)
      .groupBy("qname").agg(count(lit(1)), sum(col("own")(0)),
        sum(col("own")(1)), sum(s1), sum(s2)).collect()
    val byQ = rows.map(r => r.getString(0) -> r).toMap
    ref = CepPatterns.map { q =>
      q -> byQ.get(q).map(r => s"${r.getLong(1)}:${r.getLong(2)}:" +
        s"${r.getLong(3)}").getOrElse("0:0:0")
    }.toMap + ("cep_shared" -> (s"${rows.map(_.getLong(1)).sum}:" +
      s"${rows.map(_.getLong(4)).sum}:${rows.map(_.getLong(5)).sum}"))
  }

  override def layerExtras(spark: SparkSession, h: Harness): LayerExtras = {
    val fe = h.tracer.span("parse", "front_end")(frontEnd(CepPatterns, 200))
    val nfa = h.tracer.span("nfa", "nfa_core")(
      nfaCore(events(spark), CepPatterns, n.toInt))
    LayerExtras(fe ++ nfa, Map.empty)
  }
}

/** cep_stream: a smaller stream from the same generator, sliced into
  * ordered files and replayed one file per micro-batch, closed loop,
  * through `StreamingCep.matchPattern` (arrival order) and then
  * `StreamingCep.matchPatternEventTime` (watermark hold-back). One sample
  * is one file committed by both operators. The union of
  * each operator's output must equal the batch operator's matches.
  */
final class CepStream(ctx: RunCtx) extends Workload {
  val name = "cep_stream"
  val pattern = "cep_until_error_runs"
  private val n = ctx.size("rows")
  private val files = ctx.size("files").toInt
  private val delaySec = ctx.size("delay_s")
  private val warmFiles = 2
  private val staged = ctx.data.resolve("staged")
  private val flush = ctx.data.resolve("flush")
  private var passNo = 0
  private var refFp = ""
  val progress = new ProgressLog
  private var lastProgress: Seq[StreamingQueryProgress] = Nil

  private def sorted(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)

  private def allEvents(spark: SparkSession): DataFrame =
    graft.sources.EventSource.parquet(spark, staged.toString)

  override def reference(spark: SparkSession): Unit =
    refFp = Fingerprint.of(SparkCep.matchPatternExec(
      graft.Queries.normalizeTs(allEvents(spark), staged.toString),
      queryOf(pattern), graft.Queries.eventSpec))

  override def expected(name: String): Option[String] =
    if (name.startsWith("gate_")) Some(refFp) else None

  def passItems: Long = 2 * n

  override def warmup(h: Harness): Seq[PassRun] =
    Seq(replay(h, warmFiles, check = false))
  def pass(h: Harness, verify: Boolean): PassRun =
    replay(h, files, check = verify)

  /** Replays the first `upTo` files through both operators. */
  private def replay(h: Harness, upTo: Int, check: Boolean): PassRun = {
    val spark = h.spark
    passNo += 1
    val root = ctx.work.resolve(s"pass$passNo")
    val schema = allEvents(spark).schema
    val q = queryOf(pattern)
    def start(tag: String, src: Path, eventTime: Boolean) = {
      Files.createDirectories(src)
      val in = graft.sources.EventSource.parquetStream(spark, src.toString,
        schema)
      val out =
        if (!eventTime) StreamingCep.matchPattern(in, q,
          graft.Queries.eventSpec)
        else StreamingCep.matchPatternEventTime(
          in.withColumn("ts", col("ts").cast("timestamp")), q,
          graft.Queries.eventSpec, "ts", s"$delaySec seconds")
      out.writeStream.format("memory").queryName(s"pb_${tag}_$passNo")
        .option("checkpointLocation", root.resolve(s"ckpt_$tag").toString)
        .outputMode("append").start()
    }
    val srcA = root.resolve("in_arrival")
    val srcB = root.resolve("in_eventtime")
    val samples = Seq.newBuilder[OpRun]
    var qa, qb: StreamingQuery = null
    try {
      val (ms, _) = h.measured {
        progress.take() // reports of earlier passes
        val t0 = System.nanoTime()
        qa = start("a", srcA, eventTime = false)
        qb = start("b", srcB, eventTime = true)
        for ((f, i) <- sorted(staged).take(upTo).zipWithIndex) {
          val name = f"batch_$i%03d"
          val s0 = System.nanoTime()
          try {
            h.tracer.span("exec", name) {
              // one operator at a time, so neither batch competes with
              // the other for cores; the next file goes in once both
              // have committed
              Files.createLink(srcA.resolve(f.getFileName), f)
              qa.processAllAvailable()
              Files.createLink(srcB.resolve(f.getFileName), f)
              qb.processAllAvailable()
            }
            samples += OpRun(name, (System.nanoTime() - s0) / 1e6,
              ok = true, "")
          } catch {
            case e: Throwable =>
              samples += OpRun(name, 0, ok = false, "",
                e.getClass.getSimpleName + ": " + e.getMessage)
          }
        }
        (System.nanoTime() - t0) / 1e6
      }
      lastProgress = progress.take()
      val gates =
        if (!check) Nil
        else h.tracer.span("verify", "stream") {
          // the flush sentinels advance the watermark past every event
          for (k <- sorted(flush)) {
            Files.createLink(srcB.resolve("z" + k.getFileName), k)
            qb.processAllAvailable()
          }
          Seq("gate_arrival" -> s"pb_a_$passNo",
            "gate_event_time" -> s"pb_b_$passNo").map { case (g, t) =>
            OpRun(g, 0, ok = true, Fingerprint.of(spark.table(t)))
          }
        }
      PassRun(ms, samples.result(), gates)
    } finally {
      Seq(qa, qb).filter(_ != null).foreach(_.stop())
      spark.catalog.dropTempView(s"pb_a_$passNo")
      spark.catalog.dropTempView(s"pb_b_$passNo")
    }
  }

  override def attach(spark: SparkSession): Unit =
    spark.streams.addListener(progress)

  override def layerExtras(spark: SparkSession, h: Harness): LayerExtras = {
    val ps = lastProgress.filter(_.numInputRows > 0)
    def dur(k: String) = ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val ops = ps.flatMap(_.stateOperators.toSeq)
    val cores = spark.sparkContext.defaultParallelism
    val triggerMs = math.max(1e-9, dur("triggerExecution").sum)
    // state-store time is summed over the operator's tasks; its instances
    // run side by side on up to `cores` cores, so task time over that
    // width is the phase's share of the batch's wall time
    val stateMs = ops.map(o =>
      (o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).toDouble /
        math.max(1L, math.min(o.numStateStoreInstances, cores.toLong))).sum
    val lastOps = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
      .flatMap(_.stateOperators.toSeq)
    val fe = frontEnd(Seq(pattern), 200)
    val nfa = h.tracer.span("nfa", "nfa_core")(
      nfaCore(allEvents(spark), Seq(pattern), n.toInt))
    val m = Map(
      "stream_plan_ms" -> mean(dur("queryPlanning")),
      "stream_addbatch_ms" -> mean(dur("addBatch")),
      "stream_walcommit_ms" -> mean(dur("walCommit")),
      "state_rows" -> lastOps.map(_.numRowsTotal).sum.toDouble,
      "state_bytes" -> lastOps.map(_.memoryUsedBytes).sum.toDouble,
      "state_update_ms" -> mean(ops.map(_.allUpdatesTimeMs.toDouble)),
      "state_commit_ms" -> mean(ops.map(_.commitTimeMs.toDouble)),
      // shares of the batches' wall time (`triggerExecution`): the
      // state-store phase, and the driver's offset and commit logs
      "state_share" -> stateMs / triggerMs,
      "progress_share" ->
        (dur("walCommit").sum + dur("commitOffsets").sum) / triggerMs)
    LayerExtras(m ++ fe ++ nfa, Map("progress_batches" -> ps.length))
  }
}

/** registry: one warm pass over a fixed, checked-in subset of
  * `SparkEntry.queries` with every query family, on a generated
  * sf0.1-schema table set. Each result must equal the checked-in
  * fingerprint for the seed when there is one, and the warm-up pass's
  * result always.
  */
final class Registry(ctx: RunCtx) extends Workload {
  val name = "registry"
  val queries: Seq[String] = Seq("cep_sql_funnel",
    "pipeline_prep_shards_v2", "dedup_lsh_calibration", "split_leakage_free",
    "knn_cosine_top10", "mm_frame_sample",
    "rel_q1_pricing", "sketch_hll_distinct", "text_stats",
    "sample_stratified", "pack_shards")
  private val first = scala.collection.mutable.HashMap.empty[String, String]

  private def check(q: String): Option[String] =
    ctx.checkedIn.get(q).orElse(first.get(q))

  private def ops(spark: SparkSession): Seq[Op] = queries.map { q =>
    val fn = graft.SparkEntry.queries(q)
    Op(q, () => fn(spark, ctx.data.toString))
  }

  def passItems: Long = queries.length

  def pass(h: Harness, verify: Boolean): PassRun = {
    val p = h.runPass(ops(h.spark), check, verify)
    p.ops.filter(r => r.ok && r.fp.nonEmpty)
      .foreach(r => first.getOrElseUpdate(r.name, r.fp))
    p
  }

  override def layerExtras(spark: SparkSession, h: Harness): LayerExtras =
    LayerExtras(frontEnd(Seq("cep_sql_funnel"), 200), Map.empty)
}

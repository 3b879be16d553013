package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** batch == stream gate for the multi-query shared-scan CEP operator,
  * plus cross-batch state coverage: the sf0.001 events table replayed as
  * four ordered micro-batches (one file per trigger) through
  * `StreamingCep.matchPatternsShared` must reproduce the batch
  * `SparkCep.matchPatternsShared` output exactly — runs that span
  * micro-batch boundaries only survive if all k member states round-trip
  * through the SharedMultiState codec.
  *
  * Randomized differential on top: pseudo-random subsets of the registry
  * patterns (seeded — deterministic across runs) compare the BATCH shared
  * operator against per-query `matchPatternExec`, so the shared path is
  * exercised over mixed strict/relaxed/negated/windowed member sets, not
  * just the two hand-picked registry trios.
  */
class StreamingMultiSharedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var sliceDir: String = _
  private var sliceSchema: org.apache.spark.sql.types.StructType = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_id", "event_type", "value")
    sliceSchema = ev.schema
    val mm = ev.selectExpr("min(event_id)", "max(event_id)").head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    sliceDir = java.nio.file.Files
      .createTempDirectory("cep-multi-stream-gate").toString
    val width = (hi - lo) / 4 + 1
    for (s <- 0 until 4) {
      ev.filter(col("event_id")
        .between(lo + s * width, lo + (s + 1) * width - 1))
        .coalesce(1).write.mode("append").parquet(sliceDir)
    }
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def events = spark.read.parquet(s"$sfDir/events.parquet")
  private val spec = graft.Queries.eventSpec

  private def batchShared(qs: Seq[(String, CepQuery)]): Vector[String] =
    SparkCep.matchPatternsShared(events, qs, spec).collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
      .toVector.sorted

  private val registryTrios = Seq(
    "registry mixed (strict member, no pushdown)" -> Seq(
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "next_signup_purchase" -> graft.Queries.cepNextSignupPurchaseQuery,
      "not_followed_by_purchase" ->
        graft.Queries.cepNotFollowedByPurchaseQuery),
    "registry pushdown (all-prefilter)" -> Seq(
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "lpat_relaxed_purchase_pairs" ->
        graft.Queries.cepLpatRelaxedPurchasePairsQuery,
      "not_followed_by_purchase" ->
        graft.Queries.cepNotFollowedByPurchaseQuery),
    // a NAVIGATING member: the shared history (one per key, union of
    // member navs) must reproduce the batch lag-window values, the
    // union filter is disabled, and the non-nav members must be
    // unaffected by the extra trailing state payload
    "registry nav member (shared history)" -> Seq(
      "prev_ascending" -> graft.Queries.cepSqlPrevAscendingStatement.query,
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "next_signup_purchase" -> graft.Queries.cepNextSignupPurchaseQuery),
    // a ^-ANCHORED member: the anchored query declines its prefilter
    // (union filter off for the set), seeds once per key (the state
    // codec carries the step counter across micro-batches), and the
    // shared idle-key GC is disabled for the whole set (a drained
    // anchored key must not restore as fresh) — all while the other
    // members behave exactly as solo
    "registry anchored member (^ seed-once, GC exempt)" -> Seq(
      "anchor_first" -> graft.Queries.cepSqlAnchorFirstStatement.query,
      "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
      "next_signup_purchase" -> graft.Queries.cepNextSignupPurchaseQuery))

  for ((label, qs) <- registryTrios)
    test(s"stream shared == batch shared: $label") {
      val batch = batchShared(qs)
      assert(batch.nonEmpty)
      val streamDf = spark.readStream.schema(sliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(sliceDir)
      val out = StreamingCep.matchPatternsShared(streamDf, qs, spec)
      val qn = "multigate_" + label.replaceAll("[^A-Za-z0-9]", "_")
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val streamed =
        try {
          sq.processAllAvailable()
          spark.sql(s"SELECT * FROM $qn").collect()
            .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
            .toVector.sorted
        } finally sq.stop()
      assert(streamed == batch,
        s"shared stream diverged: ${streamed.length} vs ${batch.length}")
    }

  /** Event-time shared operator on OUT-OF-ORDER input: ts = event_id
    * seconds (event-time order IS the batch order), four slices with a
    * deterministic ~20% displaced one slice later, watermark delay
    * exceeding the displacement, flush sentinels driving the final
    * watermark past every real event — the `EventTimeRegistryGateSpec`
    * construction, applied to the SHARED operator: one reorder buffer
    * must feed every member identically.
    */
  test("event-time stream shared == batch shared on out-of-order input") {
    val qs = registryTrios.last._2 // all-prefilter set: union filter on
    val batch = batchShared(qs)
    assert(batch.nonEmpty)

    // +1s: an epoch-0 event time is silently dropped by Spark's
    // stateful late-row filter (initial watermark 0) — see
    // StreamingCep.releaseBuffer and the registry event-time gate
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), (col("event_id") + 1).cast("timestamp").as("ts"))
    val mm = ev.selectExpr("min(event_id)", "max(event_id)").head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = (hi - lo) / 4 + 1
    val delaySec = width + 10
    val dir = java.nio.file.Files
      .createTempDirectory("cep-multi-et-gate").toString
    val sliced = ev.withColumn("slice",
      org.apache.spark.sql.functions.least(
        org.apache.spark.sql.functions.lit(3L),
        org.apache.spark.sql.functions.floor(
          (col("event_id") - lo) / width) +
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(col("event_id")),
              org.apache.spark.sql.functions.lit(5L)) === 0L, 1L)
            .otherwise(0L)))
    for (s <- 0L until 4L) {
      sliced.filter(col("slice") === s).drop("slice")
        .orderBy(org.apache.spark.sql.functions.xxhash64(col("event_id")))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val sess = spark
    import sess.implicits._
    // flush sentinels carry a NON-alphabet "__flush" type on purpose:
    // the union filter runs ABOVE the watermark node in pushdown-blocked
    // form (StreamingCep.etPrepare), so any typed event advances the
    // watermark and a non-alphabet sentinel is dropped before the
    // shuffle — it can never bind to or kill a member run. Under the
    // pre-round-9 placement (filter pushed below the watermark) these
    // sentinels would be dropped before watermark stats and the
    // buffered tail would never drain — this gate would hang — so the
    // sentinel type choice is itself the regression pin for the
    // watermark placement.
    for (k <- 2L to 3L) {
      Seq((-1L, hi + k, "__flush", 9999.0, hi + k * delaySec))
        .toDF("user_id", "event_id", "event_type", "value", "tsec")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("tsec").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val streamDf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = StreamingCep.matchPatternsSharedEventTime(streamDf, qs, spec,
      tsCol = "ts", delay = s"$delaySec seconds")
    val sq = out.writeStream.format("memory").queryName("multigate_et")
      .outputMode("append").start()
    val streamed =
      try {
        sq.processAllAvailable()
        spark.sql("SELECT * FROM multigate_et").collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
          .toVector.sorted
      } finally sq.stop()
    assert(streamed == batch,
      s"event-time shared diverged: ${streamed.length} vs ${batch.length}")
  }

  test("randomized member sets: batch shared == union of per-query runs") {
    // deterministic seed — failures reproduce; draw from the full
    // registry pattern pool (strict, relaxed, nd-relaxed, negated,
    // windowed, group loops, until, iterative)
    val pool = graft.Queries.cepRegistryQueries.toSeq.sortBy(_._1).toVector
    val rnd = new scala.util.Random(20260813L)
    for (round <- 0 until 6) {
      val k = 2 + rnd.nextInt(3) // 2-4 members
      val qs = rnd.shuffle(pool).take(k)
      val exp = qs.flatMap { case (name, q) =>
        val piNames = SparkCep.patternNames(q.patseq)
        SparkCep.matchPatternExec(events, q, spec).collect().map { row =>
          val binding = piNames.map(n =>
            row.getAs[scala.collection.Seq[Long]](n).mkString(","))
            .mkString(";")
          s"$name|${row.getLong(0)}|$binding"
        }
      }.toVector.sorted
      val got = batchShared(qs)
      assert(got == exp,
        s"round $round diverged on members ${qs.map(_._1)}: " +
          s"${got.length} vs ${exp.length}")
    }
  }

  test("randomized member sets through the STREAMING shared operator") {
    // two seeded random draws through the arrival-order streaming path
    // (micro-batched, cross-batch state) — the batch-vs-stream gate over
    // member sets the registry trios don't cover
    val pool = graft.Queries.cepRegistryQueries.toSeq.sortBy(_._1).toVector
    val rnd = new scala.util.Random(8132026L)
    for (round <- 0 until 2) {
      val k = 2 + rnd.nextInt(2) // 2-3 members
      val qs = rnd.shuffle(pool).take(k)
      val batch = batchShared(qs)
      val streamDf = spark.readStream.schema(sliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(sliceDir)
      val out = StreamingCep.matchPatternsShared(streamDf, qs, spec)
      val qn = s"multigate_rnd$round"
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val streamed =
        try {
          sq.processAllAvailable()
          spark.sql(s"SELECT * FROM $qn").collect()
            .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
            .toVector.sorted
        } finally sq.stop()
      assert(streamed == batch,
        s"round $round diverged on members ${qs.map(_._1)}: " +
          s"stream ${streamed.length} vs batch ${batch.length}")
    }
  }

  /** The round-9 watermark-placement fix, pinned from both sides:
    *
    * (plan) the engaged union filter must sit ABOVE the
    * `EventTimeWatermark` node — no event_type-referencing Filter may
    * survive below it after optimization, else the watermark is
    * computed on the filtered stream;
    *
    * (behavior) a DROP-HEAVY member set — union alphabet {signup,
    * purchase} over a stream that is almost entirely clicks — must
    * still drain its reorder buffer as the clicks close the window:
    * the in-alphabet pair arrives in batch 1, only non-alphabet clicks
    * arrive afterwards, and the match must still come out (and equal
    * the batch operator). Under the pushed-down placement the clicks
    * never advance the watermark and this hangs with an empty buffer
    * release — the exact stall the fix removes.
    */
  test("drop-heavy member set: filter above watermark, buffer drains") {
    val sess = spark
    import sess.implicits._
    val evSchema = Vector("signup" -> Vector("event_id", "value"),
      "purchase" -> Vector("event_id", "value"),
      "click" -> Vector("event_id", "value"))
    val qs = Seq("sp" -> CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")), evSchema))
    val sp = SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))
    require(SparkCep.unionPrefilter(qs, sp).isDefined,
      "test premise: the union filter must engage")

    val dir = java.nio.file.Files
      .createTempDirectory("cep-drop-heavy").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def file(rows: (Long, Long, String, Long, java.sql.Timestamp)*): Unit =
      rows.toSeq.toDF("user_id", "event_id", "event_type", "value", "ts")
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: the only in-alphabet events; batches 2-3: clicks only
    file((1L, 1L, "signup", 0L, ts(10)), (1L, 2L, "purchase", 5L, ts(20)))
    file((2L, 3L, "click", 0L, ts(200)), (2L, 4L, "click", 0L, ts(210)))
    file((2L, 5L, "click", 0L, ts(500)))

    val schema = spark.read.parquet(dir).schema
    val streamDf = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = StreamingCep.matchPatternsSharedEventTime(streamDf, qs, sp,
      tsCol = "ts", delay = "100 seconds")

    // (plan) optimized logical plan: no event_type filter below the
    // watermark node; the union filter alive above it
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Filter}
    // run the optimizer (incl. the filter-pushdown rules) directly —
    // `optimizedPlan` on a streaming DF trips the batch-execution check
    val lp = spark.sessionState.optimizer.execute(
      out.queryExecution.analyzed)
    val wms = lp.collect { case w: EventTimeWatermark => w }
    assert(wms.nonEmpty, "no EventTimeWatermark node in the plan")
    val pushedBelow = wms.head.collect {
      case f: Filter if f.condition.references.exists(
        _.name == "event_type") => f
    }
    assert(pushedBelow.isEmpty,
      s"union filter pushed below the watermark node: $pushedBelow")
    val above = lp.collect {
      case f: Filter if f.condition.references.exists(
        _.name == "event_type") => f
    }
    assert(above.nonEmpty, "union filter vanished from the plan entirely")

    // (behavior) the clicks-only tail must close the window and release
    // the pair; output equals the batch shared operator on the same data
    val batch = SparkCep.matchPatternsShared(
      spark.read.parquet(dir), qs, sp).collect()
      .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
      .toVector.sorted
    assert(batch == Vector("sp|1|1;2"))
    val sq = out.writeStream.format("memory").queryName("drop_heavy")
      .outputMode("append").start()
    val streamed =
      try {
        sq.processAllAvailable()
        spark.sql("SELECT * FROM drop_heavy").collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}")
          .toVector.sorted
      } finally sq.stop()
    assert(streamed == batch,
      s"drop-heavy drain failed: stream $streamed vs batch $batch")
  }
}

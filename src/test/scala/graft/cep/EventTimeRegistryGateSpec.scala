package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The event-time half of the streaming correctness gate: EVERY registry
  * CEP pattern replayed through `StreamingCep.matchPatternEventTime` on
  * OUT-OF-ORDER input must equal the batch operator exactly.
  *
  * Construction: event time = `event_id` seconds (so event-time order IS
  * the batch semantic order), the stream is four event_id slices plus
  * bounded disorder — a deterministic ~20% of events are displaced one
  * slice later, i.e. arrive up to one slice-width late — and the
  * watermark delay exceeds the displacement, so the reorder buffer must
  * restore exact event-time order before feeding the NFA. Any divergence
  * (dropped-late event, buffer ordering bug, premature release) changes
  * the match multiset and fails the gate.
  *
  * Two `__flush` sentinel events with far-future timestamps drive the
  * final watermark past every real event (the second triggers the
  * timeout batch that drains buffers); their own timestamps stay at or
  * above the final watermark, so they are never released into the NFA —
  * strict-contiguity patterns never see a foreign event the batch input
  * does not have.
  */
class EventTimeRegistryGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var sliceDir: String = _
  private var sliceSchema: org.apache.spark.sql.types.StructType = _
  private val sfDir = "/root/testdata/sf0.001"
  private var delayStr: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // ts = event_id + 1 seconds: the +1 keeps the GLOBAL-MIN event off
    // epoch 0 — Spark's stateful late-row filter drops rows with event
    // time <= the watermark, and the initial watermark is 0, so an
    // epoch-0 event silently never reaches the operator. Harmless for
    // most patterns (caught nothing for rounds), but the `^` anchor
    // observes the TRUE first event and failed the gate on exactly
    // that dropped row.
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), (col("event_id") + 1).cast("timestamp").as("ts"))
    val mm = ev.selectExpr("min(event_id)", "max(event_id)").head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = (hi - lo) / 4 + 1
    val delaySec = width + 10
    delayStr = s"$delaySec seconds"
    sliceDir = java.nio.file.Files
      .createTempDirectory("cep-eventtime-gate").toString

    // slice by event_id quartile, then displace a deterministic ~20% of
    // events one slice later (bounded disorder within the watermark);
    // row order inside each file is hash-shuffled for good measure
    val sliced = ev
      .withColumn("slice",
        least(lit(3L), floor((col("event_id") - lo) / width) +
          when(pmod(xxhash64(col("event_id")), lit(5L)) === 0L, 1L)
            .otherwise(0L)))
    for (s <- 0L until 4L) {
      sliced.filter(col("slice") === s).drop("slice")
        .orderBy(xxhash64(col("event_id")))
        .coalesce(1).write.mode("append").parquet(sliceDir)
    }
    // flush sentinels: ts₁ = hi + 2·delay, ts₂ = hi + 3·delay. Final
    // watermark = ts₂ − delay = ts₁ ≥ every real ts + delay, so all real
    // events drain; neither sentinel's ts is strictly below it, so the
    // sentinels themselves never reach the NFA.
    val s = spark
    import s.implicits._
    val realSchema = ev.schema
    for (k <- 2L to 3L) {
      Seq((-1L, hi + k, "__flush", 0.0, hi + k * delaySec))
        .toDF("user_id", "event_id", "event_type", "value", "tsec")
        .select(col("user_id").cast(realSchema("user_id").dataType),
          col("event_id").cast(realSchema("event_id").dataType),
          col("event_type"),
          col("value").cast(realSchema("value").dataType),
          col("tsec").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(sliceDir)
    }
    sliceSchema = spark.read.parquet(sliceDir).schema
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  for (name <- graft.Queries.cepRegistryQueries.keys.toSeq.sorted)
    test(s"event-time stream == batch on registry query $name") {
      val query = graft.Queries.cepRegistryQueries(name)
      val batch = SparkCep.matchPatternExec(
        spark.read.parquet(s"$sfDir/events.parquet"), query,
        graft.Queries.eventSpec)
        .collect().map(_.toString).sorted.toVector

      val streamDf = spark.readStream.schema(sliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(sliceDir)
      val out = StreamingCep.matchPatternEventTime(streamDf, query,
        graft.Queries.eventSpec, tsCol = "ts", delay = delayStr)
      val qn = s"etgate_$name"
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val streamed =
        try {
          sq.processAllAvailable()
          spark.sql(s"SELECT * FROM $qn").collect()
            .map(_.toString).sorted.toVector
        } finally sq.stop()

      assert(batch.nonEmpty, s"$name produced no matches at sf0.001")
      assert(streamed == batch,
        s"$name diverged on out-of-order input: stream " +
          s"${streamed.length} rows vs batch ${batch.length}")
    }

  /** VERDICT r4 #3 done-criterion: a TIME-windowed (`withinTime`)
    * pattern where event-time streaming equals batch on the same
    * out-of-order input. Event time in this gate is `event_id` seconds,
    * so `tsAttr = event_id` measures true event time; the window must
    * reject the same matches on both paths, and the reorder buffer must
    * deliver ts-monotone feeds (the documented `withinTime` soundness
    * requirement) for the streamed run to agree.
    */
  test("event-time stream == batch on a TIME-windowed withinTime pattern") {
    val schema = Vector("click", "purchase", "error", "signup", "view")
      .map(t => t -> Vector("event_id", "value"))
    def q(wt: Option[WithinTime]) = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      schema, withinTime = wt)
    val windowed = q(Some(WithinTime("event_id", 30L)))
    def batchOf(query: CepQuery) = SparkCep.matchPatternExec(
      spark.read.parquet(s"$sfDir/events.parquet"), query,
      graft.Queries.eventSpec)
      .collect().map(_.toString).sorted.toVector
    val batch = batchOf(windowed)
    val unwindowed = batchOf(q(None))
    assert(batch.nonEmpty, "time window rejected everything — widen span")
    assert(batch.length < unwindowed.length,
      "time window rejected nothing — gate vacuous, narrow span")

    val streamDf = spark.readStream.schema(sliceSchema)
      .option("maxFilesPerTrigger", "1").parquet(sliceDir)
    val out = StreamingCep.matchPatternEventTime(streamDf, windowed,
      graft.Queries.eventSpec, tsCol = "ts", delay = delayStr)
    val sq = out.writeStream.format("memory").queryName("etgate_withintime")
      .outputMode("append").start()
    val streamed =
      try {
        sq.processAllAvailable()
        spark.sql("SELECT * FROM etgate_withintime").collect()
          .map(_.toString).sorted.toVector
      } finally sq.stop()
    assert(streamed == batch,
      s"withinTime diverged on out-of-order input: stream " +
        s"${streamed.length} rows vs batch ${batch.length}")
  }

  /** VERDICT r7 #7 done-criterion: `withinTime` driven by the REAL `ts`
    * column of the fixture (timestamp[us]/TIMESTAMP_NTZ since round 6 —
    * the column whose type drift broke the batch query for two rounds),
    * not a synthetic event_id-seconds frame. The registry's
    * `cep_within_time_signup_purchase` pattern (24h window over
    * `ts_sec`) runs batch vs event-time streaming on ts-sliced,
    * deterministically disordered input; the fixture's `ts` is globally
    * monotone in `event_id` and unique (checked in-test), so the
    * event-time reorder buffer must reproduce the batch feed order
    * exactly. Green at sf0.001 and sf0.01.
    */
  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"event-time stream == batch on withinTime over the REAL ts " +
      s"column ($sf)") {
      val dir = s"/root/testdata/$sf"
      val query = graft.Queries.cepWithinTimeSignupPurchaseQuery
      val spec = graft.Queries.eventSpecTs

      // raw ts is TIMESTAMP_NTZ; the watermark needs TIMESTAMP, so
      // rebuild it tz-free from epoch micros (`timestamp_micros`) —
      // ts_sec = floored epoch seconds, the window attribute, same
      // derivation as the batch registry query's (micros, floored)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val usExpr = "timestampdiff(MICROSECOND, " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
      val ev = raw
        .withColumn("ts_us", expr(usExpr))
        .withColumn("ts_sec",
          expr("(ts_us - pmod(ts_us, 1000000)) DIV 1000000"))
        .withColumn("ts", expr("timestamp_micros(ts_us)"))

      // precondition for batch==stream: event-time order IS the batch
      // (event_id) order — ts strictly increasing in event_id
      val disorder = ev
        .selectExpr("ts", "lag(ts) OVER (ORDER BY event_id) AS pts")
        .filter("pts IS NOT NULL AND ts <= pts").count()
      assert(disorder == 0L, s"fixture ts not monotone in event_id " +
        s"($disorder inversions) — this gate's premise broke")

      val batch = SparkCep.matchPatternExec(
        ev.drop("ts"), query, spec)
        .collect().map(_.toString).sorted.toVector
      assert(batch.nonEmpty, s"no withinTime matches at $sf")

      // slice by ts quartile with ~20% displaced one slice later, like
      // the main gate but in TIME units; watermark delay > slice width
      val mm = ev.selectExpr("min(ts_us)", "max(ts_us)").head()
      val (loUs, hiUs) = (mm.getLong(0), mm.getLong(1))
      val widthUs = (hiUs - loUs) / 4 + 1
      val delaySec = widthUs / 1000000L + 10
      val outDir = java.nio.file.Files
        .createTempDirectory(s"cep-realts-gate-$sf").toString
      val sliced = ev.withColumn("slice",
        least(lit(3L), floor((col("ts_us") - loUs) / widthUs) +
          when(pmod(xxhash64(col("event_id")), lit(5L)) === 0L, 1L)
            .otherwise(0L)))
      for (s <- 0L until 4L) {
        sliced.filter(col("slice") === s).drop("slice")
          .orderBy(xxhash64(col("event_id")))
          .coalesce(1).write.mode("append").parquet(outDir)
      }
      // flush sentinels at hi + k·delay (k = 2, 3): final watermark
      // passes every real event; sentinels never enter the NFA
      for (k <- 2L to 3L) {
        ev.limit(1).select(
          lit(-1L).cast(raw.schema("user_id").dataType).as("user_id"),
          lit(hiUs + k).as("event_id"),
          lit("__flush").as("event_type"),
          lit(0.0).cast(raw.schema("value").dataType).as("value"),
          lit(null).cast("string").as("props"),
          lit(hiUs + k * delaySec * 1000000L).as("ts_us"),
          expr(s"timestamp_micros(${hiUs + k * delaySec * 1000000L}L)")
            .as("ts"),
          lit(0L).as("ts_sec"))
          .select(spark.read.parquet(outDir).columns.map(col): _*)
          .coalesce(1).write.mode("append").parquet(outDir)
      }

      val schema = spark.read.parquet(outDir).schema
      val streamDf = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(outDir)
      val out = StreamingCep.matchPatternEventTime(streamDf, query, spec,
        tsCol = "ts", delay = s"$delaySec seconds")
      val qn = s"etgate_realts_${sf.replace(".", "_")}"
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val streamed =
        try {
          sq.processAllAvailable()
          spark.sql(s"SELECT * FROM $qn").collect()
            .map(_.toString).sorted.toVector
        } finally sq.stop()
      assert(streamed == batch,
        s"real-ts withinTime diverged at $sf: stream ${streamed.length} " +
          s"rows vs batch ${batch.length}")
    }
}

package graft.cep

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming row navigation (`PREV` in DEFINE conditions): the
  * arrival-order operators carry a per-key history of the last maxK
  * PHYSICAL rows in state (codec v5) and augment each event before the
  * feed, so streaming matches equal the batch lag/lead window path
  * row-for-row — including a PREV offset that reaches ACROSS a
  * micro-batch boundary and across a checkpointed restart. Also pins
  * the contract surface: the pre-NFA filter is disabled (PREV observes
  * rows the pushdown would drop), the navigation signature refuses a
  * sig-less checkpoint, and history survives run-free batches (the nav
  * exemption from idle-key GC).
  */
class StreamingCepNavSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema: Vector[(String, Vector[String])] = Vector(
    "click" -> Vector("event_id", "value"),
    "view" -> Vector("event_id", "value"))
  private val spec =
    SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

  /** (key, one Vector of bound order-ids per pattern name). */
  private type Matches = Set[(Long, Vector[Vector[Long]])]

  private def streamMatches(q: CepQuery, name: String,
      batches: Seq[Seq[Ev]]): Matches = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPattern(mem.toDF(), q, spec)
    val sq = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b =>
      mem.addData(b: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    s.sql(s"SELECT * FROM $name").collect()
      .map(r => (r.getLong(0),
        (1 until r.length).map(i => r.getSeq[Long](i).toVector).toVector))
      .toSet
  }

  private def batchMatches(q: CepQuery, evs: Seq[Ev]): Matches = {
    val s = spark
    import s.implicits._
    SparkCep.matchPatternExec(evs.toDF(), q, spec).collect()
      .map(r => (r.getLong(0),
        (1 until r.length).map(i => r.getSeq[Long](i).toVector).toVector))
      .toSet
  }

  test("streaming PREV == batch across micro-batch boundaries " +
    "(offset 2 spans the split)") {
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value, 2)", schema)
    // the boundary falls so that y@5's PREV(value, 2) reads value 3
    // (click@2) from batch-1 history
    val batch1 = Seq(
      Ev(1, 1, "click", 5), Ev(1, 2, "click", 3), Ev(1, 3, "click", 4),
      Ev(2, 4, "click", 9))
    val batch2 = Seq(
      Ev(1, 5, "click", 8),  // PREV2 = 3 (history) → rises
      Ev(1, 6, "click", 2),  // PREV2 = 4 → falls
      Ev(2, 7, "click", 1), Ev(2, 8, "click", 10)) // PREV2 = 9 → rises
    val streamed = streamMatches(q, "nav_stream_p2", Seq(batch1, batch2))
    val batch = batchMatches(q, batch1 ++ batch2)
    assert(streamed == batch)
    // hand-computed (strict x-y adjacency): y@5 (8 > PREV2=3, crossing
    // the boundary) and y@8 (10 > PREV2=9); y@3 fails (4 > 5 is false),
    // y@2/y@7 have no 2-back row, y@6 falls
    assert(streamed == Set(
      (1L, Vector(Vector(3L), Vector(5L))),
      (2L, Vector(Vector(7L), Vector(8L)))))
  }

  test("PREV history includes rows of OTHER types (physical navigation, " +
    "no pre-NFA filter) across the boundary") {
    // PREV is physical: the click's PREV is a VIEW's value. The pre-NFA
    // pushdown would drop views at the scan (no unit matches them) —
    // the nav path disables it so views still enter the history.
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value)", schema)
    val batch1 = Seq(Ev(1, 1, "view", 7))
    val batch2 = Seq(Ev(1, 2, "click", 6)) // PREV = view's 7 → false
    val batch3 = Seq(Ev(1, 3, "click", 9)) // PREV = click's 6 → rises
    val streamed =
      streamMatches(q, "nav_stream_view", Seq(batch1, batch2, batch3))
    val batch = batchMatches(q, batch1 ++ batch2 ++ batch3)
    assert(streamed == batch)
    assert(streamed == Set((1L, Vector(Vector(3L)))))
  }

  test("history survives run-free micro-batches (nav exempts idle-key GC)") {
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click WHERE value > PREV(value); " +
        "y AS click WHERE value > PREV(value)", schema)
    // batch 1 ends with NO live run (the first click's PREV-guard is
    // not-true, so x never binds); without the GC exemption the key's
    // state — including the history holding value=1 — would be removed
    // and batch 2's click@2 would see no PREV
    val batch1 = Seq(Ev(1, 1, "click", 1))
    val batch2 = Seq(Ev(1, 2, "click", 3), Ev(1, 3, "click", 7))
    val streamed = streamMatches(q, "nav_stream_gc", Seq(batch1, batch2))
    val batch = batchMatches(q, batch1 ++ batch2)
    assert(streamed == batch)
    assert(streamed == Set((1L, Vector(Vector(2L), Vector(3L)))))
  }

  test("streaming MEASURES over a navigation query == batch tier") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val stmt = CepSql.parseStatement(
      "PATTERN (a b{1,2}) MEASURES COUNT(b) AS n_b, SUM(b.value) AS " +
        "sum_b, LAST(b.value) AS last_b DEFINE a AS click; " +
        "b AS click WHERE value > PREV(value)", schema)
    val batch1 = Seq(Ev(1, 1, "click", 4), Ev(1, 2, "click", 6))
    val batch2 = Seq(Ev(1, 3, "click", 9), Ev(1, 4, "click", 2))
    val mem = MemoryStream[Ev]
    val out = StreamingCep.matchPatternMeasures(mem.toDF(), stmt, spec)
    val sq = out.writeStream.format("memory").queryName("nav_measures")
      .outputMode("append").start()
    try Seq(batch1, batch2).foreach { b =>
      mem.addData(b: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = s.sql("SELECT * FROM nav_measures").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchRows = CepMeasures.run(
      (batch1 ++ batch2).toDF(), stmt, spec).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batchRows)
    assert(streamed.nonEmpty) // the b-run crosses the boundary
  }

  test("PREV crosses a checkpointed restart (history in the state store)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-nav").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val jsonSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", LongType)))
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)

    def startQuery() = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir, jsonSchema)
      StreamingCep.matchPattern(in, q, spec)
        .selectExpr("user_id", "x[0] as x_id", "y[0] as y_id")
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    // pre-restart: click value 5 — no match possible yet, but the
    // history holding 5 must survive the stop
    Seq((1L, 1L, "click", 5L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // post-restart: 8 > PREV(=5, from the restored history) → (1,2) pair
    Seq((1L, 2L, "click", 8L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.schema(StructType(Seq(
      StructField("user_id", LongType), StructField("x_id", LongType),
      StructField("y_id", LongType)))).json(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 2L)))
  }

  test("nav query refuses a checkpoint written WITHOUT navigation " +
    "history (signature contract)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-nav-sig").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val jsonSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", LongType)))
    // same PATTERN shape so run state restores structurally; the
    // original query has no navigation
    val qPlain = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click WHERE value > 0",
      schema)
    val qNav = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)

    def startQuery(q: CepQuery) = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir, jsonSchema)
      StreamingCep.matchPattern(in, q, spec)
        .selectExpr("user_id", "x[0] as x_id", "y[0] as y_id")
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    // leave a live partial run (click binds x, y pending) so the key's
    // state persists — withinTime/nav exemptions aside, a live run is
    // what keeps the entry
    Seq((1L, 1L, "click", 5L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q1 = startQuery(qPlain)
    try q1.processAllAvailable() finally q1.stop()

    Seq((1L, 2L, "click", 8L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q2 = startQuery(qNav)
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("navigation history")),
      s"expected the navigation-signature refusal, got: $e")
  }

  test("event-time PREV navigates EVENT-TIME order: out-of-order " +
    "arrivals and history across separate watermark releases") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value)", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternEventTime(
      mem.toDF(), q, spec, "ts", "5 seconds")
    val sq = out.writeStream.format("memory").queryName("nav_et")
      .outputMode("append").start()
    try {
      // click@11 (v=8) ARRIVES before click@10 (v=5); in event-time
      // order PREV at event 2 is 5 → 8 > 5 matches. Arrival-order
      // history would navigate the reverse and miss it.
      mem.addData(TsEv(1, 2, "click", 8, t(11)))
      sq.processAllAvailable()
      mem.addData(TsEv(1, 1, "click", 5, t(10)))
      sq.processAllAvailable()
      // advance the watermark past both → released in (ts, ord) order
      mem.addData(TsEv(9, 99, "click", 0, t(30)))
      sq.processAllAvailable()
      // a later event in its own release: its PREV (v=8 at ts 11) comes
      // from the HISTORY persisted across the previous release
      mem.addData(TsEv(1, 3, "click", 9, t(31)))
      sq.processAllAvailable()
      mem.addData(TsEv(9, 100, "click", 0, t(50)))
      sq.processAllAvailable()
    } finally sq.stop()
    val matches = s.sql("SELECT * FROM nav_et").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(matches == Set((1L, Vector(2L)), (1L, Vector(3L))),
      s"got $matches")
  }

  test("event-time NEXT (round 17): hold-back feeds an event only when " +
    "its followers are final; matches equal the event-time model") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // NEXT is PHYSICAL: x's follower may be a view
    val q = CepSql.parse(
      "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value)", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternEventTime(
      mem.toDF(), q, spec, "ts", "5 seconds")
    val sq = out.writeStream.format("memory").queryName("nav_et_next")
      .outputMode("append").start()
    try {
      // out-of-order: the view@12 (v=9) arrives BEFORE click@11 (v=5);
      // in event-time order click@11's NEXT value is 9 → match
      mem.addData(TsEv(1, 2, "view", 9, t(12)))
      sq.processAllAvailable()
      mem.addData(TsEv(1, 1, "click", 5, t(11)))
      sq.processAllAvailable()
      // watermark to 25: both release, click@11 feeds (its follower is
      // in the same release slice), the view is HELD BACK (no follower)
      mem.addData(TsEv(9, 99, "click", 0, t(30)))
      sq.processAllAvailable()
      // click@26 (v=2): successor arrives in a LATER batch
      mem.addData(TsEv(1, 3, "click", 2, t(26)))
      sq.processAllAvailable()
      mem.addData(TsEv(1, 4, "click", 7, t(27)))
      sq.processAllAvailable()
      // watermark past both: click@26 feeds with NEXT = 7 → match;
      // click@27 stays held (its own follower is unknown — an
      // unbounded stream cannot close the partition)
      mem.addData(TsEv(9, 100, "click", 0, t(50)))
      sq.processAllAvailable()
    } finally sq.stop()
    val matches = s.sql("SELECT * FROM nav_et_next").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(matches == Set((1L, Vector(1L)), (1L, Vector(3L))),
      s"got $matches")
  }

  test("event-time NEXT == batch on identical inputs (trailing " +
    "ignorable views make every click's follower final)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > NEXT(value)", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val rnd = new scala.util.Random(20260826L)
    // ts == event_id seconds → event-time order == batch ORDER BY; two
    // trailing views per key give every click a final follower, so the
    // stream resolves exactly what batch sees
    val evs = ((1 to 60).map { i =>
      TsEv(1L + (i % 2), i.toLong,
        if (rnd.nextInt(3) == 0) "view" else "click",
        rnd.nextInt(9).toLong, t(i.toLong))
    } ++ Seq(TsEv(1, 61, "view", 0, t(61)), TsEv(2, 62, "view", 0, t(62)),
      TsEv(1, 63, "view", 0, t(63)), TsEv(2, 64, "view", 0, t(64)))).toVector
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternEventTime(
      mem.toDF(), q, spec, "ts", "5 seconds")
    val sq = out.writeStream.format("memory").queryName("nav_et_next_b")
      .outputMode("append").start()
    try {
      evs.grouped(20).foreach { b =>
        mem.addData(b: _*)
        sq.processAllAvailable()
      }
      // drain: push the watermark far past the tail
      mem.addData(TsEv(9, 999, "view", 0, t(1000)))
      sq.processAllAvailable()
      mem.addData(TsEv(9, 1000, "view", 0, t(2000)))
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = s.sql("SELECT * FROM nav_et_next_b")
      .where($"user_id" =!= 9L).collect()
      .map(r => (r.getLong(0),
        (1 until r.length).map(i => r.getSeq[Long](i).toVector).toVector))
      .toSet
    val batch = batchMatches(q,
      evs.map(e => Ev(e.user_id, e.event_id, e.event_type, e.value)))
    assert(streamed == batch, s"streamed ${streamed.size} vs batch " +
      s"${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("timedOutPartials over a navigation query == batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // x binds on a PREV-rise, then needs a purchase WITHIN 2 events —
    // values 1,5,4,3: only click@2 rises, and no purchase ever comes,
    // so its window provably closes mid-stream → one timed-out partial
    val q = CepSql.parse(
      "PATTERN (x -> y) DEFINE x AS click WHERE value > PREV(value); " +
        "y AS purchase WITHIN 3", schema)
    val batch1 = Seq(Ev(1, 1, "click", 1), Ev(1, 2, "click", 5))
    val batch2 = Seq(Ev(1, 3, "click", 4), Ev(1, 4, "click", 3),
      Ev(1, 5, "click", 2))
    val mem = MemoryStream[Ev]
    val out = StreamingCep.timedOutPartials(mem.toDF(), q, spec)
    val sq = out.writeStream.format("memory").queryName("nav_timeout")
      .outputMode("append").start()
    try Seq(batch1, batch2).foreach { b =>
      mem.addData(b: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = s.sql("SELECT * FROM nav_timeout").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    val batch = SparkCep.timedOutPartials(
      (batch1 ++ batch2).toDF(), q, spec).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, Vector(2L), Vector())),
      s"expected the x@2 partial to time out, got $streamed")
  }

  test("seeded differential: random events, random micro-batch splits, " +
    "random PREV offsets — streaming == batch on every trial") {
    val rnd = new scala.util.Random(20260815L)
    val queries = Vector(
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value)",
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value, 2)",
      "PATTERN (p) DEFINE p AS click WHERE value >= PREV(value, 3) " +
        "and value > 2",
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)",
      "PATTERN (x y) DEFINE x AS click WHERE value > PREV(value, 2); " +
        "y AS click WHERE value > PREV(value) or value == 0")
    for (trial <- 0 until 10) {
      val q = CepSql.parse(queries(trial % queries.length), schema)
      val nEv = 30 + rnd.nextInt(31)
      val evs = (1 to nEv).map { i =>
        Ev(1 + rnd.nextInt(3), i.toLong,
          if (rnd.nextInt(4) == 0) "view" else "click",
          rnd.nextInt(10).toLong)
      }
      // 2-4 random, possibly empty micro-batches
      val cuts = Vector.fill(1 + rnd.nextInt(3))(rnd.nextInt(nEv + 1))
        .sorted.distinct
      val bounds = (0 +: cuts :+ nEv).distinct.sorted
      val batches = bounds.zip(bounds.tail).map { case (a, b) =>
        evs.slice(a, b)
      }
      val streamed = streamMatches(q, s"nav_diff_$trial", batches)
      val batch = batchMatches(q, evs)
      assert(streamed == batch,
        s"trial $trial (${queries(trial % queries.length)}) diverged: " +
          s"stream ${streamed.size} vs batch ${batch.size}")
    }
  }

  test("shared operator: PREV crosses a checkpointed restart (trailing " +
    "nav payload in SharedMultiState) and a non-nav shared checkpoint " +
    "is refused") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-nav-shared").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val jsonSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", LongType)))
    // relaxed x -> y so the plain member's views can interleave; PREV
    // is PHYSICAL, so click@3's PREV is view@2's value
    val qNav = CepSql.parse(
      "PATTERN (x -> y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)
    val qPlain = CepSql.parse(
      "PATTERN (a -> b) DEFINE a AS view; b AS view", schema)

    def startQuery(members: Seq[(String, CepQuery)]) = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir, jsonSchema)
      StreamingCep.matchPatternsShared(in, members, spec)
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    // pre-restart: click v=5 for the nav member's history, a view to
    // leave the plain member a live partial (so its state persists too)
    Seq((1L, 1L, "click", 5L), (1L, 2L, "view", 0L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val members = Seq("nav" -> qNav, "plain" -> qPlain)
    val q1 = startQuery(members)
    try q1.processAllAvailable() finally q1.stop()

    // post-restart: click@3's PREV is view@2's value 0 — it must come
    // from the RESTORED shared history (lost history → indicator 0 →
    // no nav match) → nav pair (1,3); the second view completes the
    // plain pair (2,4)
    Seq((1L, 3L, "click", 8L), (1L, 4L, "view", 0L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q2 = startQuery(members)
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.schema(StructType(Seq(
      StructField("qname", StringType), StructField("user_id", LongType),
      StructField("binding", StringType)))).json(outDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(out == Set(("nav", 1L, "1;3"), ("plain", 1L, "2;4")),
      s"got $out")

    // a nav member set refuses a checkpoint written WITHOUT navigation:
    // same member names, the nav member previously defined without PREV
    val dir2 = Files.createTempDirectory("ckpt-nav-shared-sig").toString
    val inDir2 = s"$dir2/in"
    def start2(members: Seq[(String, CepQuery)]) = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir2,
        jsonSchema)
      StreamingCep.matchPatternsShared(in, members, spec)
        .writeStream.format("json")
        .option("path", s"$dir2/out")
        .option("checkpointLocation", s"$dir2/checkpoint")
        .outputMode("append").start()
    }
    val qNoNav = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click WHERE value > 0",
      schema)
    Seq((1L, 1L, "click", 5L), (1L, 2L, "view", 0L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir2)
    val p1 = start2(Seq("nav" -> qNoNav, "plain" -> qPlain))
    try p1.processAllAvailable() finally p1.stop()
    Seq((1L, 3L, "click", 8L))
      .toDF("user_id", "event_id", "event_type", "value")
      .write.mode("append").json(inDir2)
    val p2 = start2(Seq("nav" -> qNav, "plain" -> qPlain))
    val e = intercept[Exception] {
      try p2.processAllAvailable() finally p2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("navigation history")),
      s"expected the navigation-signature refusal, got: $e")
  }

  test("codec v5 round-trips the navigation section; v4 payloads " +
    "migrate with an empty one") {
    import StreamingCep.{CepStateEt, SerEvent}
    val hist = Vector(
      SerEvent("", Seq("value"), Seq(7L)),
      SerEvent("", Seq("value", "event_id"), Seq(9L, 4L)))
    val st = CepStateEt(3, Nil, Nil, 42L, CepStateCodec.VariantArrival,
      Seq("__nav_p1_value", "__nav_p2_value"), hist)
    val rt = CepStateCodec.decode(CepStateCodec.encode(st))
    assert(rt.navSig == st.navSig)
    assert(rt.navHist == st.navHist)
    assert(rt.step == 3 && rt.clock == 42L &&
      rt.variant == CepStateCodec.VariantArrival)
    // a v4 payload is the v5 bytes minus the nav section — decoding it
    // as v4 must yield empty sig/history, not a read past the end
    val v5 = CepStateCodec.encode(st.copy(navSig = Nil, navHist = Nil))
    val v4 = CepStateCodec.VersionedState(4,
      v5.payload.dropRight(8)) // the two empty-count ints
    val mig = CepStateCodec.decode(v4)
    assert(mig.navSig.isEmpty && mig.navHist.isEmpty && mig.step == 3)
  }

  test("shared event-time NEXT (round 18): the hold-back on the SHARED " +
    "reorder buffer makes batch == stream on out-of-order input; the " +
    "arrival-order shared operator still rejects NEXT, naming the " +
    "event-time shared forms") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val qNext = CepSql.parse(
      "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value)", schema)
    val qPlain = CepSql.parse(
      "PATTERN (a -> b) DEFINE a AS view; b AS view", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val rnd = new scala.util.Random(20260827L)
    // ts == event_id seconds, trailing views finalize every follower
    val evs = ((1 to 50).map { i =>
      TsEv(1L + (i % 2), i.toLong,
        if (rnd.nextInt(3) == 0) "view" else "click",
        rnd.nextInt(9).toLong, t(i.toLong))
    } ++ Seq(TsEv(1, 61, "view", 0, t(61)),
      TsEv(2, 62, "view", 0, t(62)),
      TsEv(1, 63, "view", 0, t(63)),
      TsEv(2, 64, "view", 0, t(64)))).toVector
    // out-of-order ARRIVAL inside 10-event windows (< the 10 s delay)
    val arrived = evs.grouped(10).flatMap(g => rnd.shuffle(g)).toVector
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternsSharedEventTime(
      mem.toDF(), Seq("nxt" -> qNext, "plain" -> qPlain), spec,
      "ts", "10 seconds")
    val sq = out.writeStream.format("memory").queryName("shared_et_next")
      .outputMode("append").start()
    try {
      arrived.grouped(13).foreach { b =>
        mem.addData(b: _*); sq.processAllAvailable()
      }
      mem.addData(TsEv(9, 999, "view", 0, t(1000)))
      sq.processAllAvailable()
      mem.addData(TsEv(9, 1000, "view", 0, t(2000)))
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = s.sql("SELECT * FROM shared_et_next")
      .where($"user_id" =!= 9L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // batch model per member over the event-time order
    val plainEvs = evs.filter(_.user_id != 9)
      .map(e => Ev(e.user_id, e.event_id, e.event_type, e.value))
    val expect: Set[(String, Long, String)] =
      Seq("nxt" -> qNext, "plain" -> qPlain).flatMap { case (nm, q) =>
        batchMatches(q, plainEvs).map { case (k, binding) =>
          (nm, k, binding.map(_.mkString(",")).mkString(";"))
        }
      }.toSet
    assert(streamed == expect,
      s"streamed ${streamed.size} vs batch ${expect.size}")
    assert(streamed.exists(_._1 == "nxt"))

    // arrival-order shared operators: NEXT still rejected, and the
    // message routes the user to the event-time shared forms
    val e1 = intercept[IllegalArgumentException] {
      StreamingCep.matchPatternsShared(mem.toDF(),
        Seq("nxt" -> qNext, "plain" -> qPlain), spec)
    }
    assert(e1.getMessage.contains("ARRIVAL-ORDER"), e1.getMessage)
    assert(e1.getMessage.contains("matchPatternsSharedEventTime"),
      e1.getMessage)
  }

  test("shared event-time NEXT, MIXED offsets (k=1, k=2, plain member) " +
    "across random micro-batch splits: per-member hold-back == batch " +
    "(r18 seeded fuzz — the k=1 member rides the k=2 hold, the plain " +
    "member feeds everything)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val qK1 = CepSql.parse(
      "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value)", schema)
    val qK2 = CepSql.parse(
      "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value, 2)", schema)
    val qPlain = CepSql.parse(
      "PATTERN (a -> b) DEFINE a AS view; b AS view", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(20260817L + trial)
      // trailing views give every click k=2 followers per key; the
      // last two events of each key stay HELD for the NEXT members —
      // the plain member must still consume them (view pairs)
      val evs = ((1 to 40).map { i =>
        TsEv(1L + (i % 2), i.toLong,
          if (rnd.nextInt(3) == 0) "view" else "click",
          rnd.nextInt(9).toLong, t(i.toLong))
      } ++ (61 to 66).map(i =>
        TsEv(1L + (i % 2), i.toLong, "view", 0, t(i.toLong)))).toVector
      // out-of-order arrival within 8-event windows (< the 10 s delay)
      val arrived = evs.grouped(8).flatMap(g => rnd.shuffle(g)).toVector
      val mem = MemoryStream[TsEv]
      val out = StreamingCep.matchPatternsSharedEventTime(mem.toDF(),
        Seq("k1" -> qK1, "k2" -> qK2, "plain" -> qPlain), spec,
        "ts", "10 seconds")
      val name = s"shared_et_mixk_$trial"
      val sq = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        arrived.grouped(5 + rnd.nextInt(9)).foreach { b =>
          mem.addData(b: _*); sq.processAllAvailable()
        }
        mem.addData(TsEv(9, 999, "view", 0, t(1000)))
        sq.processAllAvailable()
        mem.addData(TsEv(9, 1000, "view", 0, t(2000)))
        sq.processAllAvailable()
      } finally sq.stop()
      val streamed = s.sql(s"SELECT * FROM $name")
        .where($"user_id" =!= 9L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val plainEvs = evs.filter(_.user_id != 9)
        .map(e => Ev(e.user_id, e.event_id, e.event_type, e.value))
      val expect: Set[(String, Long, String)] =
        Seq("k1" -> qK1, "k2" -> qK2, "plain" -> qPlain)
          .flatMap { case (nm, q) =>
            batchMatches(q, plainEvs).map { case (k, binding) =>
              (nm, k, binding.map(_.mkString(",")).mkString(";"))
            }
          }.toSet
      assert(streamed == expect,
        s"trial $trial: streamed ${streamed.size} vs batch ${expect.size}")
      assert(streamed.exists(_._1 == "k2"), s"trial $trial: no k2 matches")
      assert(streamed.exists(_._1 == "plain"),
        s"trial $trial: no plain matches")
    }
  }

  test("shared event-time NEXT: a held-back event crosses a " +
    "checkpointed restart (it rides the shared buffer payload) and " +
    "feeds when its follower finally releases") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-shared-et-next").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val jsonSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", LongType),
      StructField("ts_sec", LongType)))
    val qNext = CepSql.parse(
      "PATTERN (x) DEFINE x AS click WHERE value < NEXT(value)", schema)
    val qPlain = CepSql.parse(
      "PATTERN (a -> b) DEFINE a AS view; b AS view", schema)
    def startQuery() = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir,
        jsonSchema).withColumn("ts",
          org.apache.spark.sql.functions.col("ts_sec").cast("timestamp"))
      StreamingCep.matchPatternsSharedEventTime(in,
        Seq("nxt" -> qNext, "plain" -> qPlain), spec, "ts", "10 seconds")
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // batch 1: click@10 (v=5) and click@11 (v=9) release when the
    // key-9 driver pushes the watermark to 30; click@10 feeds with
    // NEXT = 9 (match), click@11 is HELD BACK (follower unknown)
    Seq((1L, 10L, "click", 5L, 10L), (1L, 11L, "click", 9L, 11L),
      (9L, 99L, "view", 0L, 40L))
      .toDF("user_id", "event_id", "event_type", "value", "ts_sec")
      .write.mode("append").json(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // restart: the held-back click@11 must come back from the RESTORED
    // shared buffer; its follower click@35 (v=99) releases under the
    // next watermark push → click@11 feeds with NEXT = 99 (match)
    Seq((1L, 35L, "click", 99L, 35L), (9L, 100L, "view", 0L, 60L))
      .toDF("user_id", "event_id", "event_type", "value", "ts_sec")
      .write.mode("append").json(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.schema(StructType(Seq(
      StructField("qname", StringType), StructField("user_id", LongType),
      StructField("binding", StringType)))).json(outDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(out == Set(("nxt", 1L, "10"), ("nxt", 1L, "11")), s"got $out")
  }

  test("shared event-time MEASURES accept NEXT members (round 18)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val stNext = CepSql.parseStatement(
      "PATTERN (x) MEASURES FIRST(x) AS x_id, LAST(x.value) AS x_v " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE x AS click WHERE value < NEXT(value)", schema)
    val stPlain = CepSql.parseStatement(
      "PATTERN (a -> b) MEASURES FIRST(a) AS a_id, LAST(b) AS b_id " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE a AS view; b AS view", schema)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[TsEv]
    val out = StreamingCep.matchPatternsSharedMeasuresEventTime(
      mem.toDF(), Seq("nxt" -> stNext, "plain" -> stPlain), spec,
      "ts", "5 seconds")
    val sq = out.writeStream.format("memory")
      .queryName("shared_et_next_m").outputMode("append").start()
    try {
      // rising click pair + a view pair, out of order
      mem.addData(TsEv(1, 2, "click", 8, t(12)), TsEv(1, 1, "click", 3, t(11)),
        TsEv(1, 3, "view", 0, t(13)), TsEv(1, 4, "view", 0, t(14)))
      sq.processAllAvailable()
      mem.addData(TsEv(9, 99, "view", 0, t(50)))
      sq.processAllAvailable()
      mem.addData(TsEv(9, 100, "view", 0, t(100)))
      sq.processAllAvailable()
    } finally sq.stop()
    val rows = s.sql("SELECT qname, user_id, measures FROM shared_et_next_m")
      .where($"user_id" =!= 9L).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getMap[String, Long](2).toMap)).toSet
    // click@1 (3 < 8) and click@2 (8 < 0? no — NEXT is view v=0) →
    // only click@1 matches the nxt member; the view pair matches plain
    assert(rows == Set(
      ("nxt", 1L, Map("x_id" -> 1L, "x_v" -> 3L)),
      ("plain", 1L, Map("a_id" -> 3L, "b_id" -> 4L))), s"got $rows")
  }

  test("PREV and NEXT over a STRING column: streaming == batch (arrival " +
    "order across a micro-batch boundary, and event-time NEXT)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val strSchema = Vector("signup", "click", "view").map(t =>
      t -> Vector("event_id", "value", "host"))
    val strSpec = spec.copy(attrCols = Seq("value", "host"))
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    def ev(k: Long, id: Long, tpe: String, host: String) =
      TsEvS(k, id, tpe, 0L, host, t(id))
    def rows(df: org.apache.spark.sql.DataFrame): Matches =
      df.collect().map(r => (r.getLong(0),
        (1 until r.length).map(i => r.getSeq[Long](i).toVector).toVector))
        .toSet
    def batch(q: CepQuery, evs: Seq[TsEvS]): Matches =
      rows(SparkCep.matchPatternExec(evs.toDF().drop("ts"), q, strSpec))

    // arrival order: click@4's PREV is the view's 'a.com'; click@7's
    // PREV is click@6, read from the history of the first micro-batch
    val prev = CepSql.parse("PATTERN (s -> c) DEFINE s AS signup; " +
      "c AS click WHERE PREV(host) == 'a.com'", strSchema)
    val batch1 = Seq(ev(1, 1, "signup", "b.com"), ev(1, 2, "view", "a.com"),
      ev(1, 4, "click", "b.com"), ev(2, 5, "signup", "b.com"),
      ev(2, 6, "click", "a.com"))
    val batch2 = Seq(ev(2, 7, "click", "c.com"))
    val mem = MemoryStream[TsEvS]
    val sq = StreamingCep.matchPattern(mem.toDF().drop("ts"), prev, strSpec)
      .writeStream.format("memory").queryName("nav_str_prev")
      .outputMode("append").start()
    try Seq(batch1, batch2).foreach { b =>
      mem.addData(b: _*)
      sq.processAllAvailable()
    } finally sq.stop()
    val streamed = rows(s.sql("SELECT * FROM nav_str_prev"))
    assert(streamed == batch(prev, batch1 ++ batch2))
    assert(streamed == Set((1L, Vector(Vector(1L), Vector(4L))),
      (2L, Vector(Vector(5L), Vector(7L)))), s"got $streamed")

    // event-time NEXT: a click followed by an 'a.com' row; trailing
    // views make every click's follower final
    val next = CepSql.parse("PATTERN (x y) DEFINE x AS click; " +
      "y AS click WHERE NEXT(host) == 'a.com'", strSchema)
    val hosts = Vector("a.com", "b.com")
    val rnd = new scala.util.Random(20261019L)
    val evs = (1 to 40).map(i => ev(1L + (i % 2), i.toLong,
      if (rnd.nextInt(3) == 0) "view" else "click",
      hosts(rnd.nextInt(2)))) ++
      (41 to 44).map(i => ev(1L + (i % 2), i.toLong, "view", "b.com"))
    val mem2 = MemoryStream[TsEvS]
    val sq2 = StreamingCep.matchPatternEventTime(mem2.toDF(), next, strSpec,
      "ts", "5 seconds").writeStream.format("memory")
      .queryName("nav_str_next").outputMode("append").start()
    try {
      evs.grouped(15).foreach { b =>
        mem2.addData(b: _*)
        sq2.processAllAvailable()
      }
      // drain: push the watermark far past the tail
      mem2.addData(TsEvS(9, 999, "view", 0, "b.com", t(1000)))
      sq2.processAllAvailable()
      mem2.addData(TsEvS(9, 1000, "view", 0, "b.com", t(2000)))
      sq2.processAllAvailable()
    } finally sq2.stop()
    val streamedNext = rows(s.sql("SELECT * FROM nav_str_next")
      .where($"user_id" =!= 9L))
    assert(streamedNext == batch(next, evs))
    assert(streamedNext.nonEmpty)
  }
}

case class TsEvS(user_id: Long, event_id: Long, event_type: String,
    value: Long, host: String, ts: java.sql.Timestamp)

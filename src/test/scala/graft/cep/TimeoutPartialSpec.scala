package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** The timeout side output (`Executor.drainTimedOut` /
  * `SparkCep.timedOutPartials` — FlinkCEP's
  * `TimedOutPartialMatchHandler` analogue).
  *
  * Pinned semantics: a partial run-configuration is reported exactly
  * when the window sweep prunes it in a NON-accepting state —
  * completing on the window's last admissible event is a match, not a
  * timeout; surviving to end-of-input unreported (the window never
  * provably closed); untaken runs never time out. One row per pruned
  * configuration (a forked run can contribute several partials, each
  * with its own bindings).
  */
class TimeoutPartialSpec extends AnyFunSuite {

  private val schema: Vector[(String, Vector[String])] =
    Vector("A" -> Vector("id", "v"), "B" -> Vector("id", "v"),
      "C" -> Vector("id", "v"), "D" -> Vector("id", "v"))

  private def stream(types: String*): Vector[Event] =
    types.toVector.zipWithIndex.map { case (t, k) =>
      Event(t, Vector("id" -> (k + 1).toLong, "v" -> 0L))
    }

  /** Run with the timeout drain: returns (matches, timeout partials as
    * name-ordered id vectors).
    */
  private def runWithTimeouts(q: CepQuery, events: Vector[Event])
      : (Vector[Match], Vector[Vector[Vector[Long]]]) = {
    val ex = new Executor(DstCompiler.compile(q), q.strategy,
      within = q.within, withinTime = q.withinTime,
      captureTimeouts = true)
    val names = SparkCep.patternNames(q.patseq)
    val ms = Vector.newBuilder[Match]
    val ts = Vector.newBuilder[Vector[Vector[Long]]]
    events.foreach { ev =>
      ms ++= ex.feed(ev)
      ts ++= ex.drainTimedOut().map(c =>
        ex.partialOutput(c, names).map(_._2.map(_("id"))))
    }
    (ms.result(), ts.result())
  }

  private val xThenY = CepQuery(
    Pattern.Combine(Contiguity.Relaxed,
      Pattern.spat("x", "A", "True"), Pattern.spat("y", "C", "True")),
    schema, within = Some(3))

  test("capture is opt-in: a default executor never buffers swept " +
    "partials (non-draining operators must not retain dead runs)") {
    // same stream as the timeout test below — with the default flag the
    // sweep prunes without capturing, so the buffer stays empty even
    // though matches/pruning behave identically
    val ex = new Executor(DstCompiler.compile(xThenY), xThenY.strategy,
      within = xThenY.within)
    val ms = Vector.newBuilder[Match]
    stream("A", "D", "D", "A", "D").foreach(ev => ms ++= ex.feed(ev))
    assert(ms.result().isEmpty)
    assert(ex.drainTimedOut().isEmpty)
  }

  test("a run completing on the window's last admissible event is a " +
    "match, never a timeout") {
    // A at 1, C at 3: span 3 - 1 = 2 < 3 — match; no timeout
    val (ms, ts) = runWithTimeouts(xThenY, stream("A", "D", "C", "D"))
    assert(ms.map(_.toMap.apply("x").map(_("id"))) == Vector(Vector(1L)))
    assert(ts.isEmpty)
  }

  test("a run whose window closes without completing times out with its " +
    "partial bindings; end-of-input leaves late runs unreported") {
    // A at 1: window closes at step 3 (i - firstTake >= 2) with no C ->
    // timeout carrying x=[1], y=[]; A at 4: stream ends at 5 before its
    // window closes -> unreported
    val (ms, ts) = runWithTimeouts(xThenY, stream("A", "D", "D", "A", "D"))
    assert(ms.isEmpty)
    assert(ts == Vector(Vector(Vector(1L), Vector())))
  }

  test("a forked loop run reports one partial per pruned configuration") {
    // a:A{1,2} strict iterations, then y:C, window 4. A at 1, A at 2, no
    // C: at window close both live forks of the run started at 1 are
    // pruned — [a=[1]] (proceeded to the y-wait after one take) and
    // [a=[1,2]] — and the run started at 2 prunes as [a=[2]] one step
    // later
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 2),
        Pattern.spat("y", "C", "True")),
      schema, within = Some(4))
    val (ms, ts) = runWithTimeouts(q, stream("A", "A", "D", "D", "D", "D"))
    assert(ms.isEmpty)
    assert(ts.toSet == Set(
      Vector(Vector(1L), Vector()),
      Vector(Vector(1L, 2L), Vector()),
      Vector(Vector(2L), Vector())))
    assert(ts.size == 3)
  }

  test("event-time windows time out on the clock, not the step count") {
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "A", "True"), Pattern.spat("y", "C", "True")),
      schema, withinTime = Some(WithinTime("ts", 10L)))
    def ev(t: String, id: Long, ts: Long) =
      Event(t, Vector("id" -> id, "ts" -> ts))
    val events = Vector(ev("A", 1, 100), ev("D", 2, 105),
      ev("D", 3, 112), ev("C", 4, 115))
    val ex = new Executor(DstCompiler.compile(q), q.strategy,
      withinTime = q.withinTime, captureTimeouts = true)
    val names = SparkCep.patternNames(q.patseq)
    val out = Vector.newBuilder[(Vector[Match], Vector[Match])]
    events.foreach { e =>
      val ms = ex.feed(e)
      out += ((ms, ex.drainTimedOut().map(c => ex.partialOutput(c, names))))
    }
    val steps = out.result()
    // the A@ts=100 run expires when ts=112 arrives (span >= 10); the
    // later C never matches it
    assert(steps(2)._2.map(_.toMap.apply("x").map(_("id"))) ==
      Vector(Vector(1L)))
    assert(steps.flatMap(_._1).isEmpty)
  }

  test("differential: timeouts == brute-force window bookkeeping over " +
    "seeded random streams (x -> y relaxed)") {
    val rnd = new scala.util.Random(20260817L)
    val types = Vector("A", "B", "C", "D")
    val conds = Vector("True", "v > 2", "v < 8")
    var cases = 0
    for (trial <- 0 until 400) {
      val w = 2 + rnd.nextInt(5)
      val cx = conds(rnd.nextInt(conds.length))
      val cy = conds(rnd.nextInt(conds.length))
      val q = CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("x", "A", cx), Pattern.spat("y", "C", cy)),
        schema, within = Some(w))
      val n = 6 + rnd.nextInt(20)
      val events = Vector.tabulate(n)(k =>
        Event(types(rnd.nextInt(types.length)),
          Vector("id" -> (k + 1).toLong, "v" -> rnd.nextInt(10).toLong)))
      // brute: per A-fire at position s (1-based), the run takes the
      // FIRST cy-satisfying C after s (relaxed — it cannot be ignored);
      // match iff that take is at t <= s + w - 1; else timeout iff the
      // stream reaches the close step s + w - 1
      def fires(e: Event, c: String) = CompiledExpr.evalBool(
        CompiledExpr.compile(Expr.parse(c), null), e, Map.empty)
      val expected = Vector.newBuilder[Long]
      for (s <- 1 to n if events(s - 1).tpe == "A" &&
          fires(events(s - 1), cx)) {
        val firstC = ((s + 1) to n).find(t =>
          events(t - 1).tpe == "C" && fires(events(t - 1), cy))
        val matched = firstC.exists(_ <= s + w - 1)
        if (!matched && n >= s + w - 1) expected += s.toLong
      }
      val (_, ts) = runWithTimeouts(q, events)
      val got = ts.map(_.head.head) // x binding's single id
      assert(got.sorted == expected.result().sorted,
        s"trial $trial w=$w cx=$cx cy=$cy events=" +
          events.map(e => s"${e.tpe}${e("id")}(v=${e("v")})").mkString(",") +
          s"\n got=$got")
      cases += 1
    }
    info(s"$cases timeout differential cases")
  }

  test("skip strategies compose: a run killed by an after-match skip " +
    "never reports a timeout") {
    // two A-runs pending when the first match fires; SkipToNext kills
    // only the matched run's start cohort, SkipPastLastEvent kills all —
    // the killed runs must not later surface as timeouts (they were
    // skipped, not timed out)
    def q(strat: AfterMatchStrategy) = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "A", "True"), Pattern.spat("y", "C", "True")),
      schema, strat, within = Some(4))
    // A@1, A@2, C@3 (matches both under NoSkip), then noise to close
    // any surviving window
    val evs = stream("A", "A", "C", "D", "D", "D", "D")
    val (msNo, tsNo) = {
      val (m, t) = runVT(q(AfterMatchStrategy.NoSkip), evs); (m.size, t.size)
    }
    assert(msNo == 2 && tsNo == 0) // both match within the window
    val (msPast, tsPast) = {
      val (m, t) = runVT(q(AfterMatchStrategy.SkipPastLastEvent), evs)
      (m.size, t.size)
    }
    // first match clears the run set — the second A-run is SKIPPED, and
    // must not re-surface as a timeout when step 5 passes its window
    assert(msPast == 1 && tsPast == 0)
    // and a run that times out BEFORE any match still reports under a
    // skip strategy
    val evs2 = stream("A", "D", "D", "D", "A", "C")
    val (ms2, ts2) = runVT(q(AfterMatchStrategy.SkipPastLastEvent), evs2)
    assert(ms2.size == 1 && ts2.size == 1) // A@1 times out; A@5 matches
  }

  private def runVT(q: CepQuery, events: Vector[Event])
      : (Vector[Match], Vector[Match]) =
    CepOperator.runWithTimeouts(q, events)

  test("streaming timedOutPartials == batch across a micro-batch " +
    "boundary (window closes in batch 2 for a run from batch 1)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val q = CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("s", "signup", "True"),
          Pattern.spat("p", "purchase", "True")),
        Vector("signup" -> Vector("event_id", "value"),
          "click" -> Vector("event_id", "value"),
          "purchase" -> Vector("event_id", "value")),
        within = Some(4))
      val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
        "event_type", Seq("value"))
      // user 2's signup@5 window (4 steps) closes at its 4th event,
      // which arrives in batch 2 — the timeout must fire post-restore
      val batch1 = Seq(
        Ev(1, 1, "signup", 0), Ev(1, 2, "click", 0),
        Ev(2, 5, "signup", 0), Ev(2, 6, "click", 0))
      val batch2 = Seq(
        Ev(1, 3, "purchase", 0), // user 1 matches (span 3 - 1 = 2 < 4)
        Ev(2, 7, "click", 0), Ev(2, 8, "click", 0)) // user 2 closes
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Ev]
      val out = StreamingCep.timedOutPartials(mem.toDF(), q, spec)
      val sq = out.writeStream.format("memory").queryName("cep_timeouts")
        .outputMode("append").start()
      try {
        mem.addData(batch1: _*); sq.processAllAvailable()
        mem.addData(batch2: _*); sq.processAllAvailable()
      } finally sq.stop()
      val streamed = spark.sql("SELECT * FROM cep_timeouts").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      val batch = SparkCep.timedOutPartials(
        (batch1 ++ batch2).toDF(), q, spec)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      assert(streamed == batch)
      assert(streamed == Set((2L, Vector(5L), Vector())))
    } finally spark.stop()
  }

  test("event-time streaming timeouts: an out-of-order stream reports " +
    "the closed window after watermark release") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
      // signup@evt-time 10 with a 10-tick event-time window; the only
      // event past the deadline is a click@25 — which ARRIVES FIRST.
      // The watermark must release them in event-time order (10, 25)
      // for the sweep at 25 to time the signup out.
      val q = CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("s", "signup", "True"),
          Pattern.spat("p", "purchase", "True")),
        Vector("signup" -> Vector("event_id", "value"),
          "click" -> Vector("event_id", "value"),
          "purchase" -> Vector("event_id", "value")),
        withinTime = Some(WithinTime("value", 10L)))
      val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
        "event_type", Seq("value"))
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[TsEv]
      val out = StreamingCep.timedOutPartialsEventTime(
        mem.toDF(), q, spec, "ts", "30 seconds")
      val sq = out.writeStream.format("memory").queryName("cep_et_timeouts")
        .outputMode("append").start()
      try {
        mem.addData(TsEv(1, 2, "click", 25, ts(25))) // arrives first
        sq.processAllAvailable()
        mem.addData(TsEv(1, 1, "signup", 10, ts(10)))
        sq.processAllAvailable()
        // push the watermark past both so they release in (10, 25) order
        mem.addData(TsEv(9, 99, "click", 60, ts(60)))
        sq.processAllAvailable()
        mem.addData(TsEv(9, 100, "click", 80, ts(80)))
        sq.processAllAvailable()
      } finally sq.stop()
      val got = spark.sql("SELECT * FROM cep_et_timeouts").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      assert(got == Set((1L, Vector(1L), Vector())))
    } finally spark.stop()
  }

  test("SparkCep.timedOutPartials: batch operator equals the executor " +
    "drain, shaped like match rows") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val events = Seq(
        Ev(1, 1, "signup", 0), Ev(1, 2, "click", 0), Ev(1, 3, "click", 0),
        Ev(1, 4, "purchase", 0), // signup@1 matches within 4? 4-1=3 < 4 yes
        Ev(2, 5, "signup", 0), Ev(2, 6, "click", 0), Ev(2, 7, "click", 0),
        Ev(2, 8, "click", 0), Ev(2, 9, "purchase", 0)) // closes at 8, late purchase
      val q = CepQuery(
        Pattern.Combine(Contiguity.Relaxed,
          Pattern.spat("s", "signup", "True"),
          Pattern.spat("p", "purchase", "True")),
        Vector("signup" -> Vector("event_id", "value"),
          "click" -> Vector("event_id", "value"),
          "purchase" -> Vector("event_id", "value")),
        within = Some(4))
      val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
        "event_type", Seq("value"))
      val got = SparkCep.timedOutPartials(events.toDF(), q, spec)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      assert(got == Set((2L, Vector(5L), Vector())))
      // unwindowed query is rejected loudly
      val e = intercept[IllegalArgumentException] {
        SparkCep.timedOutPartials(events.toDF(),
          q.copy(within = None), spec)
      }
      assert(e.getMessage.contains("windowed"))
    } finally spark.stop()
  }

  test("event-time streaming timeouts accept NEXT (r18): hold-back " +
    "feeds only follower-final events, timed-out partials == batch " +
    "on out-of-order arrival") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
      val schemaEv: Vector[(String, Vector[String])] = Vector(
        "click" -> Vector("event_id", "value"),
        "view" -> Vector("event_id", "value"),
        "purchase" -> Vector("event_id", "value"))
      // x binds a click whose NEXT event has a larger value; the
      // purchase never comes, so every x run times out at the WITHIN
      // sweep — the partial set depends on NEXT being fed correctly
      val q = CepSql.parse(
        "PATTERN (x -> p) DEFINE x AS click WHERE value < NEXT(value); " +
          "p AS purchase WITHIN 3", schemaEv)
      val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
        "event_type", Seq("value"))
      val evs = Vector(
        TsEv(1, 1, "click", 5, ts(1)), TsEv(1, 2, "click", 9, ts(2)),
        TsEv(1, 3, "view", 0, ts(3)), TsEv(1, 4, "view", 0, ts(4)),
        TsEv(1, 5, "click", 2, ts(5)), TsEv(1, 6, "view", 7, ts(6)),
        TsEv(1, 7, "view", 0, ts(7)),
        TsEv(2, 11, "click", 1, ts(11)), TsEv(2, 12, "view", 4, ts(12)),
        TsEv(2, 13, "view", 0, ts(13)), TsEv(2, 14, "view", 0, ts(14)))
      val rnd = new scala.util.Random(20260818L)
      val arrived = evs.grouped(4).flatMap(g => rnd.shuffle(g)).toVector
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[TsEv]
      val out = StreamingCep.timedOutPartialsEventTime(
        mem.toDF(), q, spec, "ts", "5 seconds")
      val sq = out.writeStream.format("memory").queryName("cep_et_to_next")
        .outputMode("append").start()
      try {
        arrived.grouped(5).foreach { b =>
          mem.addData(b: _*); sq.processAllAvailable()
        }
        mem.addData(TsEv(9, 99, "view", 0, ts(100)))
        sq.processAllAvailable()
        mem.addData(TsEv(9, 100, "view", 0, ts(200)))
        sq.processAllAvailable()
      } finally sq.stop()
      val streamed = spark.sql("SELECT * FROM cep_et_to_next")
        .where($"user_id" =!= 9L).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      // batch over the same events MINUS each key's final event (the
      // stream holds it forever — its follower never arrives; batch
      // resolves the edge to NULL and could differ there by design),
      // shaped so both sides judge the same follower-final prefix
      val batchEvs = evs.filter(e => e.user_id != 9)
        .map(e => Ev(e.user_id, e.event_id, e.event_type, e.value))
      val lastOf = batchEvs.groupBy(_.user_id)
        .map { case (k, es) => k -> es.map(_.event_id).max }
      val batch = SparkCep.timedOutPartials(
        batchEvs.filterNot(e => lastOf(e.user_id) == e.event_id).toDF(),
        q, spec)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      assert(streamed.nonEmpty)
      assert(streamed.exists(_._1 == 2L)) // both keys contribute
    } finally spark.stop()
  }
}

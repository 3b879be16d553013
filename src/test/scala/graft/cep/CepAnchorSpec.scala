package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import GoldenUtil._
import Pattern._

/** SQL:2016 partition anchors `^` / `$` (`CepQuery.anchorStart` /
  * `anchorEnd`) — beyond the reference, so the goldens are hand-derived
  * from the documented semantics:
  *
  *  - `^`: the match STARTS at the partition's first event. The
  *    executor seeds a run only at step 1; first-take == seed-event in
  *    this grammar (no pre-first-take ignore edges), so the two
  *    formulations coincide — the differential below pins that against
  *    an independent filtered model.
  *  - `$`: the match ENDS at the partition's last event. Mid-partition
  *    accepts are NOT matches: they neither emit nor fire the
  *    after-match skip strategy (golden-pinned — the run a mid-stream
  *    skip would have cleared must survive to the true end).
  *  - NoSkip model: anchored output == unanchored output filtered by
  *    "earliest bound ordinal == first ordinal" (^) and/or "latest
  *    bound ordinal == last ordinal" ($) — exact because NoSkip has no
  *    cross-match interference.
  */
class CepAnchorSpec extends AnyFunSuite {

  private def anchored(q: CepQuery, s: Boolean, e: Boolean): CepQuery =
    q.copy(anchorStart = s, anchorEnd = e)

  // -------------------------------------------------------------- goldens

  test("^ a -> b: only the match starting at the first event survives") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      schemaINP)
    // unanchored: a can bind e1 or e3 (both name 1) — two matches
    val in = eventsOf((1, 0), (3, 0), (1, 0), (2, 0))
    assert(runQuery(q, in).length == 2)
    // ^: only the run seeded at e1 — a binds e1
    val out = runQuery(anchored(q, s = true, e = false), in)
    assert(streamRepr(out) ==
      "[{'a': [e(1,1,0)], 'b': [e(4,2,0)]}]")
  }

  test("^ with a non-matching first event: empty — later starts are " +
    "not partition starts") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      schemaINP)
    val in = eventsOf((3, 0), (1, 0), (2, 0))
    assert(runQuery(q, in).length == 1)
    assert(runQuery(anchored(q, s = true, e = false), in).isEmpty)
  }

  test("a -> b $: only the match ending at the last event survives") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      schemaINP)
    // unanchored: relaxed takes the FIRST following b-candidate
    // (FlinkCEP followedBy) — (e1,e2) and (e3,e4)
    val in = eventsOf((1, 0), (2, 0), (1, 0), (2, 0))
    val un = runQuery(q, in)
    assert(un.length == 2) // (e1,e2) (e3,e4)
    val out = runQuery(anchored(q, s = false, e = true), in)
    assert(streamRepr(out) ==
      "[{'a': [e(3,1,0)], 'b': [e(4,2,0)]}]")
  }

  test("$ with a non-matching last event: empty") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      schemaINP)
    val in = eventsOf((1, 0), (2, 0), (3, 0))
    assert(runQuery(q, in).length == 1)
    assert(runQuery(anchored(q, s = false, e = true), in).isEmpty)
  }

  test("^ ... $ spans the whole partition") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"),
        lpat("b", "e", "name == 2", Contiguity.Relaxed, 1, 2)),
      schemaINP)
    val both = anchored(q, s = true, e = true)
    // a=e1, b can be [e2] or [e2,e3] — only [e2,e3] ends at the last
    val out = runQuery(both, eventsOf((1, 0), (2, 0), (2, 0)))
    assert(streamRepr(out) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,2,0), e(3,2,0)]}]")
    // last event unmatched by b's loop end: no match
    assert(runQuery(both, eventsOf((1, 0), (2, 0), (3, 0))).isEmpty)
  }

  test("$ suppresses mid-partition skip effects: the run a mid-stream " +
    "SkipPastLastEvent would clear survives to the true end") {
    // a a strict pairs over [A A A]: unanchored SkipPastLastEvent emits
    // (e1,e2) and CLEARS the run seeded at e2 — no second match. Under
    // $, the accept at e2 is not a match (no emit, no clear), so the
    // e2-seeded run completes at e3, the true partition end.
    val q = CepQuery(
      Combine(Contiguity.Strict,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 1")),
      schemaINP, AfterMatchStrategy.SkipPastLastEvent)
    val in = eventsOf((1, 0), (1, 0), (1, 0))
    assert(streamRepr(runQuery(q, in)) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,1,0)]}]")
    assert(streamRepr(runQuery(anchored(q, s = false, e = true), in)) ==
      "[{'a': [e(2,1,0)], 'b': [e(3,1,0)]}]")
  }

  test("^ leaves the skip strategy fully active") {
    // ^ (a b) strict with SkipPastLastEvent: the only seed is e1; the
    // match (e1,e2) emits and the clear is a no-op afterwards
    val q = CepQuery(
      Combine(Contiguity.Strict,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 1")),
      schemaINP, AfterMatchStrategy.SkipPastLastEvent,
      anchorStart = true)
    assert(streamRepr(runQuery(q, eventsOf((1, 0), (1, 0), (1, 0)))) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,1,0)]}]")
  }

  test("^ bounds the run set: only the initial seed's descendants live") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 9")),
      schemaINP, anchorStart = true)
    val ex = new Executor(DstCompiler.compile(q), q.strategy,
      anchorStart = true)
    ex.reset()
    val evs = eventsOf(Seq.fill(50)((1, 0)): _*)
    evs.foreach(ex.feed(_))
    // unanchored, every event would seed a live a-run (50); anchored,
    // only e1's run (plus nothing else — later seeds are suppressed)
    assert(ex.runCount <= 2, s"run set grew to ${ex.runCount}")
  }

  // --------------------------------------------------- filtered-model diff

  private def keyOf(m: Match): Vector[(String, Vector[Long])] =
    m.map { case (n, evs) => n -> evs.map(_("id")) }

  private def boundIds(m: Match): Vector[Long] =
    m.flatMap(_._2.map(_("id")))

  test("differential: NoSkip anchored == unanchored filtered at the " +
    "partition edges (seeded random streams, several pattern shapes)") {
    val pats = Vector[Pattern](
      spat("a", "e", "name == 1"),
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      Combine(Contiguity.Strict,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      Combine(Contiguity.Relaxed,
        lpat("a", "e", "name == 1", Contiguity.Strict, 0, 1),
        spat("b", "e", "name == 2")),
      Combine(Contiguity.NdRelaxed,
        lpat("a", "e", "name == 1", Contiguity.Relaxed, 1, 2),
        spat("b", "e", "name == 2")),
      Alt(
        Combine(Contiguity.Relaxed,
          spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
        spat("c", "e", "name == 3")))
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 60; pat <- pats) {
      val n = 2 + rnd.nextInt(9)
      val in = eventsOf((1 to n).map(_ => (1 + rnd.nextInt(4), 0)): _*)
      val q = CepQuery(pat, schemaINP)
      val un = runQuery(q, in).map(keyOf)
      val first = 1L
      val last = n.toLong
      def chk(s: Boolean, e: Boolean): Unit = {
        val got = runQuery(anchored(q, s, e), in).map(keyOf)
        val want = runQuery(q, in).filter { m =>
          val ids = boundIds(m)
          ids.nonEmpty &&
            (!s || ids.min == first) && (!e || ids.max == last)
        }.map(keyOf)
        assert(got == want,
          s"trial $trial pat $pat s=$s e=$e: got $got want $want (un=$un)")
      }
      chk(s = true, e = false)
      chk(s = false, e = true)
      chk(s = true, e = true)
    }
  }

  // ----------------------------------------------------------- SQL surface

  private val sqlSchema: Vector[(String, Vector[String])] = Vector(
    "S" -> Vector("id", "v"), "C" -> Vector("id", "v"),
    "P" -> Vector("id", "v"))

  test("SQL: ^ and $ parse to the anchor flags and render round-trips") {
    val st = CepSql.parseStatement(
      "PATTERN (^ s -> c $) DEFINE s AS S; c AS C", sqlSchema)
    assert(st.query.anchorStart && st.query.anchorEnd)
    val again = CepSql.parseStatement(CepSql.render(st), sqlSchema)
    assert(again.query == st.query)
    val s2 = CepSql.parseStatement(
      "PATTERN (^ s c) DEFINE s AS S; c AS C", sqlSchema)
    assert(s2.query.anchorStart && !s2.query.anchorEnd)
    assert(CepSql.parseStatement(CepSql.render(s2), sqlSchema).query
      == s2.query)
    val s3 = CepSql.parseStatement(
      "PATTERN (s c $) DEFINE s AS S; c AS C", sqlSchema)
    assert(!s3.query.anchorStart && s3.query.anchorEnd)
    assert(CepSql.parseStatement(CepSql.render(s3), sqlSchema).query
      == s3.query)
  }

  test("SQL: interior anchors are rejected loudly (top level only — " +
    "documented deviation)") {
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(sql, sqlSchema)
      }
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    bad("PATTERN (s ^ c) DEFINE s AS S; c AS C", "very first")
    bad("PATTERN (s $ c) DEFINE s AS S; c AS C", "very last")
    bad("PATTERN ((^ s) c) DEFINE s AS S; c AS C", "very first")
    bad("PATTERN (s $ | c) DEFINE s AS S; c AS C", "very last")
    // a trailing anchor after an alternation is QUERY-level (the
    // documented deviation), not per-branch — it parses
    val st = CepSql.parseStatement(
      "PATTERN (s | c $) DEFINE s AS S; c AS C", sqlSchema)
    assert(st.query.anchorEnd)
  }

  // ------------------------------------------------- operator-level gates

  test("anchored queries decline the alphabet pushdown (the anchor " +
    "observes the TRUE partition edge)") {
    val spec = SparkCep.CepSpec(Some("k"), "id", "t", Seq("v"))
    val plain = CepSql.parse(
      "PATTERN (s -> c) DEFINE s AS S; c AS C", sqlSchema)
    assert(SparkCep.prefilter(plain, spec).isDefined)
    assert(SparkCep.prefilter(
      plain.copy(anchorStart = true), spec).isEmpty)
    assert(SparkCep.prefilter(
      plain.copy(anchorEnd = true), spec).isEmpty)
  }

  test("$ composes with WITHIN: the end-anchored match still honors " +
    "the step window at its single emit point") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("a", "e", "name == 1"), spat("b", "e", "name == 2")),
      schemaINP, within = Some(2), anchorEnd = true)
    // span must be < 2 AND b must take the last event: only the
    // adjacent pair ending at the end qualifies
    assert(streamRepr(runQuery(q, eventsOf((1, 0), (2, 0)))) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,2,0)]}]")
    // a...b ends at the last event but spans 3 steps — window rejects
    assert(runQuery(q, eventsOf((1, 0), (3, 0), (2, 0))).isEmpty)
    // in-window pair exists mid-stream but does not END the partition
    assert(runQuery(q, eventsOf((1, 0), (2, 0), (3, 0))).isEmpty)
  }

  test("SQL: '{n}' quantifier and SQL:2016 skip spellings parse as " +
    "aliases of the canonical forms") {
    val a = CepSql.parseStatement(
      "PATTERN (s c{2}) DEFINE s AS S; c AS C " +
        "AFTER MATCH SKIP TO NEXT ROW", sqlSchema)
    val b = CepSql.parseStatement(
      "PATTERN (s c{2,2}) DEFINE s AS S; c AS C " +
        "AFTER MATCH SKIP TO NEXT", sqlSchema)
    assert(a.query == b.query)
    val c = CepSql.parseStatement(
      "PATTERN (s) DEFINE s AS S AFTER MATCH SKIP PAST LAST ROW",
      sqlSchema)
    assert(c.query.strategy == AfterMatchStrategy.SkipPastLastEvent)
  }

  test("$ anchored: typed operator == Catalyst exec on real keyed data " +
    "(both thread the last-event-of-key flag)") {
    val dir = "/root/testdata/sf0.001"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val df = spark.read.parquet(s"$dir/events.parquet")
      for (q <- Vector(
          graft.Queries.cepSqlAnchorLastStatement.query,
          graft.Queries.cepSqlAnchorFirstStatement.query)) {
        val spec = graft.Queries.eventSpec
        val model = CepModel.matches(df, q, spec)
        val exec = CepModel.canon(SparkCep.matchPatternExec(df, q, spec))
        assert(model.nonEmpty, s"$q produced no matches at sf0.001")
        assert(model == exec, s"$q diverged model vs exec")
      }
    } finally spark.stop()
  }

  test("streaming rejects the $ end anchor loudly at the shared " +
    "validation choke point") {
    val q = CepQuery(spat("a", "e", "True"), schemaINP, anchorEnd = true)
    val e = intercept[IllegalArgumentException] {
      SparkCep.checkWithinStateBound(q, None, streaming = true)
    }
    assert(e.getMessage.contains("batch-only"))
    // ^ streams fine; batch does not reject either anchor
    SparkCep.checkWithinStateBound(
      CepQuery(spat("a", "e", "True"), schemaINP, anchorStart = true),
      None, streaming = true)
    SparkCep.checkWithinStateBound(q, None, streaming = false)
  }
}

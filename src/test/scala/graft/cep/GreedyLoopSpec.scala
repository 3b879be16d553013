package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Greedy loop quantifiers (`loop.greedy` — FlinkCEP's `.greedy()`; the
  * reference's loops are all reluctant by construction).
  *
  * Semantics (on `Pattern.Lpat`): the loop's proceed-ε is suppressed
  * whenever the loop's take edge fires on the same (configuration,
  * event) — lookahead-1 branch priority. Consequence, derived from the
  * NFA fork structure and verified here against the engine: a match of
  * `Combine(_, greedyLoop, next)` exists iff the corresponding
  * NON-greedy match exists AND the event at the position immediately
  * after the loop's last take could not extend the loop (wrong type,
  * failed condition with the run's registers, `until` hit, or the loop
  * already full). That stop rule is the INDEPENDENT arm of the
  * differential: greedy output must equal the reluctant output filtered
  * by it.
  */
class GreedyLoopSpec extends AnyFunSuite {

  private val schema: Vector[(String, Vector[String])] =
    Vector("A" -> Vector("id", "v"), "B" -> Vector("id", "v"),
      "C" -> Vector("id", "v"), "D" -> Vector("id", "v"))

  private def run(pat: Pattern, events: Vector[Event]): Vector[Match] =
    CepOperator.run(CepQuery(pat, schema), events)

  private def stream(types: String*): Vector[Event] =
    types.toVector.zipWithIndex.map { case (t, k) =>
      Event(t, Vector("id" -> (k + 1).toLong, "v" -> 0L))
    }

  private def ids(m: Match, name: String): Vector[Long] =
    m.toMap.getOrElse(name, Vector.empty).map(_("id"))

  test("greedy strict {1,3} before a relaxed spat keeps only maximal " +
    "runs per start") {
    val greedyPat = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 3,
        greedy = true),
      Pattern.spat("y", "C", "True"))
    val reluctant = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 3),
      Pattern.spat("y", "C", "True"))
    val evs = stream("A", "A", "A", "C")
    // reluctant: every (start, length) prefix of the click run
    assert(run(reluctant, evs).map(ids(_, "a")).toSet == Set(
      Vector(1L), Vector(1L, 2L), Vector(1L, 2L, 3L),
      Vector(2L), Vector(2L, 3L), Vector(3L)))
    // greedy: per start, only the maximal (cap 3) run
    assert(run(greedyPat, evs).map(m => (ids(m, "a"), ids(m, "y"))) ==
      Vector(
        (Vector(1L, 2L, 3L), Vector(4L)),
        (Vector(2L, 3L), Vector(4L)),
        (Vector(3L), Vector(4L))))
  }

  test("a full loop (k = to) proceeds even when the next event matches") {
    val pat = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 2,
        greedy = true),
      Pattern.spat("y", "C", "True"))
    val evs = stream("A", "A", "A", "C")
    // start 1 stops at length 2 (cap) even though event 3 is an A
    assert(run(pat, evs).map(ids(_, "a")).toSet == Set(
      Vector(1L, 2L), Vector(2L, 3L), Vector(3L)))
  }

  test("greedy lpat-inf with until: an until-stopped take no longer " +
    "forces the loop onward") {
    // sum the loop values; until stops once X >= 2 (i.e. after 2 takes
    // of v=1); greedy must allow the proceed exactly at the until point
    val pat = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpatInf("a", "A", "True", Contiguity.Strict, 1,
        until = Some("X >= 2"),
        vars = Vector(Pattern.varDef("X", 0L, "X + 1")), greedy = true),
      Pattern.spat("y", "C", "True"))
    val evs = stream("A", "A", "A", "C")
    // starts: 1 -> takes 1,2 then until (X=2) stops the take at 3 ->
    // proceed allowed; 2 -> takes 2,3; 3 -> takes 3 then next event is
    // C (no take fires) -> proceeds at length 1
    assert(run(pat, evs).map(ids(_, "a")).toSet == Set(
      Vector(1L, 2L), Vector(2L, 3L), Vector(3L)))
  }

  test("optional greedy loop {0,n}: the zero-take stop is forbidden when " +
    "the first event could enter the loop") {
    def pat(g: Boolean) = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpat("a", "A", "True", Contiguity.Strict, 0, 2, greedy = g),
      Pattern.spat("y", "C", "True"))
    val evs = stream("A", "C")
    // reluctant: run@1 forks zero-take (boundary-ignores the A, then
    // y=C) AND take [1]; run@2 adds another zero-take — 3 matches
    val reluctant = run(pat(false), evs).map(m =>
      (ids(m, "a").mkString(","), ids(m, "y").mkString(","))).sorted
    assert(reluctant == Vector(("", "2"), ("", "2"), ("1", "2")))
    // greedy: run@1's zero-take proceed is cut (the A could be taken);
    // run@2 spawns on the C, where no take fires — its zero-take stays
    val greedy = run(pat(true), evs).map(m =>
      (ids(m, "a").mkString(","), ids(m, "y").mkString(","))).sorted
    assert(greedy == Vector(("", "2"), ("1", "2")))
  }

  test("GROUP greedy: times{1,2} keeps only the maximal iteration count " +
    "per start") {
    def pat(g: Boolean) = Pattern.Combine(Contiguity.Relaxed,
      Pattern.GpatTimes(
        Pattern.Combine(Contiguity.Strict,
          Pattern.spat("a", "A", "True"), Pattern.spat("b", "B", "True")),
        1, 2, greedy = g),
      Pattern.spat("y", "C", "True"))
    val evs = stream("A", "B", "A", "B", "C")
    def pairs(ms: Vector[Match]) =
      ms.map(m => (ids(m, "a"), ids(m, "b"), ids(m, "y")))
    // reluctant: start@1 emits k=1 and k=2; start@3 emits k=1
    assert(pairs(run(pat(false), evs)).toSet == Set(
      (Vector(1L), Vector(2L), Vector(5L)),
      (Vector(1L, 3L), Vector(2L, 4L), Vector(5L)),
      (Vector(3L), Vector(4L), Vector(5L))))
    // greedy: start@1's k=1 stop is forbidden (event 3 is an A the next
    // iteration could take); start@3's k=1 survives (event 5 is the C)
    assert(pairs(run(pat(true), evs)).toSet == Set(
      (Vector(1L, 3L), Vector(2L, 4L), Vector(5L)),
      (Vector(3L), Vector(4L), Vector(5L))))
  }

  test("GROUP greedy differential: gpat-inf/times == reluctant + head-" +
    "take stop rule (seeded random streams)") {
    val rnd = new scala.util.Random(20260822L)
    val types = Vector("A", "B", "C", "D")
    val conds = Vector("True", "v > 2", "v < 8")
    var cases = 0
    for {
      trial <- 0 until 120
      (inf, until) <- Seq((false, None), (true, None),
        (true, Some("v > 7")))
    } {
      val ca = conds(rnd.nextInt(conds.length))
      val from = 1 + rnd.nextInt(2)
      val to = from + rnd.nextInt(2)
      def group(g: Boolean): Pattern =
        if (inf) Pattern.GpatInf(
          Pattern.Combine(Contiguity.Strict,
            Pattern.spat("a", "A", ca), Pattern.spat("b", "B", "True")),
          from, until.map(Expr.parse), greedy = g)
        else Pattern.GpatTimes(
          Pattern.Combine(Contiguity.Strict,
            Pattern.spat("a", "A", ca), Pattern.spat("b", "B", "True")),
          from, to, greedy = g)
      def pat(g: Boolean) = Pattern.Combine(Contiguity.Relaxed,
        group(g), Pattern.spat("y", "C", "True"))
      val n = 8 + rnd.nextInt(20)
      val events = Vector.tabulate(n)(k =>
        Event(types(rnd.nextInt(types.length)),
          Vector("id" -> (k + 1).toLong, "v" -> rnd.nextInt(10).toLong)))
      val reluctant = run(pat(false), events)
      // stop rule: forbidden iff another iteration is allowed (k < to
      // for times; always for inf) AND the head take — A matching ca,
      // with until's narrowing — fires on the event right after the
      // last iteration's b
      val expected = reluctant.filter { m =>
        val bIds = ids(m, "b")
        val k = bIds.length
        val allowedMore = if (inf) true else k < to
        if (!allowedMore) true
        else {
          val stopPos = bIds.last.toInt // id == 1-based position
          if (stopPos >= events.length) true
          else {
            val nx = events(stopPos)
            val fires = nx.tpe == "A" &&
              evalCndt(Expr.parse(ca), nx, Map.empty) &&
              until.forall(u => !evalCndt(Expr.parse(u), nx, Map.empty))
            !fires
          }
        }
      }
      val got = run(pat(true), events)
      assert(got == expected,
        s"trial $trial inf=$inf until=$until from=$from to=$to ca=$ca " +
          s"events=" +
          events.map(e => s"${e.tpe}${e("id")}(v=${e("v")})").mkString(",") +
          s"\n got=${got.map(_.toString)}" +
          s"\n exp=${expected.map(_.toString)}")
      cases += 1
    }
    info(s"$cases group-greedy differential cases, all sequence-equal")
    assert(cases == 360)
  }

  test("trailing GROUP greedy is rejected; YAML and SQL forms round-trip") {
    val g = Pattern.GpatTimes(Pattern.Combine(Contiguity.Strict,
      Pattern.spat("a", "A", "True"), Pattern.spat("b", "B", "True")),
      1, 2, greedy = true)
    val e = intercept[IllegalArgumentException] {
      DstCompiler.compile(CepQuery(g, schema))
    }
    assert(e.getMessage.contains("greedy loop cannot be the last"))
    // YAML flag on the group loop map
    val y =
      """type: query
        |patseq:
        |  type: combine
        |  contiguity: relaxed
        |  left:
        |    type: gpat-times
        |    child:
        |      type: combine
        |      contiguity: strict
        |      left: {type: spat, name: a, event: A, cndt: {expr: "True"}}
        |      right: {type: spat, name: b, event: B, cndt: {expr: "True"}}
        |    loop: {from: 1, to: 2, greedy: true}
        |  right: {type: spat, name: y, event: C, cndt: {expr: "True"}}
        |context:
        |  schema: {A: [id, v], B: [id, v], C: [id, v], D: [id, v]}
        |""".stripMargin
    val expected = Pattern.Combine(Contiguity.Relaxed, g,
      Pattern.spat("y", "C", "True"))
    assert(YamlQuery.fromYaml(y).patseq == expected)
    // SQL form with group-greedy mark
    val q = CepSql.parse(
      "PATTERN ((a b){1,2}! -> y) DEFINE a AS A; b AS B; y AS C", schema)
    assert(q.patseq == expected)
    assert(CepSql.parse(CepSql.render(q), q.schema) == q)
    // greedy group patterns refuse the pre-NFA pushdown like loop greedy
    val spec = SparkCep.CepSpec(Some("k"), "id", "t", Seq("v"))
    assert(SparkCep.prefilter(CepQuery(expected, schema), spec).isEmpty)
  }

  test("trailing greedy is rejected at compile time, wherever it trails") {
    def bad(p: Pattern): Unit = {
      val e = intercept[IllegalArgumentException] {
        DstCompiler.compile(CepQuery(p, schema))
      }
      assert(e.getMessage.contains("greedy loop cannot be the last"))
    }
    val g = Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 3,
      greedy = true)
    bad(g) // bare
    bad(Pattern.Combine(Contiguity.Strict,
      Pattern.spat("x", "B", "True"), g)) // last of a sequence
    bad(Pattern.Combine(Contiguity.Strict, g,
      Pattern.lpat("b", "B", "True", Contiguity.Strict, 0, 2))) // optional right
    bad(Pattern.GpatTimes(Pattern.Combine(Contiguity.Strict,
      Pattern.spat("x", "B", "True"), g), 2, 2)) // trailing inside a group
    // greedy inside a group is fine when followed within the group
    DstCompiler.compile(CepQuery(
      Pattern.GpatTimes(Pattern.Combine(Contiguity.Strict, g,
        Pattern.spat("x", "B", "True")), 2, 2), schema))
  }

  test("YAML loop.greedy flag round-trips; absent means reluctant") {
    val y =
      """type: query
        |patseq:
        |  type: combine
        |  contiguity: relaxed
        |  left:
        |    type: lpat
        |    name: a
        |    event: A
        |    cndt: {expr: "True"}
        |    loop: {contiguity: strict, from: 1, to: 3, greedy: true}
        |  right:
        |    type: spat
        |    name: y
        |    event: C
        |    cndt: {expr: "True"}
        |context:
        |  schema: {A: [id, v], B: [id, v], C: [id, v], D: [id, v]}
        |""".stripMargin
    val q = YamlQuery.fromYaml(y)
    val expected = Pattern.Combine(Contiguity.Relaxed,
      Pattern.lpat("a", "A", "True", Contiguity.Strict, 1, 3,
        greedy = true),
      Pattern.spat("y", "C", "True"))
    assert(q.patseq == expected)
    assert(Pattern.repr(q.patseq).contains("{1,3}!"))
    val q2 = YamlQuery.fromYaml(y.replace(", greedy: true", ""))
    assert(!q2.patseq.asInstanceOf[Pattern.Combine].left
      .asInstanceOf[Pattern.Lpat].greedy)
  }

  // ---------------------------------------------------------------------
  // Differential: greedy engine == reluctant engine + stop-rule filter
  // ---------------------------------------------------------------------

  /** A condition in the generic compiled form (`layout = null`). */
  private def evalCndt(c: Expr, ev: Event, eta: Map[String, Long]): Boolean =
    CompiledExpr.evalBool(CompiledExpr.compile(c, null), ev, eta)

  /** The independent stop rule (class doc): keep a reluctant match iff
    * the event right after the loop's last take could not extend the
    * loop.
    */
  private def stopAllowed(events: Vector[Event], aIds: Vector[Long],
      loopEvent: String, cndt: Expr, until: Option[Expr],
      vars: Vector[VarDef], to: Int): Boolean = {
    if (aIds.length >= to) return true // full loop always proceeds
    val stopPos = aIds.last.toInt // id == 1-based position
    if (stopPos >= events.length) return true // nothing follows
    val next = events(stopPos) // event at position stopPos + 1 (0-based)
    // registers after the taken events (updates read pre-update eta)
    var eta = vars.map(v => v.name -> v.initial).toMap
    aIds.foreach { id =>
      val ev = events(id.toInt - 1)
      val pre = eta
      eta = eta ++ vars.map(v => v.name ->
        CompiledExpr.eval(CompiledExpr.compile(v.update, null), ev, pre))
    }
    val takeFires = next.tpe == loopEvent && evalCndt(cndt, next, eta) &&
      until.forall(u => !evalCndt(u, next, eta))
    !takeFires
  }

  test("long-stream wave: 100-400-event mostly-noise streams (stop " +
    "decisions crossing long ignorable gaps)") {
    val rnd = new scala.util.Random(20260821L)
    val types = Vector("A", "B", "C", "D")
    var cases = 0
    for {
      trial <- 0 until 30
      lctg <- Seq(Contiguity.Strict, Contiguity.Relaxed)
    } {
      val from = 1 + rnd.nextInt(2)
      val to = from + 1 + rnd.nextInt(2)
      val cndt = "v < 8"
      def pat(g: Boolean) = Pattern.Combine(Contiguity.Relaxed,
        Pattern.lpat("a", "A", cndt, lctg, from, to, greedy = g),
        Pattern.spat("y", "C", "True"))
      val n = 100 + rnd.nextInt(301)
      val events = Vector.tabulate(n) { k =>
        val t = if (rnd.nextInt(10) < 7) "D" else types(rnd.nextInt(3))
        Event(t, Vector("id" -> (k + 1).toLong,
          "v" -> rnd.nextInt(10).toLong))
      }
      val reluctant = run(pat(false), events)
      val expected = reluctant.filter { m =>
        stopAllowed(events, ids(m, "a"), "A", Expr.parse(cndt), None,
          Vector.empty, to)
      }
      val got = run(pat(true), events)
      assert(got == expected, s"long trial $trial lctg=$lctg n=$n")
      cases += 1
    }
    info(s"$cases long-stream greedy cases, all sequence-equal")
    assert(cases == 60)
  }

  test("differential wave: greedy == reluctant + stop-rule filter " +
    "(>1000 cases)") {
    val rnd = new scala.util.Random(20260816L)
    val types = Vector("A", "B", "C", "D")
    val conds = Vector("True", "v > 2", "v < 8")
    val sumVar = Vector(Pattern.varDef("X", 0L, "X + v"))
    var cases = 0
    for {
      trial <- 0 until 90
      lctg <- Seq(Contiguity.Strict, Contiguity.Relaxed,
        Contiguity.NdRelaxed)
      bctg <- Seq(Contiguity.Strict, Contiguity.Relaxed)
      (inf, vars, until) <- Seq(
        (false, Vector.empty[VarDef], None),
        (true, sumVar, Some("X > 12")))
    } {
      val cndt = conds(rnd.nextInt(conds.length))
      val rc = conds(rnd.nextInt(conds.length))
      val from = 1 + rnd.nextInt(2)
      val to = from + rnd.nextInt(3)
      def loopPat(g: Boolean): Pattern =
        if (inf) Pattern.lpatInf("a", "A", cndt, lctg, from, until, vars,
          greedy = g)
        else Pattern.lpat("a", "A", cndt, lctg, from, to, vars, greedy = g)
      def pat(g: Boolean) = Pattern.Combine(bctg, loopPat(g),
        Pattern.spat("y", "C", rc))
      val n = 8 + rnd.nextInt(18)
      val events = Vector.tabulate(n)(k =>
        Event(types(rnd.nextInt(types.length)),
          Vector("id" -> (k + 1).toLong, "v" -> rnd.nextInt(10).toLong)))
      val reluctant = run(pat(false), events)
      val expected = reluctant.filter { m =>
        stopAllowed(events, ids(m, "a"), "A", Expr.parse(cndt),
          until.map(Expr.parse), vars, if (inf) Int.MaxValue else to)
      }
      val got = run(pat(true), events)
      assert(got == expected,
        s"trial $trial lctg=$lctg bctg=$bctg inf=$inf from=$from to=$to " +
          s"cndt=$cndt rc=$rc events=" +
          events.map(e => s"${e.tpe}${e("id")}(v=${e("v")})").mkString(",") +
          s"\n  got=${got.map(_.toString)}" +
          s"\n  exp=${expected.map(_.toString)}")
      cases += 1
    }
    info(s"$cases greedy differential cases, all sequence-equal")
    assert(cases == 90 * 3 * 2 * 2)
  }
}

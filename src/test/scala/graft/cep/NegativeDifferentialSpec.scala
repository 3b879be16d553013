package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Differential gate for negative patterns: the guarded-junction NFA
  * compilation vs an INDEPENDENT brute-force formulation of the
  * documented semantics, over a seeded random corpus of streams ×
  * conditions × contiguities × modes (including neg-type == right-type
  * overlap and register-dependent negation). Negatives have no
  * reference-engine oracle (the reference's dispatch set is closed), so
  * two independent derivations agreeing on thousands of cases is the
  * strongest available evidence — the same role the 27k-case reference
  * corpus plays for the positive operators.
  *
  * Brute force (derived from the semantics spec on `Pattern.CombineNot`,
  * NOT from the compiler): left = spat binding event i, right = spat
  * binding event j > i; per contiguity:
  *  - strict: j = i+1, and j must match right (and not neg).
  *  - relaxed: scan k = i+1…: an event matching neg (with the run's
  *    registers) kills per mode scope; the first k matching right's
  *    take (∧ ¬neg) is j; other events are ignorable.
  *  - nd-relaxed: every k > i matching right ∧ ¬neg yields a fork-match
  *    (i, k) provided no event in (i, k) matched neg (per-fork scope).
  *  - NotNext narrows the neg check to k = i+1 only.
  * Matches compare as multisets of (a_id, b_id); emission order is
  * pinned separately by `GoldenNegativeSpec`.
  */
class NegativeDifferentialSpec extends AnyFunSuite {

  private val schema: Vector[(String, Vector[String])] =
    Vector("A" -> Vector("id", "v"), "B" -> Vector("id", "v"),
      "C" -> Vector("id", "v"), "D" -> Vector("id", "v"))

  /** A condition in the generic compiled form (`layout = null`). */
  private def evalCndt(c: Expr, ev: Event, eta: Map[String, Long]): Boolean =
    CompiledExpr.evalBool(CompiledExpr.compile(c, null), ev, eta)

  /** Independent semantics: returns (a_id, b_id) multiset. */
  private def brute(contig: Contiguity, leftC: Expr,
      leftVars: Vector[VarDef], neg: Pattern.NegSpec,
      mode: Pattern.NegMode, rightT: String, rightC: Expr,
      events: Vector[Event]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    for (i <- events.indices) {
      val a = events(i)
      if (a.tpe == "A" && evalCndt(leftC, a, leftVars.map(v =>
        v.name -> v.initial).toMap)) {
        // registers after the left take (update exprs read pre-update η)
        val eta0 = leftVars.map(v => v.name -> v.initial).toMap
        val eta = eta0 ++ leftVars.map(v =>
          v.name -> CompiledExpr.eval(CompiledExpr.compile(v.update, null),
            a, eta0))
        def negMatches(ev: Event): Boolean =
          ev.tpe == neg.event && evalCndt(neg.cndt, ev, eta)
        def rightTake(ev: Event): Boolean =
          ev.tpe == rightT && evalCndt(rightC, ev, eta)
        def negActiveAt(k: Int): Boolean = mode match {
          case Pattern.NegMode.NotNext       => k == i + 1
          case Pattern.NegMode.NotFollowedBy => true
        }
        contig match {
          case Contiguity.Strict =>
            if (i + 1 < events.length) {
              val b = events(i + 1)
              if (rightTake(b) && !(negActiveAt(i + 1) && negMatches(b)))
                out += ((a("id"), b("id")))
            }
          case Contiguity.Relaxed =>
            var k = i + 1
            var done = false
            while (k < events.length && !done) {
              val ev = events(k)
              if (negActiveAt(k) && negMatches(ev)) done = true // killed
              else if (rightTake(ev)) {
                out += ((a("id"), ev("id"))); done = true
              } // else ignorable — continue
              k += 1
            }
          case Contiguity.NdRelaxed =>
            var k = i + 1
            var killed = false
            while (k < events.length && !killed) {
              val ev = events(k)
              if (negActiveAt(k) && negMatches(ev)) killed = true
              else if (rightTake(ev)) out += ((a("id"), ev("id")))
              k += 1
            }
        }
      }
    }
    out.result()
  }

  private def nfa(contig: Contiguity, leftC: Expr, leftVars: Vector[VarDef],
      neg: Pattern.NegSpec, mode: Pattern.NegMode, rightT: String,
      rightC: Expr, events: Vector[Event]): Seq[(Long, Long)] = {
    val pat = Pattern.CombineNot(contig,
      Pattern.Spat("x", "A", leftC, leftVars), neg, mode,
      Pattern.Spat("y", rightT, rightC))
    CepOperator.run(CepQuery(pat, schema), events).map { m =>
      val byName = m.toMap
      (byName("x").head("id"), byName("y").head("id"))
    }
  }

  test("guarded-junction compilation == independent brute force over " +
    "seeded random streams (all contiguities x modes x conditions)") {
    val rnd = new scala.util.Random(20260813L)
    val types = Vector("A", "B", "C", "D")
    val leftConds = Vector(Expr.True, Expr.parse("v > 2"))
    val rightConds = Vector(Expr.True, Expr.parse("v < 7"))
    // negation over type B (disjoint), type C (overlaps the right head),
    // and a register-dependent condition (echoes the left event's value)
    val leftVarS = Vector(Pattern.varDef("s", 0L, "v"))
    val negs = Vector(
      (Pattern.NegSpec("n", "B", Expr.True), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "B", Expr.parse("v > 5")), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "C", Expr.parse("v < 3")), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "B", Expr.parse("v == s")), leftVarS))
    var cases = 0
    for {
      trial <- 0 until 150
      contig <- Seq(Contiguity.Strict, Contiguity.Relaxed,
        Contiguity.NdRelaxed)
      mode <- Seq(Pattern.NegMode.NotNext, Pattern.NegMode.NotFollowedBy)
      (neg, lv) <- negs
    } {
      val n = 6 + rnd.nextInt(9)
      val events = Vector.tabulate(n)(k =>
        Event(types(rnd.nextInt(types.length)),
          Vector("id" -> (k + 1).toLong, "v" -> rnd.nextInt(10).toLong)))
      val lc = leftConds(rnd.nextInt(leftConds.length))
      val rc = rightConds(rnd.nextInt(rightConds.length))
      val expected = brute(contig, lc, lv, neg, mode, "C", rc, events)
        .sorted
      val got = nfa(contig, lc, lv, neg, mode, "C", rc, events).sorted
      assert(got == expected,
        s"case $trial $contig $mode neg=${neg.event}:[${neg.cndt}] " +
          s"lc=$lc rc=$rc events=" +
          events.map(e => s"${e.tpe}${e("id")}(v=${e("v")})").mkString(",") +
          s"\n  nfa=$got\n  brute=$expected")
      cases += 1
    }
    info(s"$cases differential cases, all multiset-equal")
    assert(cases == 150 * 3 * 2 * 4)
  }

  test("long-stream wave: 100-400-event streams (relaxed kill scopes and " +
    "nd-relaxed forks crossing long noise gaps)") {
    val rnd = new scala.util.Random(20260814L)
    val types = Vector("A", "B", "C", "D")
    val leftConds = Vector(Expr.True, Expr.parse("v > 2"))
    val rightConds = Vector(Expr.True, Expr.parse("v < 7"))
    val leftVarS = Vector(Pattern.varDef("s", 0L, "v"))
    val negs = Vector(
      (Pattern.NegSpec("n", "B", Expr.True), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "B", Expr.parse("v > 5")), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "C", Expr.parse("v < 3")), Vector.empty[VarDef]),
      (Pattern.NegSpec("n", "B", Expr.parse("v == s")), leftVarS))
    var cases = 0
    for {
      trial <- 0 until 25
      contig <- Seq(Contiguity.Strict, Contiguity.Relaxed,
        Contiguity.NdRelaxed)
      mode <- Seq(Pattern.NegMode.NotNext, Pattern.NegMode.NotFollowedBy)
      (neg, lv) <- negs
    } {
      // mostly-noise streams (type D dominant) so relaxed runs survive
      // long gaps; A/B/C events are sparse, as in a real keyed stream
      val n = 100 + rnd.nextInt(301)
      val events = Vector.tabulate(n) { k =>
        val t = if (rnd.nextInt(10) < 7) "D"
          else types(rnd.nextInt(3))
        Event(t, Vector("id" -> (k + 1).toLong,
          "v" -> rnd.nextInt(10).toLong))
      }
      val lc = leftConds(rnd.nextInt(leftConds.length))
      val rc = rightConds(rnd.nextInt(rightConds.length))
      val expected = brute(contig, lc, lv, neg, mode, "C", rc, events)
        .sorted
      val got = nfa(contig, lc, lv, neg, mode, "C", rc, events).sorted
      assert(got == expected,
        s"long case $trial $contig $mode neg=${neg.event}:[${neg.cndt}] " +
          s"lc=$lc rc=$rc n=$n\n  nfa=${got.take(30)}\n  " +
          s"brute=${expected.take(30)}")
      cases += 1
    }
    info(s"$cases long-stream differential cases, all multiset-equal")
    assert(cases == 25 * 3 * 2 * 4)
  }
}

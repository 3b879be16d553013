package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import GoldenUtil._
import Pattern._

/** SQL:2016 `PERMUTE(a, b, c)` (`Pattern.Permute`) — beyond-parity
  * (neither the reference nor FlinkCEP has it), so the goldens are
  * hand-derived from the documented semantics ([[Pattern.Permute]],
  * `DstCompiler.compilePermute`):
  *
  *  - a permute matches its units in ANY order, sequenced STRICTLY
  *    within a branch, and binds EVERY unit in every match;
  *  - the expansion law: NoSkip matches equal the union over the k!
  *    orderings of the strict-chain rewrite (the SQL:2016 expansion),
  *    pinned by goldens and a seeded differential that builds the
  *    expansion independently of `Pattern.permuteBranches`;
  *  - branch priority is lexicographic (`PERMUTE(a, b)` prefers
  *    `a b`), observable when one event completes several branches;
  *  - the branches share names and registers legitimately — one branch
  *    per run — so the compiler's disjoint-branch check does not apply
  *    (while the UNITS must still be pairwise disjoint).
  */
class PermuteSpec extends AnyFunSuite {

  // -------------------------------------------------------------- goldens

  test("PERMUTE(a, b): both orders match, every unit binds") {
    val q = CepQuery(
      Permute(Vector(spat("a", "e", "name == 1"),
        spat("b", "e", "name == 2"))),
      schemaINP)
    // e1 e2 = a then b; e3 e4 = b then a — output columns in unit
    // DECLARATION order regardless of which ordering bound (the shared
    // accepting junction's out map; the relational contract)
    val out = runQuery(q, eventsOf((1, 0), (2, 0), (2, 0), (1, 0)))
    assert(streamRepr(out) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,2,0)]}, " +
        "{'a': [e(4,1,0)], 'b': [e(3,2,0)]}]")
  }

  test("PERMUTE units are STRICT within a branch: a gap kills the match") {
    val q = CepQuery(
      Permute(Vector(spat("a", "e", "name == 1"),
        spat("b", "e", "name == 2"))),
      schemaINP)
    // a at e1, then a non-unit event, then b: NOT adjacent — no match
    val out = runQuery(q, eventsOf((1, 0), (3, 0), (2, 0)))
    assert(out.isEmpty)
  }

  test("branch priority is lexicographic when one event completes " +
    "several branches") {
    // both units match EVERY event; stream of 2 events completes both
    // the `a b` and `b a` branches at e2 — `a b` (the first ordering)
    // emits first
    val q = CepQuery(
      Permute(Vector(spat("a", "e", "price < 5"),
        spat("b", "e", "price < 9"))),
      schemaINP)
    val out = runQuery(q, eventsOf((1, 0), (2, 0)))
    assert(streamRepr(out) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,2,0)]}, " +
        "{'a': [e(2,2,0)], 'b': [e(1,1,0)]}]")
  }

  test("PERMUTE of three units: all 6 orderings reachable") {
    val q = CepQuery(
      Permute(Vector(spat("a", "e", "name == 1"),
        spat("b", "e", "name == 2"), spat("c", "e", "name == 3"))),
      schemaINP)
    val perms = Vector(
      Vector(1, 2, 3), Vector(1, 3, 2), Vector(2, 1, 3),
      Vector(2, 3, 1), Vector(3, 1, 2), Vector(3, 2, 1))
    for (p <- perms) {
      val out = runQuery(q, eventsOf(p.map(n => (n, 0)): _*))
      assert(out.length == 1, s"ordering $p")
      // every unit bound exactly one event
      val m = out.head.toMap
      assert(m.keySet == Set("a", "b", "c"), s"ordering $p")
      assert(m.values.forall(_.length == 1), s"ordering $p")
    }
  }

  test("quantified unit inside PERMUTE") {
    val q = CepQuery(
      Permute(Vector(
        lpat("a", "e", "name == 1", Contiguity.Strict, 1, 2),
        spat("b", "e", "name == 2"))),
      schemaINP)
    val out = runQuery(q, eventsOf((1, 0), (1, 0), (2, 0)))
    // a{1,2} forks: [e1 e2]+b, [e2]+b (strict), plus the b-first branch
    // has no match (stream starts with a's)
    assert(streamRepr(out) ==
      "[{'a': [e(1,1,0), e(2,1,0)], 'b': [e(3,2,0)]}, " +
        "{'a': [e(2,1,0)], 'b': [e(3,2,0)]}]")
  }

  test("registers work inside PERMUTE (same LET in every branch)") {
    val q = CepQuery(
      Permute(Vector(
        lpat("a", "e", "X + price <= 5", Contiguity.Strict, 2, 2,
          Vector(varDef("X", 0, "X + price"))),
        spat("b", "e", "name == 2"))),
      schemaINP)
    // b first, then the accumulating loop (columns in declaration order)
    val out = runQuery(q, eventsOf((2, 9), (1, 2), (1, 3)))
    assert(streamRepr(out) ==
      "[{'a': [e(2,1,2), e(3,1,3)], 'b': [e(1,2,9)]}]")
  }

  test("relaxed combine into PERMUTE: per-branch waits (union law)") {
    // s ~> PERMUTE(x, y): after s, branch `x y` waits for an x-head,
    // branch `y x` for a y-head — an event starting only one branch
    // must not kill the other's wait
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("s", "e", "name == 3"),
        Permute(Vector(spat("x", "e", "name == 1"),
          spat("y", "e", "name == 2")))),
      schemaINP)
    // s, then y x (y-first branch), later x y would need adjacency
    val out = runQuery(q, eventsOf((3, 0), (2, 0), (1, 0), (2, 0)))
    assert(streamRepr(out) ==
      "[{'s': [e(1,3,0)], 'x': [e(3,1,0)], 'y': [e(2,2,0)]}, " +
        "{'s': [e(1,3,0)], 'x': [e(3,1,0)], 'y': [e(4,2,0)]}]")
  }

  test("PERMUTE under a group quantifier: each iteration independently " +
    "picks an ordering") {
    // (PERMUTE(x, y)){2,2}: two back-to-back pairs, each in either order
    val q = CepQuery(
      GpatTimes(Permute(Vector(spat("x", "e", "name == 1"),
        spat("y", "e", "name == 2"))), 2, 2),
      schemaINP)
    // x y | y x — first iteration forward, second reversed
    val out = runQuery(q, eventsOf((1, 0), (2, 0), (2, 0), (1, 0)))
    assert(streamRepr(out) ==
      "[{'x': [e(1,1,0), e(4,1,0)], 'y': [e(2,2,0), e(3,2,0)]}]")
  }

  // ------------------------------------------- expansion-law differential

  /** Canonical match repr with SORTED keys: the lattice projects in unit
    * declaration order while the hand-built expansion's chains project
    * in binding order — the BINDINGS must agree, the key order is each
    * compilation's own output contract.
    */
  private def multiset(ms: Seq[Match]): Vector[String] =
    ms.map(m => m.toMap.toVector.sortBy(_._1)
      .map { case (n, evs) => s"$n=${evs.map(_.toString).mkString(",")}" }
      .mkString("{", "; ", "}")).toVector.sorted

  private def randomStreams(seed: Long, n: Int,
      len: Int): Vector[Vector[Event]] = {
    val rnd = new scala.util.Random(seed)
    Vector.fill(n) {
      Vector.tabulate(len) { i =>
        Event("e", Vector("id" -> (i + 1).toLong,
          "name" -> (rnd.nextInt(3) + 1).toLong,
          "price" -> rnd.nextInt(10).toLong))
      }
    }
  }

  test("expansion law: NoSkip matches of PERMUTE == union of the k! " +
    "strict-chain orderings (seeded differential)") {
    val units: Vector[Pattern] = Vector(
      spat("a", "e", "name == 1"),
      lpat("b", "e", "name == 2", Contiguity.Strict, 1, 2),
      spat("c", "e", "price < 5"))
    val pm = Permute(units)
    // independent expansion — hand-built, NOT Pattern.permuteBranches
    val expansion: Vector[Pattern] =
      units.permutations.map(_.reduceLeft[Pattern](
        Combine(Contiguity.Strict, _, _))).toVector
    val shapes: Vector[(String, Pattern => Pattern)] = Vector(
      "top" -> identity[Pattern] _,
      "strict-combine" -> ((p: Pattern) =>
        Combine(Contiguity.Strict, spat("s", "e", "name == 3"), p)),
      "relaxed-combine" -> ((p: Pattern) =>
        Combine(Contiguity.Relaxed, spat("s", "e", "name == 3"), p)),
      "nd-combine" -> ((p: Pattern) =>
        Combine(Contiguity.NdRelaxed, spat("s", "e", "name == 3"), p)))
    for ((shapeName, shape) <- shapes;
         (stream, si) <- randomStreams(20260815L + shapeName.##, 6, 14)
           .zipWithIndex) {
      val got = multiset(
        CepOperator.run(CepQuery(shape(pm), schemaINP), stream))
      val want = multiset(expansion.flatMap(br =>
        CepOperator.run(CepQuery(shape(br), schemaINP), stream)))
      assert(got == want, s"shape $shapeName stream $si")
    }
  }

  test("expansion law holds for PERMUTE ALONGSIDE an alternation " +
    "branch under a combine (the lattice-embedded alt path)") {
    // s -> (PERMUTE(a, b) | d): compiled via compileCombineAltRight
    // with the permute's subset lattice embedded — NOT the k! chain
    // expansion. Multiset-equal to the hand-built expansion ∪ d.
    val units: Vector[Pattern] = Vector(
      spat("a", "e", "name == 1"),
      lpat("b", "e", "name == 2", Contiguity.Strict, 1, 2))
    val pm = Permute(units)
    val dBr: Pattern = spat("d", "e", "price < 3")
    val expansion: Vector[Pattern] =
      units.permutations.map(_.reduceLeft[Pattern](
        Combine(Contiguity.Strict, _, _))).toVector :+ dBr
    for (contig <- Vector(Contiguity.Strict, Contiguity.Relaxed,
        Contiguity.NdRelaxed);
        (stream, si) <- randomStreams(20260820L + contig.##, 6, 14)
          .zipWithIndex) {
      val shape = (p: Pattern) =>
        Combine(contig, spat("s", "e", "name == 3"), p)
      val got = multiset(CepOperator.run(
        CepQuery(shape(Alt(pm, dBr)), schemaINP), stream))
      val want = multiset(expansion.flatMap(br =>
        CepOperator.run(CepQuery(shape(br), schemaINP), stream)))
      assert(got == want, s"contig $contig stream $si")
    }
  }

  test("PERMUTE in an alternation branch keeps the DECLARATION-order " +
    "out map whichever ordering bound (the lattice contract)") {
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("s", "e", "name == 3"),
        Alt(
          Permute(Vector(spat("a", "e", "name == 1"),
            spat("b", "e", "name == 2"))),
          spat("d", "e", "price > 8"))),
      schemaINP)
    // b-then-a binding: pairs still print a before b (and s first)
    val out = runQuery(q, eventsOf((3, 0), (2, 0), (1, 0)))
    assert(streamRepr(out) ==
      "[{'s': [e(1,3,0)], 'a': [e(3,1,0)], 'b': [e(2,2,0)]}]")
  }

  // ------------------------------------------------------------ rejections

  test("constructor rejects <2, >5, and name-sharing units") {
    intercept[IllegalArgumentException] {
      Permute(Vector(spat("a", "e", "True")))
    }
    intercept[IllegalArgumentException] {
      Permute(Vector.tabulate(6)(i => spat(s"u$i", "e", "True")))
    }
    val ex = intercept[IllegalArgumentException] {
      Permute(Vector(spat("a", "e", "name == 1"),
        spat("a", "e", "name == 2")))
    }
    assert(ex.getMessage.contains("disjoint pattern names"))
    val ex2 = intercept[IllegalArgumentException] {
      Permute(Vector(
        lpat("a", "e", "X < 5", Contiguity.Strict, 1, 2,
          Vector(varDef("X", 0, "X + 1"))),
        lpat("b", "e", "X < 5", Contiguity.Strict, 1, 2,
          Vector(varDef("X", 0, "X + 2")))))
    }
    assert(ex2.getMessage.contains("disjoint LET registers"))
  }

  test("PERMUTE next to an alternation still gets the cross-branch " +
    "disjointness check") {
    // (PERMUTE(a, b) | a2) where a2 reuses `a` — rejected, the sharing
    // is ACROSS user-level branches, not within the permute
    val q = CepQuery(
      Combine(Contiguity.Relaxed,
        spat("s", "e", "name == 3"),
        Alt(
          Permute(Vector(spat("a", "e", "name == 1"),
            spat("b", "e", "name == 2"))),
          spat("a", "e", "price < 5"))),
      schemaINP)
    val ex = intercept[IllegalArgumentException] {
      DstCompiler.compile(q)
    }
    assert(ex.getMessage.contains("disjoint pattern names"))
  }

  // ----------------------------------------------------------- SQL surface

  private val sqlSchema: Vector[(String, Vector[String])] = Vector(
    "S" -> Vector("id", "v"), "C" -> Vector("id", "v"),
    "P" -> Vector("id", "v"))

  test("CepSql parses PERMUTE and round-trips through render") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> PERMUTE(c{1,2}, p)) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, FIRST(p.v) AS p_v " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 8", sqlSchema)
    st.query.patseq match {
      case Combine(Contiguity.Relaxed, _, pm: Permute) =>
        assert(pm.units.length == 2)
      case other => fail(s"unexpected lowering: $other")
    }
    assert(CepSql.parseStatement(CepSql.render(st), sqlSchema) == st)
  }

  test("CepSql PERMUTE group members: '(b c)' permutes as ONE unit " +
    "with its internal sequence intact, and round-trips") {
    val st = CepSql.parseStatement(
      "PATTERN (PERMUTE(a, (b c))) " +
        "DEFINE a AS S; b AS C; c AS P", sqlSchema)
    val pm = st.query.patseq match {
      case p: Permute => p
      case other => fail(s"unexpected lowering: $other")
    }
    assert(pm.units.length == 2)
    assert(CepSql.parseStatement(CepSql.render(st), sqlSchema) == st)
    // executor semantics: the group unit stays CONTIGUOUS inside each
    // ordering — a(S) then b(C) c(P), or b c then a
    val q = CepQuery(
      Permute(Vector(
        spat("a", "e", "name == 1"),
        Gpat(Combine(Contiguity.Strict,
          spat("b", "e", "name == 2"), spat("c", "e", "name == 3"))))),
      schemaINP)
    assert(streamRepr(runQuery(q, eventsOf((1, 0), (2, 0), (3, 0)))) ==
      "[{'a': [e(1,1,0)], 'b': [e(2,2,0)], 'c': [e(3,3,0)]}]")
    assert(streamRepr(runQuery(q, eventsOf((2, 0), (3, 0), (1, 0)))) ==
      "[{'a': [e(3,1,0)], 'b': [e(1,2,0)], 'c': [e(2,3,0)]}]")
    // interleaving the group breaks the match
    assert(runQuery(q, eventsOf((2, 0), (1, 0), (3, 0))).isEmpty)
  }

  test("CepSql PERMUTE rejections: non-unit members, bad member names") {
    intercept[IllegalArgumentException] {
      CepSql.parse("PATTERN (PERMUTE(a, {- b -})) " +
        "DEFINE a AS S; b AS C", sqlSchema)
    }
    intercept[IllegalArgumentException] {
      CepSql.parse("PATTERN (PERMUTE(a, nope)) DEFINE a AS S", sqlSchema)
    }
  }
}

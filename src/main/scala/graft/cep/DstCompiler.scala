package graft.cep

import scala.collection.mutable.ArrayBuffer

/** Pattern AST → DST compiler.
  *
  * One method per AST node kind, re-expressing
  * `/root/reference/reflinkcep/compile.py:52-585`. Transition *order* in Δ is
  * semantically significant (it fixes match output order), so each builder
  * appends edges in the same order as the reference.
  *
  * A compiler instance owns the state-name counter, so each `compile` call
  * yields globally unique state names (cf. `DST.py:33-48`).
  */
final class DstCompiler(query: CepQuery) {
  private var counter = 0

  private def state(base: String, out: Option[Dst.OutMap] = None): State = {
    val s = new State(s"$base:$counter", out)
    counter += 1
    s
  }

  private def eventTypes: Vector[String] = query.eventTypes

  def compile(): Dst = {
    val dst = compileNode(query.patseq)
    rejectTrailingGreedy(dst)
    bindSlots(dst)
    dst
  }

  /** Bind every transition's predicate and α-update to its
    * slot-compiled form (see [[CompiledExpr]]). Runs LAST: all `until`
    * predicate rewrites have happened, so the bound object is the one
    * the executor (and the greedy `cutBy` guards) will evaluate. The
    * layout is the edge's declared event type's schema attrs — ε edges,
    * wildcard edges, undeclared types, and layouts with duplicate names
    * bind with no layout (every ref generic). A `Pred`/`DataUpdate`
    * object shared by edges of different types gets one of the layouts;
    * sound either way — the slot guard falls back on any event that
    * does not match (see the CompiledExpr doc).
    */
  private def bindSlots(dst: Dst): Unit = {
    val layouts: Map[String, Vector[String]] = query.schema.toMap
    def layoutFor(evType: Option[String]): Vector[String] = evType match {
      case Some(t) if t != Pred.AnyType =>
        layouts.get(t) match {
          case Some(l) if l.distinct.length == l.length => l
          case _                                        => null
        }
      case _ => null
    }
    dst.delta.foreach { t =>
      val layout = layoutFor(t.p.evType)
      t.p.bind(layout)
      if (!t.alpha.isId) t.alpha.bind(layout)
    }
  }

  /** FlinkCEP parity restriction: a greedy loop cannot be the LAST
    * (or followed only by patterns that can match empty) — its cut
    * guard needs a real event to evaluate against, and an ε-only path
    * from a greedy proceed to an accepting state would let
    * `findAccepted` (event = None) bypass the cut. Structural check on
    * the COMPILED automaton, so it covers loops nested in groups and
    * combines uniformly: from every cut edge's target, walk ε edges; an
    * accepting state reachable means the greedy stop decision can be an
    * accept — rejected.
    */
  private def rejectTrailingGreedy(dst: Dst): Unit = {
    val cutTargets = dst.delta.filter(_.cutBy.nonEmpty).map(_.q2)
    for (start <- cutTargets) {
      val seen = scala.collection.mutable.Set(start.name)
      val stack = scala.collection.mutable.Stack(start)
      while (stack.nonEmpty) {
        val s = stack.pop()
        if (s.out.isDefined)
          throw new IllegalArgumentException(
            "a greedy loop cannot be the last pattern of the sequence " +
              "(nor be followed only by optional patterns) — the greedy " +
              "stop needs a following event to compare against; FlinkCEP " +
              "imposes the same restriction")
        dst.startFrom(s).foreach { e =>
          if (e.isEpsilon && !seen.contains(e.q2.name)) {
            seen += e.q2.name; stack.push(e.q2)
          }
        }
      }
    }
  }

  /** First (event, condition) of a pattern — used by combine's relaxed
    * boundary ignore edges, which read `right_ast["event"]/["cndt"]`
    * (`compile.py:414-424`). Group nodes have no head event; the reference
    * would KeyError there, we reject explicitly. Every caller compiles
    * `p` first, and compiling rejects a `CombineNot` whose left or right
    * can match empty; so `Pattern.canMatchEmpty`'s `false` for a
    * `CombineNot` is exact here.
    */
  private def headEventCndt(p: Pattern): (String, Expr) = p match {
    case s: Pattern.Spat       => (s.event, s.cndt)
    case l: Pattern.Lpat       => (l.event, l.cndt)
    case l: Pattern.LpatInf    => (l.event, l.cndt)
    case c: Pattern.CombineNot => headEventCndt(c.left)
    // a chain's head is its first unit's — sound only when that unit
    // cannot match EMPTY (else the chain's first consumed event could be
    // a later unit's). Permutation branches take this path: their units
    // are chained strictly and never empty-headed in practice.
    case c: Pattern.Combine if !Pattern.canMatchEmpty(c.left) =>
      headEventCndt(c.left)
    case other =>
      throw new IllegalArgumentException(
        s"relaxed combine boundary needs an event-headed right pattern, got $other")
  }

  /** Leaf branches of an alternation spine, left to right
    * (`Alt(Alt(a, b), c)` → `[a, b, c]`). Transparent groups unwrap —
    * a `Gpat` compiles to its child verbatim, so `(a | b)` in combine
    * position is the alternation itself.
    */
  private def altBranches(p: Pattern): Vector[Pattern] = p match {
    case a: Pattern.Alt  => altBranches(a.left) ++ altBranches(a.right)
    case g: Pattern.Gpat => altBranches(g.child)
    case other           => Vector(other)
  }

  /** The register names, the α-update and the initial η of `vars`. */
  private def takeDataUpdate(
      vars: Vector[VarDef]): (Set[String], DataUpdate, Map[String, Long]) = {
    val x = vars.map(_.name).toSet
    val du = DataUpdate(vars.map(v => v.name -> v.update))
    val eta0 = vars.map(v => v.name -> v.initial).toMap
    (x, du, eta0)
  }

  /** The consuming edges a run entering `start` could fire FIRST — every
    * non-ε edge departing the ε-closure of `start` within `dst`. These
    * are the greedy cut guards for GROUP loops: the group's proceed-ε is
    * suppressed exactly when the next iteration could consume the same
    * event (ε edges carry identity register updates, so evaluating the
    * guards at the boundary state is faithful).
    */
  private def headTakes(dst: Dst, start: State): Vector[Transition] = {
    val closure = scala.collection.mutable.Set(start.name)
    val stack = scala.collection.mutable.Stack(start)
    val out = Vector.newBuilder[Transition]
    while (stack.nonEmpty) {
      val s = stack.pop()
      dst.startFrom(s).foreach { e =>
        if (!e.isEpsilon) out += e
        else if (!closure.contains(e.q2.name)) {
          closure += e.q2.name; stack.push(e.q2)
        }
      }
    }
    out.result()
  }

  private def compileNode(p: Pattern): Dst = p match {
    case s: Pattern.Spat       => compileSpat(s)
    case l: Pattern.Lpat       => compileLpat(l)
    case l: Pattern.LpatInf    => compileLpatInf(l)
    case c: Pattern.Combine    => compileCombine(c)
    case c: Pattern.CombineNot => compileCombineNot(c)
    case a: Pattern.Alt        => compileAlt(a)
    case p: Pattern.Permute    => compilePermute(p)
    case g: Pattern.Gpat       => compileNode(g.child)
    case g: Pattern.GpatTimes  => compileGpatTimes(g)
    case g: Pattern.GpatInf    => compileGpatInf(g)
  }

  /** Alternation (beyond-parity — SQL:2016 `a | b`; see [[Pattern.Alt]]):
    * NFA union. A fresh start state forks one ε edge per branch — LEFT
    * FIRST, which is what makes textual order the branch priority: the
    * executor inserts ε-successors at the current scan position in edge
    * order, so left-branch runs precede right-branch runs in the run
    * list and hence in match output. Branch sub-automata are untouched;
    * their final states keep their own output maps, so a match projects
    * only the branch it went through (`Dst.output` drops unbound names,
    * and the operators' row builders fill them as empty bindings).
    *
    * No merged final state is needed — `Dst` supports multiple accepting
    * states (`finalStates` is a filter), and every downstream composer
    * (`compileCombine`'s left-finals loop, the group builders'
    * output-merge loops) already iterates final-state SETS.
    */
  private def compileAlt(ast: Pattern.Alt): Dst = {
    val left = compileNode(ast.left)
    val right = compileNode(ast.right)
    // a shared sink would silently merge the branches' bindings into one
    // stream register; a shared LET register would merge eta0 (right's
    // initial overwriting left's). Both are almost certainly authoring
    // mistakes — reject loudly at compile.
    val dupNames = left.pi.intersect(right.pi)
    require(dupNames.isEmpty,
      s"alternation branches must bind disjoint pattern names; " +
        s"${dupNames.toVector.sorted.mkString(", ")} appear(s) in both")
    val dupVars = left.x.intersect(right.x)
    require(dupVars.isEmpty,
      s"alternation branches must declare disjoint LET registers; " +
        s"${dupVars.toVector.sorted.mkString(", ")} appear(s) in both")
    unionDsts(Vector(left, right))
  }

  /** NFA union of compiled branches: a fresh fork state with one ε edge
    * per branch. ε-successors are INSERTED at the feed loop's scan
    * position (`Executor.feed`'s `t.insert(idx, …)`), so sibling ε
    * edges are processed LIFO — the edge appended LAST is walked FIRST;
    * appending in REVERSE branch order makes the FIRST branch the
    * priority branch (its runs precede later branches' in the run list,
    * hence in match output), matching the documented textual-order
    * priority of both `Alt` and `PERMUTE`. Callers own the branch
    * name-sharing contract (`compileAlt` requires disjointness,
    * `compilePermute` legitimately shares — see [[Pattern.Permute]]).
    */
  private def unionDsts(rs: Vector[Dst]): Dst = {
    val q0 = state("alt-0")
    val d = ArrayBuffer.empty[Transition]
    for (r <- rs.reverse)
      d += new Transition(q0, Pred.epsilon, r.q0, DataUpdate.Id,
        StreamUpdate.Id)
    rs.foreach(r => d ++= r.delta)
    new Dst(
      rs.map(_.sigma).reduce(_ ++ _),
      rs.map(_.pi).reduce(_ ++ _),
      rs.map(_.x).reduce(_ ++ _),
      rs.map(_.y).reduce(_ ++ _),
      q0 +: rs.flatMap(_.states),
      q0,
      rs.map(_.eta0).reduce(_ ++ _),
      d.toVector)
  }

  /** SQL:2016 `PERMUTE(a, b, c)` ([[Pattern.Permute]]): semantically
    * the union of every ordering of the units (each a STRICT chain, in
    * lexicographic priority order) — but compiled as a SUBSET LATTICE,
    * not the k! branch union. One junction state per subset of
    * already-matched units (2^k), with a fresh copy of unit `i`'s
    * automaton embedded between `junction(S)` and `junction(S ∪ {i})`
    * for every `i ∉ S` (k·2^(k-1) copies). Equivalent because a run's
    * REGISTERS carry its bindings — sharing the junction after
    * different prefixes loses nothing — and decisive at scale: under
    * NoSkip every event opens a fresh initial configuration whose
    * ε-closure sweeps the start state's branch heads, and the lattice
    * has k heads where the union has k! (measured in
    * `DrivePermuteScale`: the union's feed rate falls ∝ 1/k! — 4.4M→93K
    * ev/s from k=2 to k=5 — where the lattice stays ~flat).
    *
    * ε-edge priority: from each junction, units in declaration order
    * (appended reversed — the executor walks sibling ε edges LIFO), so
    * matches emit in the lexicographic-expansion branch order.
    *
    * Output map: the single accepting junction carries ALL units' out
    * entries in DECLARATION order — a match projects its columns in
    * unit order regardless of which ordering bound (the relational
    * contract; `Dst.output` drops nothing here since every unit binds).
    * Returns the lattice plus the unit entry states at the empty mask
    * (for the combine boundary's per-unit waits).
    */
  private[cep] def compilePermuteLattice(
      ast: Pattern.Permute): (Dst, Vector[State]) = {
    val units = ast.units
    val k = units.length
    val full = (1 << k) - 1
    val junctions = Array.tabulate(full + 1)(m => state(s"perm-$m"))
    val d = ArrayBuffer.empty[Transition]
    val states = ArrayBuffer.empty[State]
    states ++= junctions
    var sigma = Set.empty[String]
    var pi = Set.empty[String]
    var x = Set.empty[String]
    var y = Set.empty[String]
    var eta0 = Map.empty[String, Long]
    // per-unit out entries (first-occurrence order across finals),
    // recorded from the first copy of each unit
    val unitOut = scala.collection.mutable.Map.empty[Int, Dst.OutMap]
    val entries0 = scala.collection.mutable.Map.empty[Int, State]
    for (mask <- 0 until full) {
      val avail = (0 until k).filter(i => (mask & (1 << i)) == 0)
      val copies = avail.map(i => (i, compileNode(units(i))))
      // LIFO: append the fork ε edges in REVERSE declaration order so
      // the lowest-index unit is walked first
      for ((_, c) <- copies.reverse)
        d += new Transition(junctions(mask), Pred.epsilon, c.q0,
          DataUpdate.Id, StreamUpdate.Id)
      for ((i, c) <- copies) {
        states ++= c.states
        d ++= c.delta
        sigma ++= c.sigma; pi ++= c.pi; x ++= c.x; y ++= c.y
        eta0 ++= c.eta0
        if (!unitOut.contains(i)) {
          val seen = scala.collection.mutable.Set.empty[String]
          unitOut(i) = c.finalStates.flatMap(_.out.getOrElse(Vector.empty))
            .filter { case (n, _) => seen.add(n) }
        }
        if (mask == 0) entries0(i) = c.q0
        for (f <- c.finalStates) {
          f.clearOutput()
          d += new Transition(f, Pred.epsilon, junctions(mask | (1 << i)),
            DataUpdate.Id, StreamUpdate.Id)
        }
      }
    }
    junctions(full).out = Some((0 until k).toVector.flatMap(unitOut))
    val dst = new Dst(sigma, pi, x, y, states.toVector, junctions(0),
      eta0, d.toVector)
    (dst, (0 until k).toVector.map(entries0))
  }

  private def compilePermute(ast: Pattern.Permute): Dst =
    compilePermuteLattice(ast)._1

  /** `compile.py:52-70`. */
  private def compileSpat(ast: Pattern.Spat): Dst = {
    val (x, tdu, eta0) = takeDataUpdate(ast.vars)
    val q0 = state(s"${ast.name}-0")
    val qf = state(s"${ast.name}-f", Some(Vector(ast.name -> ast.name)))
    val d = Vector(
      new Transition(q0, Pred(Some(ast.event), ast.cndt), qf, tdu,
        StreamUpdate(Some(ast.name))))
    new Dst(Set(ast.event), Set(ast.name), x, Set(ast.name),
      Vector(q0, qf), q0, eta0, d)
  }

  /** `compile.py:73-205`: unrolled chain q0..qm plus ignore-states. */
  private def compileLpat(ast: Pattern.Lpat): Dst = {
    val n = ast.from
    val m = ast.to
    val (x, tdu, eta0) = takeDataUpdate(ast.vars)
    val takePred = Pred(Some(ast.event), ast.cndt)
    val esu = StreamUpdate(Some(ast.name))

    val q0 = state(s"${ast.name}-0")
    val qf = state(s"${ast.name}-f", Some(Vector(ast.name -> ast.name)))
    // q(0)=q0, q(1)..q(m); qIgnore(i) ~ q(i+1), 0 <= i < m-1
    val qTail = Vector.tabulate(m)(i => state(s"${ast.name}-${i + 1}"))
    val qIgnore = Vector.tabulate(math.max(m - 1, 0))(i =>
      state(s"${ast.name}-ig-${i + 1}"))
    val q = q0 +: qTail

    val d = ArrayBuffer.empty[Transition]
    // take transitions
    val takes = Vector.tabulate(m)(i =>
      new Transition(q(i), takePred, q(i + 1), tdu, esu))
    d ++= takes
    for (i <- 0 until m - 1)
      d += new Transition(qIgnore(i), takePred, q(i + 2), tdu, esu)
    // proceed transitions; a greedy loop's proceed is cut by the same
    // state's take (none exists at i = m — a full loop always proceeds)
    for (i <- n to m)
      d += new Transition(q(i), Pred.epsilon, qf, DataUpdate.Id,
        StreamUpdate.Id,
        cutBy = if (ast.greedy && i < m) Vector(takes(i)) else Vector.empty)
    // ignore transitions
    ast.contiguity match {
      case Contiguity.Strict => ()
      case Contiguity.Relaxed =>
        val negPred = takePred.neg
        for (i <- 1 until m)
          d += new Transition(q(i), negPred, qIgnore(i - 1), DataUpdate.Id,
            StreamUpdate.Id)
        for (i <- 1 until m)
          d += new Transition(qIgnore(i - 1), negPred, qIgnore(i - 1),
            DataUpdate.Id, StreamUpdate.Id)
        for (e <- eventTypes if e != ast.event) {
          for (i <- 1 until m)
            d += new Transition(q(i), Pred(Some(e), Expr.True),
              qIgnore(i - 1), DataUpdate.Id, StreamUpdate.Id)
          for (i <- 1 until m)
            d += new Transition(qIgnore(i - 1), Pred(Some(e), Expr.True),
              qIgnore(i - 1), DataUpdate.Id, StreamUpdate.Id)
        }
      case Contiguity.NdRelaxed =>
        val anyPred = Pred(Some(Pred.AnyType), Expr.True)
        for (i <- 1 until m)
          d += new Transition(q(i), anyPred, qIgnore(i - 1), DataUpdate.Id,
            StreamUpdate.Id)
        for (i <- 1 until m)
          d += new Transition(qIgnore(i - 1), anyPred, qIgnore(i - 1),
            DataUpdate.Id, StreamUpdate.Id)
    }

    new Dst(Set(ast.event), Set(ast.name), x, Set(ast.name),
      (q :+ qf) ++ qIgnore, q0, eta0, d.toVector)
  }

  /** `compile.py:208-372`: self-loop at q(n) + `qnp` ignore-state; `until`
    * rewrites every consuming predicate; `from = 0` adds the optional ε.
    */
  private def compileLpatInf(ast: Pattern.LpatInf): Dst = {
    val optional = ast.from == 0
    val n = if (optional) 1 else ast.from
    val (x, tdu, eta0) = takeDataUpdate(ast.vars)
    val takePred = Pred(Some(ast.event), ast.cndt)
    val esu = StreamUpdate(Some(ast.name))

    val q0 = state(s"${ast.name}-0")
    val qf = state(s"${ast.name}-f", Some(Vector(ast.name -> ast.name)))
    val qTail = Vector.tabulate(n)(i => state(s"${ast.name}-${i + 1}"))
    val qnp = state(s"${ast.name}-np")
    val q = q0 +: qTail

    val d = ArrayBuffer.empty[Transition]
    // take transitions
    val chainTakes = Vector.tabulate(n)(i =>
      new Transition(q(i), takePred, q(i + 1), tdu, esu))
    d ++= chainTakes
    val selfTake = new Transition(q(n), takePred, q(n), tdu, esu)
    d += selfTake
    d += new Transition(qnp, takePred, q(n), tdu, esu)
    // proceed transition; greedy cuts it by the self-loop take (whose
    // predicate the `until` rewrite below may narrow — the cut sees the
    // rewritten object, so an until-stopped loop proceeds)
    d += new Transition(q(n), Pred.epsilon, qf, DataUpdate.Id, StreamUpdate.Id,
      cutBy = if (ast.greedy) Vector(selfTake) else Vector.empty)
    // ignore transitions
    ast.contiguity match {
      case Contiguity.Strict => ()
      case Contiguity.Relaxed =>
        val negPred = takePred.neg
        for (i <- 1 until n)
          d += new Transition(q(i), negPred, q(i), DataUpdate.Id,
            StreamUpdate.Id)
        for (e <- eventTypes if e != ast.event; i <- 1 until n)
          d += new Transition(q(i), Pred(Some(e), Expr.True), q(i),
            DataUpdate.Id, StreamUpdate.Id)
        d += new Transition(q(n), negPred, qnp, DataUpdate.Id, StreamUpdate.Id)
        d += new Transition(qnp, negPred, qnp, DataUpdate.Id, StreamUpdate.Id)
        for (e <- eventTypes if e != ast.event) {
          d += new Transition(q(n), Pred(Some(e), Expr.True), qnp,
            DataUpdate.Id, StreamUpdate.Id)
          d += new Transition(qnp, Pred(Some(e), Expr.True), qnp,
            DataUpdate.Id, StreamUpdate.Id)
        }
      case Contiguity.NdRelaxed =>
        val anyPred = Pred(Some(Pred.AnyType), Expr.True)
        for (i <- 1 until n)
          d += new Transition(q(i), anyPred, q(i), DataUpdate.Id,
            StreamUpdate.Id)
        d += new Transition(q(n), anyPred, qnp, DataUpdate.Id, StreamUpdate.Id)
        d += new Transition(qnp, anyPred, qnp, DataUpdate.Id, StreamUpdate.Id)
    }

    // until: p → p ∧ ¬until on every consuming (take or ignore) edge
    ast.until.foreach { u =>
      d.foreach(t => if (!t.isEpsilon) t.p = t.p.withUntil(u))
    }

    if (optional)
      // the zero-iteration stop; greedy forbids it when the first event
      // could enter the loop
      d += new Transition(q0, Pred.epsilon, qf, DataUpdate.Id,
        StreamUpdate.Id,
        cutBy = if (ast.greedy) Vector(chainTakes(0)) else Vector.empty)

    new Dst(Set(ast.event), Set(ast.name), x, Set(ast.name),
      (q :+ qnp) :+ qf, q0, eta0, d.toVector)
  }

  /** `compile.py:375-474`: DST union + ε from left finals to right start +
    * boundary ignore-state for non-strict contiguity. An alternation
    * right (bare or Gpat-wrapped) takes the dedicated
    * [[compileCombineAltRight]] path, which builds PER-BRANCH boundary
    * machinery so the union law holds under every contiguity.
    */
  private def compileCombine(ast: Pattern.Combine): Dst =
    altBranches(ast.right) match {
      // a lone PERMUTE right: the subset lattice with per-UNIT boundary
      // waits (k wait states, not k! — see compileCombinePermuteRight)
      case Vector(pm: Pattern.Permute) =>
        compileCombinePermuteRight(ast.contiguity, compileNode(ast.left),
          pm)
      case bs if bs.length > 1 =>
        compileCombineAltRight(ast.contiguity, compileNode(ast.left), bs)
      case _ => compileCombinePlain(ast)
    }

  /** Combine whose RIGHT is a lone PERMUTE: embed the subset lattice
    * and build the boundary machinery PER UNIT instead of per expanded
    * ordering. Sound because every ordering starting with unit `i`
    * shares unit `i`'s head — the k! per-branch waits of the expansion
    * collapse into k distinct ones (same ¬head ignore edges, same
    * replicated head takes), so the union law is preserved with k-sized
    * machinery (differential-pinned in `PermuteSpec`).
    */
  private def compileCombinePermuteRight(contiguity: Contiguity,
      left: Dst, pm: Pattern.Permute): Dst = {
    val (r, entries) = compilePermuteLattice(pm)
    val states = ArrayBuffer.from(left.states)
    states ++= r.states
    val d = ArrayBuffer.from(left.delta)
    d ++= r.delta
    val q02 = r.q0

    val leftFinals = left.finalStates
    for (q <- leftFinals.reverse; q2 <- r.finalStates)
      q2.extendOutput(q.out.get)
    for (q <- leftFinals) {
      d += new Transition(q, Pred.epsilon, q02, DataUpdate.Id,
        StreamUpdate.Id)
      q.clearOutput()
    }

    // non-strict boundaries key the per-unit waits on each unit's head
    // event — ambiguous if a unit can bind ZERO events (the ordering's
    // real head would be the next unit); reject loudly, as the chain
    // path does via headEventCndt's canMatchEmpty guard
    if (contiguity != Contiguity.Strict)
      pm.units.foreach(u => require(!Pattern.canMatchEmpty(u),
        "relaxed combine into PERMUTE needs units that cannot match " +
          "empty (a {0,n} unit makes the ordering's head ambiguous)"))
    contiguity match {
      case Contiguity.Strict => ()
      case Contiguity.Relaxed =>
        for ((u, entry) <- pm.units.zip(entries)) {
          val (rEv, rCndt) = headEventCndt(u)
          val qIg = state(s"${entry.name}-ignore")
          states += qIg
          for (edge <- headTakes(r, entry))
            d += new Transition(qIg, edge.p, edge.q2, edge.alpha,
              edge.beta)
          val negPred = Pred(Some(rEv), rCndt).neg
          d += new Transition(q02, negPred, qIg, DataUpdate.Id,
            StreamUpdate.Id)
          d += new Transition(qIg, negPred, qIg, DataUpdate.Id,
            StreamUpdate.Id)
          for (e <- eventTypes if e != rEv) {
            d += new Transition(q02, Pred(Some(e), Expr.True), qIg,
              DataUpdate.Id, StreamUpdate.Id)
            d += new Transition(qIg, Pred(Some(e), Expr.True), qIg,
              DataUpdate.Id, StreamUpdate.Id)
          }
        }
      case Contiguity.NdRelaxed =>
        val qIg = state(s"${q02.name}-ignore")
        states += qIg
        for (entry <- entries; edge <- headTakes(r, entry))
          d += new Transition(qIg, edge.p, edge.q2, edge.alpha, edge.beta)
        val anyPred = Pred(Some(Pred.AnyType), Expr.True)
        d += new Transition(q02, anyPred, qIg, DataUpdate.Id,
          StreamUpdate.Id)
        d += new Transition(qIg, anyPred, qIg, DataUpdate.Id,
          StreamUpdate.Id)
    }

    new Dst(
      left.sigma ++ r.sigma,
      left.pi ++ r.pi,
      left.x ++ r.x,
      left.y ++ r.y,
      states.toVector,
      left.q0,
      left.eta0 ++ r.eta0,
      d.toVector)
  }

  private def compileCombinePlain(ast: Pattern.Combine): Dst = {
    val left = compileNode(ast.left)
    val right = compileNode(ast.right)

    val states = ArrayBuffer.from(left.states ++ right.states)
    val d = ArrayBuffer.from(left.delta ++ right.delta)

    val leftFinals = left.finalStates
    val rightFinals = right.finalStates
    // extendOutput PREPENDS its argument's novel keys (funcMerge puts f1
    // first), so merging multiple left finals (an alternation left) in
    // REVERSE final order yields declaration order. Parity shapes have
    // exactly one left final — the reverse is a no-op there.
    for (q <- leftFinals.reverse; q2 <- rightFinals)
      q2.extendOutput(q.out.get)

    val q02 = right.q0
    for (q <- leftFinals) {
      d += new Transition(q, Pred.epsilon, q02, DataUpdate.Id, StreamUpdate.Id)
      q.clearOutput()
    }

    if (ast.contiguity != Contiguity.Strict) {
      val q02Ignore = state(s"${q02.name}-ignore")
      states += q02Ignore
      // replicate right's start take-edges from the ignore state
      for (edge <- right.startFrom(q02) if edge.isTake)
        d += new Transition(q02Ignore, edge.p, edge.q2, edge.alpha, edge.beta)
      ast.contiguity match {
        case Contiguity.Relaxed =>
          val (rEv, rCndt) = headEventCndt(ast.right)
          val negPred = Pred(Some(rEv), rCndt).neg
          d += new Transition(q02, negPred, q02Ignore, DataUpdate.Id,
            StreamUpdate.Id)
          d += new Transition(q02Ignore, negPred, q02Ignore, DataUpdate.Id,
            StreamUpdate.Id)
          for (e <- eventTypes if e != rEv) {
            d += new Transition(q02, Pred(Some(e), Expr.True), q02Ignore,
              DataUpdate.Id, StreamUpdate.Id)
            d += new Transition(q02Ignore, Pred(Some(e), Expr.True),
              q02Ignore, DataUpdate.Id, StreamUpdate.Id)
          }
        case Contiguity.NdRelaxed =>
          val anyPred = Pred(Some(Pred.AnyType), Expr.True)
          d += new Transition(q02, anyPred, q02Ignore, DataUpdate.Id,
            StreamUpdate.Id)
          d += new Transition(q02Ignore, anyPred, q02Ignore, DataUpdate.Id,
            StreamUpdate.Id)
        case Contiguity.Strict => ()
      }
    }

    new Dst(
      left.sigma ++ right.sigma,
      left.pi ++ right.pi,
      left.x ++ right.x,
      left.y ++ right.y,
      states.toVector,
      left.q0,
      left.eta0 ++ right.eta0,
      d.toVector)
  }

  /** Combine whose RIGHT is an alternation (beyond-parity; bare `Alt` or
    * `Gpat`-wrapped — the SQL surface's `l -> (a | b)` shape). Built so
    * the UNION LAW holds under every boundary contiguity: the match
    * multiset of `l <c> (a | b)` equals the union of `l <c> a` and
    * `l <c> b` (differential-pinned in `AltSpec`).
    *
    *  - Strict: the fork alone — ε from the junction into every branch
    *    start; the next event must take into some branch.
    *  - Relaxed: PER-BRANCH wait states. A single shared "starts no
    *    branch" ignore would be WRONG: an event that starts only branch
    *    `b` would kill the wait for branch `a` (the shared state fires
    *    no ignore edge), losing the `l <c> a` match the union law
    *    promises. Each branch instead gets its own ignore state carrying
    *    the reference's exact single-right machinery (¬head ignores +
    *    replicated head takes), so each branch's wait is independent —
    *    the same run set the union of the single-right machines has.
    *  - Nd-relaxed: ONE shared wildcard wait state with every branch's
    *    head takes replicated. Equivalent to per-branch waits here
    *    (the wildcard ignore fires for every event, so the waits never
    *    diverge — one config with k take sets ≡ k configs with one
    *    each), and cheaper: one live run instead of k per junction.
    *
    * The junction state `alt-0` is shared across the output fork and the
    * boundary machinery (ignore edges depart it alongside the branch
    * ε's), exactly as `q02` is in the plain path.
    */
  private def compileCombineAltRight(contiguity: Contiguity, left: Dst,
      branches: Vector[Pattern]): Dst = {
    // PERMUTE branches embed their SUBSET LATTICE (declaration-order
    // out map, k unit heads) instead of expanding to the k! strict
    // chains — the same shape (and the same boundary-machinery
    // collapse) the lone-PERMUTE path uses, so a permute's cost and
    // output contract do not change just because a sibling branch
    // exists. `heads` lists each branch's boundary heads: one
    // (head-pattern, entry state, head-take edges) per normal branch,
    // one PER UNIT for a permute branch.
    final case class RB(dst: Dst,
        heads: Vector[(Pattern, State, Vector[Transition])])
    val rbs: Vector[RB] = branches.map {
      case pm: Pattern.Permute =>
        val (r, entries) = compilePermuteLattice(pm)
        // non-strict boundaries key per-unit waits on each unit's head
        // event — ambiguous if a unit can bind ZERO events (same guard
        // as the lone-lattice path, compileCombinePermuteRight)
        if (contiguity != Contiguity.Strict)
          pm.units.foreach(u => require(!Pattern.canMatchEmpty(u),
            "relaxed combine into PERMUTE needs units that cannot " +
              "match empty (a {0,n} unit makes the ordering's head " +
              "ambiguous)"))
        RB(r, pm.units.zip(entries).map { case (u, entry) =>
          (u, entry, headTakes(r, entry))
        })
      case other =>
        val r = compileNode(other)
        RB(r, Vector((other, r.q0,
          r.startFrom(r.q0).filter(_.isTake).toVector)))
    }
    val rs = rbs.map(_.dst)
    // same disjointness contract as compileAlt, across branches (a
    // permute shares names INSIDE its lattice legitimately)
    for (i <- rs.indices; j <- i + 1 until rs.length) {
      val dupNames = rs(i).pi.intersect(rs(j).pi)
      require(dupNames.isEmpty,
        s"alternation branches must bind disjoint pattern names; " +
          s"${dupNames.toVector.sorted.mkString(", ")} appear(s) in both")
      val dupVars = rs(i).x.intersect(rs(j).x)
      require(dupVars.isEmpty,
        s"alternation branches must declare disjoint LET registers; " +
          s"${dupVars.toVector.sorted.mkString(", ")} appear(s) in both")
    }

    val q02 = state("alt-0")
    val states = ArrayBuffer.from(left.states)
    states += q02
    rs.foreach(states ++= _.states)
    val d = ArrayBuffer.from(left.delta)
    // the fork — reversed so the LEFTMOST branch is walked first (the
    // executor processes ε-successors LIFO; see compileAlt). A permute
    // branch's lattice root forks its units in declaration order
    // itself.
    for (r <- rs.reverse)
      d += new Transition(q02, Pred.epsilon, r.q0, DataUpdate.Id,
        StreamUpdate.Id)
    rs.foreach(r => d ++= r.delta)

    val leftFinals = left.finalStates
    // reverse: extendOutput prepends (see compileCombinePlain)
    for (q <- leftFinals.reverse; r <- rs; q2 <- r.finalStates)
      q2.extendOutput(q.out.get)
    for (q <- leftFinals) {
      d += new Transition(q, Pred.epsilon, q02, DataUpdate.Id,
        StreamUpdate.Id)
      q.clearOutput()
    }

    contiguity match {
      case Contiguity.Strict => ()
      case Contiguity.Relaxed =>
        // one wait per boundary head, keyed on that head's event —
        // which is only unambiguous when the head cannot bind empty
        // (the chain path enforces this inside headEventCndt; permute
        // units are checked here like the lone-lattice path does)
        for (rb <- rbs; (hp, entry, takes) <- rb.heads) {
          val (rEv, rCndt) = headEventCndt(hp)
          val qIg = state(s"${entry.name}-ignore")
          states += qIg
          for (edge <- takes)
            d += new Transition(qIg, edge.p, edge.q2, edge.alpha,
              edge.beta)
          val negPred = Pred(Some(rEv), rCndt).neg
          d += new Transition(q02, negPred, qIg, DataUpdate.Id,
            StreamUpdate.Id)
          d += new Transition(qIg, negPred, qIg, DataUpdate.Id,
            StreamUpdate.Id)
          for (e <- eventTypes if e != rEv) {
            d += new Transition(q02, Pred(Some(e), Expr.True), qIg,
              DataUpdate.Id, StreamUpdate.Id)
            d += new Transition(qIg, Pred(Some(e), Expr.True), qIg,
              DataUpdate.Id, StreamUpdate.Id)
          }
        }
      case Contiguity.NdRelaxed =>
        val qIg = state(s"${q02.name}-ignore")
        states += qIg
        for (rb <- rbs; (_, _, takes) <- rb.heads; edge <- takes)
          d += new Transition(qIg, edge.p, edge.q2, edge.alpha, edge.beta)
        val anyPred = Pred(Some(Pred.AnyType), Expr.True)
        d += new Transition(q02, anyPred, qIg, DataUpdate.Id,
          StreamUpdate.Id)
        d += new Transition(qIg, anyPred, qIg, DataUpdate.Id,
          StreamUpdate.Id)
    }

    new Dst(
      rs.foldLeft(left.sigma)(_ ++ _.sigma),
      rs.foldLeft(left.pi)(_ ++ _.pi),
      rs.foldLeft(left.x)(_ ++ _.x),
      rs.foldLeft(left.y)(_ ++ _.y),
      states.toVector,
      left.q0,
      rs.foldLeft(left.eta0)(_ ++ _.eta0),
      d.toVector)
  }

  /** Negative pattern at a combine boundary (beyond-parity — FlinkCEP
    * `notNext`/`notFollowedBy`; no reference counterpart, dispatch set
    * closed at `compile.py:41-49`). Semantics hand-derived from
    * FlinkCEP's documented behavior; divergences from FlinkCEP:
    *
    *  - trailing negatives are rejected structurally (`right` required).
    *    FlinkCEP allows a trailing `notNext` by delaying emission one
    *    event; this engine emits on accept and does not look ahead.
    *  - `NotNext`'s "next event" is the next event FED to the NFA. The
    *    batch/streaming operators disable the alphabet prefilter for
    *    `NotNext` (see `SparkCep.prefilter`), so this is the next event
    *    of the key's full declared-type stream — the FlinkCEP reading.
    *  - at guarded junction states, events of types NOT in the declared
    *    schema kill the run (guard edges are enumerated per declared
    *    type, like the reference's relaxed-ignore edges); the reference
    *    semantics require the schema to declare the type universe.
    *
    * Compilation: negation is the ABSENCE of edges. The left→right ε
    * junction is replaced by guard states whose consuming edges carry
    * `∧ ¬cndtNeg` on `neg`-typed edges — an event matching `neg` (type +
    * condition, evaluated with the run's live data registers, so
    * iterative conditions compose) fires no edge and the run dies, the
    * DST-native "stop state". `NotNext` guards only the first consuming
    * event after the junction (guard state's every consuming edge moves
    * elsewhere); `NotFollowedBy` guards the whole wait (guarded ignore
    * loop replaces the plain combine ignore state, scope ending at
    * `right`'s first take).
    */
  private def compileCombineNot(ast: Pattern.CombineNot): Dst = {
    val left = compileNode(ast.left)
    val right = compileNode(ast.right)
    val negT = ast.neg.event
    val negC = ast.neg.cndt

    // FlinkCEP's own restriction: a NOT pattern cannot be preceded by an
    // optional pattern (an ε-accepting left makes "the event after
    // left's match" start-of-stream-ambiguous). Structural check: is a
    // final state in the ε-closure of left.q0?
    locally {
      val closure = scala.collection.mutable.Set(left.q0.name)
      val stack = scala.collection.mutable.Stack(left.q0)
      while (stack.nonEmpty) {
        val s = stack.pop()
        left.startFrom(s).foreach { e =>
          if (e.isEpsilon && !closure.contains(e.q2.name)) {
            closure += e.q2.name; stack.push(e.q2)
          }
        }
      }
      if (left.finalStates.exists(f => closure.contains(f.name)))
        throw new IllegalArgumentException(
          "a negative pattern (notNext/notFollowedBy) cannot follow an " +
            "optional pattern that can match empty — the junction event " +
            "is ambiguous (FlinkCEP imposes the same restriction)")
    }

    val states = ArrayBuffer.from(left.states ++ right.states)
    val d = ArrayBuffer.from(left.delta ++ right.delta)

    val leftFinals = left.finalStates
    val rightFinals = right.finalStates
    // reverse: extendOutput prepends (see compileCombinePlain)
    for (q <- leftFinals.reverse; q2 <- rightFinals)
      q2.extendOutput(q.out.get)

    val q02 = right.q0
    // an ε-accepting right would make the negative pattern effectively
    // TRAILING whenever right matches empty — FlinkCEP rejects a
    // sequence ending in a not-pattern, and the guarded junction cannot
    // represent "accept with no event to check" either; reject loudly
    locally {
      val closure = scala.collection.mutable.Set(q02.name)
      val stack = scala.collection.mutable.Stack(q02)
      while (stack.nonEmpty) {
        val s = stack.pop()
        right.startFrom(s).foreach { e =>
          if (e.isEpsilon && !closure.contains(e.q2.name)) {
            closure += e.q2.name; stack.push(e.q2)
          }
        }
      }
      if (rightFinals.exists(f => closure.contains(f.name)))
        throw new IllegalArgumentException(
          "a negative pattern (notNext/notFollowedBy) cannot be followed " +
            "by an optional pattern that can match empty — the negation " +
            "would be trailing when it does (FlinkCEP rejects sequences " +
            "ending in a not-pattern)")
    }
    // right must be event-headed (same combine-boundary requirement as
    // relaxed Combine): its start takes are what the guards replicate
    val (rEv, rCndt) = headEventCndt(ast.right)
    val startTakes = right.startFrom(q02).filter(_.isTake)
    require(startTakes.nonEmpty,
      s"negative-pattern junction needs take edges at ${q02.name}")

    /** `p ∧ ¬neg` on a `neg`-typed predicate, `p` otherwise. */
    def guard(p: Pred): Pred = p.evType match {
      case Some(t) if t == negT || t == Pred.AnyType =>
        Pred(p.evType, Expr.And(p.expr, Expr.Not(negC)))
      case _ => p
    }

    val qn = state(s"${q02.name}-not")
    states += qn
    for (q <- leftFinals) {
      d += new Transition(q, Pred.epsilon, qn, DataUpdate.Id, StreamUpdate.Id)
      q.clearOutput()
    }
    // guarded start takes (an event matching both `right`'s head and
    // `neg` kills the run — the FlinkCEP stop-state behavior)
    for (edge <- startTakes)
      d += new Transition(qn, guard(edge.p), edge.q2, edge.alpha, edge.beta)

    // boundary ignore machinery per contiguity. Guarded ignore edges are
    // enumerated per declared event type so the `neg` type can carry its
    // ¬cndt (the same per-type trick the reference uses for relaxed
    // ignores); an event with no matching edge kills the run.
    def ignorePred(e: String): Pred = {
      val base = ast.contiguity match {
        case Contiguity.Relaxed =>
          if (e == rEv) Pred(Some(e), Expr.Not(rCndt))
          else Pred(Some(e), Expr.True)
        case _ => Pred(Some(e), Expr.True) // nd-relaxed: wildcard-equivalent
      }
      guard(base)
    }

    if (ast.contiguity != Contiguity.Strict) {
      ast.mode match {
        case Pattern.NegMode.NotNext =>
          // after the first (guarded) event, the wait continues under
          // plain combine rules: an UNguarded ignore state with
          // replicated takes, reached only through qn's guarded ignores
          val qIg = state(s"${q02.name}-ignore")
          states += qIg
          for (edge <- startTakes)
            d += new Transition(qIg, edge.p, edge.q2, edge.alpha, edge.beta)
          for (e <- eventTypes)
            d += new Transition(qn, ignorePred(e), qIg, DataUpdate.Id,
              StreamUpdate.Id)
          for (e <- eventTypes) {
            val p = ast.contiguity match {
              case Contiguity.Relaxed =>
                if (e == rEv) Pred(Some(e), Expr.Not(rCndt))
                else Pred(Some(e), Expr.True)
              case _ => Pred(Some(e), Expr.True)
            }
            d += new Transition(qIg, p, qIg, DataUpdate.Id, StreamUpdate.Id)
          }
        case Pattern.NegMode.NotFollowedBy =>
          // the whole wait is guarded: any neg-matching event before
          // right's first take fires no edge and kills the run
          val qIg = state(s"${q02.name}-not-ignore")
          states += qIg
          for (edge <- startTakes)
            d += new Transition(qIg, guard(edge.p), edge.q2, edge.alpha,
              edge.beta)
          for (e <- eventTypes)
            d += new Transition(qn, ignorePred(e), qIg, DataUpdate.Id,
              StreamUpdate.Id)
          for (e <- eventTypes)
            d += new Transition(qIg, ignorePred(e), qIg, DataUpdate.Id,
              StreamUpdate.Id)
      }
    }

    new Dst(
      left.sigma ++ right.sigma + negT,
      left.pi ++ right.pi,
      left.x ++ right.x,
      left.y ++ right.y,
      states.toVector,
      left.q0,
      left.eta0 ++ right.eta0,
      d.toVector)
  }

  /** `compile.py:482-526`: child DST unrolled `to` times with ε
    * proceed-edges between copies; accept after copies `from-1..to-1`.
    */
  private def compileGpatTimes(ast: Pattern.GpatTimes): Dst = {
    val n = ast.from
    val m = ast.to
    val dst0 = compileNode(ast.child)
    val copies = Vector.fill(m)(compileNode(ast.child))

    val q0 = state("gpat-0")
    val qf = state("gpat-f")
    val states = ArrayBuffer(q0, qf)
    val d = ArrayBuffer.empty[Transition]
    for (c <- copies) { states ++= c.states; d ++= c.delta }

    // proceed
    d += new Transition(q0, Pred.epsilon, copies(0).q0, DataUpdate.Id,
      StreamUpdate.Id)
    for (i <- 0 until m - 1; q <- copies(i).finalStates)
      d += new Transition(q, Pred.epsilon, copies(i + 1).q0, DataUpdate.Id,
        StreamUpdate.Id)
    // output — note `from = 0` gives range(-1, m), and the reference's
    // Python list indexing wraps dst[-1] to the LAST copy (and then also
    // appends its ε-edge again at i = m-1); replicate both, order included.
    // Greedy cuts the emit-ε of every copy that has a NEXT iteration by
    // that iteration's head takes (the wrapped i < 0 quirk edge and the
    // full copy i = m-1 stay uncut — no next iteration exists).
    for (i <- (n - 1) until m; q <- copies(if (i < 0) m + i else i).finalStates)
      d += new Transition(q, Pred.epsilon, qf, DataUpdate.Id, StreamUpdate.Id,
        cutBy = if (ast.greedy && i >= 0 && i < m - 1)
          headTakes(copies(i + 1), copies(i + 1).q0) else Vector.empty)
    for (i <- 0 until m; q <- copies(i).finalStates)
      q.clearOutput()
    // reverse: extendOutput prepends, so merging an alternation child's
    // multiple finals in reverse yields declaration order (single-final
    // children — every parity shape — are unaffected)
    for (q <- dst0.finalStates.reverse)
      qf.extendOutput(q.out.get)

    new Dst(dst0.sigma, dst0.pi, dst0.x, dst0.y, states.toVector, q0,
      dst0.eta0, d.toVector)
  }

  /** `compile.py:529-585`: `from` copies, last copy loops back to its own
    * start; `until` rewrite; optional ε when `from = 0`.
    */
  private def compileGpatInf(ast: Pattern.GpatInf): Dst = {
    val optional = ast.from == 0
    val n = math.max(ast.from, 1)
    val dst0 = compileNode(ast.child)
    val copies = Vector.fill(n)(compileNode(ast.child))

    val q0 = state("gpat-inf-0")
    val qf = state("gpat-inf-f")
    val states = ArrayBuffer(q0, qf)
    val d = ArrayBuffer.empty[Transition]
    for (c <- copies) { states ++= c.states; d ++= c.delta }

    // proceed
    d += new Transition(q0, Pred.epsilon, copies(0).q0, DataUpdate.Id,
      StreamUpdate.Id)
    for (i <- 0 until n - 1; q <- copies(i).finalStates)
      d += new Transition(q, Pred.epsilon, copies(i + 1).q0, DataUpdate.Id,
        StreamUpdate.Id)
    for (q <- copies(n - 1).finalStates)
      d += new Transition(q, Pred.epsilon, copies(n - 1).q0, DataUpdate.Id,
        StreamUpdate.Id)
    // output; greedy cuts the emit-ε by the loop-back iteration's head
    // takes (whose predicates the `until` rewrite below narrows — the
    // cut sees the rewritten objects, so an until-stopped group
    // proceeds, exactly as lpat-inf)
    val loopHeadTakes =
      if (ast.greedy) headTakes(copies(n - 1), copies(n - 1).q0)
      else Vector.empty
    for (q <- copies(n - 1).finalStates)
      d += new Transition(q, Pred.epsilon, qf, DataUpdate.Id, StreamUpdate.Id,
        cutBy = loopHeadTakes)
    for (i <- 0 until n; q <- copies(i).finalStates)
      q.clearOutput()
    // reverse: extendOutput prepends (see compileGpatTimes)
    for (q <- dst0.finalStates.reverse)
      qf.extendOutput(q.out.get)

    ast.until.foreach { u =>
      d.foreach(t => if (!t.isEpsilon) t.p = t.p.withUntil(u))
    }

    if (optional)
      // the zero-iteration stop; greedy forbids it when the first
      // event could enter the group
      d += new Transition(q0, Pred.epsilon, qf, DataUpdate.Id,
        StreamUpdate.Id,
        cutBy = if (ast.greedy) headTakes(copies(0), copies(0).q0)
          else Vector.empty)

    new Dst(dst0.sigma, dst0.pi, dst0.x, dst0.y, states.toVector, q0,
      dst0.eta0, d.toVector)
  }
}

object DstCompiler {
  def compile(query: CepQuery): Dst = new DstCompiler(query).compile()
}

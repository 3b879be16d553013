package graft.cep

/** Data Stream Transducer — the compiled IR: an NFA whose transitions carry a
  * predicate, a data-register update (α) and a stream-register update (β).
  *
  * Faithful re-expression of `/root/reference/reflinkcep/DST.py`. Registers
  * are immutable Scala collections, so the reference's copy-on-write
  * `deepcopy` (`DST.py:140-144,160-166`) is free.
  */
object Dst {
  /** Insertion-ordered string→string function with Python-dict merge
    * semantics (`DST.py:26-30`): result keys are `f1`'s in order, then
    * `f2`'s novel keys appended; `f2` overwrites values of shared keys.
    */
  type OutMap = Vector[(String, String)]

  def funcMerge(f1: OutMap, f2: OutMap): OutMap = {
    val m2 = f2.toMap
    val updated = f1.map { case (k, v) => k -> m2.getOrElse(k, v) }
    updated ++ f2.filterNot { case (k, _) => f1.exists(_._1 == k) }
  }
}

/** NFA state. Identity is the unique `name` (base + global counter, as in
  * `DST.py:33-48`). `out` is the output map of accepting states — mutable
  * because the compiler rewrites it in place when merging sub-automata
  * (`DST.py:50-56`, used by `compile.py:391-406`).
  */
final class State(val name: String, var out: Option[Dst.OutMap])
    extends Serializable {
  /** Position in the `states` of the last `Dst` built over this state
    * (stamped by the `Dst` constructor) — the dense index of
    * `Dst.startFrom`. Valid only for the `Dst` whose `states(slot)` is
    * this very object; every other `Dst` falls back to its name map.
    */
  private[cep] var slot: Int = -1
  def extendOutput(o: Dst.OutMap): Unit =
    out = Some(Dst.funcMerge(o, out.getOrElse(Vector.empty)))
  def clearOutput(): Unit = out = None
  override def toString: String =
    s"State($name,${if (out.isEmpty) 0 else 1})"
}

/** A live NFA run: current state, data registers η, stream registers ctx,
  * whether the last consuming transition was a take, and the set of states
  * already reached via ε since the last consuming transition
  * (`DST.py:61-81`).
  */
final case class Configuration(
    q: State,
    eta: Map[String, Long],
    ctx: Map[String, Vector[Event]],
    lastTake: Boolean,
    revEpsClosure: Set[String],
    /** Step index of this run's first take (0 = none yet) — carried for
      * the `within` window extension; the reference has no time notion
      * (SURVEY §1.1), so 0 is the only value reference semantics ever
      * sees. Set by the executor (transitions don't know the step).
      */
    firstTake: Int = 0,
    /** Event-time of this run's first take (meaningful only when
      * `firstTake != 0` — the two stamps are set together) — carried for
      * the `withinTime` event-time window extension.
      */
    firstTakeTs: Long = 0L,
    /** Step index of this run's first/last take into the after-match-skip
      * anchor sink (0 = none) — carried for the `SkipToFirst(name)` /
      * `SkipToLast(name)` strategies (beyond-parity, FlinkCEP analogues).
      * Stamped by the executor only when an anchor strategy is active;
      * always 0 otherwise, so reference semantics never see them.
      */
    anchorFirst: Int = 0,
    anchorLast: Int = 0
)

object Configuration {
  /** Mirrors `Configuration.__post_init__` (`DST.py:69-72`): the current
    * state is always a member of its own reverse-ε-closure.
    */
  def make(
      q: State,
      eta: Map[String, Long],
      ctx: Map[String, Vector[Event]],
      lastTake: Boolean = false,
      revEps: Set[String] = Set.empty,
      firstTake: Int = 0,
      firstTakeTs: Long = 0L,
      anchorFirst: Int = 0,
      anchorLast: Int = 0
  ): Configuration =
    Configuration(q, eta, ctx, lastTake, revEps + q.name, firstTake,
      firstTakeTs, anchorFirst, anchorLast)
}

/** Transition predicate: event-type gate + condition expression
  * (`DST.py:92-126`). `evType = None` denotes ε; `Some("*")` matches any
  * type (nd-relaxed wildcard).
  */
final case class Pred(evType: Option[String], expr: Expr) {
  val isEpsilon: Boolean = evType.isEmpty

  /** Compiled form of `expr` (see [[CompiledExpr]]), the one evaluator.
    * `DstCompiler.bindSlots` binds it to the edge's event layout after
    * all `until` rewrites. A `Pred` built outside the compiler compiles
    * the generic form (`layout = null`, every ref resolved by name) on
    * its first evaluation. A body var: case-class equality/copy ignore
    * it (a `copy` drops the binding and compiles the generic form).
    */
  private[cep] var compiled: CompiledExpr.CExpr = null

  private[cep] def bind(layout: Vector[String]): Unit =
    compiled = CompiledExpr.compile(expr, layout)

  def neg: Pred = Pred(evType, Expr.Not(expr))

  /** `p → p ∧ ¬until` (`DST.py:110-114`). */
  def withUntil(until: Expr): Pred =
    Pred(evType, Expr.And(expr, Expr.Not(until)))

  def evaluate(eta: Map[String, Long], event: Option[Event]): Boolean = {
    event match {
      case Some(ev) =>
        evType match {
          case Some(t) if t != Pred.AnyType && t != ev.tpe => return false
          case _                                           => ()
        }
      case None => ()
    }
    if (compiled == null) bind(null)
    CompiledExpr.evalBool(compiled, event.orNull, eta)
  }
}

object Pred {
  val AnyType = "*"
  def epsilon: Pred = Pred(None, Expr.True)
}

/** Data-register update α: every expression reads the *pre-update* η
  * (`DST.py:139-144` evaluates all updates against the original `eta`).
  */
final case class DataUpdate(alpha: Vector[(String, Expr)]) {
  /** Compiled updates (see [[Pred.compiled]]); same binding, and the
    * same generic form on first use when unbound. Every expression reads
    * the PRE-update η: the loop passes the original `eta` to each eval
    * and accumulates into a separate map.
    */
  private[cep] var compiled: Array[(String, CompiledExpr.CExpr)] = null

  private[cep] def bind(layout: Vector[String]): Unit =
    compiled = alpha.iterator.map { case (k, e) =>
      (k, CompiledExpr.compile(e, layout))
    }.toArray

  def update(eta: Map[String, Long], event: Option[Event]): Map[String, Long] =
    if (alpha.isEmpty) eta
    else {
      if (compiled == null) bind(null)
      val c = compiled
      val ev = event.orNull
      var m = eta
      var i = 0
      while (i < c.length) {
        val kv = c(i)
        m = m.updated(kv._1, CompiledExpr.eval(kv._2, ev, eta))
        i += 1
      }
      m
    }
  def isId: Boolean = alpha.isEmpty
}

object DataUpdate {
  val Id: DataUpdate = DataUpdate(Vector.empty)
}

/** Stream-register update β: append the current event to `sink`, or ignore
  * (`DST.py:151-173`).
  */
final case class StreamUpdate(sink: Option[String]) {
  def update(
      ctx: Map[String, Vector[Event]],
      event: Option[Event]
  ): Map[String, Vector[Event]] =
    sink match {
      case None => ctx
      case Some(s) =>
        val ev = event.getOrElse(
          throw new IllegalStateException("trying to take epsilon"))
        ctx.updated(s, ctx.getOrElse(s, Vector.empty) :+ ev)
    }
  def isId: Boolean = sink.isEmpty
}

object StreamUpdate {
  val Id: StreamUpdate = StreamUpdate(None)
}

/** NFA transition. `p` is mutable because the compiler rewrites predicates in
  * place for `until` (`compile.py:354-359,574-578`).
  *
  * `cutBy` (greedy loops only, else empty): competing take edges whose
  * firing suppresses THIS edge for the same (configuration, event) — the
  * FlinkCEP branch-priority encoding of `.greedy()`: the loop's proceed-ε
  * carries its own take edges as cuts, so a run may only stop the loop at
  * an event the loop could not consume. The references are to the very
  * `Transition` objects in Δ, so an `until` predicate rewrite is seen by
  * the guard too (an until-stopped take no longer cuts). Evaluated only
  * for real events — `findAccepted`'s ε digs (event = None) ignore cuts,
  * which is exact because a greedy proceed is compile-time-rejected from
  * reaching an accepting state through ε alone (no trailing greedy).
  */
final class Transition(
    val q1: State,
    var p: Pred,
    val q2: State,
    val alpha: DataUpdate,
    val beta: StreamUpdate,
    val cutBy: Vector[Transition] = Vector.empty
) extends Serializable {
  def isEpsilon: Boolean = p.isEpsilon
  def isTake: Boolean = !beta.isId

  /** Whether this edge can fire for (conf, event). Each state is ε-reachable
    * at most once per macro-step (`DST.py:193-196`).
    */
  def predict(conf: Configuration, event: Option[Event]): Boolean = {
    if (isEpsilon && conf.revEpsClosure.contains(q2.name)) false
    else p.evaluate(conf.eta, event)
  }

  /** Next configuration (`DST.py:199-221`): ε preserves `lastTake` and
    * extends the reverse-ε-closure; consuming transitions reset both.
    */
  def advance(conf: Configuration, event: Option[Event]): Configuration = {
    val lastTake = if (isEpsilon) conf.lastTake else isTake
    val revEps = if (isEpsilon) conf.revEpsClosure else Set.empty[String]
    Configuration.make(
      q2,
      alpha.update(conf.eta, event),
      beta.update(conf.ctx, event),
      lastTake,
      revEps,
      conf.firstTake,
      conf.firstTakeTs,
      conf.anchorFirst,
      conf.anchorLast
    )
  }
}

/** The compiled transducer (`DST.py:240-317`).
  *
  * @param sigma event-type alphabet
  * @param pi    declared pattern (output) names
  * @param x     data-variable names
  * @param y     stream-variable names
  * @param states all states (insertion order — deterministic, unlike the
  *               reference's Python set, which is safe because every
  *               sub-automaton has exactly one accepting state)
  */
final class Dst(
    val sigma: Set[String],
    val pi: Set[String],
    val x: Set[String],
    val y: Set[String],
    val states: Vector[State],
    val q0: State,
    val eta0: Map[String, Long],
    val delta: Vector[Transition]
) extends Serializable {

  /** Transitions indexed by source state, preserving Δ order
    * (`DST.py:250-256`) — edge order determines match output order.
    */
  val edgeMap: Map[String, Vector[Transition]] =
    delta.groupBy(_.q1.name)

  /** State lookup by unique name (state-store rehydration). */
  val stateByName: Map[String, State] =
    states.map(s => s.name -> s).toMap

  // dense edge index: startFrom sits on the innermost NFA loop (once per
  // live run per event) and must neither hash state-name strings nor
  // probe a hash table. Each state's position is stamped into the state
  // itself (`State.slot`); the compiler builds sub-automata first and the
  // DST that merges them last, so the executed DST stamps last. A state a
  // later DST has re-stamped fails the identity check and falls back to
  // the name map. Java serialization keeps the arrays, the stamps and
  // object identity together.
  private val stateArr: Array[State] = states.toArray
  private val edgeTable: Array[Vector[Transition]] =
    stateArr.map(s => edgeMap.getOrElse(s.name, Vector.empty))
  for (i <- stateArr.indices) stateArr(i).slot = i

  /** `q`'s index in this DST's dense tables, or -1 if it is not ours. */
  private def slotOf(q: State): Int = {
    val i = q.slot
    if (i >= 0 && i < stateArr.length && (stateArr(i) eq q)) i else -1
  }

  def startFrom(q: State): Vector[Transition] = {
    val i = slotOf(q)
    if (i >= 0) edgeTable(i) else edgeMap.getOrElse(q.name, Vector.empty)
  }

  def finalStates: Vector[State] = states.filter(_.out.isDefined)

  /** Cached: deterministic, and `Configuration` is deeply immutable
    * (every taken transition copies), so one shared instance serves
    * every run spawn — the executor spawns one per fed event.
    */
  val initialConfiguration: Configuration =
    Configuration.make(q0, eta0, Map.empty)

  /** Structural detection of the `within` state-bound caveat: is there a
    * state in the ε-closure of q0 with an outgoing consuming non-take
    * (ignore) edge? If so, a run can persist indefinitely WITHOUT taking
    * (an "optional prefix" — e.g. `lpat{0,n}` skipped into an
    * ignore-looping wait state), its window never starts, and
    * `within`/`withinTime` pruning does not bound it — such patterns
    * need `maxRuns` as the state valve.
    *
    * Why these runs cannot simply be pruned by start index
    * (prove-REFUTED, round-5): an untaken run's configuration is
    * bit-identical to the one the run freshly spawned at the current
    * step reaches through the same ε/ignore path (same initial
    * registers, deterministic ε updates, ignores don't bind) — they
    * differ only in start index, which match output never sees. So
    * every match an old untaken run will ever emit is also emitted by
    * its younger duplicates — pruning would preserve the match SET but
    * CHANGE THE MULTISET (the reference emits one match per live
    * duplicate run, pinned by the differential gates). Structural and
    * conservative: edge conditions are not solved, so this may report
    * true for a pattern whose ignore predicate never holds.
    */
  lazy val hasUntakenIgnorePrefix: Boolean = {
    val closure = scala.collection.mutable.Set(q0.name)
    val stack = scala.collection.mutable.Stack(q0)
    while (stack.nonEmpty) {
      val s = stack.pop()
      startFrom(s).foreach { e =>
        if (e.isEpsilon && !closure.contains(e.q2.name)) {
          closure += e.q2.name; stack.push(e.q2)
        }
      }
    }
    closure.exists(n => edgeMap.getOrElse(n, Vector.empty)
      .exists(e => !e.isEpsilon && !e.isTake))
  }

  /** States from whose ε-closure at least one CONSUMING edge departs.
    * A configuration anywhere else is TERMINALLY DEAD: it can never
    * fire a consuming edge again, hence never take, hence never accept
    * (acceptance is checked in the emit phase of the step that created
    * the configuration; re-entry into S requires a consuming edge) —
    * at the next feed it silently drops out of the run set. Used by
    * the streaming idle-key state GC (`Executor.liveRunCount`): a key
    * whose every run is dead is semantically a fresh key.
    */
  lazy val canConsumeFrom: Set[String] = states.iterator.filter { s0 =>
    val closure = scala.collection.mutable.Set(s0.name)
    val stack = scala.collection.mutable.Stack(s0)
    var found = false
    while (stack.nonEmpty && !found) {
      val s = stack.pop()
      startFrom(s).foreach { e =>
        if (!e.isEpsilon) found = true
        else if (!closure.contains(e.q2.name)) {
          closure += e.q2.name; stack.push(e.q2)
        }
      }
    }
    found
  }.map(_.name).toSet

  /** Accepting iff the last consuming transition was a take and the state
    * has an output map (`DST.py:294-300`).
    */
  def accept(conf: Configuration): Boolean =
    conf.lastTake && conf.q.out.isDefined

  /** Per `slot`: can a path of one or more ε edges reach a state with an
    * output map? Structural (ε predicates are not evaluated), so `false`
    * is exact: no ε dig from that state can ever accept. Lazy: the
    * compiler rewrites output maps in place while merging sub-automata,
    * and only the executed DST ever digs.
    */
  @transient private lazy val epsReachesOut: Array[Boolean] =
    stateArr.map { s0 =>
      val seen = scala.collection.mutable.HashSet(s0.name)
      val stack = scala.collection.mutable.Stack(s0)
      var found = false
      while (stack.nonEmpty && !found) {
        startFrom(stack.pop()).foreach { e =>
          if (e.isEpsilon && !seen.contains(e.q2.name)) {
            if (e.q2.out.isDefined) found = true
            seen += e.q2.name; stack.push(e.q2)
          }
        }
      }
      found
    }

  /** DFS through ε-edges for an accepting configuration, visiting each state
    * at most once (`DST.py:272-292`).
    *
    * Two exact shortcuts return `None` without digging: ε edges keep
    * `lastTake`, so a configuration whose last consuming edge was not a
    * take can never accept through them; and a state from which no ε
    * path reaches an output map (`epsReachesOut`) can never accept
    * through them either.
    */
  def findAccepted(conf: Configuration): Option[Configuration] = {
    if (!conf.lastTake) return None
    val i = slotOf(conf.q)
    if (i >= 0 && !epsReachesOut(i)) return None
    val visited = scala.collection.mutable.HashSet.empty[String]
    def impl(c: Configuration): Option[Configuration] = {
      visited += c.q.name
      val edges = startFrom(c.q)
      var i = 0
      while (i < edges.length) {
        val edge = edges(i)
        if (!visited.contains(edge.q2.name) && edge.isEpsilon &&
            edge.predict(c, None)) {
          val nc = edge.advance(c, None)
          if (accept(nc)) return Some(nc)
          val dug = impl(nc)
          if (dug.isDefined) return dug
        }
        i += 1
      }
      None
    }
    impl(conf)
  }

  /** Project stream registers through the accepting state's output map,
    * dropping undefined variables (`DST.py:302-311`). Pair order = output-map
    * insertion order (significant for goldens).
    */
  def output(conf: Configuration): Match =
    conf.q.out.get.collect {
      case (key, v) if conf.ctx.contains(v) => key -> conf.ctx(v)
    }

  /** Debug dump of the transition map, one source state per block — the
    * reference's `_print_trans_map` surface (`DST.py:313-317`).
    */
  def transMapString: String =
    states.filter(s => edgeMap.contains(s.name)).map { s =>
      s"${s.name}:[\n${edgeMap(s.name).map(edgeString).mkString("\n")}\n]"
    }.mkString("\n")

  private def edgeString(t: Transition): String = {
    val kind =
      if (t.isEpsilon) "eps" else if (t.isTake) "take" else "ignore"
    val tpe = t.p.evType.getOrElse("ε")
    s"  ${t.q1.name} --$kind[$tpe]--> ${t.q2.name}"
  }
}

package graft.cep

import scala.collection.mutable.ArrayBuffer

/** Event-at-a-time NFA simulation + after-match skip strategies.
  *
  * Faithful re-expression of `/root/reference/reflinkcep/executor.py:22-94`.
  * The loop structure is ported literally because it pins match *output
  * order*: ε-successors are inserted at the current scan position
  * (`executor.py:58-61`), a new run starts at every event
  * (`executor.py:39-41`), and matches are emitted in `S`-order
  * (`executor.py:70-91`).
  *
  * The executor's entire mutable state is `(i, S)` — a step counter and the
  * list of live (startIndex, configuration) runs — so it snapshots/restores
  * cheaply for use inside Spark stateful operators.
  */
final class Executor(val dst: Dst, val strategy: AfterMatchStrategy,
    /** Per-key live-run valve. Positive cap = FAIL-FAST: throw when the
      * run set exceeds it (state explosion beats a silent OOM; the
      * default for unbounded-loop patterns, `SparkCep.resolveMaxRuns`).
      * NEGATIVE cap = SHED-OLDEST salvage at |cap|: instead of dying,
      * drop the LONGEST-LIVED partial runs (front of the run list, which
      * the feed loop keeps in run-creation order) until |cap| remain —
      * the hot-key survival mode for jobs that must finish. Documented
      * semantics of shedding (spec-pinned in `CepRunCapShedSpec`):
      * deterministic; with NoSkip the output is a sub-multiset of the
      * uncapped output (shedding only removes partial runs, never
      * creates matches), and any key whose live-run set never exceeds
      * |cap| is EXACT — in particular every key that feeds fewer than
      * |cap| events. With skip strategies the subset claim does NOT
      * hold: a shed run's suppressed match can no longer clear other
      * runs, so later matches may appear that the uncapped run would
      * have skipped. `shedCount` reports drops (telemetry only — not
      * part of the streaming state snapshot).
      */
    val maxRuns: Option[Int] = None,
    /** Beyond-parity window extension (FlinkCEP `.within`, with "time" =
      * position in the key's ordered stream): a match is emitted only if
      * its last take is fewer than `w` steps after its first take
      * (`lastTakeStep - firstTakeStep < w`). An out-of-window accept
      * neither emits NOR triggers the after-match skip strategy (the
      * FlinkCEP behavior: timed-out partials die silently). Runs whose
      * window has closed are pruned after every step, bounding live
      * TAKEN-run state per key by the runs spawned in the last `w`
      * steps. Caveat: runs that have not taken yet (possible for
      * optional-prefix patterns, whose ε-skip lands in an ignore state)
      * have no window to expire and are NOT pruned — patterns with such
      * prefixes still need `maxRuns` as the state valve. `None`
      * (default) is exact reference semantics.
      */
    val within: Option[Int] = None,
    /** EVENT-TIME window (FlinkCEP `.within(Time)` proper): the clock is
      * the event's `tsAttr` attribute; a match is kept iff
      * `ts(lastTake) - ts(firstTake) < span`, and runs whose window the
      * clock has passed are pruned. REQUIRES non-decreasing `tsAttr`
      * across `feed` calls (the pruning argument — "this run can never
      * emit again" — is only sound when time never rewinds; the batch
      * operator documents the order-column/time monotonicity requirement
      * and the event-time streaming path releases events in watermark
      * order by construction). Same untaken-run caveat as `within`.
      * Composes with `within`: both gates must pass.
      */
    val withinTime: Option[WithinTime] = None,
    /** Opt-in for the timeout side output: only when true do the window
      * sweeps append swept non-accepting partials (with their full ctx
      * event vectors) to the `drainTimedOut` buffer. The normal match
      * operators never drain, so capturing unconditionally would retain
      * every dead partial until the next reset — re-unbounding per-key
      * memory on exactly the path window pruning bounds. Set only by
      * the timedOutPartials operators / `runWithTimeouts`, which drain
      * after every feed.
      */
    val captureTimeouts: Boolean = false,
    /** SQL:2016 `^` partition-start anchor (`CepQuery.anchorStart`): the
      * match's first take must be the partition's first event. Two
      * mechanisms: (1) seed a new run only at step 1 — later seeds can
      * never first-take at step 1, so this is a pure state bound; and
      * (2) an emit gate `firstTake == 1`, needed because a pattern with
      * an OPTIONAL prefix (`Dst.hasUntakenIgnorePrefix`) lets the
      * step-1 run ignore events before its first take and start the
      * match later — such accepts are not matches under the anchor and
      * fire no skip effects.
      */
    val anchorStart: Boolean = false,
    /** SQL:2016 `$` partition-end anchor (`CepQuery.anchorEnd`): emit
      * matches only from a feed flagged `isLast` (the partition's final
      * event). A mid-partition accept is not a match at all — it neither
      * emits nor triggers the after-match skip strategy. The 1-arg
      * `feed` never flags, so operators that cannot know the partition
      * end (streaming) emit nothing — they must reject `anchorEnd`
      * up front instead (`SparkCep.checkWithinStateBound`).
      */
    val anchorEnd: Boolean = false)
    extends Serializable {

  require(within.forall(_ >= 1), s"within must be >= 1, got $within")
  // Int.MinValue has no positive negation: `-cap` in the shed branch would
  // overflow back to a negative limit and silently empty the run set on
  // every event (total output loss). Rejected loudly at construction.
  require(maxRuns.forall(_ != Int.MinValue),
    "maxRuns must not be Int.MinValue (its negation overflows; use a " +
      "smaller shed cap)")

  /** Anchor sink of the `SkipToFirst`/`SkipToLast` strategies (None for
    * the reference's three strategies). When set, takes into this sink
    * stamp `anchorFirst`/`anchorLast` on the run — the emit phase reads
    * the matched run's stamps as the prune threshold.
    */
  private val anchorName: Option[String] = strategy match {
    case AfterMatchStrategy.SkipToFirst(a) => Some(a)
    case AfterMatchStrategy.SkipToLast(a)  => Some(a)
    case _                                 => None
  }

  private var S: ArrayBuffer[(Int, Configuration)] = ArrayBuffer.empty
  private var i: Int = 0
  // highest event-time seen (withinTime only): time-expiry pruning is
  // only sound on a non-decreasing clock, so a rewind fails loudly
  // instead of silently dropping matches
  private var lastTs: Long = Long.MinValue
  // runs dropped by the shed-oldest valve (negative maxRuns); telemetry
  // only, intentionally NOT in snapshot/restore
  private var shed: Long = 0L
  // window-expired partial runs captured by the last feed (see
  // `drainTimedOut`); an operator that wants the timeout side output
  // drains after every feed — intentionally NOT in snapshot/restore
  // (the streaming codec question is the drain cadence, and an operator
  // that drains per feed never checkpoints a non-empty buffer)
  private var timedOut: Vector[Configuration] = Vector.empty

  /** Runs dropped by the shed-oldest valve since construction/reset. */
  def shedCount: Long = shed

  /** The timeout side output (beyond-parity — FlinkCEP's
    * `TimedOutPartialMatchHandler`): partial runs whose
    * `within`/`withinTime` window has provably closed without an accept
    * — pruned by the window sweep — accumulated since the last drain.
    * Only NON-accepting configurations are captured: an accepting
    * configuration swept at window close belongs to a match that was
    * already emitted this step, and untaken runs have no window to
    * expire. Project a configuration's bound events via
    * `partialOutput`. Drain after every `feed` — the buffer is cleared
    * here and never rides snapshot/restore. Empty unless the executor
    * was constructed with `captureTimeouts = true` (capture is opt-in
    * so non-draining operators never retain dead partials).
    */
  def drainTimedOut(): Vector[Configuration] = {
    val t = timedOut; timedOut = Vector.empty; t
  }

  /** Project a (typically timed-out partial) configuration's stream
    * registers in the given name order — names with no bound events map
    * to empty (the same convention as match rows). Partial runs never
    * reached an accepting state, so there is no output map to project
    * through; the raw sink contents ARE the partial match.
    */
  def partialOutput(conf: Configuration,
      names: Vector[String]): Match =
    names.map(n => n -> conf.ctx.getOrElse(n, Vector.empty))

  def reset(): Unit = {
    S = ArrayBuffer.empty; i = 0; lastTs = Long.MinValue; shed = 0L
    timedOut = Vector.empty
  }

  /** Live-run count (for state-size accounting in streaming). */
  def runCount: Int = S.size

  /** Events fed since construction/reset or the restored `step`. */
  def step: Int = i

  /** Runs that can still FIRE — excludes terminally-dead configurations
    * (post-accept states with no ε-reachable consuming edge), which
    * linger in the run set until the next feed sweeps them. The
    * streaming idle-key GC keys on this: `liveRunCount == 0` means the
    * key's state restores indistinguishably from fresh — EXCEPT under
    * `anchorStart`, where the step counter itself is semantics (a fresh
    * key re-seeds at its next event; a drained anchored key must not),
    * so anchored queries forgo the GC like withinTime/navigation do.
    */
  def liveRunCount: Int =
    S.count { case (_, c) => dst.canConsumeFrom.contains(c.q.name) }

  /** Snapshot the executor's entire mutable state — `(step counter, live
    * runs)` — for externalization into a streaming state store. States are
    * referenced by name; `restore` resolves them against this executor's
    * (deterministically compiled) DST.
    */
  def snapshot: (Int, Vector[(Int, Configuration)]) = (i, S.toVector)

  /** The withinTime monotone-clock floor (highest event time fed so far;
    * `Long.MinValue` before any feed). Persist it alongside `snapshot` —
    * see the 3-arg `restore`.
    */
  def clock: Long = lastTs

  /** Restore with an explicitly persisted clock floor (the exact `clock`
    * value taken at snapshot time). This is the streaming path: the codec
    * (v3+) carries the floor, so the rewind guard survives checkpoint
    * boundaries even when no live run has taken (all runs emitted/pruned,
    * or only untaken runs) — the case where the derived fallback below
    * silently resets to `Long.MinValue`.
    */
  def restore(step: Int, runs: Vector[(Int, Configuration)],
      clockFloor: Long): Unit = {
    restore(step, runs)
    lastTs = math.max(lastTs, clockFloor)
  }

  def restore(step: Int, runs: Vector[(Int, Configuration)]): Unit = {
    i = step
    S = ArrayBuffer.from(runs)
    // legacy/derived floor (v2 checkpoints, which did not persist the
    // clock): reconstruct from the live runs' window starts (each was
    // stamped from a previously-fed event's clock). WEAKER than the
    // persisted floor: with zero taken runs this resets to Long.MinValue,
    // re-admitting a rewound clock until the first take — v3 checkpoints
    // restore the exact floor via the 3-arg overload instead.
    lastTs = runs.iterator
      .filter(_._2.firstTake != 0).map(_._2.firstTakeTs)
      .foldLeft(Long.MinValue)(math.max)
  }

  /** Resolve a state name to the DST's state object (for state-store
    * rehydration).
    */
  def stateByName(name: String): State =
    dst.stateByName.getOrElse(name,
      throw new IllegalStateException(s"unknown state $name"))

  /** Feed one event; return the matches completed by it, in order.
    * Equivalent to `feed(event, isLast = false)` — under `anchorEnd`
    * this emits nothing (see the 2-arg overload).
    */
  def feed(event: Event): Vector[Match] = feed(event, isLast = false)

  /** Feed one event, flagging whether it is the partition's LAST event.
    * Without `anchorEnd` the flag is ignored. With it, matches are
    * emitted only when `isLast` — and run-set mutation by the skip
    * strategy is suppressed entirely (mid-partition accepts are not
    * matches under `$`, and at the true end no later event exists for
    * a skip to protect).
    */
  def feed(event: Event, isLast: Boolean): Vector[Match] = {
    i += 1
    // the step counter is an Int (it rides the streaming state codec);
    // wrapping would silently corrupt `within` spans and the firstTake
    // sentinel, so a key that outlives 2^31 events fails loudly instead
    if (i == Int.MinValue)
      throw new IllegalStateException(
        "CEP step counter overflow: this key has consumed 2^31 events " +
          "in one logical stream; shard the key or restart the pattern")
    val ev = Some(event)
    // event-time clock for the withinTime window: the event's tsAttr
    // attribute (throws the standard attr-undefined error when missing).
    // The documented non-decreasing requirement is ENFORCED: a rewound
    // clock would make the expiry pruning drop runs that could still
    // emit — silently wrong multisets; failing loudly beats that (same
    // stance as the maxRuns valve below).
    val ts = withinTime match {
      case Some(wt) =>
        val t = event(wt.tsAttr)
        if (t < lastTs)
          throw new IllegalStateException(
            s"withinTime requires non-decreasing ${wt.tsAttr} across the " +
              s"fed stream, but $t arrived after $lastTs — sort the " +
              "stream by event time (the batch operator's order column " +
              "must be time-monotone; the event-time streaming path " +
              "releases in watermark order already)")
        lastTs = t
        t
      case None => 0L
    }

    // swap, not copy: the old S becomes this step's work queue (consumed
    // only here) and a fresh S accumulates the survivors. Under the `^`
    // anchor only the FIRST event seeds a run — every match must start
    // at the partition's first event, so later seeds could never emit
    val t = S
    S = ArrayBuffer.empty
    if (!anchorStart || i == 1) t += ((i, dst.initialConfiguration))

    var idx = 0
    while (idx < t.length) {
      val (k, conf) = t(idx)
      idx += 1
      val edges = dst.startFrom(conf.q)
      var e = 0
      while (e < edges.length) {
        val edge = edges(e)
        // greedy cut: a proceed-ε whose competing loop take fires for
        // this same (conf, event) is suppressed (see `Transition.cutBy`)
        if (edge.predict(conf, ev) &&
            (edge.cutBy.isEmpty || !edge.cutBy.exists(_.predict(conf, ev)))) {
          val nc0 = edge.advance(conf, ev)
          // first take stamps the run's window start (the transition
          // cannot: it does not know the step counter / clock)
          val nc1 =
            if (!edge.isEpsilon && edge.isTake && nc0.firstTake == 0)
              nc0.copy(firstTake = i, firstTakeTs = ts)
            else nc0
          // anchor-strategy stamp: a take into the anchor sink records
          // its step (first and last) for the emit-phase prune threshold
          val nc =
            if (anchorName.isDefined && !edge.isEpsilon && edge.isTake &&
                edge.beta.sink == anchorName)
              nc1.copy(
                anchorFirst =
                  if (nc1.anchorFirst == 0) i else nc1.anchorFirst,
                anchorLast = i)
            else nc1
          if (edge.isEpsilon) {
            // process ε-successors before the remaining queue entries
            t.insert(idx, (k, nc))
          } else {
            S += ((k, nc))
            dst.findAccepted(nc) match {
              case Some(dug) => S += ((k, dug))
              case None      => ()
            }
          }
        }
        e += 1
      }
    }

    // emit phase. Under the `$` anchor, mid-partition accepts are not
    // matches (nothing emits, no skip effects fire — runs sail on); at
    // the flagged last event, matches emit but the strategy still never
    // mutates the run set (no later event exists for a skip to protect)
    val out =
      if (!anchorEnd) emitPhase(ts, mutateRuns = true)
      else if (isLast) emitPhase(ts, mutateRuns = false)
      else Vector.empty[Match]

    // window pruning: a run whose first take is already w-1 steps old can
    // never emit again (any future accept has span >= i+1 - firstTake >=
    // w), so its state is dead — this is what bounds live runs per key
    // for within-patterns on unbounded streams. Untaken runs (firstTake
    // 0) are kept: their window has not started.
    within.foreach { w =>
      if (S.exists { case (_, c) => c.firstTake != 0 && i - c.firstTake >= w - 1 }) {
        // capture swept non-accepting partials for the timeout side
        // output before removing them (see `drainTimedOut`) — opt-in
        // only: non-draining operators must not retain dead partials
        if (captureTimeouts) S.foreach { case (_, c) =>
          if (c.firstTake != 0 && i - c.firstTake >= w - 1 &&
              !dst.accept(c))
            timedOut :+= c
        }
        S = S.filter { case (_, c) =>
          c.firstTake == 0 || i - c.firstTake < w - 1
        }
      }
    }
    // event-time pruning: future feeds carry ts' >= ts (the documented
    // monotonicity requirement), so a run with ts - firstTakeTs >= span
    // can never satisfy the emit gate again — dead. Unlike the position
    // clock (which advances by exactly 1 per step, allowing >= w-1), the
    // time clock may stand still (ties), so only >= span is safely dead.
    withinTime.foreach { wt =>
      if (S.exists { case (_, c) =>
            c.firstTake != 0 && ts - c.firstTakeTs >= wt.span }) {
        if (captureTimeouts) S.foreach { case (_, c) =>
          if (c.firstTake != 0 && ts - c.firstTakeTs >= wt.span &&
              !dst.accept(c))
            timedOut :+= c
        }
        S = S.filter { case (_, c) =>
          c.firstTake == 0 || ts - c.firstTakeTs < wt.span
        }
      }
    }

    // state-explosion safety valve: nd-relaxed + NoSkip can grow the run
    // set combinatorially (inherent to the semantics, SURVEY.md §4); at
    // corpus scale an unbounded key would OOM an executor. Positive cap:
    // failing loudly beats silently wrong results. Negative cap: the
    // documented shed-oldest salvage (see the constructor doc) — drop
    // the front of S (oldest runs) down to |cap| so hot keys survive
    // with deterministic, subset-of-uncapped (NoSkip) output.
    maxRuns.foreach { cap =>
      if (cap < 0) {
        val lim = -cap
        if (S.length > lim) {
          val drop = S.length - lim
          shed += drop
          S = S.drop(drop)
        }
      } else if (S.length > cap)
        throw new IllegalStateException(
          s"CEP run-set exceeded maxRuns=$cap at step $i (pattern keeps " +
            "too many partial matches alive; consider a stricter " +
            "contiguity, an until condition, a skip strategy, or the " +
            s"shed-oldest salvage: maxRuns = ${-cap} sheds to $cap live " +
            "runs instead of failing)")
    }

    out
  }

  /** The emit loop over the post-step run set: collect accepting
    * configurations that pass the window gates, applying the after-match
    * skip strategy's WITHIN-STEP suppression (SkipToNext's one-match-
    * per-run, SkipPastLastEvent's first-match-only, the anchor
    * strategies' prune threshold). `mutateRuns = false` (the `$`-anchor
    * path) computes the same match vector but leaves `S` untouched —
    * skip strategies act on future events, which the end anchor's only
    * emit point (the partition's last event) does not have.
    *
    * Anchor-strategy prune threshold (`pruneBelow`): runs whose first
    * take precedes it are dead (suppressed in this loop, filtered from
    * S below). Monotone within the step by construction (a later
    * match's anchor is >= its own firstTake >= any earlier threshold it
    * survived), and needs no carry across steps: the post-loop filter
    * physically removes pruned runs, and future runs first-take at
    * steps >= the current one.
    */
  private def emitPhase(ts: Long, mutateRuns: Boolean): Vector[Match] = {
    val out = Vector.newBuilder[Match]
    val lazyDelete = scala.collection.mutable.HashSet.empty[Int]
    var pruneBelow = 0
    var clearAll = false
    var j = 0
    var done = false
    while (j < S.length && !done) {
      val (k, conf) = S(j)
      j += 1
      // window check: an accepting config's last take is always the
      // current step/event, so the position span is i - firstTake and the
      // event-time span is ts - firstTakeTs
      // `^` gate: the match's FIRST TAKE must be the partition's first
      // event. Seed suppression alone is not enough — a pattern with an
      // optional prefix (`a? -> b`, Dst.hasUntakenIgnorePrefix) lets the
      // step-1 run ignore events BEFORE its first take, starting the
      // match later; such an accept is not a match under the anchor
      // (accepting configs always have firstTake >= 1: acceptance
      // requires a take)
      if (!lazyDelete.contains(k) && conf.firstTake >= pruneBelow &&
          (!anchorStart || conf.firstTake == 1) &&
          dst.accept(conf) &&
          within.forall(w => i - conf.firstTake < w) &&
          withinTime.forall(wt => ts - conf.firstTakeTs < wt.span)) {
        out += dst.output(conf)
        strategy match {
          case AfterMatchStrategy.NoSkip => ()
          case AfterMatchStrategy.SkipToNext =>
            lazyDelete += k
          case AfterMatchStrategy.SkipPastLastEvent =>
            clearAll = true; done = true
          // anchor miss (stamp 0) raises nothing — documented NoSkip
          // fallback for matches that bound no event to the anchor
          case AfterMatchStrategy.SkipToFirst(_) =>
            if (conf.anchorFirst > pruneBelow) pruneBelow = conf.anchorFirst
          case AfterMatchStrategy.SkipToLast(_) =>
            if (conf.anchorLast > pruneBelow) pruneBelow = conf.anchorLast
        }
      }
    }
    if (mutateRuns) {
      if (clearAll) S.clear()
      if (lazyDelete.nonEmpty)
        S = S.filterNot { case (k, _) => lazyDelete.contains(k) }
      // anchor-strategy prune: untaken runs (firstTake 0) survive — they
      // are duplicates of fresh current-step spawns, which no threshold
      // can precede (see the strategy's doc on `AfterMatchStrategy`)
      if (pruneBelow > 0)
        S = S.filter { case (_, c) =>
          c.firstTake == 0 || c.firstTake >= pruneBelow
        }
    }
    out.result()
  }
}

object Executor {
  /** The executor of `query` over its compiled automaton `dst`: the
    * query's strategy, windows and anchors, with the live-run valve
    * `maxRuns`. Every operator builds its executors here.
    */
  def forQuery(query: CepQuery, dst: Dst, maxRuns: Option[Int],
      captureTimeouts: Boolean): Executor =
    new Executor(dst, query.strategy, maxRuns, query.within,
      query.withinTime, captureTimeouts, query.anchorStart, query.anchorEnd)
}

/** The stream-application operator: reset, feed events in order, concatenate
  * emitted matches (`/root/reference/reflinkcep/operator.py:15-20`).
  */
final class CepOperator(val executor: Executor) {
  def apply(input: IterableOnce[Event]): Vector[Match] = {
    executor.reset()
    val out = Vector.newBuilder[Match]
    if (executor.anchorEnd) {
      // `$` needs the last-event flag — one-element lookahead
      val it = input.iterator.buffered
      while (it.hasNext) {
        val ev = it.next()
        out ++= executor.feed(ev, isLast = !it.hasNext)
      }
    } else input.iterator.foreach(ev => out ++= executor.feed(ev))
    out.result()
  }
}

object CepOperator {
  def fromQuery(query: CepQuery): CepOperator =
    new CepOperator(Executor.forQuery(query, DstCompiler.compile(query),
      None, captureTimeouts = false))

  /** One-shot convenience: run `query` over an ordered event sequence. */
  def run(query: CepQuery, input: IterableOnce[Event]): Vector[Match] =
    fromQuery(query).apply(input)

  /** As `run`, also collecting the TIMEOUT side output (partial runs
    * whose window provably closed — `Executor.drainTimedOut`), each
    * projected in pattern-name order like a match. The in-memory face
    * of `SparkCep.timedOutPartials`; requires a windowed query.
    */
  def runWithTimeouts(query: CepQuery, input: IterableOnce[Event])
      : (Vector[Match], Vector[Match]) = {
    CepMemberFeed.requireWindowed(query, "runWithTimeouts")
    val feed = new CepMemberFeed(Seq(CepMember.single(query)), None,
      captureTimeouts = true)
    val ms = Vector.newBuilder[Match]
    val ts = Vector.newBuilder[Match]
    input.iterator.foreach { ev =>
      ms ++= feed.feed(0, ev, isLast = false)
      ts ++= feed.timedOut(0)
    }
    (ms.result(), ts.result())
  }
}

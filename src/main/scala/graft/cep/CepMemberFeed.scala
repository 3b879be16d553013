package graft.cep

/** One query a CEP operator runs: `name` labels its rows in the shared
  * shapes and its state in the shared streaming layouts, and `gate` is
  * the set of event types it is fed (`SparkCep.memberFeedTypes`); `null`
  * feeds it every event.
  */
private[graft] final case class CepMember(name: String, query: CepQuery,
    gate: Set[String])

private[graft] object CepMember {
  /** The one member of a single-query operator, fed every event. */
  def single(query: CepQuery): CepMember = CepMember("", query, null)
}

/** The per-key member step every operator shares (`CepFeedLoop`,
  * `StreamingCep.perKey`, `CepOperator.runWithTimeouts`): one executor
  * per member, built by `Executor.forQuery` over `dsts`, fed one event at
  * a time through the member's gate. An event outside a member's gate is
  * invisible to it (the prefilter proof), so skipping the feed leaves its
  * run set exactly as feeding would.
  *
  * It also keeps the operator's counts: matches over the feed's life,
  * runs shed since the last `reset` (the current key) and over the
  * feed's life, and the largest live-run set any member held after any
  * event.
  */
private[graft] final class CepMemberFeed(members: Seq[CepMember],
    maxRuns: Option[Int], captureTimeouts: Boolean, dsts: Seq[Dst]) {

  def this(members: Seq[CepMember], maxRuns: Option[Int],
      captureTimeouts: Boolean) =
    this(members, maxRuns, captureTimeouts,
      members.map(m => DstCompiler.compile(m.query)))

  val executors: Array[Executor] = members.zip(dsts).map { case (m, d) =>
    Executor.forQuery(m.query, d, maxRuns, captureTimeouts)
  }.toArray
  private val gates = members.map(_.gate).toArray
  /** Each member's pattern names in declared order. */
  val names: Array[Vector[String]] =
    members.map(m => Pattern.names(m.query.patseq)).toArray
  private var matches, doneShed = 0L
  private var peak = 0

  /** Start a new key: every executor forgets its runs. */
  def reset(): Unit = { doneShed += keyShed; executors.foreach(_.reset()) }

  /** Feed `ev` to member `q` if its gate admits the event type; the
    * matches it completes (none when gated out).
    */
  def feed(q: Int, ev: Event, isLast: Boolean): Vector[Match] = {
    val gate = gates(q)
    val tpe = ev.tpe
    if (gate == null || (tpe != null && gate.contains(tpe))) {
      val ex = executors(q)
      val hits = ex.feed(ev, isLast)
      matches += hits.size
      val runs = ex.runCount
      if (runs > peak) peak = runs
      hits
    } else Vector.empty
  }

  /** The partial runs member `q`'s last feed timed out (`captureTimeouts`
    * only), each bound in pattern-name order like a match.
    */
  def timedOut(q: Int): Vector[Match] = {
    val ex = executors(q)
    ex.drainTimedOut().map(ex.partialOutput(_, names(q)))
  }

  /** The current key's runs shed by the valve, over every member. */
  def keyShed: Long = {
    var s = 0L
    var q = 0
    while (q < executors.length) { s += executors(q).shedCount; q += 1 }
    s
  }

  /** Matches over every key fed. */
  def matchCount: Long = matches

  /** Runs shed over every key fed. */
  def shedCount: Long = doneShed + keyShed

  /** The largest live-run set any member held after any event. */
  def peakLiveRuns: Int = peak
}

private[graft] object CepMemberFeed {
  /** The timeout output's contract: only a windowed query times out. */
  def requireWindowed(query: CepQuery, opName: String): Unit =
    require(query.within.isDefined || query.withinTime.isDefined,
      s"$opName needs a windowed query (within/withinTime) — an " +
        "unwindowed run never times out")
}

/** The match renderings batch and streaming share; each side wraps them
  * in its own row type. A bound event's order id is its first attribute
  * (`attrs(0)`): both row decoders write the order column first, the
  * streaming state keeps attribute order, and navigation values append.
  */
private[graft] object CepMatchIds {
  def orderId(ev: Event): Long = ev.attrs(0)._2

  /** The events `m` bound to pattern name `n` (empty when unbound). */
  private def bound(m: Match, n: String): Vector[Event] = {
    // linear scan: a Match holds 1-3 tiny components — beats building a
    // map per match
    var i = 0
    while (i < m.length) { if (m(i)._1 == n) return m(i)._2; i += 1 }
    Vector.empty
  }

  /** The order ids `m` bound to pattern name `n`. */
  def of(m: Match, n: String): Array[Long] = {
    val evs = bound(m, n)
    val arr = new Array[Long](evs.length)
    var e = 0
    while (e < arr.length) { arr(e) = orderId(evs(e)); e += 1 }
    arr
  }

  /** The bound order ids `','`-joined within a pattern name and
    * `';'`-joined across `names` in declared order.
    */
  def binding(m: Match, names: Vector[String]): String = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < names.length) {
      if (j > 0) sb.append(';')
      val evs = bound(m, names(j))
      var e = 0
      while (e < evs.length) {
        if (e > 0) sb.append(',')
        sb.append(orderId(evs(e)))
        e += 1
      }
      j += 1
    }
    sb.toString
  }
}

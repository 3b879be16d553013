package graft.cep

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming CEP: per-key `flatMapGroupsWithState` holding the
  * NFA run-set `(i, S)` as explicit state (SURVEY.md §3 target lifecycle).
  *
  * The reference semantics are processing-time / arrival-order
  * (`exp/genjava.py:93-94` pins `inProcessingTime`), so events are fed in
  * micro-batch arrival order per key — there is no watermark/event-time
  * reordering, matching the reference exactly. State size is bounded by the
  * pattern's live-run count; skip strategies and `until` prune it.
  *
  * The DST is compiled once on the driver and ships, immutable, in the
  * task closure (compilation is deterministic, so state names in stored
  * runs resolve stably across batches and restarts).
  *
  * All ten public operators are thin wrappers over ONE private per-key
  * core (`perKey`): a member list (k = 1 for the single-query
  * operators), a feed order (arrival, or watermark release with the
  * NEXT hold-back) and an emission (rendered matches, or drained
  * timeouts). Decode, cross-variant refusal, nav/SHOW EMPTY restore,
  * feed, idle-key GC and encode exist once; the four on-disk shapes
  * hide behind `StateLayout`.
  */
object StreamingCep {

  /** State-store configuration for corpus-scale streaming CEP: the
    * default HDFSBackedStateStoreProvider keeps EVERY key's state (k
    * codec-versioned run-sets + the reorder buffer in the shared
    * operators) as deserialized JVM objects in executor memory — at
    * corpus-scale key cardinality that map is the first OOM. RocksDB
    * keeps working state off-heap/on-disk with an in-memory block
    * cache, so per-executor memory is bounded by the cache size, not
    * the key count; changelog checkpointing uploads per-batch deltas
    * instead of full snapshots, keeping commit latency flat as state
    * grows.
    *
    * The provider is a per-QUERY setting read from the session conf at
    * stream start — apply via `useRocksDbStateStore(spark)` (or merge
    * `rocksDbStateStoreConfs` into the session/builder) BEFORE
    * `.writeStream...start()`. The state PAYLOAD is provider-agnostic
    * (the store holds the `CepStateCodec` versioned binary + Spark's
    * row encoding of the state case classes), so checkpoints restart
    * under RocksDB exactly as under the default provider — pinned by
    * `RocksDbCepStateSpec`. The provider itself, however, must not be
    * switched on an EXISTING checkpoint's state directory (Spark
    * persists provider-specific files); pick it at first start.
    */
  val rocksDbStateStoreConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // delta uploads per commit instead of full rocksdb snapshots
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Apply `rocksDbStateStoreConfs` to the session (takes effect for
    * queries started afterwards).
    */
  def useRocksDbStateStore(spark: org.apache.spark.sql.SparkSession): Unit =
    rocksDbStateStoreConfs.foreach { case (k, v) => spark.conf.set(k, v) }

  /** Serializable event binding (attr names/values in order; `sNames`/
    * `sVals` are the STRING attributes — round 16, codec v6).
    */
  final case class SerEvent(tpe: String, names: Seq[String], vals: Seq[Long],
      sNames: Seq[String] = Nil, sVals: Seq[String] = Nil)

  /** A buffered not-yet-processed event for the event-time variant. */
  final case class BufEvent(ts: Long, ord: Long, tpe: String,
      names: Seq[String], vals: Seq[Long],
      sNames: Seq[String] = Nil, sVals: Seq[String] = Nil)

  /** A not-yet-final empty-match candidate site (streaming `SHOW EMPTY
    * MATCHES`, round 17 — codec v7): the fed event's ordinal, the
    * withinTime clock at its feed, and its per-key feed index. A site
    * leaves the set either covered (a reported match's prune-adjusted
    * span reached it) or FINAL (the within window provably closed with
    * no covering match → one empty-match summary row emits).
    */
  final case class PendingSite(ord: Long, ts: Long, step: Int)

  /** Event-time state: NFA runs + the reorder buffer, plus (v3) the
    * withinTime clock floor and the writing operator's variant tag, plus
    * (v5) the navigation signature and per-key physical-row history
    * (streaming `PREV` — see `checkNavSig`), plus (v7) the SHOW EMPTY
    * site tracker (`trackedEmpty` tells a restore whether the writer
    * tracked sites — see `EmptySiteTracker.restore`).
    */
  final case class CepStateEt(step: Int, runs: Seq[SerRun],
      buffer: Seq[BufEvent], clock: Long = Long.MinValue,
      variant: Byte = CepStateCodec.VariantUnknown,
      navSig: Seq[String] = Nil, navHist: Seq[SerEvent] = Nil,
      trackedEmpty: Boolean = false, pending: Seq[PendingSite] = Nil)

  /** One live NFA run, state referenced by name. Carried in the
    * VERSIONED BINARY state payload (`CepStateCodec`), so adding fields
    * here means bumping `CepStateCodec.Version` and extending the
    * payload walk — the Spark state-store schema itself never changes.
    */
  final case class SerRun(start: Int, q: String, lastTake: Boolean,
      revEps: Seq[String], etaKeys: Seq[String], etaVals: Seq[Long],
      ctxKeys: Seq[String], ctxVals: Seq[Seq[SerEvent]],
      firstTake: Int = 0, firstTakeTs: Long = 0L,
      anchorFirst: Int = 0, anchorLast: Int = 0)

  /** Decode an event from a projected row: `ordIdx`/`typeIdx` locate the
    * order and type columns, attrs start at `attrStart` (shared by both
    * streaming variants, whose projections differ only by the ts column).
    * A null order value fails loudly, matching the batch exec path
    * (`CepRowDecode`) — `getLong` on a null unboxes to 0, which would
    * silently corrupt match ids and `(ts, ord)` release order.
    */
  private def rowToEvent(row: Row, ordIdx: Int, typeIdx: Int, attrStart: Int,
      attrNames: Vector[String], orderName: String,
      strFlags: Array[Boolean]): Event = {
    if (row.isNullAt(ordIdx)) throw new IllegalArgumentException(
      "CEP order column is null — order values must be non-null and " +
        "unique per key")
    val attrs = Vector.newBuilder[(String, Long)]
    var strs: scala.collection.mutable.Builder[(String, String),
      Vector[(String, String)]] = null
    attrs += orderName -> row.getLong(ordIdx)
    var i = attrStart
    while (i < row.length) {
      if (!row.isNullAt(i)) {
        if (strFlags(i)) {
          if (strs == null) strs = Vector.newBuilder
          strs += attrNames(i - attrStart + 1) -> row.getString(i)
        } else attrs += attrNames(i - attrStart + 1) -> row.getLong(i)
      }
      i += 1
    }
    Event(row.getString(typeIdx), attrs.result(),
      if (strs == null) Vector.empty else strs.result())
  }

  /** `(key, one array<bigint> of order ids per pattern name)`. */
  private def orderIdsRow(key: Any, byName: Map[String, Vector[Event]],
      piNames: Vector[String], orderName: String): Row =
    Row.fromSeq(key +: piNames.map(n =>
      byName.getOrElse(n, Vector.empty).map(_(orderName))))

  /** The per-key stateful dispatch: group the prepared frame by its key
    * column (ordinal 0) under the key's EXACT type and run `f` per key
    * with explicit state/output encoders. Long (numeric/unkeyed), string
    * and struct (multi-column `PARTITION BY`) keys are supported — the
    * state store's KEY schema is the key's own type, so key identity is
    * exact end-to-end (no hashed-key collision contract), and Spark's
    * state schema check refuses a checkpoint whose key type changed,
    * loudly. Numeric keys keep the exact long layout earlier rounds
    * wrote — their checkpoints restore unchanged. Other key types: cast
    * to long or string upstream, or wrap in a struct.
    */
  private def groupedFlatMap[S](prepared: DataFrame, keyDt: DataType,
      timeout: GroupStateTimeout, stateEnc: Encoder[S],
      outEnc: Encoder[Row])(
      f: (Any, Iterator[Row], GroupState[S]) => Iterator[Row])
      : Dataset[Row] = keyDt match {
    case LongType =>
      prepared.groupByKey(_.getLong(0))(Encoders.scalaLong)
        .flatMapGroupsWithState[S, Row](OutputMode.Append(), timeout)(
          (k: Long, rows, st) => f(k, rows, st))(stateEnc, outEnc)
    case StringType =>
      prepared.groupByKey(_.getString(0))(Encoders.STRING)
        .flatMapGroupsWithState[S, Row](OutputMode.Append(), timeout)(
          (k: String, rows, st) => f(k, rows, st))(stateEnc, outEnc)
    case st0: StructType =>
      prepared.groupByKey(_.getStruct(0))(Encoders.row(st0))
        .flatMapGroupsWithState[S, Row](OutputMode.Append(), timeout)(
          (k: Row, rows, st) => f(k, rows, st))(stateEnc, outEnc)
    case other => throw new IllegalArgumentException(
      s"streaming CEP key type $other is not supported — cast the key " +
        "to a long or string upstream, or use a (multi-column) struct " +
        "key (batch supports any key type)")
  }

  private def toSer(e: Event): SerEvent =
    SerEvent(e.tpe, e.attrs.map(_._1), e.attrs.map(_._2),
      e.strs.map(_._1), e.strs.map(_._2))
  private def fromSer(e: SerEvent): Event =
    Event(e.tpe, e.names.zip(e.vals).toVector,
      e.sNames.zip(e.sVals).toVector)
  private def fromBuf(e: BufEvent): Event =
    Event(e.tpe, e.names.zip(e.vals).toVector,
      e.sNames.zip(e.sVals).toVector)

  /** One member's run state as a codec payload: step, runs, clock floor,
    * writer variant and SHOW EMPTY sites (buffer and nav are per key —
    * the layout decides where they go).
    */
  private def snapshotState(ex: Executor, variant: Byte,
      tracker: EmptySiteTracker): CepStateEt = {
    val (step, runs) = ex.snapshot
    CepStateEt(step, runs.map { case (k, c) =>
      SerRun(k, c.q.name, c.lastTake, c.revEpsClosure.toSeq,
        c.eta.keys.toSeq, c.eta.values.toSeq,
        c.ctx.keys.toSeq, c.ctx.values.toSeq.map(_.map(toSer)),
        c.firstTake, c.firstTakeTs, c.anchorFirst, c.anchorLast)
    }, Nil, ex.clock, variant,
      trackedEmpty = tracker.tracking, pending = tracker.pending)
  }

  private def restoreState(ex: Executor, s: CepStateEt): Unit =
    ex.restore(s.step, s.runs.toVector.map { r =>
      (r.start, Configuration(
        ex.stateByName(r.q),
        r.etaKeys.zip(r.etaVals).toMap,
        r.ctxKeys.zip(r.ctxVals.map(_.map(fromSer).toVector)).toMap,
        r.lastTake,
        r.revEps.toSet,
        r.firstTake,
        r.firstTakeTs,
        r.anchorFirst,
        r.anchorLast))
    }, s.clock)

  /** Navigation contract for the streaming operators: `PREV` is
    * supported everywhere via a per-key history of the last maxK
    * physical rows carried in state (codec v5); `NEXT` only in event
    * time (`allowNext`), whose watermark hold-back makes the followers
    * final — the arrival-order operators reject it, it references
    * FOLLOWING rows the unbounded stream has not produced. The navigated
    * base attribute must be in the operator's projection (`attrCols` or
    * the order column): unlike batch, where any input column can be
    * navigated (the lag/lead window reads the raw frame), the history is
    * built from the projected event, so a base outside the projection
    * would silently read as absent. Nav queries take no pre-NFA filter
    * (`PREV` observes rows the filter would drop — exactly the batch
    * navigation path's rule) and forgo the idle-key state GC (the
    * history on a run-free key is itself semantics), so per-key state is
    * O(maxK × bases) for every key ever seen.
    */
  private def streamingNavs(query: CepQuery,
      spec: SparkCep.CepSpec, allowNext: Boolean): Vector[Nav] = {
    val navs = Nav.ofQuery(query)
    val nexts = navs.filterNot(_.prev)
    if (nexts.nonEmpty && !allowNext)
      throw new IllegalArgumentException(
        "CEP navigation NEXT is not supported by the ARRIVAL-ORDER " +
          "streaming operators (" +
          nexts.map(_.sqlForm).mkString(", ") + "): it references " +
          "FOLLOWING physical rows the unbounded stream has not " +
          "produced yet. PREV is supported everywhere; NEXT is " +
          "supported by the EVENT-TIME operators, single-query, shared " +
          "and timeouts (matchPatternEventTime / " +
          "matchPatternMeasuresEventTime / matchPatternsSharedEventTime " +
          "/ matchPatternsSharedMeasuresEventTime / " +
          "timedOutPartialsEventTime), whose watermark hold-back makes " +
          "the followers final — or run the query in batch.")
    navs.foreach { nv =>
      require(nv.base == spec.orderCol || spec.attrCols.contains(nv.base),
        s"CEP streaming navigation ${nv.sqlForm}: base attribute " +
          s"'${nv.base}' is not in the operator's attrCols — streaming " +
          "navigation reads history from the projected event, so add " +
          s"'${nv.base}' to CepSpec.attrCols")
    }
    navs
  }

  /** NEXT augmentation over a watermark-release slice: event `i` of
    * `sortedReady` reads each `NEXT(base, k)` value from slice position
    * `i + k`, which the hold-back (only the first `length - maxK` events
    * feed the NEXT members) guarantees exists and is final. Last
    * occurrence of the base wins — parity with the generic attribute
    * lookup.
    */
  private def withNextFromSlice(nextNavs: Vector[Nav],
      sortedReady: Vector[BufEvent], ev: Event, i: Int): Event =
    if (nextNavs.isEmpty) ev
    else {
      val extra = Vector.newBuilder[(String, Long)]
      nextNavs.foreach { nv =>
        val f = sortedReady(i + nv.k)
        val idx = f.names.lastIndexOf(nv.base)
        if (idx >= 0) {
          extra += nv.valueName -> f.vals(idx)
          extra += nv.hasName -> 1L
        } else extra += nv.hasName -> 0L
      }
      Event(ev.tpe, ev.attrs ++ extra.result(), ev.strs)
    }

  /** Per-key navigation feed state: ONE history per key over the union
    * of the members' `PREV` navigations (the physical rows are common to
    * every member), instantiated per key invocation, restored from the
    * decoded state (validates the signature), `augment`ing each event IN
    * FEED ORDER (arrival order for the processing-time operators,
    * watermark-release `(ts, ord)` order for the event-time ones —
    * whatever order the NFA consumes is the order PREV sees), and
    * persisted as `sig`/`serHist`. A key with an ACTIVE nav feed must
    * skip the idle-key state GC.
    */
  private final class NavFeed(navs: Vector[Nav]) {
    val sig: Seq[String] = navs.map(_.valueName)
    private val bases = navs.map(_.base).toSet
    private val maxK = navs.map(_.k).maxOption.getOrElse(0)
    private var hist: Vector[Event] = Vector.empty
    def active: Boolean = navs.nonEmpty
    def restore(st: CepStateEt): Unit = {
      checkNavSig(st.navSig, sig)
      hist = st.navHist.map(fromSer).toVector
    }
    def augment(ev: Event): Event =
      if (navs.isEmpty) ev
      else {
        val a = Nav.augmentFromHistory(ev, hist, navs)
        hist = (hist :+ Nav.historyEntry(ev, bases)).takeRight(maxK)
        a
      }
    def serHist: Seq[SerEvent] = hist.map(toSer)
  }

  /** Streaming `ONE ROW PER MATCH SHOW EMPTY MATCHES` (round 17): the
    * per-key empty-match site tracker. Batch derives sites from the
    * key's reported matches once no live run can cover them
    * (`CepMeasures.KeyMatches`); a stream cannot close that set — but a
    * WINDOWED query (within/withinTime) makes each site's status final
    * in bounded feed distance: a match
    * STARTING at position p takes its first event AT p, and the
    * executor's accept guard (`i - firstTake < w`,
    * `tsAttr - firstTakeTs < span`) kills every run started at p once
    * w more events fed (positional) or the monotone tsAttr clock
    * passed `ts_p + span` (time) — so after that point p's site status
    * cannot change. The tracker mirrors the batch site rules exactly:
    *
    *  - every fed event enters the pending set (under the `^` anchor:
    *    only the key's FIRST event — the only attempt site);
    *  - every reported match removes the pending ordinals its
    *    prune-adjusted span covers ([[CepMeasures.siteSpan]], the rule
    *    batch shares), everything for `^`;
    *  - `flush` emits (and drops) every pending site whose window
    *    provably closed — by EITHER bound when both are declared.
    *
    * Pending size is bounded by the window (sites flush as the feed
    * advances), the same state-bound argument `within` already makes
    * for the run set. Feed-driven throughout: correct for BOTH the
    * arrival-order and the event-time operators (each tracks its own
    * feed order, which is the order its matches see).
    */
  private[cep] final class EmptySiteTracker(active: Boolean,
      strategy: AfterMatchStrategy, anchorStart: Boolean,
      within: Option[Int], withinTimeSpan: Option[Long]) {
    private var pend: Vector[PendingSite] = Vector.empty
    def pending: Vector[PendingSite] = pend
    def tracking: Boolean = active
    def restore(st: CepStateEt): Unit = if (active) {
      // a site tracked before the checkpoint must survive it — state
      // written by a pre-v7 build (or a non-SHOW-EMPTY run) mid-key
      // would silently LOSE sites, so refuse, mirroring checkNavSig
      if (!st.trackedEmpty && st.step > 0)
        throw new IllegalStateException(
          "CEP streaming checkpoint was written without SHOW EMPTY " +
            "MATCHES site tracking, but the query declares it — " +
            "empty-match rows for already-fed events would be lost. " +
            "Resume without SHOW EMPTY MATCHES, or discard the " +
            "checkpoint directory.")
      pend = st.pending.toVector
    }
    def onFeed(ord: Long, ts: Long, step: Int): Unit = if (active) {
      // feed indices are 1-based (executor step counter semantics —
      // `firstTake == 0` is the no-take sentinel), so the key's first
      // event ever carries step 1
      if (!anchorStart) pend = pend :+ PendingSite(ord, ts, step)
      else if (step == 1) pend = Vector(PendingSite(ord, ts, step))
    }
    def onMatch(byName: Map[String, Vector[Event]],
        orderName: String): Unit = if (active && pend.nonEmpty) {
      if (anchorStart) { pend = Vector.empty; return }
      CepMeasures.siteSpan(byName, orderName, strategy).foreach {
        case (start, end) =>
          pend = pend.filterNot(p => p.ord >= start && p.ord <= end)
      }
    }
    /** Sites whose window closed, removed from the set — one empty
      * summary row each. `stepNow` = total events fed, `clock` = the
      * executor's monotone tsAttr floor.
      */
    def flush(stepNow: Int, clock: Long): Vector[PendingSite] =
      if (!active || pend.isEmpty) Vector.empty
      else {
        val (done, keep) = pend.partition(p =>
          within.exists(w => stepNow >= p.step + w) ||
            withinTimeSpan.exists(t =>
              clock != Long.MinValue && clock >= p.ts + t))
        pend = keep
        done
      }
  }

  /** Checkpoint contract for streaming navigation: the stored signature
    * (the nav value names the writer maintained history for) must equal
    * the query's — a nav query restoring a sig-less or different-sig
    * checkpoint would compute wrong PREV values across the restart
    * boundary with no error (missing or misaligned history). The
    * converse — a non-nav query restoring a nav checkpoint — is allowed:
    * the run state is independent of the history, which is simply
    * dropped at the next state write.
    */
  private def checkNavSig(stored: Seq[String], current: Seq[String]): Unit =
    if (current.nonEmpty && stored != current)
      throw new IllegalStateException(
        "CEP streaming checkpoint holds navigation history for [" +
          stored.mkString(", ") + "] but the query navigates [" +
          current.mkString(", ") + "] — PREV values across the restart " +
          "boundary would be wrong. Resume with the original " +
          "navigation set, or discard the checkpoint directory.")

  /** Event-time source policy shared by the single- and multi-query
    * event-time operators — ONE implementation so it cannot drift between
    * formulations: watermark first, then the optional pre-NFA filter,
    * null key/ts drop, canonical `(__key, __ts, __ord, __type, attr…)`
    * projection. `tsCol` stays a TIMESTAMP — a cast would strip the
    * watermark tag and EventTimeTimeout requires a watermarked column in
    * the child plan.
    *
    * The pre-NFA filter must run ABOVE the watermark node: Catalyst
    * pushes deterministic predicates that do not reference the
    * watermark column below `EventTimeWatermark`, and a pushed-down
    * union filter would compute the watermark on the FILTERED stream —
    * a member set whose alphabet drops most events would then stall the
    * reorder-buffer drain (events outside the alphabet never advance
    * the watermark, so buffered in-alphabet events are never released).
    * The filter is therefore applied as `cond OR tsCol IS NULL`: it
    * references the watermark column, which blocks the pushdown (the
    * optimizer's EventTimeWatermark pushdown rule keeps any
    * ts-referencing predicate above the node), and it is semantically
    * identical because ts-null rows are dropped by the source policy
    * immediately after. Non-alphabet events still drop BEFORE the key
    * shuffle and the state store — only the parquet-scan pushdown is
    * traded away, for drain liveness (`EventTimeCepSpec` pins both the
    * plan shape and the drain). A watermark heartbeat therefore needs
    * no special type: ANY event with a non-null key and ts advances
    * the watermark, and events outside the union alphabet are never
    * fed to members.
    */
  private def etPrepare(df: DataFrame,
      filter: Option[org.apache.spark.sql.Column], spec: SparkCep.CepSpec,
      tsCol: String, delay: String): (DataFrame, Vector[String]) = {
    val attrNames: Vector[String] =
      (spec.orderCol +: spec.attrCols.filterNot(_ == spec.orderCol)).toVector
    val withWm = df.withWatermark(tsCol, delay)
    val filtered = filter match {
      case Some(cond) => withWm.filter(cond || col(tsCol).isNull)
      case None       => withWm
    }
    val source = spec.keyCol match {
      case Some(k) =>
        filtered.filter(col(k).isNotNull && col(tsCol).isNotNull)
      case None => filtered.filter(col(tsCol).isNotNull)
    }
    // TYPE-DRIVEN attr projection, same rule as the arrival-order path
    // (`SparkCep.attrProj`): a STRING input column stays a string so
    // `strAttrFlags`/`rowToEvent` land it in `Event.strs` — before
    // round 17 every attr was cast to long here, so a string attr came
    // through all-NULL and the event-time path silently broke the
    // string tier that the arrival-order path advertised.
    val prepared = source.select(
      SparkCep.keyExpr(df, spec).as("__key") +:
        col(tsCol).as("__ts") +:
        col(spec.orderCol).cast(LongType).as("__ord") +:
        col(spec.typeCol).cast(StringType).as("__type") +:
        attrNames.drop(1).map(c => SparkCep.attrProj(source, c)): _*)
    (prepared, attrNames)
  }

  /** Reorder-buffer step of the event-time feed: append non-late
    * arrivals (events already behind the watermark are dropped —
    * standard late-data policy), release the strict prefix below the
    * watermark. Returns (ready, still-buffered).
    *
    * Epoch-0 boundary: BEFORE this buffer ever runs, Spark's own
    * stateful late-row filter drops rows whose event time is <= the
    * current watermark — and the INITIAL watermark is 0, so an event
    * timestamped exactly epoch 0 never reaches the operator at all.
    * Real event times are never epoch 0; synthetic ts columns derived
    * from 0-based ids must offset away from it (the event-time gates
    * use id+1 seconds — found by the `^` anchor, which observes the
    * true first event).
    */
  private def releaseBuffer(prev: Seq[BufEvent], incoming: Vector[BufEvent],
      wmMs: Long): (Vector[BufEvent], Vector[BufEvent]) = {
    val buffered =
      (prev ++ incoming.filter(e => wmMs <= 0 || e.ts >= wmMs)).toVector
    if (wmMs <= 0) (Vector.empty, buffered)
    else buffered.partition(_.ts < wmMs)
  }

  /** Member-set checkpoint contract of both shared layouts: names AND
    * order must match exactly — a count-only check would let a
    * reordered set silently decode one pattern's runs into another
    * executor (DST state names are per-pattern counters like `a:1` that
    * resolve against the wrong pattern without error).
    */
  private def validateMemberNames(stored: Seq[String],
      built: Seq[String]): Unit =
    if (stored != built)
      throw new IllegalStateException(
        s"shared CEP checkpoint holds member states for " +
          s"[${stored.mkString(", ")}] but the operator was built with " +
          s"[${built.mkString(", ")}] — the query set changed across " +
          "restart (names and order are the checkpoint contract); " +
          "discard the checkpoint or restore the original set")

  /** Per-key state of the multi-query shared stream: one codec-versioned
    * member payload per query, in declared query order, plus the member
    * NAMES that wrote them — restore validates names and order exactly,
    * so a reordered or swapped member set can never silently decode one
    * pattern's runs into another executor (a count-only check would:
    * DST state names are per-pattern counters like `a:1` that resolve
    * against the wrong pattern without error). Editing a member's
    * PATTERN under an unchanged name follows the single-pattern
    * operator's semantics: stored run state resolves against the
    * recompiled DST. A DIFFERENT state-store schema from the
    * single-pattern operators (Seq of payloads vs one payload), so a
    * checkpoint can never be restored across operator kinds by
    * accident — Spark's state schema check refuses it before any
    * payload is read.
    *
    * When any member NAVIGATES, `members` carries ONE EXTRA trailing
    * payload — an empty-run `CepStateEt` holding only the shared
    * navigation signature + history. A Seq length is data, not schema,
    * so old checkpoints still decode (k payloads → no nav section, and
    * the signature check then refuses a nav query over them loudly);
    * anything other than k or k+1 payloads is corrupt and refused.
    */
  final case class SharedMultiState(
      names: Seq[String],
      members: Seq[CepStateCodec.VersionedState])

  /** Per-key state of the EVENT-TIME multi-query shared stream: the
    * reorder buffer is stored ONCE (the buffered events are common to
    * every member — that sharing is the point), member run-sets once per
    * query in declared order, names validated on restore exactly as in
    * the arrival-order shared operator. Yet another distinct state-store
    * schema, so cross-operator restores are structurally refused.
    *
    * The buffer rides as a codec-versioned BINARY payload (an empty-run
    * `CepStateEt` carrying only the buffer), NOT as a raw `Seq[BufEvent]`
    * column: a raw product would freeze `BufEvent`'s shape into the
    * Spark state-store schema, and the next field added to it would kill
    * every checkpoint with an opaque schema error — the exact failure
    * mode `CepStateCodec` exists to prevent (its version bump gives an
    * actionable message instead).
    */
  final case class SharedMultiStateEt(
      names: Seq[String],
      bufferPayload: CepStateCodec.VersionedState,
      members: Seq[CepStateCodec.VersionedState])

  // ------------------------------------------------------ the per-key core

  /** One query of the core's member list: its compiled DST, its feed
    * gate (`null` = feed every event; the shared operators' alphabet
    * gate, proven at `SparkCep.memberFeedTypes`) and whether it tracks
    * SHOW EMPTY sites.
    */
  private final case class Member(name: String, query: CepQuery, dst: Dst,
      gate: Set[String], trackEmpty: Boolean)

  /** The member list: `shared` selects the shared state layouts (which
    * carry member names) even for a single member.
    */
  private final case class Members(all: Vector[Member], shared: Boolean)

  /** k = 1 member list of the single-query operators (no feed gate). */
  private def single(query: CepQuery, trackEmpty: Boolean = false): Members =
    Members(Vector(Member("", query, DstCompiler.compile(query), null,
      trackEmpty)), shared = false)

  /** Member list of the shared operators. A SHOW EMPTY member runs
    * GATE-LESS: its sites are the full feed, and its executor's
    * step/clock must advance on the site events themselves (the gate is
    * an optimization the prefilter proof makes invisible, so dropping
    * it only costs ignored feeds).
    */
  private def shared(queries: Seq[(String, CepQuery)], spec: SparkCep.CepSpec,
      trackFlags: Seq[Boolean]): Members =
    Members(queries.toVector.zip(trackFlags).map { case ((n, q), track) =>
      Member(n, q, DstCompiler.compile(q),
        if (track) null else SparkCep.memberFeedTypes(q, spec).orNull, track)
    }, shared = true)

  private sealed trait FeedOrder
  /** Micro-batch arrival order per key (the reference's processing-time
    * order): rows sort by the order column.
    */
  private case object ArrivalOrder extends FeedOrder
  /** Event time: rows buffer per key and feed in `(ts, ord)` order once
    * the watermark passes them, with the NEXT hold-back.
    */
  private final case class WatermarkOrder(tsCol: String, delay: String)
      extends FeedOrder

  /** A per-match output renderer: `(member index, key, bound events by
    * pattern name, order attr)` → one output Row. An empty match (a
    * final SHOW EMPTY site) renders with an empty binding.
    */
  private type Render = (Int, Any, Map[String, Vector[Event]], String) => Row

  private sealed trait Emission
  private final case class Matches(render: Render) extends Emission
  /** The timeout side output: after every feed, the partial runs whose
    * window closed, as `(key, order ids per pattern name)`.
    */
  private final case class Timeouts(piNames: Vector[String]) extends Emission

  /** What a key's stored state restores to: one payload per member, and
    * the payload common to all members, holding the nav signature/history
    * and the reorder buffer; `held` counts the buffer's leading events
    * already fed to the members without NEXT (shared event time only).
    */
  private final case class Restored(members: Seq[CepStateEt],
      common: CepStateEt, held: Int)

  /** The four on-disk state shapes. `write` gets one payload per member
    * (`snapshotState`) and the common payload (nav section, buffer, and
    * the held-tail count in its `step`); each layout keeps exactly
    * the form earlier builds wrote, plus its own refusal and name checks.
    */
  private sealed abstract class StateLayout[S](val eventTime: Boolean)
      extends Serializable {
    def encoder: Encoder[S]
    def read(stored: S, names: Vector[String]): Restored
    def write(names: Vector[String], members: Vector[CepStateEt],
        common: CepStateEt): S
    /** The held NEXT tail is stored with its PREV augmentation applied
      * (shared event time: PREV advances once per event, at first
      * release) instead of raw (single event time: PREV advances at
      * feed time).
      */
    def augmentsTail: Boolean = false
  }

  /** Single-query layouts: ONE `VersionedState` whose payload holds the
    * member's runs and the common nav section and buffer.
    */
  private abstract class SingleLayout(eventTime: Boolean)
      extends StateLayout[CepStateCodec.VersionedState](eventTime) {
    def encoder: Encoder[CepStateCodec.VersionedState] =
      Encoders.product[CepStateCodec.VersionedState]
    protected def refuse(st: CepStateEt): Unit
    def read(stored: CepStateCodec.VersionedState,
        names: Vector[String]): Restored = {
      val st = CepStateCodec.decode(stored)
      refuse(st)
      Restored(Seq(st), st, 0)
    }
    def write(names: Vector[String], members: Vector[CepStateEt],
        common: CepStateEt): CepStateCodec.VersionedState =
      CepStateCodec.encode(members.head.copy(buffer = common.buffer,
        navSig = common.navSig, navHist = common.navHist))
  }

  private object ArrivalSingle extends SingleLayout(eventTime = false) {
    // cross-variant refusal is DETERMINISTIC via the v3 variant tag: the
    // event-time operators feed in watermark-released event-time order,
    // this one in arrival order — restoring their state here changes
    // match multisets even when the reorder buffer happens to be empty.
    // Migrated v2 state (unknown writer) falls back to the old
    // buffer-contents inference.
    protected def refuse(st: CepStateEt): Unit =
      if (st.variant == CepStateCodec.VariantEventTime ||
          (st.variant == CepStateCodec.VariantUnknown && st.buffer.nonEmpty))
        throw new IllegalStateException(
          "CEP streaming state was written by matchPatternEventTime " +
            "and cannot be restored by the arrival-order operator " +
            "(different feed-order semantics; buffered events would " +
            "be lost). Resume with matchPatternEventTime, or " +
            "discard the checkpoint directory.")
  }

  private object EventTimeSingle extends SingleLayout(eventTime = true) {
    // an arrival-order checkpoint restored here would re-feed future
    // events in a different order than the state assumes. Unknown
    // (migrated v2) state is accepted — the pre-v3 behavior, documented
    // rather than inferred.
    protected def refuse(st: CepStateEt): Unit =
      if (st.variant == CepStateCodec.VariantArrival)
        throw new IllegalStateException(
          "CEP streaming state was written by an arrival-order operator " +
            "(matchPattern / matchPatternMeasures / timedOutPartials) and " +
            "cannot be restored by the event-time operators (different " +
            "feed-order semantics). Resume with the arrival-order " +
            "operator, or discard the checkpoint directory.")
  }

  /** `SharedMultiState`: k member payloads plus, when the set
    * navigates, a trailing nav payload.
    */
  private object SharedArrival extends StateLayout[SharedMultiState](false) {
    def encoder: Encoder[SharedMultiState] = Encoders.product[SharedMultiState]
    def read(stored: SharedMultiState, names: Vector[String]): Restored = {
      validateMemberNames(stored.names, names)
      val k = names.size
      if (stored.members.size != k && stored.members.size != k + 1)
        throw new IllegalStateException(
          s"shared CEP checkpoint holds ${stored.members.size} " +
            s"payloads for $k members — corrupt state")
      // a missing nav section restores as an empty signature, which
      // checkNavSig refuses when this query set navigates
      Restored(stored.members.take(k).map(CepStateCodec.decode),
        stored.members.lift(k).map(CepStateCodec.decode)
          .getOrElse(CepStateEt(0, Nil, Nil)), 0)
    }
    def write(names: Vector[String], members: Vector[CepStateEt],
        common: CepStateEt): SharedMultiState = {
      val base = members.map(CepStateCodec.encode)
      SharedMultiState(names,
        if (common.navSig.isEmpty) base
        else base :+ CepStateCodec.encode(common))
    }
  }

  /** `SharedMultiStateEt`: the buffer payload (buffer, nav section and,
    * in its `step`, the held-tail count — a pre-NEXT checkpoint decodes
    * step 0 = nothing pre-fed, which is exactly its truth) plus k member
    * payloads.
    */
  private object SharedEventTime
      extends StateLayout[SharedMultiStateEt](true) {
    def encoder: Encoder[SharedMultiStateEt] =
      Encoders.product[SharedMultiStateEt]
    override def augmentsTail: Boolean = true
    def read(stored: SharedMultiStateEt, names: Vector[String]): Restored = {
      validateMemberNames(stored.names, names)
      val bufEt = CepStateCodec.decode(stored.bufferPayload)
      Restored(stored.members.map(CepStateCodec.decode), bufEt, bufEt.step)
    }
    def write(names: Vector[String], members: Vector[CepStateEt],
        common: CepStateEt): SharedMultiStateEt =
      SharedMultiStateEt(names, CepStateCodec.encode(common),
        members.map(CepStateCodec.encode))
  }

  /** The per-key core behind every streaming operator: validation and
    * the source policy on the driver, then one `flatMapGroupsWithState`
    * that restores the members' executors, feeds them in `order`, emits
    * per `emit`, and writes the state back (or drops an idle key).
    *
    * Source policy: the union pre-NFA filter (for k = 1 exactly the
    * query's own `SparkCep.prefilter`) applies to rendered matches in
    * arrival order and to the shared event-time scan, unless a member
    * navigates (`PREV` observes rows the filter would drop) or tracks
    * SHOW EMPTY sites (sites are defined over ALL events of the key, as
    * batch derives them from the raw table). The single-query event-time
    * operators and the timeout outputs never take it (a dropped event
    * can be the only one that closes a window).
    *
    * Event-time NEXT: the release order makes FOLLOWING rows knowable —
    * released events all carry ts < the watermark, future arrivals all
    * carry ts >= it, so the (ts, ord) successor of a released event
    * that has k released successors is FINAL. The feed therefore HOLDS
    * BACK the last maxK releasable events per key (maxK over every
    * member's NEXT offsets — a smaller-k member rides the larger hold)
    * from the members with NEXT; they stay in the reorder buffer and
    * feed in a later batch, exactly the feed sequence an uninterrupted
    * stream would produce, and every fed event reads its NEXT values
    * from the in-memory release slice. A member WITHOUT NEXT feeds every
    * released event immediately, as it would run alone — so in the
    * shared scan the withheld tail is ALREADY FED to those members, and
    * the layout persists its count (`Restored.held`). A key's tail
    * events feed only when successors arrive; on a stream that simply
    * stops they wait forever, which IS the unbounded-stream reading of
    * "the following row" (batch resolves the partition edge to NULL
    * because it can see the end).
    */
  private def perKey(df: DataFrame, spec: SparkCep.CepSpec,
      maxRunsPerKey: Option[Int], outSchema: StructType)(
      members: Members, order: FeedOrder, emit: Emission): DataFrame = {
    val ms = members.all
    val queries = ms.map(m => m.name -> m.query)
    ms.foreach(m =>
      SparkCep.checkWithinStateBound(m.query, maxRunsPerKey, streaming = true))
    val effMaxRuns =
      SparkCep.resolveMaxRuns(df.sparkSession, queries.map(_._2), maxRunsPerKey)
    val layout: StateLayout[_] = (order, members.shared) match {
      case (ArrivalOrder, false) => ArrivalSingle
      case (ArrivalOrder, true) => SharedArrival
      case (_: WatermarkOrder, false) => EventTimeSingle
      case (_: WatermarkOrder, true) => SharedEventTime
    }
    val memberNavs = ms.map(m =>
      streamingNavs(m.query, spec, allowNext = layout.eventTime))
    val navs = memberNavs.flatten.distinct.sortBy(_.valueName)
    ms.foreach(m => SparkCep.checkStrTyping(df, m.query, spec))
    val timeouts = emit.isInstanceOf[Timeouts]
    val filter =
      if (timeouts || layout == EventTimeSingle || navs.nonEmpty ||
          ms.exists(_.trackEmpty)) None
      else SparkCep.unionPrefilter(queries, spec)
    val (prepared, attrNames) = order match {
      case ArrivalOrder => SparkCep.prepareWithFilter(df, filter, spec)
      case WatermarkOrder(tsCol, delay) =>
        etPrepare(df, filter, spec, tsCol, delay)
    }
    val strFlags = SparkCep.strAttrFlags(prepared)
    val orderName = attrNames.head
    val nextNavs = navs.filterNot(_.prev)
    val prevNavs = navs.filter(_.prev)
    val holdBack = nextNavs.map(_.k).maxOption.getOrElse(0)
    val holdsNext = memberNavs.map(_.exists(!_.prev))
    // idle-key state GC: a key whose members hold NO live runs is
    // semantically a fresh key (every semantic quantity is a step/clock
    // DIFFERENCE within a live run, so resetting the counters is
    // invisible) — remove the entry instead of storing it, so the state
    // store scales with keys that have LIVE RUNS, not with every key
    // ever seen. EXCEPT: withinTime queries (the persisted clock floor
    // on a run-free key is itself semantics — the loud rewound-clock
    // refusal pinned by CheckpointRestartSpec), `^`-anchored queries
    // (the step counter is semantics), navigation (the physical-row
    // history feeds the NEXT event's PREV), pending SHOW EMPTY sites and
    // buffered events.
    val gcEligible = prevNavs.isEmpty &&
      ms.forall(m => m.query.withinTime.isEmpty && !m.query.anchorStart)
    val names = ms.map(_.name)
    val variant =
      if (layout.eventTime) CepStateCodec.VariantEventTime
      else CepStateCodec.VariantArrival
    val timeout =
      if (layout.eventTime) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def run[S](layout: StateLayout[S]): Dataset[Row] =
      groupedFlatMap[S](prepared, SparkCep.keyType(df, spec), timeout,
        layout.encoder, Encoders.row(outSchema)) { (key, rows, state) =>
        val exs = ms.map(m => new Executor(m.dst, m.query.strategy,
          effMaxRuns, m.query.within, m.query.withinTime,
          captureTimeouts = timeouts, anchorStart = m.query.anchorStart))
        val trackers = ms.map(m => new EmptySiteTracker(m.trackEmpty,
          m.query.strategy, m.query.anchorStart, m.query.within,
          m.query.withinTime.map(_.span)))
        val nf = new NavFeed(prevNavs)
        val steps = new Array[Int](ms.length)
        val restored =
          if (state.exists) Some(layout.read(state.get, names)) else None
        restored.foreach { r =>
          r.members.zipWithIndex.foreach { case (st, i) =>
            restoreState(exs(i), st)
            trackers(i).restore(st)
            steps(i) = st.step
          }
          nf.restore(r.common)
        }
        val out = Vector.newBuilder[Row]
        def feed(i: Int, ev: Event): Unit = {
          val g = ms(i).gate
          if (g == null || (ev.tpe != null && g.contains(ev.tpe))) {
            val ex = exs(i)
            val found = ex.feed(ev)
            steps(i) += 1
            if (trackers(i).tracking)
              trackers(i).onFeed(ev(orderName), ex.clock, steps(i))
            emit match {
              case Matches(render) => found.foreach { m =>
                val byName = m.toMap
                trackers(i).onMatch(byName, orderName)
                out += render(i, key, byName, orderName)
              }
              case Timeouts(piNames) => ex.drainTimedOut().foreach { c =>
                out += orderIdsRow(key, ex.partialOutput(c, piNames).toMap,
                  piNames, orderName)
              }
            }
          }
        }
        // (released events held back from the NEXT members, arrivals
        // still waiting for the watermark)
        val (tail, waiting) = order match {
          case ArrivalOrder =>
            rows.toVector.sortBy(_.getLong(1)).foreach { row =>
              val ev = nf.augment(
                rowToEvent(row, 1, 2, 3, attrNames, orderName, strFlags))
              ms.indices.foreach(feed(_, ev))
            }
            (Vector.empty[BufEvent], Vector.empty[BufEvent])
          case _: WatermarkOrder =>
            val incoming = rows.map { row =>
              val ev = rowToEvent(row, 2, 3, 4, attrNames, orderName, strFlags)
              // millisecond precision — sub-second out-of-order events
              // must still sort by true event time
              BufEvent(row.getTimestamp(1).getTime, row.getLong(2), ev.tpe,
                ev.attrs.map(_._1), ev.attrs.map(_._2),
                ev.strs.map(_._1), ev.strs.map(_._2))
            }.toVector
            val held = restored.fold(0)(_.held)
            val (ready, waiting) = releaseBuffer(
              restored.fold(Seq.empty[BufEvent])(_.common.buffer), incoming,
              state.getCurrentWatermarkMs())
            val sorted = ready.sortBy(e => (e.ts, e.ord))
            val feedCount = math.max(0, sorted.length - holdBack)
            // events below `held` were augmented when first released and
            // carry their nav attrs in the stored tail
            val pre = sorted.zipWithIndex.map { case (e, i) =>
              if (layout.augmentsTail && i >= held) nf.augment(fromBuf(e))
              else fromBuf(e)
            }
            sorted.indices.foreach { i =>
              val toNext = i < feedCount // NEXT members' frontier
              val toPlain = i >= held    // the other members' frontier
              // built on first use: a raw-tail layout advances PREV
              // history only for events some member is fed
              lazy val ev =
                if (!layout.augmentsTail)
                  nf.augment(withNextFromSlice(nextNavs, sorted, pre(i), i))
                else if (toNext) withNextFromSlice(nextNavs, sorted, pre(i), i)
                else pre(i)
              ms.indices.foreach { m =>
                if (if (holdsNext(m)) toNext else toPlain) feed(m, ev)
              }
            }
            val tail =
              if (!layout.augmentsTail) sorted.drop(feedCount)
              else (feedCount until sorted.length).map { i =>
                val (e, a) = (sorted(i), pre(i))
                BufEvent(e.ts, e.ord, a.tpe, a.attrs.map(_._1),
                  a.attrs.map(_._2), a.strs.map(_._1), a.strs.map(_._2))
              }.toVector
            (tail, waiting)
        }
        emit match {
          case Matches(render) => ms.indices.foreach { i =>
            trackers(i).flush(steps(i), exs(i).clock).foreach { _ =>
              out += render(i, key, Map.empty[String, Vector[Event]], orderName)
            }
          }
          case _: Timeouts => ()
        }
        if (gcEligible && exs.forall(_.liveRunCount == 0) &&
            trackers.forall(_.pending.isEmpty) && tail.isEmpty &&
            waiting.isEmpty)
          state.remove()
        else {
          state.update(layout.write(names,
            exs.zip(trackers).map { case (ex, t) =>
              snapshotState(ex, variant, t) },
            CepStateEt(tail.length, Nil, tail ++ waiting, variant = variant,
              navSig = nf.sig, navHist = nf.serHist)))
          // wake when the watermark passes the earliest GENUINELY
          // buffered event (ts >= wm). Held-back events (ts < wm) are
          // waiting for DATA (successors), not for time — a timeout
          // cannot resolve them, and their past-watermark timestamps
          // would be rejected by the state store anyway.
          if (layout.eventTime)
            waiting.map(_.ts).minOption.foreach(t =>
              state.setTimeoutTimestamp(t + 1))
        }
        out.result().iterator
      }
    // align with the batch operator: the synthetic key column is an
    // implementation detail in un-keyed mode
    val keyName = spec.keyCol.getOrElse("__global")
    run(layout).transform(ds =>
      if (spec.keyCol.isEmpty) ds.drop(keyName) else ds.toDF())
  }

  // ------------------------------------------------ output shapes

  private def keyField(df: DataFrame, spec: SparkCep.CepSpec): StructField =
    StructField(spec.keyCol.getOrElse("__global"), SparkCep.keyType(df, spec),
      nullable = false)

  /** `(key, one array<bigint> of order ids per pattern name)`. */
  private def orderIdsSchema(df: DataFrame, spec: SparkCep.CepSpec,
      piNames: Vector[String]): StructType =
    StructType(keyField(df, spec) +: piNames.map(n =>
      StructField(n, ArrayType(LongType, containsNull = false),
        nullable = false)))

  private def orderIdsRender(piNames: Vector[String]): Render =
    (_, key, byName, orderName) => orderIdsRow(key, byName, piNames, orderName)

  /** `(qname, key, binding)`: the classic shared reporting shape. */
  private def bindingSchema(df: DataFrame, spec: SparkCep.CepSpec)
      : StructType =
    StructType(Seq(StructField("qname", StringType, nullable = false),
      keyField(df, spec),
      StructField("binding", StringType, nullable = false)))

  /** The classic shared reporting shape `(qname, key, binding)`: order
    * ids comma-joined per pattern name, ';'-joined across names in
    * declared order.
    */
  private def bindingRender(queries: Seq[(String, CepQuery)]): Render = {
    val names = queries.toVector.map(_._1)
    val piNamesByQ = queries.toVector.map { case (_, q) =>
      SparkCep.patternNames(q.patseq) }
    (i, key, byName, orderName) =>
      Row(names(i), key, piNamesByQ(i).map { n =>
        byName.getOrElse(n, Vector.empty)
          .map(_(orderName)).mkString(",")
      }.mkString(";"))
  }

  /** The measured shared shape `(qname, key, measures, smeasures)` —
    * alias → emission-time folded value, NULL kept for
    * measure-over-missing. TWO maps split by the item's declared type
    * (`CepMeasures.itemDataType`): long-valued measures in `measures`,
    * STRING-valued ones — `CLASSIFIER()` and FIRST/LAST over a
    * string-typed attribute (round 16) — in `smeasures` (empty when a
    * member declares none). The split keeps the long map's existing
    * contract while giving string measures a typed sink, so the shared
    * shape no longer rejects CLASSIFIER().
    */
  private def measuresRender(stmts: Seq[(String, CepSql.CepSqlStatement)],
      strAttrs: Set[String]): Render = {
    val names = stmts.toVector.map(_._1)
    val sVec = stmts.toVector.map(_._2)
    val isStrItem = stmts.toVector.map(_._2.measures.map(it =>
      CepMeasures.itemDataType(it, strAttrs) == StringType))
    (i, key, byName, orderName) => {
      val st = sVec(i)
      val longs = Map.newBuilder[String, Any]
      val strs = Map.newBuilder[String, Any]
      st.measures.zip(isStrItem(i)).foreach { case (it, isStr) =>
        val v = CepMeasures.evalItemBoxed(it, byName, orderName,
          st.subsetMap, strAttrs)
        if (isStr) strs += it.alias -> v else longs += it.alias -> v
      }
      Row(names(i), key, longs.result(), strs.result())
    }
  }

  /** The shared measured output schema: `(qname, key, measures:
    * map<string,long>, smeasures: map<string,string>)`.
    */
  private def sharedMeasuresSchema(df: DataFrame, spec: SparkCep.CepSpec)
      : StructType =
    StructType(Seq(
      StructField("qname", StringType, nullable = false),
      keyField(df, spec),
      StructField("measures",
        MapType(StringType, LongType, valueContainsNull = true),
        nullable = false),
      StructField("smeasures",
        MapType(StringType, StringType, valueContainsNull = true),
        nullable = false)))

  /** SHOW EMPTY site tracking applies to a `ONE ROW PER MATCH SHOW EMPTY
    * MATCHES` statement whose pattern can match empty.
    */
  private def tracksEmpty(st: CepSql.CepSqlStatement): Boolean =
    st.rowsPerMatch == CepSql.RowsPerMatch.OneRowShowEmpty &&
      Pattern.canMatchEmpty(st.query.patseq)

  private def requireWindowed(query: CepQuery, opName: String): Unit =
    require(query.within.isDefined || query.withinTime.isDefined,
      s"$opName needs a windowed query (within/withinTime) — an " +
        "unwindowed run never times out")

  /** The `ONE ROW PER MATCH` + non-nullary-measures contract shared by
    * every streaming measures operator (SHOW EMPTY on windowed queries
    * and `CLASSIFIER()` are supported by all of them).
    */
  private def validateStreamingMeasures(st: CepSql.CepSqlStatement,
      spec: SparkCep.CepSpec, opName: String): Unit = {
    require(st.measures.nonEmpty, s"$opName: empty MEASURES")
    val showEmpty =
      st.rowsPerMatch == CepSql.RowsPerMatch.OneRowShowEmpty
    require(st.rowsPerMatch != CepSql.RowsPerMatch.AllRowsShowEmpty,
      s"$opName: this SHOW EMPTY MATCHES form is batch-only — " +
        "empty-match sites are derived from a partition's COMPLETE " +
        "reported match set, which an unbounded stream cannot close " +
        "(the measures operators — single-query and shared, " +
        "arrival-order and event-time — support ONE ROW ... SHOW " +
        "EMPTY MATCHES on WINDOWED queries, where the within window " +
        "makes each site final in bounded feed distance); " +
        "run the batch projection per micro-batch via foreachBatch " +
        "if needed")
    if (showEmpty) {
      require(st.query.within.isDefined || st.query.withinTime.isDefined,
        s"$opName: streaming SHOW EMPTY MATCHES needs a WINDOWED query " +
          "(WITHIN / WITHIN_TIME) — without a window an empty-match " +
          "site's status never becomes final on an unbounded stream")
      require(!st.query.anchorEnd,
        s"$opName: SHOW EMPTY MATCHES with the '$$' partition-end " +
          "anchor is not supported (as in batch — a zero-width match " +
          "at the partition edge has no input row to emit)")
    }
    require(st.rowsPerMatch == CepSql.RowsPerMatch.OneRow || showEmpty,
      s"$opName: ALL ROWS PER MATCH is batch-only — its " +
        "deterministic per-key match_no sequence needs a total order " +
        "over a key's matches, which an unbounded stream cannot close; " +
        "emit ONE ROW PER MATCH and explode downstream, or run the " +
        "ALL ROWS projection per micro-batch via foreachBatch")
    val atoms = st.measures.flatMap(CepMeasures.MeasureItem.atomsOf)
    atoms.find(_.phys.isDefined).foreach { m =>
      throw new IllegalArgumentException(
        s"$opName: PREV/NEXT(${m.fn.sqlName}(...)) physical navigation " +
          "is batch-only — the navigated row may be an unbound " +
          "neighbor the match state never carried")
    }
    // MATCH_NUMBER() is rejected wherever it appears — standalone or
    // inside a measure expression (legal in batch arithmetic, but it
    // needs the key's total match order)
    if (atoms.exists(_.fn == CepMeasures.Fn.MatchNo))
      throw new IllegalArgumentException(
        s"$opName: MATCH_NUMBER() is batch-only — the deterministic " +
          "per-key sequence needs a total order over a key's matches, " +
          "which an unbounded stream cannot close")
    CepMeasures.validate(st.query, spec, st.measures, Set.empty,
      st.subsetMap)
    ()
  }

  /** The single-query measures operators (arrival and event time):
    * validation, typed flat output `(key?, <aliases…>)`, and the
    * multi-column `PARTITION BY` form — the streaming form of
    * `CepMeasures.runMultiKey`: derive the EXACT composite struct key,
    * run single-key (the struct rides the state store's key schema
    * verbatim — no restore join, no hash, batch-identical identity),
    * and expand the struct back into the original leading columns.
    */
  private def singleMeasures(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: SparkCep.CepSpec, maxRunsPerKey: Option[Int], opName: String,
      order: FeedOrder): DataFrame =
    if (st.partitionByCols.nonEmpty) {
      require(spec.keyCol.isEmpty,
        s"$opName: the statement declares a multi-column PARTITION BY — " +
          "pass a spec without keyCol (the composite key is derived " +
          "from the statement)")
      val keyed = df.withColumn("__mkey",
        CepMeasures.multiKeyExpr(df, st.partitionByCols))
      val inner = singleMeasures(keyed, st.copy(partitionByCols = Vector.empty),
        spec.copy(keyCol = Some("__mkey")), maxRunsPerKey, opName, order)
      val rest = inner.columns.filterNot(_ == "__mkey").toSeq
      inner.select(st.partitionByCols.map(c =>
        col("__mkey").getField(c).as(c)) ++ rest.map(col): _*)
    } else {
      validateStreamingMeasures(st, spec, opName)
      val strAttrs = CepMeasures.strAttrsOf(df, spec)
      CepMeasures.requireStrMeasuresSupported(st.measures, strAttrs)
      val outSchema = StructType(keyField(df, spec) +: st.measures.map(m =>
        StructField(m.alias, CepMeasures.itemDataType(m, strAttrs),
          nullable = true)))
      perKey(df, spec, maxRunsPerKey, outSchema)(
        single(st.query, tracksEmpty(st)), order,
        Matches((_, key, byName, orderName) =>
          Row.fromSeq(key +: st.measures.map(ms =>
            CepMeasures.evalItemBoxed(ms, byName, orderName, st.subsetMap,
              strAttrs)))))
    }

  /** The shared measures operators (arrival and event time): every
    * member is validated like a single-query measures statement and
    * renders into the `(qname, key, measures, smeasures)` shape.
    */
  private def sharedMeasures(df: DataFrame,
      stmts: Seq[(String, CepSql.CepSqlStatement)], spec: SparkCep.CepSpec,
      maxRunsPerKey: Option[Int], opName: String, plainOp: String,
      order: FeedOrder): DataFrame = {
    require(stmts.nonEmpty, s"$opName needs >= 1 member")
    val strAttrs = CepMeasures.strAttrsOf(df, spec)
    stmts.foreach { case (n, st) =>
      require(st.measures.nonEmpty,
        s"$opName: member '$n' has no MEASURES — use $plainOp for the " +
          "plain binding shape")
      validateStreamingMeasures(st, spec, s"$opName: member '$n'")
      CepMeasures.requireStrMeasuresSupported(st.measures, strAttrs)
    }
    perKey(df, spec, maxRunsPerKey, sharedMeasuresSchema(df, spec))(
      shared(stmts.map { case (n, st) => n -> st.query }, spec,
        stmts.map(s => tracksEmpty(s._2))),
      order, Matches(measuresRender(stmts, strAttrs)))
  }

  // ------------------------------------------------ public operators

  /** Apply a CEP query to a *streaming* DataFrame. Input columns are mapped
    * exactly as in the batch operator (`SparkCep.CepSpec`); output rows are
    * (key, one array<bigint> of order-ids per pattern name).
    *
    * Same source policy as the batch operator: semantics-preserving
    * pre-NFA pushdown, null keys dropped, canonical projection. `PREV`
    * queries take no pre-NFA filter and no lag/lead window (batch-only)
    * — the per-key history in state supplies the nav attributes instead.
    *
    * Usage: `StreamingCep.matchPattern(readStreamDf, query, spec)
    * .writeStream.outputMode("append")...`
    */
  def matchPattern(df: DataFrame, query: CepQuery,
      spec: SparkCep.CepSpec, maxRunsPerKey: Option[Int] = None): DataFrame = {
    val piNames = SparkCep.patternNames(query.patseq)
    perKey(df, spec, maxRunsPerKey, orderIdsSchema(df, spec, piNames))(
      single(query), ArrivalOrder, Matches(orderIdsRender(piNames)))
  }

  /** Streaming MEASURES: `matchPattern` + the MATCH_RECOGNIZE `MEASURES`
    * projection in ONE stateful operator — output is one flat row of
    * scalar measures per match, emitted the micro-batch the match
    * completes.
    *
    * Every measure folds AT EMISSION over the match's own bound events,
    * which still carry all their attributes inside the executor — the
    * one evaluator batch uses too (`CepMeasures.evalItemBoxed`). No
    * stream-stream join-back (the event table IS the stream) and no
    * cross-batch aggregation state. Cost is O(match) per
    * match, state is exactly `matchPattern`'s (same codec, same
    * `VariantArrival` tag — a checkpoint written by either operator
    * restores into the other; only the projection differs).
    *
    * Semantics gate: `StreamingCepMeasuresSpec` pins batch==stream
    * across micro-batch boundaries, plus a checkpoint restart.
    */
  def matchPatternMeasures(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: SparkCep.CepSpec, maxRunsPerKey: Option[Int] = None): DataFrame =
    singleMeasures(df, st, spec, maxRunsPerKey, "matchPatternMeasures",
      ArrivalOrder)

  /** Streaming form of the TIMEOUT side output
    * (`SparkCep.timedOutPartials` — FlinkCEP's
    * `TimedOutPartialMatchHandler`): emits the partial runs whose
    * `within`/`withinTime` window provably closed without completing,
    * with run state carried across micro-batches exactly like
    * `matchPattern` (same codec, same `VariantArrival` tag — the state
    * EVOLUTION is identical to the match operator's, only the
    * projection differs, so a checkpoint written by either restores
    * into the other without semantic drift; runs whose window closes
    * after a restart still report). The drain happens after every fed
    * event, so a snapshot never holds an undrained timeout — the
    * buffer needs no codec representation. No pre-NFA filter: the
    * timeout output observes sweep moments (see the batch operator's
    * doc) — a dropped event can be the only one that closes a window.
    */
  def timedOutPartials(df: DataFrame, query: CepQuery,
      spec: SparkCep.CepSpec, maxRunsPerKey: Option[Int] = None)
      : DataFrame = {
    requireWindowed(query, "timedOutPartials")
    val piNames = SparkCep.patternNames(query.patseq)
    perKey(df, spec, maxRunsPerKey, orderIdsSchema(df, spec, piNames))(
      single(query), ArrivalOrder, Timeouts(piNames))
  }

  /** Streaming multi-query shared-scan CEP: the streaming form of
    * `SparkCep.matchPatternsShared` — k patterns over ONE source read,
    * ONE union pushdown filter, ONE key shuffle, and ONE state store
    * (per-key state = k member run-sets). Running k separate streaming
    * queries instead costs k× everything: each `writeStream` is its own
    * source scan, exchange, and state store, and at corpus scale the
    * source re-read alone dominates.
    *
    * Semantics: arrival-order per key within each micro-batch (the
    * reference's processing-time order), identical to running
    * `StreamingCep.matchPattern` per query — same union-filter sandwich
    * and per-member alphabet feed gates as the batch shared operator
    * (proof at `SparkCep.memberFeedTypes`). Output is the batch shared
    * operator's reporting shape `(qname, <key>, binding)`.
    *
    * Navigation: ONE history per key over the UNION of the members'
    * navigations, augmenting each event once BEFORE the member feed
    * gates. The union prefilter is disabled when any member navigates;
    * the per-member feed gates stay — a gate only skips rows the
    * member's own prefilter proves invisible, and such rows still enter
    * the shared history first.
    *
    * The member query SET (names and order) is part of the checkpoint
    * contract: restoring with a different set fails loudly rather than
    * silently misassigning member states.
    */
  def matchPatternsShared(df: DataFrame, queries: Seq[(String, CepQuery)],
      spec: SparkCep.CepSpec, maxRunsPerKey: Option[Int] = None)
      : DataFrame = {
    require(queries.nonEmpty, "matchPatternsShared needs >= 1 query")
    perKey(df, spec, maxRunsPerKey, bindingSchema(df, spec))(
      shared(queries, spec, queries.map(_ => false)), ArrivalOrder,
      Matches(bindingRender(queries)))
  }

  /** Streaming MEASURES over the SHARED multi-pattern scan — the
    * streaming form of `CepMeasures.runShared`: k measured statements,
    * ONE source read, ONE union pushdown filter, ONE key exchange, ONE
    * state store. Because the members declare DIFFERENT measure lists,
    * the uniform output shape is `(qname, <key>, measures)` with
    * `measures: map<string, bigint>` — alias → emission-time folded
    * value (NULL kept: measure-over-missing) — a consumer filters by
    * `qname` and reads `measures['alias']`. A k-sink split would cost
    * k× source scans and state stores (each writeStream is its own
    * query), which is exactly what the shared operator exists to avoid.
    *
    * Members are `ONE ROW PER MATCH` with non-empty, non-nullary
    * MEASURES (same rules as `matchPatternMeasures`; expressions fold
    * per atom and combine). State is IDENTICAL to `matchPatternsShared`
    * (same `SharedMultiState` layout, same member codec, same nav
    * section) — a checkpoint written by either operator restores into
    * the other; only the emission projection differs. Batch==stream is
    * gated member-for-member against `CepMeasures.runShared` in
    * `StreamingCepSharedMeasuresSpec`.
    */
  def matchPatternsSharedMeasures(df: DataFrame,
      stmts: Seq[(String, CepSql.CepSqlStatement)], spec: SparkCep.CepSpec,
      maxRunsPerKey: Option[Int] = None): DataFrame =
    sharedMeasures(df, stmts, spec, maxRunsPerKey,
      "matchPatternsSharedMeasures", "matchPatternsShared", ArrivalOrder)

  /** Event-time CEP (beyond-parity extension — the reference is strictly
    * processing-time): out-of-order events are buffered per key and fed to
    * the NFA in `(ts, order)` order once the watermark passes them, so any
    * event no later than `delay` behind the stream head lands in its
    * event-time position. Events older than the watermark at arrival are
    * dropped (standard late-data policy). An event-time timeout re-wakes
    * each key when the watermark passes its earliest buffered event, so
    * quiet keys still drain.
    *
    * PREV is history-fed AT RELEASE TIME: the NFA consumes events in
    * watermark-released (ts, ord) order, so that is the physical-row
    * order PREV navigates (late arrivals dropped before the buffer never
    * enter the history, exactly as they never reach the NFA). NEXT
    * (round 17) uses the watermark hold-back described at `perKey`.
    *
    * `tsCol` must be a timestamp column; `delay` is a duration string
    * (e.g. "10 seconds") used for `withWatermark`.
    */
  def matchPatternEventTime(df: DataFrame, query: CepQuery,
      spec: SparkCep.CepSpec, tsCol: String, delay: String,
      maxRunsPerKey: Option[Int] = None): DataFrame = {
    val piNames = SparkCep.patternNames(query.patseq)
    perKey(df, spec, maxRunsPerKey, orderIdsSchema(df, spec, piNames))(
      single(query), WatermarkOrder(tsCol, delay),
      Matches(orderIdsRender(piNames)))
  }

  /** Event-time MEASURES: `matchPatternEventTime`'s reorder buffer +
    * `matchPatternMeasures`' emission-time fold in one operator — the
    * event-time member of the measures family. Output `(key?,
    * <aliases…>)`, one flat row per match, emitted once the watermark
    * releases the match's last event. Same validation as the
    * arrival-order measures operator (ONE ROW PER MATCH, no nullary
    * measures); state is `matchPatternEventTime`'s
    * (`VariantEventTime` — checkpoints interchange with it, and the
    * arrival-order refusal applies unchanged).
    */
  def matchPatternMeasuresEventTime(df: DataFrame,
      st: CepSql.CepSqlStatement, spec: SparkCep.CepSpec, tsCol: String,
      delay: String, maxRunsPerKey: Option[Int] = None): DataFrame =
    singleMeasures(df, st, spec, maxRunsPerKey,
      "matchPatternMeasuresEventTime", WatermarkOrder(tsCol, delay))

  /** Event-time form of the TIMEOUT side output: out-of-order events
    * reorder under the watermark exactly as in `matchPatternEventTime`
    * (same buffer, same release order, same NEXT hold-back, same
    * `VariantEventTime` state — the run-state evolution is identical to
    * the event-time match operator's, only the projection differs, so
    * checkpoints interchange between the two), but the emitted rows are
    * the partial runs whose `within`/`withinTime` window provably
    * closed. With `withinTime` this is the natural pairing: the window
    * clock IS event time, and the watermark's ordering guarantee is what
    * makes "provably closed" sound on an out-of-order stream. No
    * pre-NFA filter, per the timeout rule (`SparkCep.timedOutPartials`).
    */
  def timedOutPartialsEventTime(df: DataFrame, query: CepQuery,
      spec: SparkCep.CepSpec, tsCol: String, delay: String,
      maxRunsPerKey: Option[Int] = None): DataFrame = {
    requireWindowed(query, "timedOutPartialsEventTime")
    val piNames = SparkCep.patternNames(query.patseq)
    perKey(df, spec, maxRunsPerKey, orderIdsSchema(df, spec, piNames))(
      single(query), WatermarkOrder(tsCol, delay), Timeouts(piNames))
  }

  /** Event-time multi-query shared-scan CEP: k patterns, ONE source
    * read, ONE union pushdown filter, ONE key shuffle, ONE state store
    * and — the part the per-query formulation cannot share — ONE reorder
    * buffer: out-of-order events are buffered per key once and fed to
    * every member DST in `(ts, order)` order as the watermark releases
    * them. k separate event-time queries would each buffer the same
    * events in their own state store (k× the state bytes, k× the
    * watermark bookkeeping) on top of k source reads.
    *
    * Late-data policy, release rule, timeout wake-up, and (round 18)
    * the NEXT watermark hold-back are exactly
    * `matchPatternEventTime`'s, applied to the shared reorder buffer
    * PER MEMBER — the shared scan stays a transparent fusion of k
    * independent operators (see `perKey`); PREV augmentation happens
    * ONCE per event at FIRST release, and the held tail is stored in
    * augmented form so its re-release cannot re-advance the nav history.
    * Member feed gates and the union-filter sandwich are exactly the
    * arrival-order shared operator's (`SparkCep.memberFeedTypes` —
    * dropping a non-alphabet event from a prefiltered member's feed is
    * what its own prefilter would have done before the scan). Output:
    * `(qname, <key>, binding)`.
    *
    * The union filter runs ABOVE the watermark node in a
    * pushdown-blocked form (see `etPrepare`), so the watermark advances
    * on the RAW stream: a member set whose alphabet drops most events
    * cannot stall the reorder-buffer drain, and a heartbeat/flush event
    * needs no special type — any non-null-key, non-null-ts event moves
    * the watermark and is dropped before the shuffle if outside the
    * union alphabet (never fed to a member, so it can never bind or
    * kill runs). The trade: the union filter no longer reaches the
    * parquet scan in this variant — non-alphabet events are read, then
    * dropped pre-shuffle.
    */
  def matchPatternsSharedEventTime(df: DataFrame,
      queries: Seq[(String, CepQuery)], spec: SparkCep.CepSpec,
      tsCol: String, delay: String, maxRunsPerKey: Option[Int] = None)
      : DataFrame = {
    require(queries.nonEmpty, "matchPatternsSharedEventTime needs >= 1 query")
    perKey(df, spec, maxRunsPerKey, bindingSchema(df, spec))(
      shared(queries, spec, queries.map(_ => false)),
      WatermarkOrder(tsCol, delay), Matches(bindingRender(queries)))
  }

  /** Event-time MEASURED shared scan: k measured statements, ONE source
    * read / union filter / key exchange / state store / reorder buffer —
    * [[matchPatternsSharedMeasures]]' semantics on the watermark-ordered
    * feed. Output `(qname, <key>, measures map<alias, value>)`; same
    * member rules (ONE ROW PER MATCH, no nullary measures); state is
    * `matchPatternsSharedEventTime`'s (`SharedMultiStateEt`) — the two
    * event-time shared shapes interchange checkpoints.
    */
  def matchPatternsSharedMeasuresEventTime(df: DataFrame,
      stmts: Seq[(String, CepSql.CepSqlStatement)], spec: SparkCep.CepSpec,
      tsCol: String, delay: String, maxRunsPerKey: Option[Int] = None)
      : DataFrame =
    sharedMeasures(df, stmts, spec, maxRunsPerKey,
      "matchPatternsSharedMeasuresEventTime", "matchPatternsSharedEventTime",
      WatermarkOrder(tsCol, delay))
}

package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{CepEmission, CepMatchPlan}

/** DataFrame-level CEP: apply a pattern query to an event table.
  *
  * Scale design (SURVEY.md §3 target lifecycle): every batch entry point
  * plans one Catalyst node (`graft.plans.CepMatchPlan`) over the prepared
  * frame. It declares its child contract — each key's events co-located
  * at a pinned partition count, sorted `(key, order)` within the
  * partition — so the planner inserts one key exchange only when the
  * input is not already partitioned by the key. The node then feeds each
  * key's events through the NFA as they arrive: per-task memory is
  * bounded by NFA state (live runs), never by group size, so the operator
  * survives keys with millions of events as long as the pattern's run-set
  * stays bounded (strict contiguity / until / skip strategies). The
  * un-keyed variant reproduces the reference's single global sequence
  * semantics and is inherently single-partition — use keys at scale.
  *
  * Match output (`matchPatternExec`): one row per match — key column plus
  * one `array<bigint>` column per pattern name, holding the order-column
  * values of the bound events (lean id-based bindings; join back to the
  * event table for payloads instead of duplicating them into every
  * match).
  */
object SparkCep {

  /** Column mapping from a relational event table to the CEP event model
    * (FIXTURES.md §3): `orderCol` must be unique-per-key and defines arrival
    * order; `attrCols` become attributes visible to conditions, typed by
    * the INPUT COLUMN's type — a STRING column stays a string (visible
    * to DEFINE `==`/`!=`-against-literal and `in` conditions and to
    * FIRST/LAST measures; never arithmetic or registers), every other
    * type keeps the reference's integer model (cast to long,
    * truncating); the order column itself is always visible
    * as an attribute under its own name. `keyCol` may be any type and is
    * EXACT for all of them: numeric keys cast to long (a fractional
    * double key truncates — dedupe upstream if that distinction
    * matters); non-numeric keys (strings, structs, …) are carried
    * through the operator verbatim and appear in the output under their
    * original type and value.
    */
  final case class CepSpec(
      keyCol: Option[String],
      orderCol: String,
      typeCol: String,
      attrCols: Seq[String]
  )

  /** BUILD-TIME typing audit of the string tier (round 17): every name a
    * condition reads in a STRING position (`Expr.strRefs` — compared to
    * a string literal, matched with `like`, or in an IN set) must be a
    * string-typed input column. A long column in a string position used
    * to surface only at runtime, per event, as the NameError "string
    * attribute '<n>' is not defined" (the projection is type-driven, so
    * a non-string column never lands in `Event.strs`); a LET register in
    * a string position always raises (registers are long-only). Both now
    * fail loudly when the operator is BUILT, naming the column and its
    * actual type. Names that are not input columns are left to the
    * evaluator's NameError — they may be navigation aliases or
    * genuinely undefined, which the runtime already reports.
    */
  private[cep] def checkStrTyping(df: DataFrame, query: CepQuery,
      spec: CepSpec): Unit = {
    val exprs = Pattern.conditions(query.patseq)
    if (exprs.isEmpty) return
    val regs = Pattern.registers(query.patseq)
    val cols = df.schema.fields.map(f => f.name -> f.dataType).toMap
    exprs.iterator.flatMap(Expr.strRefs(_).iterator).foreach { n =>
      if (regs.contains(n))
        throw new IllegalArgumentException(
          s"CEP condition uses LET register '$n' in a string position " +
            "(compared to a string literal / like / in) — registers " +
            "are long-valued; string values enter conditions only " +
            "through string-typed event attributes")
      cols.get(n) match {
        case Some(StringType) | None => ()
        case Some(dt) =>
          throw new IllegalArgumentException(
            s"CEP condition uses '$n' in a string position (compared " +
              s"to a string literal / like / in), but input column " +
              s"'$n' is ${dt.simpleString}, not string — cast it " +
              "upstream or compare numerically")
      }
    }
  }

  /** Shared front half of every physical formulation: the pre-NFA
    * filter supplied by the caller (`unionPrefilter`, which for one
    * query is its own `prefilter`), null-key drop, key derivation, and
    * the canonical `(__key, __ord, __type, attr…)` projection. One
    * implementation so the projection/null-key/key-derivation logic
    * cannot drift between formulations.
    */
  private[graft] def prepareWithFilter(df: DataFrame, filter: Option[Column],
      spec: CepSpec, navs: Seq[Nav] = Nil): (DataFrame, Vector[String]) = {
    if (navs.nonEmpty && df.isStreaming)
      throw new IllegalArgumentException(
        "CEP navigation (PREV/NEXT) has no lag/lead formulation on " +
          "streaming input (the window needs the whole key partition). " +
          "Use the StreamingCep operators instead: every one of them " +
          "supports PREV via per-key history in state, and the " +
          "event-time ones (matchPatternEventTime and its measures, " +
          "shared and timeout forms) also support NEXT via the " +
          "watermark hold-back; for NEXT on an arrival-order stream, " +
          "run the query in batch, or express the dependency with LET " +
          "registers (previous BOUND event).")
    val navNames = navs.flatMap(n => Seq(n.valueName, n.hasName))
    val attrNames: Vector[String] =
      (spec.orderCol +: (spec.attrCols ++ navNames).distinct
        .filterNot(_ == spec.orderCol)).toVector
    val keyExprC = keyExpr(df, spec)
    if (navs.isEmpty) {
      val source0 = filter match {
        case Some(cond) => df.filter(cond) // pushes down to the parquet scan
        case None       => df
      }
      // null keys carry no entity identity and cannot join a sequence —
      // drop them explicitly rather than silently collapsing onto key 0
      val source = spec.keyCol match {
        case Some(k) => source0.filter(col(k).isNotNull)
        case None    => source0
      }
      val prepared = source.select(
        keyExprC.as("__key") +:
          col(spec.orderCol).cast(LongType).as("__ord") +:
          col(spec.typeCol).cast(StringType).as("__type") +:
          attrNames.drop(1).map(c => attrProj(df, c)): _*
      )
      (prepared, attrNames)
    } else {
      // navigation path: lag/lead columns must be computed over the
      // engine's input BEFORE the pre-NFA pushdown (PREV observes rows
      // the filter drops) and after the null-key drop. The filter then
      // prunes NFA input but no longer reaches the parquet scan — the
      // window blocks it. `__key` is projected FIRST and the window
      // partitions by that attribute (not the raw key expression), so
      // the window's hash exchange IS the one the NFA requires —
      // EnsureRequirements matches them and the plan keeps a single
      // shuffle (pinned in `CepNavSpec`/`DriveNavPlan`).
      val source0 = spec.keyCol match {
        case Some(k) => df.filter(col(k).isNotNull)
        case None    => df
      }
      val keyed = source0.withColumn("__key", keyExprC)
      val withNav = Nav.addColumns(keyed,
        spec.keyCol.map(_ => col("__key")), spec.orderCol, navs)
      val source = filter match {
        case Some(cond) => withNav.filter(cond)
        case None       => withNav
      }
      val prepared = source.select(
        col("__key") +:
          col(spec.orderCol).cast(LongType).as("__ord") +:
          col(spec.typeCol).cast(StringType).as("__type") +:
          attrNames.drop(1).map(c => attrProj(source, c)): _*
      )
      (prepared, attrNames)
    }
  }

  /** TYPE-DRIVEN attribute projection (round 16): a STRING-typed input
    * column stays a string — it lands in `Event.strs`, visible to
    * DEFINE equality/IN conditions and FIRST/LAST measures; every
    * other type keeps the reference's integer model (cast to long,
    * truncating). The projected frame's own schema is the contract the
    * row→Event decoders read (`CepRowDecode`, `StreamingCep`), so the
    * typing cannot drift between operators. (Before round 16 a
    * string attr column was cast to long — all-NULL — so no green
    * query can have depended on the old behavior.)
    */
  private[cep] def attrProj(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case StringType => col(c).as(c)
      case _          => col(c).cast(LongType).as(c)
    }

  /** Which positions of a prepared frame are STRING attrs (index-aligned
    * with the full row — positions before the attrs are always false).
    */
  private[graft] def strAttrFlags(prepared: DataFrame): Array[Boolean] =
    prepared.schema.fields.map(f =>
      f.dataType == StringType && f.name != "__type")

  /** The shed valve's telemetry AS DATA: run `query` per key with the
    * shed-oldest salvage at `cap` live runs and emit ONE ROW PER KEY —
    * `(key, n_matches, shed_runs, cap)` — instead of the matches. This
    * is the registry-row face of the salvage mode (`cep_shed_gauge`):
    * the match operators report only task totals (`CepMatchExec`'s
    * `runsShed` and `peakLiveRuns` SQL metrics), which name no key and
    * which a data pipeline cannot join or alert on; the gauge is the
    * per-key surface that names the hot keys, a first-class,
    * oracle-checkable table, the way `dedup_index_gauge` does for index
    * bucket drops.
    *
    * Shedding is deterministic (spec-pinned in `CepRunCapShedSpec`), so
    * both columns are exact per key: `n_matches` counts the salvage
    * mode's surviving matches and `shed_runs` the partial runs dropped
    * — including the transient post-accept configurations that sit in
    * the run set until the next event sweeps them, which is precisely
    * why the gauge (not intuition about "live" runs) is the thing to
    * monitor. Same operator and distribution contract as
    * `matchPatternExec`; a key's row comes out at its last event.
    */
  def shedGauge(df: DataFrame, query: CepQuery, spec: CepSpec,
      cap: Int): DataFrame = {
    require(cap > 0 && cap != Int.MaxValue,
      s"shedGauge cap must be a positive live-run bound, got $cap")
    cepExec(df, spec, Seq(CepMember.single(query)),
      CepEmission.ShedGauge(cap), Some(-cap))
  }

  /** The TIMEOUT side output (beyond-parity — FlinkCEP's
    * `TimedOutPartialMatchHandler`): instead of the matches, emit the
    * partial runs whose `within`/`withinTime` window provably closed
    * without completing — the funnel-drop-off question ("signups that
    * never purchased inside the window") as a first-class relational
    * result. Same output shape as `matchPatternExec` (key + one
    * `array<bigint>` of order-ids per pattern name; names the partial
    * never bound are empty arrays), so downstream joins/aggregations
    * compose identically.
    *
    * Exact semantics (spec-pinned in `TimeoutPartialSpec`): one row per
    * pruned non-accepting partial run-configuration — a run whose
    * window closes on the very event that completes it is a MATCH, not
    * a timeout; a run still live at end-of-input is NEITHER (its window
    * never provably closed — FlinkCEP's unbounded-stream reading); and
    * untaken runs never time out (their window never started). Requires
    * a windowed query (`within`/`withinTime`) — there is nothing to
    * time out otherwise.
    */
  def timedOutPartials(df: DataFrame, query: CepQuery,
      spec: CepSpec, maxRunsPerKey: Option[Int] = None): DataFrame = {
    CepMemberFeed.requireWindowed(query, "timedOutPartials")
    cepExec(df, spec, Seq(CepMember.single(query)), CepEmission.Timeouts,
      maxRunsPerKey)
  }

  /** The CEP match as a first-class Catalyst plan (`graft.plans.
    * CepMatchPlan` + `CepStrategy` + `CepMatchExec`): one row per match
    * (see the object header). The partitioning/ordering needs are
    * *declared* (`requiredChildDistribution`/`Ordering`), so the planner
    * inserts the shuffle only when the input isn't already co-partitioned
    * by key — a pre-partitioned/bucketed input pays only a local sort at
    * its own partition count. The partition count is pinned: an
    * inserted key exchange keeps `spark.sql.shuffle.partitions`
    * partitions, as with AQE off, because AQE's byte-based coalescing
    * would put a small but NFA-heavy input into one task. Set that conf
    * for the cluster.
    * Registers `CepStrategy` on the session idempotently (also installed
    * by `GraftExtensions` via `spark.sql.extensions`).
    *
    * {{{
    *   val out = SparkCep.matchPatternExec(df, query, spec,
    *     maxRunsPerKey = Some(10000))
    * }}}
    *
    * The operator reports SQL metrics (`CepMatchExec`: events fed, keys,
    * matches, runs shed, peak live runs) in the SQL UI and on the
    * executed plan after an action: read them to find pathological input
    * before it hits the valve. `shedGauge` names the keys.
    *
    * @param maxRunsPerKey hard valve: fail the task if any key's live-run
    *   set exceeds the cap (state explosion beats a silent OOM); a
    *   negative cap sheds the oldest runs instead
    */
  def matchPatternExec(df: DataFrame, query: CepQuery, spec: CepSpec,
      maxRunsPerKey: Option[Int] = None): DataFrame =
    cepExec(df, spec, Seq(CepMember.single(query)), CepEmission.OrderIds,
      maxRunsPerKey)

  /** Multi-query shared-scan CEP: run `queries` (name → pattern) over ONE
    * scan, ONE pre-NFA filter, ONE key shuffle and ONE in-partition sort,
    * feeding every event through all compiled DSTs side by side. At corpus
    * scale this amortizes the dominant costs — the 100 TB read and the
    * key exchange — across the whole query set instead of paying them per
    * pattern (k patterns ≈ 1× scan + k× NFA cost, vs k× everything when
    * run separately).
    *
    * Pushdown: the shared stream keeps every event that ANY query's
    * individual prefilter would keep (the OR of the per-query filters; no
    * filter at all if any query declines one). Correctness: the events the
    * union filter drops are dropped by EVERY per-query filter, and each
    * per-query filter only ever drops events that are semantically
    * invisible to its own pattern (`prefilter`'s proof) — so each DST sees
    * a stream between its own filtered stream and the full stream, and
    * both ends of that sandwich have identical match sets for it.
    *
    * Output (a terminal/reporting shape — compose per-query operators when
    * downstream needs typed bindings): `(qname, <key>, binding)` with
    * `binding` = the bound order-ids, `','`-joined within a pattern
    * component and `';'`-joined across components in declared order.
    *
    * Physical form: the same Catalyst node as the single-pattern path
    * (`CepMatchPlan`/`CepStrategy`/`CepMatchExec`), with one member per
    * query — InternalRow end-to-end with declared distribution/ordering.
    * Its `numEvents` metric counts events fed — not (event × query) —
    * and `peakLiveRuns` is the hottest member's peak on the hottest key.
    */
  def matchPatternsShared(df: DataFrame, queries: Seq[(String, CepQuery)],
      spec: CepSpec, maxRunsPerKey: Option[Int] = None): DataFrame = {
    require(queries.nonEmpty, "matchPatternsShared needs >= 1 query")
    cepExec(df, spec, sharedMembers(queries, spec), CepEmission.Bindings,
      maxRunsPerKey)
  }

  /** MATCH_RECOGNIZE MEASURES rendered inside the operator
    * (`CepMeasures.run`, `runAllRows`, `runShared`): one member per
    * measured statement on one scan, one key exchange and one NFA pass,
    * each member's rows rendered inside the feed loop
    * (`CepEmission.Measures`). The feed takes the members' union
    * prefilter unless a member renders rows the NFA never binds (SHOW
    * EMPTY sites, unmatched rows). `PREV/NEXT(FIRST/LAST(..))` measures
    * ride the DEFINE-side navigation columns (`CepMeasures.navsOf`).
    * `shared` outputs `qname`, the key, then every member's block.
    */
  private[graft] def matchMeasures(df: DataFrame,
      members: Seq[(String, CepMeasures.Rendering)], spec: CepSpec,
      maxRunsPerKey: Option[Int], shared: Boolean): DataFrame =
    cepExec(df, spec,
      sharedMembers(members.map { case (n, r) => n -> r.st.query }, spec),
      CepEmission.Measures(members.map(_._2).toVector, shared), maxRunsPerKey)

  /** The members of a shared scan, each gated to its own alphabet
    * (`memberFeedTypes`) unless `ungated` marks it.
    */
  private[cep] def sharedMembers(queries: Seq[(String, CepQuery)],
      spec: CepSpec, ungated: Seq[Boolean] = Nil): Vector[CepMember] =
    queries.toVector.zipWithIndex.map { case ((n, q), i) =>
      CepMember(n, q,
        if (ungated.lift(i).contains(true)) null
        else memberFeedTypes(q, spec).orNull)
    }

  /** The driver-side member checks every operator makes before it is
    * built: each query's window/anchor contract
    * (`checkWithinStateBound`) and string typing (`checkStrTyping`).
    * Returns the valve for the whole member set: `maxRunsPerKey` when
    * given, otherwise the default if ANY member has an unbounded loop
    * (capping a bounded member too is harmless — its run set never
    * nears the cap).
    */
  private[cep] def checkMembers(df: DataFrame, spec: CepSpec,
      queries: Seq[CepQuery], maxRunsPerKey: Option[Int],
      streaming: Boolean): Option[Int] = {
    queries.foreach(checkWithinStateBound(_, maxRunsPerKey, streaming))
    queries.foreach(checkStrTyping(df, _, spec))
    resolveMaxRuns(df.sparkSession, queries, maxRunsPerKey)
  }

  /** The path every batch entry point shares: check the members, prepare
    * the frame, plan `members` over it as one `CepMatchPlan` node
    * rendered as `emission`, and drop the `__global` key column of an
    * unkeyed spec. The frame takes the members' union prefilter, except
    * for timeouts and for MEASURES that render rows the NFA never binds
    * (SHOW EMPTY sites, unmatched rows), and the navigation columns of
    * the members' DEFINEs and measures.
    */
  private def cepExec(df: DataFrame, spec: CepSpec, members: Seq[CepMember],
      emission: CepEmission, maxRunsPerKey: Option[Int]): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val queries = members.map(m => m.name -> m.query)
    val maxRuns = checkMembers(df, spec, queries.map(_._2), maxRunsPerKey,
      streaming = false)
    val (filter, measureNavs) = emission match {
      // NO pre-NFA filter for timeouts, ever: the timeout OUTPUT observes
      // sweep moments, and a dropped ignorable event can be the only one
      // whose arrival closes a window (clearest with `withinTime` at the
      // tail of a stream: the filtered stream ends before any event
      // advances the clock past the deadline, and the timeout is
      // silently lost — the match operators are immune because pruned
      // runs emit nothing)
      case CepEmission.Timeouts => (None, Nil)
      case CepEmission.Measures(rs, _) =>
        (if (rs.exists(_.seesEveryRow)) None
        else unionPrefilter(queries, spec),
          rs.flatMap(r => CepMeasures.navsOf(r.st.measures)))
      case _ => (unionPrefilter(queries, spec), Nil)
    }
    val navs = (queries.flatMap { case (_, q) => Nav.ofQuery(q) } ++
      measureNavs).distinct.sortBy(_.valueName)
    val (prepared, attrNames) = prepareWithFilter(df, filter, spec, navs)
    val keyName = spec.keyCol.getOrElse("__global")
    val spark = df.sparkSession
    GraftColumnBridge.addStrategy(spark, graft.plans.CepStrategy)
    val key = AttributeReference(keyName, keyType(df, spec), nullable = false)()
    val plan = CepMatchPlan(members.toVector, emission, spec.keyCol.isDefined,
      attrNames, maxRuns, emission.output(key, members),
      prepared.queryExecution.analyzed)
    val out = GraftColumnBridge.ofRows(spark, plan)
    if (spec.keyCol.isEmpty) out.drop(keyName) else out
  }

  /** Union pushdown for the shared scan: the OR of the members'
    * individual prefilters, or no filter at all if ANY member declines
    * one (that member needs the full stream, and the shared stream is
    * fed to every DST).
    */
  private[graft] def unionPrefilter(queries: Seq[(String, CepQuery)],
      spec: CepSpec): Option[Column] = {
    val filters = queries.map { case (_, q) => prefilter(q, spec) }
    if (filters.forall(_.isDefined)) Some(filters.flatten.reduce(_ || _))
    else None
  }

  /** Per-member feed gate for the shared scan: when a member's own
    * `prefilter` exists, events outside the member's type alphabet are
    * semantically invisible to it (the prefilter proof — they would have
    * been dropped before the scan had the member run alone), so the
    * shared operator can SKIP the feed instead of paying an ignore
    * transition per event per member. Recovers the per-query NFA feed
    * volume while keeping the single scan + single exchange: without it
    * the shared pass does k × union-stream feeds and loses to separate
    * runs whenever NFA cost rivals scan cost (probe: 0.34× on a free
    * source). Type-level only — a spat's attribute condition stays in
    * the NFA — which is a conservative superset of the member's own
    * filter, so the sandwich argument applies unchanged. `None` (member
    * declined a prefilter) = feed everything.
    */
  private[graft] def memberFeedTypes(query: CepQuery, spec: CepSpec)
      : Option[Set[String]] =
    prefilter(query, spec).map(_ => alphabet(unwrapGpat(query.patseq)))

  /** Default per-key state valve for UNBOUNDED-loop patterns
    * (`lpat-inf`/`gpat-inf`), the valve the operator's `peakLiveRuns`
    * metric sizes: a hot key under a permissive unbounded pattern grows
    * its live-run set without limit and OOMs an executor at corpus scale. When the caller passes
    * no explicit `maxRunsPerKey`, every entry point now applies this
    * default to queries containing an unbounded loop — the valve FAILS
    * the query loudly at the cap (state explosion beats a silent OOM;
    * semantics below the cap are untouched, and no legitimate workload
    * holds 100k concurrent partial matches on one key). Tune with
    * `spark.graft.cep.defaultUnboundedMaxRuns`; set it <= 0 to restore
    * the uncapped reference semantics, or pass an explicit
    * `maxRunsPerKey` (which always wins). Bounded patterns get no
    * default — their run set is structurally bounded by pattern shape.
    */
  val DefaultUnboundedMaxRunsKey = "spark.graft.cep.defaultUnboundedMaxRuns"
  val DefaultUnboundedMaxRuns = 100000

  /** What the default valve does when a hot key hits the cap:
    * `"fail"` (default) throws — state explosion beats a silent OOM —
    * while `"shedOldest"` switches the default cap to the documented
    * salvage mode (negative cap to the `Executor`): the longest-lived
    * partial runs are dropped until the cap holds, the job survives the
    * hot key, and the operator's `runsShed` metric and `shedGauge` say
    * it happened.
    * Shedding semantics (spec-pinned in `CepRunCapShedSpec`):
    * deterministic; NoSkip output is a sub-multiset of the uncapped
    * output; keys that never exceed the cap — in particular every key
    * with fewer events than the cap — are exact. An EXPLICIT
    * `maxRunsPerKey` always wins and carries its own policy in its
    * sign (positive = fail, negative = shed at |cap|).
    */
  val RunCapPolicyKey = "spark.graft.cep.runCapPolicy"

  private[graft] def resolveMaxRuns(
      spark: org.apache.spark.sql.SparkSession,
      queries: Seq[CepQuery], explicit: Option[Int]): Option[Int] =
    explicit.orElse {
      if (!queries.exists(q => Pattern.hasUnboundedLoop(q.patseq))) None
      else {
        val v = spark.conf.get(DefaultUnboundedMaxRunsKey,
          DefaultUnboundedMaxRuns.toString).toInt
        val shed = spark.conf.get(RunCapPolicyKey, "fail") match {
          case "fail" => false
          case "shedOldest" => true
          case other => throw new IllegalArgumentException(
            s"$RunCapPolicyKey must be 'fail' or 'shedOldest', got '$other'")
        }
        if (v <= 0) None else Some(if (shed) -v else v)
      }
    }

  /** The `within`-caveat contract, enforced at operator construction
    * (driver side, once): when a window is set on a pattern whose runs
    * can persist without taking (`Dst.hasUntakenIgnorePrefix` — see the
    * refutation there for why such runs cannot be pruned), the window
    * does NOT bound state. Streaming runs unbounded input, so there the
    * valve is REQUIRED; batch terminates, so it warns loudly instead.
    * Also rejects the batch-only `$` anchor on streaming entry points.
    */
  private[cep] def checkWithinStateBound(query: CepQuery,
      maxRuns: Option[Int], streaming: Boolean): Unit = {
    // `$` is batch-only: an unbounded stream has no partition end, so
    // the anchor could never emit — reject loudly at every streaming
    // entry point instead of silently producing zero matches. (A
    // documented deviation from engines that approximate partition end
    // with inactivity timeouts; `^` streams fine — the per-key step
    // counter rides the state codec.)
    if (streaming && query.anchorEnd)
      throw new IllegalArgumentException(
        "CEP '$' end anchor is batch-only: an unbounded stream has no " +
          "partition end. Run the anchored query in batch, or drop the " +
          "anchor and filter matches downstream once the partition is " +
          "known to be complete.")
    if ((query.within.isDefined || query.withinTime.isDefined) &&
        maxRuns.isEmpty &&
        DstCompiler.compile(query).hasUntakenIgnorePrefix) {
      val msg = "CEP window (within/withinTime) set on a pattern with an " +
        "optional ignore prefix: runs that have not yet taken have no " +
        "window to expire, so the window does not bound per-key state " +
        "(see Dst.hasUntakenIgnorePrefix)."
      if (streaming)
        throw new IllegalArgumentException(
          msg + " Set maxRunsPerKey to cap state on the unbounded stream.")
      else
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(msg + " Consider setting maxRunsPerKey.")
    }
  }

  /** Key derivation shared by the batch and streaming operators — EXACT
    * for every type: numeric key columns cast to long (the canonical
    * integer key — exact, since the reference's key domain is integer
    * ids; a fractional double key truncates, documented at `CepSpec`);
    * any other type (string, struct/composite, date, …) is carried
    * THROUGH the operator as-is — partitioning, in-partition grouping,
    * state addressing and the output key column all use the original
    * value, so two distinct keys can never merge. (Earlier rounds
    * hashed non-numeric keys to a long with xxhash64, which admitted a
    * silent 64-bit-collision interleave at corpus-scale key
    * cardinality — retired; there is no collision budget anymore.)
    */
  private[cep] def keyExpr(df: DataFrame, spec: CepSpec): Column =
    spec.keyCol match {
      case Some(k) =>
        df.schema(k).dataType match {
          case _: NumericType => col(k).cast(LongType)
          case _              => col(k)
        }
      case None => lit(0L)
    }

  /** The operator-facing type of the key column [[keyExpr]] derives:
    * long for numeric (and the unkeyed sentinel), the column's own type
    * otherwise. This is also the OUTPUT key column's type.
    */
  private[cep] def keyType(df: DataFrame, spec: CepSpec): DataType =
    spec.keyCol match {
      case Some(k) =>
        df.schema(k).dataType match {
          case _: NumericType => LongType
          case dt             => dt
        }
      case None => LongType
    }

  /** Pre-NFA filter pushdown (SURVEY.md §4): a predicate applied *before*
    * the key shuffle, reaching the parquet scan — at corpus scale this cuts
    * shuffle volume by the pattern's type selectivity. Only emitted when
    * provably semantics- and order-preserving:
    *
    *  - a single `spat`: events of other types (or failing a pure-attribute
    *    condition) can never be bound and never affect run survival, under
    *    every skip strategy — filter to `type = ev [∧ cndt]`.
    *  - all-skippable patterns (every loop and combine contiguity `relaxed`
    *    or `nd-relaxed`, no groups, no `until`): a non-Σ event is consumed
    *    only by ignore edges — relaxed ignores cover "all other event
    *    types", nd-relaxed ignores are wildcards — and an ignore neither
    *    binds, forks (the take/ignore fork needs an applicable take, which
    *    requires a Σ type), nor emits, so every run survives it with state
    *    unchanged; runs *started* at a non-Σ event die immediately either
    *    way (no pre-first-take ignore edges). Dropping non-Σ events
    *    therefore preserves the run set at every remaining step, hence the
    *    match set, emission order, and all skip strategies — filter to
    *    `type ∈ Σ`.
    *
    * Strict contiguity (a non-Σ event kills runs), group loops (ε-chained
    * copy boundaries are implicitly strict) and `until` (a non-Σ event may
    * satisfy the stop-condition) make dropped events semantically
    * observable — no filter there.
    */
  def prefilter(query: CepQuery, spec: CepSpec): Option[Column] = {
    // partition anchors make EVERY dropped event observable: `^` pins
    // the match start to the partition's true first event and `$` the
    // match end to its true last event — if that event is non-Σ the
    // anchored result must be empty for the key, but a prefiltered
    // stream would present the first/last SURVIVING event as the
    // partition edge and wrongly match. No pushdown for anchored
    // queries (they are also the queries that least need it: `^`
    // bounds live runs by construction).
    if (query.anchorStart || query.anchorEnd) return None
    // `within` counts STREAM POSITIONS, so dropping ignorable events
    // before the NFA would shrink every span and admit matches the
    // window should reject — the one observer that makes skipped
    // events semantically visible even under relaxed contiguity. A
    // lone spat is the exception (its span is always 0).
    // `withinTime` is immune: its span is measured on event TIMESTAMPS,
    // which dropping non-binding events does not change (pruning then
    // merely happens at different feed moments, and pruned runs are
    // dead by definition) — so the event-time window keeps the pushdown
    // that the position window must give up.
    if (query.within.isDefined &&
        !unwrapGpat(query.patseq).isInstanceOf[Pattern.Spat])
      return None
    // GREEDY loops make dropped events semantically observable even
    // under all-relaxed contiguity: the proceed-ε is allowed exactly at
    // an event the loop CANNOT take, and an ignorable (droppable) event
    // at the loop boundary is precisely such an event — dropping it
    // removes the stop decision it licensed, losing the shorter-loop
    // matches (e.g. a{1,2}~! -> y on [A view A C]: unfiltered emits both
    // ([a1],C) — proceed at the view — and ([a1,a3],C); the filtered
    // stream cuts the proceed at the second A and emits only the long
    // one). A lone greedy loop cannot occur (trailing greedy is
    // rejected), so this is never vacuous.
    if (hasGreedy(query.patseq)) return None
    unwrapGpat(query.patseq) match {
      case s: Pattern.Spat =>
        val typeCond = col(spec.typeCol) === s.event
        val varNames = s.vars.map(_.name).toSet
        ExprToColumn.translate(s.cndt, spec, varNames) match {
          // coalesce(c, true): a null attribute makes the condition NULL in
          // Catalyst, which a bare filter would silently drop — the NFA
          // instead raises "name is not defined" for the same event. Passing
          // null-valued conditions through keeps the pushed and non-pushed
          // paths behaviorally identical (the NFA raises either way).
          case Some(c) => Some(typeCond && coalesce(c, lit(true)))
          case None    => Some(typeCond)
        }
      case p if allSkippableNoGroupNoUntil(p) =>
        Some(col(spec.typeCol).isin(alphabet(p).toSeq: _*))
      case _ => None
    }
  }

  private def alphabet(p: Pattern): Set[String] = p match {
    case s: Pattern.Spat      => Set(s.event)
    case l: Pattern.Lpat      => Set(l.event)
    case l: Pattern.LpatInf   => Set(l.event)
    case c: Pattern.Combine   => alphabet(c.left) ++ alphabet(c.right)
    // the NEGATED type is part of the alphabet: its events kill runs, so
    // the prefilter must never drop them
    case c: Pattern.CombineNot =>
      alphabet(c.left) ++ alphabet(c.right) + c.neg.event
    case a: Pattern.Alt       => alphabet(a.left) ++ alphabet(a.right)
    case p: Pattern.Permute   => p.units.map(alphabet).reduce(_ ++ _)
    case g: Pattern.Gpat      => alphabet(g.child)
    case g: Pattern.GpatTimes => alphabet(g.child)
    case g: Pattern.GpatInf   => alphabet(g.child)
  }

  private def skippable(c: Contiguity): Boolean =
    c == Contiguity.Relaxed || c == Contiguity.NdRelaxed

  private def hasGreedy(p: Pattern): Boolean = p match {
    case l: Pattern.Lpat       => l.greedy
    case l: Pattern.LpatInf    => l.greedy
    case _: Pattern.Spat       => false
    case c: Pattern.Combine    => hasGreedy(c.left) || hasGreedy(c.right)
    case c: Pattern.CombineNot => hasGreedy(c.left) || hasGreedy(c.right)
    case a: Pattern.Alt        => hasGreedy(a.left) || hasGreedy(a.right)
    case p: Pattern.Permute    => p.units.exists(hasGreedy)
    case g: Pattern.Gpat       => hasGreedy(g.child)
    case g: Pattern.GpatTimes  => g.greedy || hasGreedy(g.child)
    case g: Pattern.GpatInf    => g.greedy || hasGreedy(g.child)
  }

  /** Plain `Gpat` compiles to its child's DST verbatim
    * (`DstCompiler.compileNode`), so pushdown legality — and the filter
    * itself — is exactly the child's. Group *loops* stay opaque.
    */
  private def unwrapGpat(p: Pattern): Pattern = p match {
    case g: Pattern.Gpat => unwrapGpat(g.child)
    case other           => other
  }

  private def allSkippableNoGroupNoUntil(p: Pattern): Boolean = p match {
    case _: Pattern.Spat => true
    case l: Pattern.Lpat => skippable(l.contiguity)
    case l: Pattern.LpatInf => skippable(l.contiguity) && l.until.isEmpty
    case c: Pattern.Combine =>
      skippable(c.contiguity) &&
        allSkippableNoGroupNoUntil(c.left) &&
        allSkippableNoGroupNoUntil(c.right)
    // NotFollowedBy keeps the pushdown: the negated type is IN the
    // alphabet (never dropped), and non-Σ events are pure ignores at the
    // guarded junction too. NotNext does NOT: its guard binds to "the
    // next event fed", so dropping an ignorable event would transfer the
    // guard onto a later event — position-sensitive, like `within`.
    case c: Pattern.CombineNot =>
      c.mode == Pattern.NegMode.NotFollowedBy &&
        skippable(c.contiguity) &&
        allSkippableNoGroupNoUntil(c.left) &&
        allSkippableNoGroupNoUntil(c.right)
    // alternation keeps the pushdown when BOTH branches do: the filter
    // keeps the UNION alphabet, so an event a branch run sees that is
    // only in the OTHER branch's alphabet is a declared-type relaxed
    // ignore (ignore edges enumerate the schema's types), identical to
    // the unfiltered stream; dropped events are non-Σ for both branches
    // — pure ignores for both. The ε fork itself has no contiguity.
    case a: Pattern.Alt =>
      allSkippableNoGroupNoUntil(a.left) &&
        allSkippableNoGroupNoUntil(a.right)
    case g: Pattern.Gpat => allSkippableNoGroupNoUntil(g.child) // transparent
    // PERMUTE sequences its units STRICTLY within each branch — a
    // dropped event could sit between two units and fake adjacency, so
    // the alphabet prefilter is never sound here
    case _ => false // group loops: copy boundaries are implicitly strict
  }

  /** Declared pattern names in left-to-right order (the `Pi` set with the
    * deterministic order match columns should appear in).
    */
  def patternNames(p: Pattern): Vector[String] = Pattern.names(p)
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.cep.{CepMeasures, CepQuery, CepRuntimeWarnings, CepSkewAccumulator, DstCompiler, Event, Executor, Match, Pattern}

/** The CEP pattern-match operator as a first-class Catalyst plan — the
  * prompt's extension path (c): a custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, planned through the session's planner. Every batch entry
  * point (`SparkCep.matchPatternExec`, `matchPatternsShared`,
  * `timedOutPartials`, `shedGauge`, and the MEASURES entry points of
  * `CepMeasures` via `SparkCep.matchMeasures`) is this one node: a
  * list of member queries fed side by side in one key-grouped loop, and
  * an emission (`CepEmission`) that fixes what the node outputs.
  *
  * The physical node *declares* its needs — `requiredChildDistribution =
  * ClusteredDistribution(key)` at a pinned partition count and
  * `requiredChildOrdering = (key, ord)` (`CepChildContract`) — and
  * `EnsureRequirements` inserts the exchange/sort only when the child
  * doesn't already satisfy them. Input already hash-partitioned by the
  * key (bucketed source, co-partitioned upstream stage) is re-used at its
  * own partition count and pays only a local sort — pinned by
  * `CepExecSpec`. Otherwise the exchange keeps
  * `spark.sql.shuffle.partitions` partitions: AQE may not coalesce it by
  * bytes (`CepExecParallelismSpec`).
  *
  * Child contract (built by `SparkCep.prepareWithFilter`): columns
  * `(__key, __ord: long, __type: string, attr…)`. The key may be of any
  * type (`SparkCep.keyExpr`); each attr is a long or a string
  * (`SparkCep.attrProj`).
  */
private[graft] final case class CepMatchPlan(
    members: Vector[CepMember],
    emission: CepEmission,
    keyed: Boolean,
    attrNames: Seq[String],
    maxRunsPerKey: Option[Int],
    skewAcc: Option[CepSkewAccumulator],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  // the NFA consumes every child column — claim them all so ColumnPruning
  // never strips the prepared projection beneath us
  override def references: AttributeSet = AttributeSet(child.output)
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : CepMatchPlan = copy(child = newChild)
}

/** Planner rule: lower the logical CEP node to its physical operator. */
object CepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CepMatchPlan =>
      CepMatchExec(p.members, p.emission, p.keyed, p.attrNames,
        p.maxRunsPerKey, p.skewAcc, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** One query the CEP operator runs: `name` labels its rows in the
  * `Bindings` emission, and `gate` is the set of event types it is fed
  * (`SparkCep.memberFeedTypes`); `null` feeds it every event.
  */
private[graft] final case class CepMember(name: String, query: CepQuery,
    gate: Set[String])

/** What the CEP operator emits. Each case fixes the node's output shape
  * (`output`) and the output column that holds the key (`keyIndex`).
  */
private[graft] sealed trait CepEmission {
  def keyIndex: Int = 0

  /** Unless a case says otherwise: the key, then one `array<bigint>` of
    * bound order ids per pattern name of the single member.
    */
  def output(key: Attribute, members: Seq[CepMember]): Seq[Attribute] =
    key +: Pattern.names(members.head.query.patseq).map(n =>
      AttributeReference(n, ArrayType(LongType, containsNull = false),
        nullable = false)())
}

private[graft] object CepEmission {
  /** One row per match (`SparkCep.matchPatternExec`). */
  case object OrderIds extends CepEmission

  /** One `(qname, key, binding)` row per match of any member
    * (`SparkCep.matchPatternsShared`).
    */
  case object Bindings extends CepEmission {
    override def keyIndex: Int = 1
    override def output(key: Attribute, members: Seq[CepMember])
        : Seq[Attribute] =
      Seq(AttributeReference("qname", StringType, nullable = false)(), key,
        AttributeReference("binding", StringType, nullable = false)())
  }

  /** One row per timed-out partial run, in the `OrderIds` shape
    * (`SparkCep.timedOutPartials`). The executor captures timeouts and
    * is drained after every feed; the feed never flags the last event,
    * so under `$` no match fires and no skip prunes a run.
    */
  case object Timeouts extends CepEmission

  /** One `(key, n_matches, shed_runs, cap)` row at each key's last
    * event (`SparkCep.shedGauge`).
    */
  final case class ShedGauge(cap: Int) extends CepEmission {
    override def output(key: Attribute, members: Seq[CepMember])
        : Seq[Attribute] =
      key +: Seq("n_matches", "shed_runs", "cap").map(n =>
        AttributeReference(n, LongType, nullable = false)())
  }

  /** MATCH_RECOGNIZE MEASURES rows, rendered by `CepMeasuresSink` as
    * each key is fed (`SparkCep.matchMeasures`): one column block per member
    * (`CepMeasures.Rendering.fields`). A single statement outputs the
    * key, then its block; `shared` outputs `qname`, the key, then every
    * member's block under `CepMeasures.sharedName`, a row filling only
    * its own member's block.
    */
  final case class Measures(renderings: Vector[CepMeasures.Rendering],
      shared: Boolean) extends CepEmission {
    override def keyIndex: Int = if (shared) 1 else 0
    override def output(key: Attribute, members: Seq[CepMember])
        : Seq[Attribute] = {
      def attrs(fs: Seq[(String, DataType)], name: String => String) =
        fs.map { case (f, dt) => AttributeReference(name(f), dt)() }
      if (!shared) key +: attrs(renderings.head.fields, identity)
      else AttributeReference("qname", StringType, nullable = false)() +:
        key +: renderings.zipWithIndex.flatMap { case (r, i) =>
          attrs(r.fields, CepMeasures.sharedName(i, _))
        }
    }
  }
}

/** Typed access to the child's key column (ordinal 0) for the exec
  * loop — EXACT for every key type. `read` returns a TRANSIENT value
  * for var-length types (a `UTF8String`/struct view into the child's
  * reused UnsafeRow buffer): `copy` it before holding it across rows
  * (the per-key `curKey`), and only ever compare a fresh read against a
  * held COPY (`UTF8String`/`UnsafeRow` equality is value/byte equality,
  * and both sides of a comparison come from the same child projection,
  * so byte equality is value equality). Long keys read primitively and
  * box — immutable, no copy needed.
  */
private[plans] object CepKeyAccess {
  def reader(dt: org.apache.spark.sql.types.DataType)
      : InternalRow => Any = dt match {
    case org.apache.spark.sql.types.LongType => r => r.getLong(0)
    case org.apache.spark.sql.types.StringType => r => r.getUTF8String(0)
    case st: org.apache.spark.sql.types.StructType =>
      r => r.getStruct(0, st.size)
    case other => r => r.get(0, other)
  }
  def copier(dt: org.apache.spark.sql.types.DataType): Any => Any =
    dt match {
      case org.apache.spark.sql.types.StringType =>
        v => v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone()
      case _: org.apache.spark.sql.types.StructType =>
        v => v.asInstanceOf[InternalRow].copy()
      case org.apache.spark.sql.types.BinaryType =>
        v => v.asInstanceOf[Array[Byte]].clone()
      case _ => identity
    }
  /** Value equality; binary keys need content comparison. */
  def eq(dt: org.apache.spark.sql.types.DataType)
      : (Any, Any) => Boolean = dt match {
    case org.apache.spark.sql.types.BinaryType =>
      (a, b) => java.util.Arrays.equals(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case _ => (a, b) => a == b
  }
}

/** Per-row decode of the prepared child contract
  * `(__key, __ord, __type, attr…)`:
  *  - a null order value has no position in the sequence — fail loudly
  *    (silent getLong-as-0 would corrupt match ids);
  *  - a null type is a non-matching event type (it still advances strict
  *    contiguity), never an NPE;
  *  - the order value is always the event's FIRST long attribute
  *    (`attrs(0)`), so the renderers read a bound event's order id by
  *    position (`orderId`) instead of a name scan.
  */
private[plans] object CepRowDecode {
  /** The order id of an event built by `decode`. */
  def orderId(ev: Event): Long = ev.attrs(0)._2

  /** `strFlags(i)` marks position `i` as a STRING attribute (round 16
    * type-driven projection, `SparkCep.attrProj`) — decoded into
    * `Event.strs`; everything else stays the long tier. The UTF8String
    * is converted (copied) — the event may outlive the row buffer.
    */
  def decode(row: InternalRow, key: Any, aNames: Vector[String],
      strFlags: Array[Boolean]): Event = {
    if (row.isNullAt(1)) throw new IllegalArgumentException(
      s"CEP order column is null for key $key — order values must be " +
        "non-null and unique per key")
    val attrs = Vector.newBuilder[(String, Long)]
    var strs: scala.collection.mutable.Builder[(String, String),
      Vector[(String, String)]] = null
    attrs += aNames.head -> row.getLong(1)
    var i = 3
    while (i < row.numFields) {
      if (!row.isNullAt(i)) {
        if (strFlags(i)) {
          if (strs == null) strs = Vector.newBuilder
          strs += aNames(i - 2) -> row.getUTF8String(i).toString
        } else attrs += aNames(i - 2) -> row.getLong(i)
      }
      i += 1
    }
    val tpe = if (row.isNullAt(2)) null else row.getUTF8String(2).toString
    Event(tpe, attrs.result(),
      if (strs == null) Vector.empty else strs.result())
  }

  /** The per-position string flags of an exec's child output. */
  def flagsOf(output: Seq[Attribute]): Array[Boolean] =
    output.map(a =>
      a.dataType == org.apache.spark.sql.types.StringType &&
        a.name != "__type").toArray
}

/** The child requirements `CepMatchExec` declares.
  *
  * Keyed: each key's events co-located, at a PINNED partition count, and
  * per-key order via an in-partition secondary sort `(key, ord)` (a
  * global sort is never required). A bare `ClusteredDistribution(key)`
  * lets AQE size the key exchange by bytes: a prefiltered input of a few
  * MB coalesces to one partition and the whole NFA runs in one task,
  * although its cost follows live runs and matches, not bytes. The pin
  * is the child's own count when the child is already hash-partitioned
  * on exactly the key (bucketed source, join on the key — reused, no
  * exchange), else `spark.sql.shuffle.partitions`, the count of the
  * exchange `EnsureRequirements` inserts anyway. AQE's coalesced read
  * (`CoalescedHashPartitioning`) then fails the requirement, so the
  * exchange keeps its full partition count, as with AQE off.
  *
  * Global: the reference's single-sequence semantics need every row in
  * one partition.
  */
private[plans] object CepChildContract {
  def distribution(keyed: Boolean, child: SparkPlan, conf: SQLConf)
      : Seq[Distribution] =
    if (!keyed) AllTuples :: Nil
    else {
      val key = child.output.head
      ClusteredDistribution(Seq(key), requiredNumPartitions =
        Some(keyPartitions(key, child.outputPartitioning, conf))) :: Nil
    }

  def ordering(keyed: Boolean, child: SparkPlan): Seq[Seq[SortOrder]] =
    if (keyed)
      Seq(Seq(SortOrder(child.output.head, Ascending),
        SortOrder(child.output(1), Ascending)))
    else Seq(Seq(SortOrder(child.output(1), Ascending)))

  /** A plain hash partitioning on exactly `key`. */
  def hashOnKey(h: HashPartitioning, key: Expression): Boolean =
    h.expressions.length == 1 && h.expressions.head.semanticEquals(key)

  /** The pinned partition count for a child partitioned as `p`. */
  private def keyPartitions(key: Expression, p: Partitioning,
      conf: SQLConf): Int = {
    def onKey(q: Partitioning): Boolean = q match {
      case h: HashPartitioning       => hashOnKey(h, key)
      case c: PartitioningCollection => c.partitionings.exists(onKey)
      case _                         => false
    }
    if (onKey(p)) p.numPartitions else conf.numShufflePartitions
  }
}

/** The physical CEP operator: one key-grouped feed loop (`CepFeedLoop`)
  * for every entry point. Per row it switches key, decodes the event
  * once, peeks for the key's last event when `$` or the gauge needs it,
  * feeds each member whose gate admits the event type, and renders what
  * `emission` asks for. An event outside a member's gate is invisible to
  * it (the prefilter proof), so skipping the feed leaves its state, and
  * hence its run count, exactly as feeding would. An anchored member
  * never has a gate (`SparkCep.prefilter` declines anchored queries), so
  * the flagged last event always reaches it.
  *
  * Skew gauge: `acc.add` once per EVENT with the MAX live-run count
  * across the members, so `Stats.events` counts events fed and
  * `maxRuns` finds the hottest pattern on the hottest key.
  */
private[graft] final case class CepMatchExec(
    members: Vector[CepMember],
    emission: CepEmission,
    keyed: Boolean,
    attrNames: Seq[String],
    maxRunsPerKey: Option[Int],
    skewAcc: Option[CepSkewAccumulator],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  /** See `CepChildContract`. */
  override def requiredChildDistribution: Seq[Distribution] =
    CepChildContract.distribution(keyed, child, conf)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    CepChildContract.ordering(keyed, child)

  /** Rows stay partitioned by key — but the claim must be expressed in
    * *our* output key attribute (the child's `__key` is not visible above
    * this node, so passing its partitioning through verbatim would be a
    * dangling reference no downstream requirement could ever match). When
    * the child is hash-partitioned exactly on the key, rewrite to the
    * output key so downstream key-wise operators skip their shuffle;
    * otherwise claim nothing.
    */
  override def outputPartitioning: Partitioning =
    child.outputPartitioning match {
      case h: HashPartitioning
          if keyed && CepChildContract.hashOnKey(h, child.output.head) =>
        HashPartitioning(Seq(output(emission.keyIndex)), h.numPartitions)
      case p if !keyed => p // single partition either way
      case p => UnknownPartitioning(p.numPartitions)
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val ms = members
    val em = emission
    val aNames = attrNames.toVector
    val strFlags = CepRowDecode.flagsOf(child.output)
    val maxRuns = maxRunsPerKey
    val outTypes = output.map(_.dataType).toArray
    val skew = skewAcc
    // unkeyed = single task by construction; the guard makes a
    // table-scale feed loud instead of silently serial (see
    // CepRuntimeWarnings). Resolved driver-side so the conf travels.
    val unkeyedWarnRows: Long =
      if (keyed) Long.MaxValue
      else conf.getConfString(CepRuntimeWarnings.UnkeyedWarnRowsKey,
        CepRuntimeWarnings.UnkeyedWarnRowsDefault.toString).toLong
    val keyDt = child.output.head.dataType
    child.execute().mapPartitions({ iter0 =>
      val iter = iter0.buffered
      val loop = new CepFeedLoop(ms, em, maxRuns, aNames, strFlags,
        outTypes, skew.orNull, unkeyedWarnRows, keyDt, iter)
      iter.flatMap(loop.step)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : CepMatchExec = copy(child = newChild)
}

/** One task's state of the `CepMatchExec` feed loop: `step` takes the
  * task's rows in order, the next one readable as `iter.head`.
  */
private final class CepFeedLoop(ms: Vector[CepMember], em: CepEmission,
    maxRuns: Option[Int], aNames: Vector[String], strFlags: Array[Boolean],
    outTypes: Array[DataType], acc: CepSkewAccumulator,
    unkeyedWarnRows: Long, keyDt: DataType,
    iter: BufferedIterator[InternalRow]) {
  private val proj = UnsafeProjection.create(outTypes)
  private val timeouts = em == CepEmission.Timeouts
  private val bindings = em == CepEmission.Bindings
  private val gauge = em.isInstanceOf[CepEmission.ShedGauge]
  private val executors = ms.map { m =>
    val q = m.query
    new Executor(DstCompiler.compile(q), q.strategy, maxRuns, q.within,
      q.withinTime, captureTimeouts = timeouts,
      anchorStart = q.anchorStart, anchorEnd = q.anchorEnd)
  }.toArray
  private val gates = ms.map(_.gate).toArray
  private val names = ms.map(m => Pattern.names(m.query.patseq)).toArray
  // qname as UTF8String once per task, not per match
  private val qnames = ms.map(m => UTF8String.fromString(m.name)).toArray
  private val sink = em match {
    case m: CepEmission.Measures =>
      new CepMeasuresSink(m, proj, qnames, executors)
    case _ => null
  }
  // `$` on any member needs the last-event-of-key flag (per KEY, so one
  // peek serves every member); the gauge and MEASURES emit at key end
  private val flagLast = !timeouts && ms.exists(_.query.anchorEnd)
  private val peek = flagLast || gauge || sink != null
  // per-event scratch: this row's output per member (reused — safe, the
  // row's output iterator is drained before the next row starts)
  private val found = new Array[Vector[Match]](executors.length)
  private val guard = new CepRuntimeWarnings.UnkeyedCounter(unkeyedWarnRows)
  private val keyGet = CepKeyAccess.reader(keyDt)
  private val keyCopy = CepKeyAccess.copier(keyDt)
  private val keyEq = CepKeyAccess.eq(keyDt)
  // curKey always holds a COPY (safe across the row-buffer reuse);
  // transient reads are only ever compared against it, never held
  private var curKey: Any = null
  private var started = false
  private var prevShed = 0L
  private var keyMatches = 0L

  private def shedCount: Long = {
    var sc = 0L
    var qi = 0
    while (qi < executors.length) { sc += executors(qi).shedCount; qi += 1 }
    sc
  }

  def step(row: InternalRow): Iterator[InternalRow] = {
    guard.tick()
    val k0 = keyGet(row)
    if (!started || !keyEq(k0, curKey)) {
      executors.foreach(_.reset()); prevShed = 0L; keyMatches = 0L
      curKey = keyCopy(k0); started = true
    }
    val ev = CepRowDecode.decode(row, curKey, aNames, strFlags)
    // UNSAFE-ROW CAUTION: the child iterator reuses its row buffer, so
    // `iter.head` invalidates the current row — the peek happens only
    // AFTER the row is fully decoded (key copy + Event copy)
    val last = peek && (!iter.hasNext || !keyEq(keyGet(iter.head), curKey))
    val tpe = ev.tpe
    var any = false
    var qi = 0
    while (qi < executors.length) {
      val gate = gates(qi)
      val ex = executors(qi)
      val out =
        if (gate == null || (tpe != null && gate.contains(tpe))) {
          val matches = ex.feed(ev, flagLast && last)
          if (!timeouts) matches
          else ex.drainTimedOut().map(ex.partialOutput(_, names(qi)))
        } else Vector.empty
      if (out.nonEmpty) { any = true; keyMatches += out.size }
      found(qi) = out
      qi += 1
    }
    if (acc != null) {
      // the hottest member's POST-feed run count
      var maxRunCount = 0L
      qi = 0
      while (qi < executors.length) {
        maxRunCount = math.max(maxRunCount, executors(qi).runCount.toLong)
        qi += 1
      }
      acc.add((graft.cep.SparkCep.keyGaugeId(curKey), maxRunCount))
      // shed telemetry: delta since the last event (reset() zeroes the
      // executors' counters at each key switch)
      val sc = shedCount
      if (sc != prevShed) { acc.addShed(sc - prevShed); prevShed = sc }
    }
    // PROJECTION stays lazy — proj reuses one UnsafeRow buffer, so each
    // projected row must be consumed downstream before the next one is
    // projected (standard operator contract, as ProjectExec)
    if (gauge) {
      if (!last) Iterator.empty
      else Iterator.single(proj(new GenericInternalRow(Array[Any](curKey,
        keyMatches, shedCount,
        em.asInstanceOf[CepEmission.ShedGauge].cap.toLong))))
    } else if (sink != null) sink.step(ev, found, last, curKey)
    else if (!any) Iterator.empty
    else found.indices.iterator.flatMap { q =>
      found(q).iterator.map { m =>
        proj(
          if (bindings) CepRender.binding(qnames(q), curKey, names(q), m)
          else CepRender.orderIds(curKey, names(q), m))
      }
    }
  }
}

/** The `Measures` emission's task state: each member's kept matches of
  * the current key (`CepMeasures.KeyMatches`), and the key's fed
  * ordinals not yet rendered when a member renders rows the NFA never
  * binds (`CepMeasures.Rendering.seesEveryRow`). Once the kept matches
  * and ordinals reach `flushAt`, the earliest order id any live run has
  * bound (or this event's) is a watermark no later match starts before:
  * everything before it is rendered and dropped, so a key keeps matches
  * only while a run that started before them is alive. The key's last
  * event renders the rest.
  */
private final class CepMeasuresSink(em: CepEmission.Measures,
    proj: UnsafeProjection, qnames: Array[UTF8String],
    executors: Array[Executor]) {
  private val keyMatches =
    em.renderings.map(new CepMeasures.KeyMatches(_)).toArray
  private val recordOrds = em.renderings.exists(_.seesEveryRow)
  private var ords = new Array[Long](64)
  private var nOrds = 0
  private var first = 0L
  private var fresh = true
  private var flushAt = CepMeasuresSink.FlushMin
  // this event's output blocks by member (drained before the next step)
  private val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Any])]
  private val emit = Array.tabulate(keyMatches.length)(q =>
    (b: Array[Any]) => { out += q -> b; () })
  // where each member's block starts in a shared row
  private val offsets =
    em.renderings.scanLeft(2)(_ + _.fields.length).toArray

  def step(ev: Event, found: Array[Vector[Match]], last: Boolean,
      key: Any): Iterator[InternalRow] = {
    val o = CepRowDecode.orderId(ev)
    if (fresh) { first = o; fresh = false }
    if (recordOrds) {
      if (nOrds == ords.length)
        ords = java.util.Arrays.copyOf(ords, nOrds * 2)
      ords(nOrds) = o
      nOrds += 1
    }
    out.clear()
    var q = 0
    while (q < found.length) {
      if (found(q).nonEmpty) found(q).foreach(keyMatches(q).add(_, emit(q)))
      q += 1
    }
    if (last) {
      flush(Long.MaxValue, keyEnd = true, nOrds)
      nOrds = 0; fresh = true; flushAt = CepMeasuresSink.FlushMin
    } else if (kept >= flushAt) {
      val w = watermark(o)
      var n = 0
      while (n < nOrds && ords(n) < w) n += 1
      flush(w, keyEnd = false, n)
      System.arraycopy(ords, n, ords, 0, nOrds - n)
      nOrds -= n
      flushAt = math.max(CepMeasuresSink.FlushMin, 2 * kept)
    }
    if (out.isEmpty) Iterator.empty
    else out.iterator.map { case (q, b) =>
      proj(new GenericInternalRow(row(q, key, b)))
    }
  }

  private def flush(w: Long, keyEnd: Boolean, n: Int): Unit = {
    var q = 0
    while (q < keyMatches.length) {
      keyMatches(q).flush(w, keyEnd, ords, n, first, emit(q)); q += 1
    }
  }

  /** Matches and ordinals the sink holds. */
  private def kept: Int = {
    var s = nOrds
    var q = 0
    while (q < keyMatches.length) { s += keyMatches(q).size; q += 1 }
    s
  }

  /** No later match of the key starts before the earliest event a live
    * run has bound, nor before the current event.
    */
  private def watermark(cur: Long): Long = {
    var w = cur
    executors.foreach(_.snapshot._2.foreach { case (_, c) =>
      c.ctx.valuesIterator.foreach(evs =>
        if (evs.nonEmpty) w = math.min(w, CepRowDecode.orderId(evs.head)))
    })
    w
  }

  private def row(q: Int, key: Any, block: Array[Any]): Array[Any] =
    if (!em.shared) key +: block
    else {
      val vals = new Array[Any](offsets.last)
      vals(0) = qnames(q)
      vals(1) = key
      System.arraycopy(block, 0, vals, offsets(q), block.length)
      vals
    }
}

private object CepMeasuresSink {
  /** Held matches and ordinals before the first mid-key flush; each
    * flush moves the bar to twice what it could not render, so a key
    * whose oldest run stays alive costs O(log) watermark scans.
    */
  val FlushMin = 1024
}

/** The per-match row shapes of `CepMatchExec`. */
private[plans] object CepRender {
  /** The key, then each name's bound order ids (`OrderIds`, `Timeouts`). */
  def orderIds(key: Any, names: Vector[String], m: Match): InternalRow = {
    val byName = m.toMap
    val vals = new Array[Any](names.length + 1)
    vals(0) = key
    var j = 0
    while (j < names.length) {
      val ids = byName.getOrElse(names(j), Vector.empty)
      val arr = new Array[Long](ids.length)
      var e = 0
      while (e < arr.length) {
        arr(e) = CepRowDecode.orderId(ids(e)); e += 1
      }
      vals(j + 1) = new GenericArrayData(arr)
      j += 1
    }
    new GenericInternalRow(vals)
  }

  /** `(qname, key, binding)` with the bound order ids `','`-joined within
    * a pattern name and `';'`-joined across names in declared order.
    */
  def binding(qname: UTF8String, key: Any, names: Vector[String],
      m: Match): InternalRow = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < names.length) {
      if (j > 0) sb.append(';')
      val n = names(j)
      // linear scan: a Match holds 1-3 tiny components — beats building
      // a map per match
      var i = 0
      while (i < m.length) {
        if (m(i)._1 == n) {
          val evs = m(i)._2
          var e = 0
          while (e < evs.length) {
            if (e > 0) sb.append(',')
            sb.append(CepRowDecode.orderId(evs(e)))
            e += 1
          }
          i = m.length
        } else i += 1
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](qname, key,
      UTF8String.fromString(sb.toString)))
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

import graft.cep.{CepQuery, CepRuntimeWarnings, CepSkewAccumulator, DstCompiler, Event, Executor}

/** The CEP pattern-match operator as a first-class Catalyst plan — the
  * prompt's extension path (c): a custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, planned through the session's planner instead of a
  * `mapPartitions` lambda.
  *
  * Why this beats the typed-operator formulation at scale: the physical
  * node *declares* its needs — `requiredChildDistribution =
  * ClusteredDistribution(key)` at a pinned partition count and
  * `requiredChildOrdering = (key, ord)` (`CepChildContract`) — and
  * `EnsureRequirements` inserts the exchange/sort only when the child
  * doesn't already satisfy them. A manual `repartition(key)` (the
  * `matchPattern` path) always shuffles, even when the input is already
  * hash-partitioned by the key (bucketed source, co-partitioned upstream
  * stage); this node re-uses that partitioning at its own partition count
  * and pays only a local sort — pinned by `CepExecSpec`. Otherwise the
  * exchange keeps `spark.sql.shuffle.partitions` partitions: AQE may not
  * coalesce it by bytes (`CepExecParallelismSpec`). The NFA loop itself
  * is identical.
  *
  * Child contract (built by `SparkCep.prepare`): columns
  * `(__key: long, __ord: long, __type: string, attr…: long)`.
  */
final case class CepMatchPlan(
    query: CepQuery,
    keyed: Boolean,
    piNames: Seq[String],
    orderName: String,
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

/** Planner rule: lower the logical CEP nodes to their physical operators. */
object CepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CepMatchPlan =>
      CepMatchExec(p.query, p.keyed, p.piNames, p.orderName, p.attrNames,
        p.maxRunsPerKey, p.skewAcc, p.output, planLater(p.child)) :: Nil
    case p: CepMultiMatchPlan =>
      CepMultiMatchExec(p.queries, p.feedTypes, p.keyed, p.orderName,
        p.attrNames, p.maxRunsPerKey, p.skewAcc, p.output,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Multi-query shared-scan CEP as a logical node: k patterns over one
  * prepared child (one scan, one union filter upstream), lowered to
  * `CepMultiMatchExec`. Same child contract as `CepMatchPlan`.
  */
final case class CepMultiMatchPlan(
    queries: Vector[(String, CepQuery)],
    feedTypes: Vector[Option[Set[String]]],
    keyed: Boolean,
    orderName: String,
    attrNames: Seq[String],
    maxRunsPerKey: Option[Int],
    skewAcc: Option[CepSkewAccumulator],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def references: AttributeSet = AttributeSet(child.output)
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : CepMultiMatchPlan = copy(child = newChild)
}

/** Typed access to the child's key column (ordinal 0) for the exec
  * loops — EXACT for every key type. `read` returns a TRANSIENT value
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

/** Shared per-row decode of the prepared child contract
  * `(__key, __ord, __type, attr…)` — ONE implementation for both the
  * single- and multi-query exec nodes so the decode semantics cannot
  * drift between them:
  *  - a null order value has no position in the sequence — fail loudly
  *    (the typed path NPEs on them; silent getLong-as-0 would corrupt
  *    match ids);
  *  - a null type is a non-matching event type (matchPattern
  *    semantics — it still advances strict contiguity), never an NPE;
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
      oName: String, strFlags: Array[Boolean]): Event = {
    if (row.isNullAt(1)) throw new IllegalArgumentException(
      s"CEP order column is null for key $key — order values must be " +
        "non-null and unique per key")
    val attrs = Vector.newBuilder[(String, Long)]
    var strs: scala.collection.mutable.Builder[(String, String),
      Vector[(String, String)]] = null
    attrs += oName -> row.getLong(1)
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

/** The child requirements both CEP exec nodes declare — ONE
  * implementation, so the single- and multi-query nodes cannot drift.
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

final case class CepMatchExec(
    query: CepQuery,
    keyed: Boolean,
    piNames: Seq[String],
    orderName: String,
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

  /** Matches stay partitioned by key — but the claim must be expressed in
    * *our* output attribute (the child's `__key` is not visible above this
    * node, so passing its partitioning through verbatim would be a dangling
    * reference no downstream requirement could ever match). When the child
    * is hash-partitioned exactly on the key, rewrite to the output key
    * attr so downstream key-wise operators skip their shuffle; otherwise
    * claim nothing.
    */
  override def outputPartitioning: Partitioning =
    child.outputPartitioning match {
      case h: HashPartitioning
          if keyed && CepChildContract.hashOnKey(h, child.output.head) =>
        HashPartitioning(Seq(output.head), h.numPartitions)
      case p if !keyed => p // single partition either way
      case p => UnknownPartitioning(p.numPartitions)
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val q = query
    val names = piNames.toVector
    val aNames = attrNames.toVector
    val oName = orderName
    val strFlags = CepRowDecode.flagsOf(child.output)
    val maxRuns = maxRunsPerKey
    val outTypes = output.map(_.dataType).toArray
    val nOut = outTypes.length
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
      val proj = UnsafeProjection.create(outTypes)
      val executor =
        new Executor(DstCompiler.compile(q), q.strategy, maxRuns, q.within,
          q.withinTime,
          anchorStart = q.anchorStart, anchorEnd = q.anchorEnd)
      // `$` needs the last-event-of-key flag — one-element lookahead.
      // UNSAFE-ROW CAUTION: the child iterator reuses its row buffer, so
      // `iter.head` invalidates the current row — the peek must happen
      // AFTER the row is fully decoded (key copy + Event copy), which
      // the body below guarantees (decode first, peek, then feed).
      val iter = iter0.buffered
      val needLast = q.anchorEnd
      // gauge resolved once per task; disabled cost is one null check
      val acc = skew.orNull
      val guard = new CepRuntimeWarnings.UnkeyedCounter(unkeyedWarnRows)
      val keyGet = CepKeyAccess.reader(keyDt)
      val keyCopy = CepKeyAccess.copier(keyDt)
      val keyEq = CepKeyAccess.eq(keyDt)
      // curKey always holds a COPY (safe across the row-buffer reuse);
      // transient reads are only ever compared against it, never held
      var curKey: Any = null
      var started = false
      var prevShed = 0L
      iter.flatMap { row =>
        guard.tick()
        val k0 = keyGet(row)
        if (!started || !keyEq(k0, curKey)) {
          executor.reset(); prevShed = 0L
          curKey = keyCopy(k0); started = true
        }
        val ev = CepRowDecode.decode(row, curKey, aNames, oName, strFlags)
        val isLast = needLast &&
          (!iter.hasNext || !keyEq(keyGet(iter.head), curKey))
        val matches = executor.feed(ev, isLast)
        if (acc != null) {
          acc.add((graft.cep.SparkCep.keyGaugeId(curKey),
            executor.runCount.toLong))
          // shed telemetry: delta since the last event (reset() zeroes
          // the executor's counter at each key switch)
          val sc = executor.shedCount
          if (sc != prevShed) { acc.addShed(sc - prevShed); prevShed = sc }
        }
        // LAZY map: proj reuses one UnsafeRow buffer, so each projected
        // row must be consumed downstream before the next match of the
        // same event is projected (a strict Vector.map would emit N
        // references to the last match's bytes)
        matches.iterator.map { m =>
          val byName = m.toMap
          val vals = new Array[Any](nOut)
          vals(0) = curKey
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
          // proj reuses its buffer — standard operator contract (buffering
          // consumers copy), same as ProjectExec
          proj(new GenericInternalRow(vals))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : CepMatchExec = copy(child = newChild)
}

/** Physical shared-scan CEP: one event decode per row, every member DST
  * fed side by side, matches rendered to the `(qname, key, binding)`
  * reporting shape. The distribution/ordering contract is identical to
  * `CepMatchExec` — ONE exchange serves all k patterns, which is the
  * operator's entire reason to exist (the 100 TB scan and the key
  * shuffle amortize across the query set).
  *
  * Skew gauge semantics (deliberate, documented at the API): `acc.add`
  * once per EVENT with the MAX live-run count across member executors —
  * `Stats.events` counts events fed, `maxRuns` the hottest pattern.
  */
final case class CepMultiMatchExec(
    queries: Vector[(String, CepQuery)],
    feedTypes: Vector[Option[Set[String]]],
    keyed: Boolean,
    orderName: String,
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

  /** Key-partitioned in, key-partitioned out — but the output key is
    * column 1 (qname leads), so the rewrite targets `output(1)`.
    */
  override def outputPartitioning: Partitioning =
    child.outputPartitioning match {
      case h: HashPartitioning
          if keyed && CepChildContract.hashOnKey(h, child.output.head) =>
        HashPartitioning(Seq(output(1)), h.numPartitions)
      case p if !keyed => p
      case p => UnknownPartitioning(p.numPartitions)
    }

  override protected def doExecute(): RDD[InternalRow] = {
    val qSeq = queries
    val fTypes = feedTypes
    val aNames = attrNames.toVector
    val oName = orderName
    val strFlags = CepRowDecode.flagsOf(child.output)
    val maxRuns = maxRunsPerKey
    val outTypes = output.map(_.dataType).toArray
    val skew = skewAcc
    val unkeyedWarnRows: Long =
      if (keyed) Long.MaxValue
      else conf.getConfString(CepRuntimeWarnings.UnkeyedWarnRowsKey,
        CepRuntimeWarnings.UnkeyedWarnRowsDefault.toString).toLong
    val keyDt = child.output.head.dataType
    child.execute().mapPartitions({ iter0 =>
      import org.apache.spark.unsafe.types.UTF8String
      val proj = UnsafeProjection.create(outTypes)
      // qname as UTF8String once per task, not per match
      val names = qSeq.map { case (n, _) => UTF8String.fromString(n) }
      val piNamesByQ = qSeq.map { case (_, q) =>
        graft.cep.SparkCep.patternNames(q.patseq)
      }
      val executors = qSeq.map { case (_, q) =>
        new Executor(DstCompiler.compile(q), q.strategy, maxRuns,
          q.within, q.withinTime,
          anchorStart = q.anchorStart, anchorEnd = q.anchorEnd)
      }
      // `$` on any member needs the last-event-of-key flag (per-KEY, so
      // one peek serves all members). Same UnsafeRow caution as the
      // single-query exec: peek only after the row is fully decoded.
      val iter = iter0.buffered
      val needLast = qSeq.exists(_._2.anchorEnd)
      // null = feed everything (member declined a prefilter)
      val gates: Array[Set[String]] = fTypes.map(_.orNull).toArray
      // per-event scratch: this row's matches per member (reused — safe,
      // the row's output iterator is drained before the next row starts)
      val matchesByQ = new Array[Vector[graft.cep.Match]](executors.length)
      val acc = skew.orNull
      val guard = new CepRuntimeWarnings.UnkeyedCounter(unkeyedWarnRows)
      val keyGet = CepKeyAccess.reader(keyDt)
      val keyCopy = CepKeyAccess.copier(keyDt)
      val keyEq = CepKeyAccess.eq(keyDt)
      // curKey always holds a COPY (see CepMatchExec)
      var curKey: Any = null
      var started = false
      var prevShed = 0L
      iter.flatMap { row =>
        guard.tick()
        val k0 = keyGet(row)
        if (!started || !keyEq(k0, curKey)) {
          executors.foreach(_.reset()); prevShed = 0L
          curKey = keyCopy(k0); started = true
        }
        val ev = CepRowDecode.decode(row, curKey, aNames, oName, strFlags)
        val isLast = needLast &&
          (!iter.hasNext || !keyEq(keyGet(iter.head), curKey))
        val tpe = ev.tpe
        var maxRunCount = 0L
        // feed every member eagerly (the gauge samples POST-feed run
        // counts); match vectors are collected per member without an
        // intermediate builder — the common case is zero matches
        var qi = 0
        var any = false
        while (qi < executors.length) {
          // per-member feed gate: events outside a prefiltered member's
          // alphabet are invisible to it (SparkCep.memberFeedTypes) —
          // skipping the feed leaves its state, and hence runCount,
          // exactly as feeding would
          // an anchored member never declares a gate (SparkCep.prefilter
          // returns None for anchored queries), so the flagged last
          // event always reaches it
          val gate = gates(qi)
          matchesByQ(qi) =
            if (gate == null || (tpe != null && gate.contains(tpe))) {
              val ms = executors(qi).feed(ev, isLast)
              if (ms.nonEmpty) any = true
              ms
            } else Vector.empty
          val rc = executors(qi).runCount.toLong
          if (rc > maxRunCount) maxRunCount = rc
          qi += 1
        }
        if (acc != null) {
          acc.add((graft.cep.SparkCep.keyGaugeId(curKey), maxRunCount))
          var sc = 0L
          var si = 0
          while (si < executors.length) { sc += executors(si).shedCount; si += 1 }
          if (sc != prevShed) { acc.addShed(sc - prevShed); prevShed = sc }
        }
        if (!any) Iterator.empty
        else executors.indices.iterator.flatMap { q =>
          // PROJECTION stays lazy — proj reuses one UnsafeRow buffer
          matchesByQ(q).iterator.map { m =>
            val piN = piNamesByQ(q)
            val sb = new java.lang.StringBuilder
            var j = 0
            while (j < piN.length) {
              if (j > 0) sb.append(';')
              val n = piN(j)
              // linear scan: a Match holds 1-3 tiny components — beats
              // building a map per match
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
            proj(new GenericInternalRow(Array[Any](names(q), curKey,
              UTF8String.fromString(sb.toString))))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : CepMultiMatchExec = copy(child = newChild)
}

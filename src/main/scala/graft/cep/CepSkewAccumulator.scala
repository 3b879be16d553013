package graft.cep

import org.apache.spark.util.AccumulatorV2

/** Skew observability for distributed CEP runs.
  *
  * The NFA's per-key memory is its live-run set; a pathological key (hot
  * entity + permissive contiguity) grows it combinatorially and is the way
  * a 100 TB CEP job dies. `maxRunsPerKey` is the hard valve; this
  * accumulator is the *gauge*: it tracks, across all tasks, the maximum
  * live-run count ever observed, the key it occurred on, and the total
  * events fed — so a run can be profiled for skew from the driver without
  * any extra shuffle or logging in the hot loop.
  *
  * Usage:
  * {{{
  *   val skew = CepSkewAccumulator.registered(spark, "cep_skew")
  *   val out = SparkCep.matchPatternExec(df, query, spec,
  *     skewAcc = Some(skew))
  *   out.count() // any action
  *   skew.value  // Stats(maxRuns, hottestKey, events)
  * }}}
  */
final class CepSkewAccumulator
    extends AccumulatorV2[(Long, Long), CepSkewAccumulator.Stats] {
  // (hottest key, its run count) plus total events; -1 marks "no input yet"
  private var maxRuns: Long = -1L
  private var hotKey: Long = 0L
  private var events: Long = 0L
  // runs dropped by the shed-oldest salvage (negative cap) — a silent
  // salvage is an operations hazard, so the gauge carries it
  private var shed: Long = 0L

  override def isZero: Boolean = maxRuns == -1L && events == 0L && shed == 0L

  override def copy(): CepSkewAccumulator = {
    val c = new CepSkewAccumulator
    c.maxRuns = maxRuns; c.hotKey = hotKey; c.events = events; c.shed = shed
    c
  }

  override def reset(): Unit = {
    maxRuns = -1L; hotKey = 0L; events = 0L; shed = 0L
  }

  /** `(key, current live-run count)` after feeding one event. */
  override def add(v: (Long, Long)): Unit = {
    if (v._2 > maxRuns) { maxRuns = v._2; hotKey = v._1 }
    events += 1L
  }

  /** Runs dropped by the shed-oldest valve since the last record. */
  def addShed(n: Long): Unit = shed += n

  override def merge(
      other: AccumulatorV2[(Long, Long), CepSkewAccumulator.Stats]): Unit =
    other match {
      case o: CepSkewAccumulator =>
        if (o.maxRuns > maxRuns) { maxRuns = o.maxRuns; hotKey = o.hotKey }
        events += o.events
        shed += o.shed
      case _ =>
        throw new UnsupportedOperationException(
          s"cannot merge ${other.getClass.getName}")
    }

  override def value: CepSkewAccumulator.Stats =
    CepSkewAccumulator.Stats(math.max(maxRuns, 0L), hotKey, events, shed)
}

object CepSkewAccumulator {
  /** `maxRuns`: largest live-run set any key ever held; `hottestKey`: the
    * key holding it (the `__key` value — for hashed keys, the hash);
    * `events`: total events fed through NFAs; `shedRuns`: partial runs
    * dropped by the shed-oldest salvage (0 unless a negative cap /
    * `runCapPolicy=shedOldest` is active AND a key actually hit the
    * cap — nonzero means some hot keys' output is the documented
    * sub-multiset, not exact).
    */
  final case class Stats(maxRuns: Long, hottestKey: Long, events: Long,
      shedRuns: Long = 0L)

  /** Create and register with the session's SparkContext. */
  def registered(spark: org.apache.spark.sql.SparkSession,
      name: String = "cep_skew"): CepSkewAccumulator = {
    val acc = new CepSkewAccumulator
    spark.sparkContext.register(acc, name)
    acc
  }
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top) and `op` names the operation the call belongs to.
  */
final case class Span(id: Int, name: String, op: String, parent: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing; the spans are written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, name, op, stack.headOption.getOrElse(-1),
        System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq
}

/** Job, stage and task accounting from Spark's listener bus, plus the
  * bytes of cached RDD blocks held at any moment. Read it only after
  * `Drain`, so every event of the finished operation has arrived.
  */
final class SparkCounters extends SparkListener {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite,
    spillBytes = 0L
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L

  /** Starts a new window for `taskSkew` and `cachedPeak`; the other
    * counts are cumulative, take differences of `snap()`.
    */
  def mark(): Unit = synchronized {
    stageTasks.clear(); cachedPeak = cachedNow
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val bytes =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedNow += bytes - cached.getOrElse(info.blockId.name, 0L)
        if (bytes == 0L) cached.remove(info.blockId.name)
        else cached(info.blockId.name) = bytes
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }

  def snap(): CounterSnap = synchronized {
    CounterSnap(jobs, stages, tasks, runMs, cpuNs / 1000000L, gcMs,
      inputBytes, shuffleRead, shuffleWrite, spillBytes, taskSkew,
      cachedPeak)
  }

  /** Max over median task run time in the stage with the most tasks. */
  def taskSkew: Double = synchronized {
    if (stageTasks.isEmpty) 1.0
    else {
      val widest = stageTasks.values.maxBy(ts => (ts.length, ts.sum))
      val s = widest.sorted
      val med = s(s.length / 2)
      if (med <= 0) 1.0 else s.last.toDouble / med
    }
  }
}

/** Listener counts of one operation. */
final case class CounterSnap(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuMs: Long, gcMs: Long, inputBytes: Long,
    shuffleRead: Long, shuffleWrite: Long, spillBytes: Long,
    taskSkew: Double, cachedPeak: Long) {
  /** Counts since `before`; skew and peak are this window's own. */
  def since(before: CounterSnap): CounterSnap = CounterSnap(
    jobs - before.jobs, stages - before.stages, tasks - before.tasks,
    runMs - before.runMs, cpuMs - before.cpuMs, gcMs - before.gcMs,
    inputBytes - before.inputBytes, shuffleRead - before.shuffleRead,
    shuffleWrite - before.shuffleWrite, spillBytes - before.spillBytes,
    taskSkew, cachedPeak)

  /** Sum of two windows; skew and peak are the larger of the two. */
  def +(o: CounterSnap): CounterSnap = CounterSnap(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuMs + o.cpuMs,
    gcMs + o.gcMs, inputBytes + o.inputBytes, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spillBytes + o.spillBytes,
    math.max(taskSkew, o.taskSkew), math.max(cachedPeak, o.cachedPeak))
}

object CounterSnap {
  val zero: CounterSnap = CounterSnap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1.0, 0)
}

/** Streaming progress reports, as Structured Streaming publishes them. */
final class ProgressLog extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = synchronized { progress += e.progress }
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = progress.toSeq; progress.clear(); out
  }
}

object PlanMetrics {

  /** Every SQLMetric of the AQE-final physical plan, keyed by
    * `<preorder index>:<node name>.<metric name>`; a metric added to an
    * operator later appears here with no change to the benchmark.
    */
  def of(df: DataFrame): Seq[(String, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    val seen = new java.util.IdentityHashMap[SparkPlan, Boolean]
    var idx = 0
    def walk(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, true)
      val i = idx; idx += 1
      p.metrics.toSeq.sortBy(_._1).foreach { case (n, m) =>
        out += s"$i:${p.nodeName}.$n" -> m.value
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    out.toSeq
  }
}

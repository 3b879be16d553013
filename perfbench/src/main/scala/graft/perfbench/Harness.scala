package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operation of a pass: `build` returns the program's DataFrame and
  * the harness materializes it.
  */
final case class Op(name: String, build: () => DataFrame)

/** One executed operation. `ms` counts only when `ok`; `fp` is empty when
  * the operation was not verified (warm-up passes).
  */
final case class OpRun(name: String, ms: Double, ok: Boolean, fp: String,
    err: String = "")

/** One pass: its operations and the correctness checks run after it.
  * `ms` is the timed part only; verification is not in it.
  */
final case class PassRun(ms: Double, ops: Seq[OpRun],
    checks: Seq[OpRun] = Nil) {
  def ok: Boolean = ops.forall(_.ok) && checks.forall(_.ok)
}

/** Per-operation detail of a traced pass, written to the trace file. */
final case class OpTrace(name: String, wallMs: Double, buildMs: Double,
    buildJobs: Long, planMs: Double, execMs: Double, spark: CounterSnap,
    sqlMetrics: Seq[(String, Long)])

/** Order-insensitive content hash of a DataFrame: row count plus two sums
  * of per-row hashes over every column. Doubles are rounded to 6 places
  * first, so summation order cannot flip a fingerprint.
  */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The two per-row hashes whose sums make the fingerprint. */
  def rowHashes(cols: Seq[Column]): (Column, Column) =
    if (cols.isEmpty) (lit(0L), lit(0L))
    else (pmod(xxhash64(cols: _*), lit(2147483647L)),
      hash(cols: _*).cast(LongType))

  def df(in: DataFrame): DataFrame = {
    val (h1, h2) = rowHashes(in.schema.fields.toSeq.map(f =>
      norm(in.col("`" + f.name + "`"), f.dataType)))
    in.agg(count(lit(1)), sum(h1), sum(h2))
  }

  def str(r: Row): String =
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"

  def of(in: DataFrame): String = str(df(in).collect().head)
}

/** Runs operations, timed or traced, and checks each result against its
  * expected fingerprint. The timed part of an operation is the build of
  * its DataFrame, planning, and one execution that discards the rows; the
  * fingerprint comes from a second, untimed execution of the same
  * DataFrame. A failed or mismatched operation is counted and its time is
  * dropped.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer,
    val counters: Option[SparkCounters]) {

  val opTraces = mutable.ArrayBuffer.empty[OpTrace]
  /** Listener counts of the timed regions only (traced runs). */
  var spent: CounterSnap = CounterSnap.zero

  private def drain(): Unit =
    if (counters.isDefined)
      org.apache.spark.perfbench.Drain(spark.sparkContext)

  /** Runs `body` as a timed region and adds its listener counts to
    * `spent`; returns the result and the counts.
    */
  def measured[T](body: => T): (T, Option[CounterSnap]) = {
    drain()
    counters.foreach(_.mark())
    val before = counters.map(_.snap())
    val out = body
    drain()
    val d = counters.map(_.snap().since(before.get))
    d.foreach(x => spent = spent + x)
    (out, d)
  }

  def runOp(op: Op, expected: String => Option[String],
      verify: Boolean): OpRun = {
    val t0 = System.nanoTime()
    try {
      tracer.span("op", op.name) {
        graft.ops.CacheScope.withCaches(spark) {
          val ((df, buildMs, buildJobs, planMs, execMs), snap) = measured {
            val before = counters.map(_.snap())
            val tb = System.nanoTime()
            val df = tracer.span("build", op.name)(op.build())
            val buildMs = (System.nanoTime() - tb) / 1e6
            drain()
            val buildJobs =
              counters.map(_.snap().jobs - before.get.jobs).getOrElse(0L)
            val qe = df.queryExecution
            val tp = System.nanoTime()
            tracer.span("plan", op.name)(qe.executedPlan)
            val planMs = (System.nanoTime() - tp) / 1e6
            val te = System.nanoTime()
            tracer.span("exec", op.name)(Harness.materialize(qe))
            (df, buildMs, buildJobs, planMs, (System.nanoTime() - te) / 1e6)
          }
          val ms = buildMs + planMs + execMs
          snap.foreach(k => opTraces += OpTrace(op.name, ms, buildMs,
            buildJobs, planMs, execMs, k, PlanMetrics.of(df)))
          if (!verify) OpRun(op.name, ms, ok = true, "")
          else tracer.span("verify", op.name) {
            val fp = Fingerprint.of(df)
            expected(op.name) match {
              case Some(e) if e != fp =>
                OpRun(op.name, ms, ok = false, fp,
                  s"fingerprint $fp != expected $e")
              case _ => OpRun(op.name, ms, ok = true, fp)
            }
          }
        }
      }
    } catch {
      case e: Throwable =>
        OpRun(op.name, (System.nanoTime() - t0) / 1e6, ok = false, "",
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  def runPass(ops: Seq[Op], expected: String => Option[String],
      verify: Boolean): PassRun = {
    val runs = ops.map(runOp(_, expected, verify))
    PassRun(runs.map(_.ms).sum, runs)
  }
}

object Harness {
  /** Executes the planned query once and discards its rows, as an action
    * does, without converting or collecting them.
    */
  def materialize(qe: QueryExecution): Unit =
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.foreach(_ => ())
    }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

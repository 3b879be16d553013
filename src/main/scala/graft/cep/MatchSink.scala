package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Result writers, mirroring the reference's output surfaces
  * (`/root/reference/tests/utils.py:36-68` CSV recorder,
  * `/root/reference/exp/run.py:70-80` YAML + txt result files) at both
  * levels of the engine:
  *
  *  - in-memory `Match` streams → the reference's display formats
  *    (fancy per-line / Python-dict repr), used by `RunTestcase` to emit
  *    `<name>.txt` / `<name>.yml` / CSV rows;
  *  - match `DataFrame`s (from `SparkCep.matchPatternExec`) → distributed
  *    CSV / JSON(lines) / Parquet sinks via Spark's writers (scale path:
  *    the sink inherits the frame's partitioning — no collect).
  */
object MatchSink {

  /** Python-dict repr of one match: `{'a': [e(1,1,0)], 'b': [e(2,2,0)]}`
    * (the goldens' format, `/root/reference/reflinkcep/executor.py` match
    * dicts printed via `event.py:19-22` event reprs).
    */
  def dictRepr(m: Match): String =
    m.map { case (k, evs) => s"'$k': [${evs.mkString(", ")}]" }
      .mkString("{", ", ", "}")

  /** Python-list repr of a match stream. */
  def streamRepr(ms: Seq[Match]): String =
    ms.map(dictRepr).mkString("[", ", ", "]")

  /** Fancy per-line repr: `a: e(..), e(..); b: e(..)` — the reference's
    * txt-file format (one match per line).
    */
  def fancyRepr(ms: Seq[Match]): String =
    ms.map(m =>
      m.map { case (k, evs) => s"$k: ${evs.mkString(", ")}" }
        .mkString("; ")).mkString("\n")

  /** One CSV row in the reference recorder's column layout
    * (`#,from,pattern,input,output,elapsed_ms` — `tests/utils.py:37`),
    * with embedded quotes doubled per RFC 4180.
    */
  def csvRow(idx: Int, from: String, pattern: String, input: Seq[Event],
      output: Seq[Match], elapsedMs: Double): String = {
    def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    val in = input.mkString("[", ", ", "]")
    s"$idx,${q(from)},${q(pattern)},${q(in)},${q(fancyRepr(output))},$elapsedMs"
  }

  val csvHead = "#,from,pattern,input,output,elapsed_ms"

  /** Array columns joined to `+`-separated strings so the frame becomes
    * CSV-representable (CSV has no nested types); all other columns pass
    * through.
    */
  def csvWritable(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: ArrayType =>
          array_join(transform(col(f.name), x => x.cast("string")), "+")
            .as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols: _*)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    csvWritable(df).write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

package graft.cep

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StringType

/** The pure model of `SparkCep.matchPatternExec` for specs: each key's
  * events, in order, through `CepOperator.run` on the driver. The events
  * come from the unfiltered prepared frame, so the model also sees every
  * event the pre-NFA pushdown would drop; navigation columns are computed
  * the same way. Rows render as `canon` renders the operator's output.
  */
object CepModel {

  def matches(df: DataFrame, query: CepQuery,
      spec: SparkCep.CepSpec): Vector[String] = {
    val (prepared, attrNames) =
      SparkCep.prepareWithFilter(df, None, spec, Nav.ofQuery(query))
    val strs = prepared.schema.fields.map(f =>
      f.dataType == StringType && f.name != "__type")
    val names = SparkCep.patternNames(query.patseq)
    prepared.collect().toVector.groupBy(_.get(0)).toVector.flatMap {
      case (key, rows) =>
        val evs = rows.sortBy(_.getLong(1)).map(event(_, attrNames, strs))
        CepOperator.run(query, evs).map { m =>
          val byName = m.toMap
          val ids = names.map(n =>
            byName.getOrElse(n, Vector.empty).map(_(attrNames.head)))
          render(spec.keyCol.map(_ => key).toSeq ++ ids)
        }
    }.sorted
  }

  /** The operator's rows, sorted, one string each. */
  def canon(df: DataFrame): Vector[String] =
    df.collect().map(r => render(r.toSeq)).toVector.sorted

  private def render(vals: Seq[Any]): String = vals.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v                          => String.valueOf(v)
  }.mkString("|")

  /** A prepared row `(__key, __ord, __type, attr…)` as an event. */
  private def event(row: Row, attrNames: Vector[String],
      strs: Array[Boolean]): Event = {
    val attrs = (3 until row.length).filterNot(row.isNullAt)
    Event(row.getString(2),
      (attrNames.head -> row.getLong(1)) +: attrs.filterNot(strs(_))
        .map(i => attrNames(i - 2) -> row.getLong(i)).toVector,
      attrs.filter(strs(_)).map(i => attrNames(i - 2) -> row.getString(i))
        .toVector)
  }
}

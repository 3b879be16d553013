package graft.tools
import org.apache.spark.sql.DataFrame

/** Recall@k measurement for the ANN drive tools (`DriveRecall`). */
object RecallHarness {
  /** (query → neighbor-id set) from a (query_id, neighbor_id, …) frame. */
  def topSet(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }

  /** Mean per-query fraction of `exact`'s neighbors that `approx` found
    * (queries absent from `approx` count as zero recall).
    */
  def recallAgainst(exact: Map[Long, Set[Long]], approx: DataFrame)
      : Double = {
    val a = topSet(approx)
    exact.map { case (q, e) =>
      a.getOrElse(q, Set.empty[Long]).count(e.contains).toDouble / e.size
    }.sum / exact.size
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension wiring graft's native surface into Spark SQL —
  * install with `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`): after that
  * `SELECT polyhash(text, 31)` works from plain SQL and views (fully
  * codegen'd), and the planner lowers `graft.plans.CepMatchPlan` nodes
  * (every batch `SparkCep` CEP entry point, each of which also
  * self-registers the strategy per session for extension-less setups).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.CepStrategy)
    // MATCH_RECOGNIZE in the FROM clause (GraftSql): statements without
    // it delegate verbatim (one cheap scan per statement)
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName,
        "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(str) takes exactly one argument")
        graft.functions.SimHash64(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("polyhash"),
      new ExpressionInfo(classOf[graft.functions.PolyHash].getName,
        "polyhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "polyhash(str, base) takes exactly two arguments")
        val base = args(1) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _)  => v.toLong
          case other => throw new IllegalArgumentException(
            s"polyhash base must be an integer literal, got $other")
        }
        graft.functions.PolyHash(args.head, base)
      }))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` must make `polyhash`
  * callable from plain SQL. Owns its session (extensions bind at session
  * creation; forked tests run suites sequentially so no other session is
  * active).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extension-installed polyhash works from SQL") {
    val s = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val v = s.sql("SELECT polyhash('ab', 31) AS h").collect()(0).getLong(0)
      assert(v == ('a' * 31L + 'b') % 1000000007L)
      // usable inside larger SQL (views / expressions)
      val n = s.sql(
        "SELECT count(*) AS n FROM (SELECT polyhash(x, 131) AS h FROM " +
          "VALUES ('a'), ('b'), ('a') AS t(x)) GROUP BY h ORDER BY n DESC")
        .collect().map(_.getLong(0)).toSeq
      assert(n == Seq(2L, 1L))
    } finally s.stop()
  }

  test("extension-installed strategy lowers the multi-query CEP node " +
    "without the operator's self-registration") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import org.apache.spark.sql.graftbridge.GraftColumnBridge
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      import org.apache.spark.sql.types._
      import graft.cep._
      // build the logical node DIRECTLY (bypassing matchPatternsShared,
      // whose idempotent addStrategy would mask a broken extension)
      val spec = graft.Queries.eventSpec
      val qs = Vector(
        "spat_purchase" -> graft.Queries.cepSpatPurchaseQuery,
        "pairs" -> graft.Queries.cepLpatRelaxedPurchasePairsQuery)
      val df = s.read.parquet("/root/testdata/sf0.001/events.parquet")
      val (prepared, attrNames) = SparkCep.prepareWithFilter(
        df, SparkCep.unionPrefilter(qs, spec), spec)
      val output = Seq(
        AttributeReference("qname", StringType, nullable = false)(),
        AttributeReference("user_id", LongType, nullable = false)(),
        AttributeReference("binding", StringType, nullable = false)())
      val members = qs.map { case (n, q) =>
        graft.cep.CepMember(n, q, SparkCep.memberFeedTypes(q, spec).orNull)
      }
      val plan = graft.plans.CepMatchPlan(members,
        graft.plans.CepEmission.Bindings, keyed = true, attrNames, None,
        output, prepared.queryExecution.analyzed)
      val n = GraftColumnBridge.ofRows(s, plan).count()
      assert(n > 0, "extension-planned multi CEP produced no matches")
    } finally s.stop()
  }
}

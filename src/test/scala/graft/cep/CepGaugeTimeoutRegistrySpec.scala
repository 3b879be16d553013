package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The two registry rows that run `SparkCep.shedGauge` and
  * `SparkCep.timedOutPartials` (`cep_shed_gauge`,
  * `cep_timeout_abandoned_signups`) equal their oracle SQL, run by Spark
  * SQL over the same `events` table, row for row and in order. The
  * oracle states both operators' semantics in closed form (per-user click
  * counts for the shed valve, per-user sequence numbers for the window
  * close), so these rows pin the operators' output, not just that they
  * run.
  */
class CepGaugeTimeoutRegistrySpec extends AnyFunSuite
    with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Vector[String] =
    df.collect().map(_.toString).toVector

  private val cases: Seq[(String, (SparkSession, String) => DataFrame,
      String)] = Seq(
    ("cep_shed_gauge", graft.Queries.cepShedGauge,
      graft.Queries.cepShedGaugeSql),
    ("cep_timeout_abandoned_signups",
      graft.Queries.cepTimeoutAbandonedSignups,
      graft.Queries.cepTimeoutAbandonedSignupsSql))

  for (sf <- Seq("sf0.001", "sf0.01"); (name, query, sql) <- cases)
    test(s"$name equals its oracle SQL at $sf") {
      val dir = s"/root/testdata/$sf"
      graft.Queries.table(spark, dir, "events")
        .createOrReplaceTempView("events")
      val got = rows(query(spark, dir))
      val expected = rows(spark.sql(sql))
      assert(expected.nonEmpty, s"$name: the oracle is empty at $sf")
      assert(got == expected,
        s"$name at $sf: ${got.length} rows vs oracle ${expected.length}; " +
          s"first difference at ${got.zip(expected)
            .indexWhere { case (a, b) => a != b }}")
    }
}

package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Building a measured statement's DataFrame runs no Spark job: every
  * single-statement measured registry row (`CepMeasures.run`) is built
  * under its own job group, and the group must have no job before the
  * first action. (The two `runShared` rows materialize their shared
  * frame by design.)
  */
class CepMeasuresBuildJobSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val rows = Seq("cep_sql_measures_funnel", "cep_sql_anchor_first",
    "cep_sql_anchor_last", "cep_sql_measures_div", "cep_sql_permute_group",
    "cep_sql_subset_agg", "cep_sql_measures_avg", "cep_sql_measures_offset",
    "cep_sql_measures_expr", "cep_sql_agg_arg", "cep_sql_nav_phys",
    "cep_sql_distinct_agg", "cep_sql_alt_shared_var", "cep_sql_all_rows",
    "cep_sql_all_rows_offsets", "cep_sql_excl_funnel", "cep_sql_unmatched",
    "cep_sql_show_empty", "cep_sql_show_empty_anchor",
    "cep_sql_show_empty_start", "cep_sql_one_row_empty", "cep_sql_multi_key",
    "cep_string_key", "cep_sql_string_attr", "cep_sql_string_like",
    "cep_sql_string_order", "cep_sql_like_escape", "cep_sql_count_star",
    "cep_sql_classifier_target", "cep_sql_multi_key_empty",
    "cep_sql_prev_ascending", "cep_sql_nav_peaks", "cep_sql_subset_funnel",
    "cep_sql_alt_subset_value", "cep_sql_permute")

  for (name <- rows)
    test(s"$name: building the DataFrame runs no Spark job") {
      val dir = "/root/testdata/sf0.001"
      val sc = spark.sparkContext
      // the source's footer read is not the operator's job
      graft.Queries.table(spark, dir, "events").schema
      org.apache.spark.graftprobe.ListenerDrain(sc)
      val group = s"build-$name"
      sc.setJobGroup(group, group)
      try graft.Queries.all(name)(spark, dir)
      finally sc.clearJobGroup()
      org.apache.spark.graftprobe.ListenerDrain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.isEmpty,
        s"$name ran ${jobs.length} Spark job(s) while being built")
    }
}

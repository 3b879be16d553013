package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The 37 MEASURED registry rows — every `cep_sql_*` row plus
  * `cep_string_key` that runs `CepMeasures.run`, `runAllRows` or
  * `runShared` — pinned at sf0.001 and sf0.01:
  *
  *  - each row's schema (column names and types) is fixed;
  *  - a row whose oracle SQL (`Queries.oracles`) Spark SQL can run must
  *    equal it as a row multiset, over the same tables;
  *  - a row whose oracle is DuckDB-only text (`//`, `VARCHAR` casts,
  *    `LIKE ... ESCAPE`) must equal the row-multiset fingerprint
  *    recorded from the relational MEASURES lowering this engine used
  *    before measures moved into the CEP operator: the row count and
  *    the first 16 hex digits of the SHA-256 of the sorted
  *    `Row.toString` lines, one per line.
  */
class CepSqlMeasuresRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schemas: Seq[(String, String)] = Seq(
    "cep_sql_measures_funnel" ->
      "user_id:bigint,s_id:bigint,n_clicks:bigint,c_value:bigint,min_c_value:bigint,last_c_value:bigint,p_id:bigint,p_value:bigint",
    "cep_sql_anchor_first" ->
      "user_id:bigint,s_id:bigint,c_id:bigint",
    "cep_sql_anchor_last" ->
      "user_id:bigint,c_id:bigint,p_id:bigint",
    "cep_sql_measures_div" ->
      "user_id:bigint,s_id:bigint,c_rate:bigint,half_drop:bigint,c_avg:bigint",
    "cep_sql_permute_group" ->
      "user_id:bigint,s_id:bigint,c_id:bigint,p_id:bigint",
    "cep_sql_subset_agg" ->
      "user_id:bigint,s_id:bigint,p_id:bigint",
    "cep_sql_measures_avg" ->
      "user_id:bigint,s_id:bigint,n_clicks:bigint,avg_c_value:bigint,p_value:bigint",
    "cep_sql_measures_offset" ->
      "user_id:bigint,s_id:bigint,n_clicks:bigint,c2_value:bigint,c_pen_id:bigint,u2_id:bigint,u_pen_value:bigint",
    "cep_sql_measures_expr" ->
      "user_id:bigint,s_id:bigint,c_spread:bigint,n_code:bigint,above_min:bigint,p_scaled:bigint",
    "cep_sql_agg_arg" ->
      "user_id:bigint,s_id:bigint,n_c:bigint,c_energy:bigint,c_scaled:bigint,c_hi:bigint,p_half:bigint",
    "cep_sql_nav_phys" ->
      "user_id:bigint,s_id:bigint,n_c:bigint,before_last_c:bigint,two_after_c1:bigint,before_s:bigint",
    "cep_sql_distinct_agg" ->
      "user_id:bigint,s_id:bigint,n_c:bigint,n_cv:bigint,n_db:bigint,s_db:bigint",
    "cep_sql_alt_shared_var" ->
      "user_id:bigint,s_id:bigint,s_v:bigint,n_c:bigint,n_x:bigint",
    "cep_sql_all_rows" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,c_sum:bigint,s_ord:bigint",
    "cep_sql_all_rows_offsets" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,ff1:bigint,fl1_ord:bigint,rf1:bigint,rl1:bigint",
    "cep_sql_excl_funnel" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,c_sum:bigint,s_ord:bigint",
    "cep_sql_unmatched" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,c_sum:bigint,s_ord:bigint",
    "cep_sql_show_empty" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,c_v:bigint,mn:bigint",
    "cep_sql_show_empty_anchor" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,sv:bigint",
    "cep_sql_show_empty_start" ->
      "user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,n_c:bigint,sv:bigint",
    "cep_sql_one_row_empty" ->
      "user_id:bigint,n_c:bigint,c_v:bigint,mn:bigint",
    "cep_sql_multi_key" ->
      "user_id:bigint,event_type:string,a_id:bigint,b_id:bigint,b_v:bigint",
    "cep_string_key" ->
      "ukey:string,a_id:bigint,b_val:bigint",
    "cep_sql_string_attr" ->
      "user_id:bigint,s_id:bigint,c_id:bigint,c_host:string,c_v:bigint",
    "cep_sql_string_like" ->
      "user_id:bigint,s_id:bigint,c_id:bigint,c_host:string",
    "cep_sql_string_order" ->
      "user_id:bigint,s_id:bigint,c_id:bigint,c_host:string",
    "cep_sql_like_escape" ->
      "user_id:bigint,c_id:bigint,c_tag:string,c_path:string",
    "cep_sql_count_star" ->
      "user_id:bigint,n_rows:bigint,s_id:bigint,n_c:bigint",
    "cep_sql_classifier_target" ->
      "user_id:bigint,s_id:bigint,outcome:string,p_cl:string",
    "cep_sql_multi_key_empty" ->
      "user_id:bigint,event_type:string,match_no:bigint,classifier:string,event_id:bigint,n_rows:bigint",
    "cep_sql_prev_ascending" ->
      "user_id:bigint,x_id:bigint,y_id:bigint,y_value:bigint",
    "cep_sql_nav_peaks" ->
      "user_id:bigint,p_id:bigint,p_value:bigint",
    "cep_sql_subset_funnel" ->
      "user_id:bigint,n_u:bigint,u_first:bigint,u_last:bigint,u_sum:bigint,u_min:bigint,u_avg:bigint",
    "cep_sql_alt_subset_value" ->
      "user_id:bigint,s_id:bigint,branch_value:bigint,n_p:bigint,n_x:bigint",
    "cep_sql_permute" ->
      "user_id:bigint,s_id:bigint,c_id:bigint,p_id:bigint,ended_with:string",
    "cep_sql_multi_measures" ->
      "qname:string,user_id:bigint,s_id:bigint,val:bigint",
    "cep_sql_shared_all_rows" ->
      "qname:string,user_id:bigint,match_no:bigint,classifier:string,event_id:bigint,val:bigint")

  /** Row count and fingerprint per scale, for the rows without a
    * Spark-SQL oracle.
    */
  private val pinned: Map[String, Map[String, (Int, String)]] = Map(
    "cep_sql_measures_div" -> Map(
      "sf0.001" -> (91, "60519dc27c1eb23f"), "sf0.01" -> (930, "b7efcc13e3cca0a1")),
    "cep_sql_measures_avg" -> Map(
      "sf0.001" -> (91, "fba5632456c0c8c2"), "sf0.01" -> (930, "3eaff39fdb650717")),
    "cep_sql_agg_arg" -> Map(
      "sf0.001" -> (91, "d91c9eaeea0db4d6"), "sf0.01" -> (930, "5aae48ecfef76f24")),
    "cep_sql_distinct_agg" -> Map(
      "sf0.001" -> (91, "101408387d7a5481"), "sf0.01" -> (930, "1b46131655d6ffb9")),
    "cep_sql_unmatched" -> Map(
      "sf0.001" -> (1086, "bdd76a49f8d5dce7"), "sf0.01" -> (10933, "e20d13eb51947ebd")),
    "cep_sql_show_empty_anchor" -> Map(
      "sf0.001" -> (1045, "96750657ee63b1bb"), "sf0.01" -> (10391, "8fc387b42733dfd7")),
    "cep_string_key" -> Map(
      "sf0.001" -> (35, "34bba935ea5d112b"), "sf0.01" -> (401, "b9d20f66d92a5914")),
    "cep_sql_string_attr" -> Map(
      "sf0.001" -> (57, "4f1704b548b643ca"), "sf0.01" -> (540, "c7c66a9d82b14b58")),
    "cep_sql_string_like" -> Map(
      "sf0.001" -> (174, "b6b36cee226c4604"), "sf0.01" -> (1563, "b8200da07de0d90f")),
    "cep_sql_string_order" -> Map(
      "sf0.001" -> (162, "8e6eb5ba0fb97f14"), "sf0.01" -> (1603, "05b4eb75c08b237c")),
    "cep_sql_like_escape" -> Map(
      "sf0.001" -> (3, "c6bd7e391485be12"), "sf0.01" -> (52, "c123c6215bf1a92d")),
    "cep_sql_subset_funnel" -> Map(
      "sf0.001" -> (91, "949621de59811639"), "sf0.01" -> (930, "c19d5202db456b30")))

  private def lines(df: DataFrame): Vector[String] =
    df.collect().map(_.toString).toVector.sorted

  private def fingerprint(ls: Vector[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ls.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private val tables = Seq("events", "documents", "embeddings", "lineitem",
    "orders", "customer", "supplier", "nation", "region", "part")

  for (sf <- Seq("sf0.001", "sf0.01"); (name, schema) <- schemas)
    test(s"$name at $sf: schema and rows pinned") {
      val dir = s"/root/testdata/$sf"
      tables.foreach(t =>
        graft.Queries.table(spark, dir, t).createOrReplaceTempView(t))
      val df = graft.Queries.all(name)(spark, dir)
      assert(df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.simpleString}").mkString(",") == schema)
      val got = lines(df)
      pinned.get(name) match {
        case Some(bySf) =>
          assert((got.length, fingerprint(got)) == bySf(sf),
            s"$name at $sf: ${got.length} rows")
        case None =>
          val expected = lines(spark.sql(graft.Queries.oracles(name)))
          assert(expected.nonEmpty, s"$name: the oracle is empty at $sf")
          assert(got == expected,
            s"$name at $sf: ${got.length} rows vs oracle " +
              s"${expected.length}; first difference at " +
              s"${got.zip(expected).indexWhere { case (a, b) => a != b }}")
      }
    }
}

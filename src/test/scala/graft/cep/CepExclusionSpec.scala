package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** SQL:2016 `{- x -}` output exclusion (`CepSql` unit production +
  * `CepMeasures.run`): the excluded unit matches, binds and feeds
  * MEASURES normally — only its rows are omitted from `ALL ROWS PER
  * MATCH` output. Pinned: the running/final aggregates on SURVIVING
  * rows still include the excluded rows' contributions.
  */
class CepExclusionSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schema: Vector[(String, Vector[String])] = Vector(
    "S" -> Vector("id", "v"), "C" -> Vector("id", "v"),
    "P" -> Vector("id", "v"))
  private val spec = CepSpec(Some("k"), "id", "t", Seq("v"))

  private def eventsDf(rows: (Long, Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("k", "id", "t", "v")
  }

  private val exclSql =
    "PATTERN (s -> {- c{1,2} -} -> p) " +
      "MEASURES COUNT(c) AS n_c, SUM(c.v) AS c_sum " +
      "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
      "DEFINE s AS S; c AS C; p AS P"

  test("parse records the exclusion; render round-trips it") {
    val st = CepSql.parseStatement(exclSql, schema)
    assert(st.excluded == Vector("c"))
    // the lowered pattern is IDENTICAL to the unexcluded one — matching
    // is unaffected
    val plain = CepSql.parseStatement(exclSql.replace("{- c{1,2} -}",
      "c{1,2}"), schema)
    assert(st.query == plain.query)
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
  }

  test("exclusion requires ALL ROWS PER MATCH") {
    val e = intercept[IllegalArgumentException] {
      CepSql.parseStatement(
        "PATTERN (s {- c -} p) MEASURES COUNT(c) AS n_c " +
          "DEFINE s AS S; c AS C; p AS P", schema)
    }
    assert(e.getMessage.contains("ALL ROWS PER MATCH"))
    // and `parse` (the CepQuery-only surface) never sees one: it
    // requires ONE ROW semantics, so the same rejection fires
    intercept[IllegalArgumentException] {
      CepSql.parse("PATTERN (s {- c -} p) DEFINE s AS S; c AS C; p AS P",
        schema)
    }
  }

  test("excluded rows are omitted from output but still feed running " +
    "and final measures on surviving rows") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> {- c{2,2}~ -} -> p) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.v) AS c_sum, " +
        "FINAL SUM(c.v) AS fin_sum " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // one match: s(1) c(2,v=5) c(3,v=9) p(4)
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 5L),
      (1L, 3L, "C", 9L), (1L, 4L, "P", 2L))
    val out = CepMeasures.run(df, st).orderBy("id").collect().map { r =>
      (r.getString(r.fieldIndex("classifier")),
        r.getLong(r.fieldIndex("id")),
        r.getLong(r.fieldIndex("n_c")),
        if (r.isNullAt(r.fieldIndex("c_sum"))) -1L
        else r.getLong(r.fieldIndex("c_sum")),
        r.getLong(r.fieldIndex("fin_sum")))
    }.toVector
    // the two c rows are GONE; the p row's running count/sum and the s
    // row's FINAL sum prove the excluded rows fed the windows
    assert(out == Vector(
      ("s", 1L, 0L, -1L, 14L),
      ("p", 4L, 2L, 14L, 14L)))
  }

  test("unknown excluded name rejected loudly") {
    val st = CepSql.parseStatement(exclSql, schema)
    val df = eventsDf((1L, 1L, "S", 0L))
    val e = intercept[IllegalArgumentException] {
      CepMeasures.run(df, st.copy(excluded = Vector("nope")), spec)
    }
    assert(e.getMessage.contains("not a pattern name"))
  }

  test("WITH UNMATCHED ROWS: unmatched input rows join the output " +
    "with NULL match_no/classifier/measures") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,1} -> p) " +
        "MEASURES COUNT(c) AS n_c " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    assert(st.rowsPerMatch == CepSql.RowsPerMatch.AllRowsUnmatched)
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    // key 1: S(1) C(2) P(3) match; C(4) bound by nothing; key 2: S(10)
    // alone — unmatched
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 5L),
      (1L, 3L, "P", 2L), (1L, 4L, "C", 7L), (2L, 10L, "S", 0L))
    val out = CepMeasures.run(df, st).orderBy("k", "id").collect().map { r =>
      (r.getLong(r.fieldIndex("k")), r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("match_no"))) -1L
        else r.getLong(r.fieldIndex("match_no")),
        if (r.isNullAt(r.fieldIndex("classifier"))) "-"
        else r.getString(r.fieldIndex("classifier")),
        if (r.isNullAt(r.fieldIndex("n_c"))) -1L
        else r.getLong(r.fieldIndex("n_c")))
    }.toVector
    assert(out == Vector(
      (1L, 1L, 1L, "s", 0L), (1L, 2L, 1L, "c", 1L),
      (1L, 3L, 1L, "p", 1L), (1L, 4L, -1L, "-", -1L),
      (2L, 10L, -1L, "-", -1L)))
  }

  test("WITH UNMATCHED ROWS: a NULL-keyed row belongs to no partition " +
    "and is never output") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,1} -> p) " +
        "MEASURES COUNT(c) AS n_c " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val s = spark
    import s.implicits._
    val df = Seq[(Option[Long], Long, String, Long)](
      (Some(1L), 1L, "S", 0L), (Some(1L), 2L, "C", 5L),
      (Some(1L), 3L, "P", 2L), (Some(1L), 4L, "C", 7L),
      (None, 5L, "S", 0L)).toDF("k", "id", "t", "v")
    val out = CepMeasures.run(df, st).collect()
    assert(out.length == 4, out.mkString("\n"))
    assert(!out.exists(_.isNullAt(0)),
      "a NULL-keyed row surfaced as an unmatched row:\n" +
        out.mkString("\n"))
  }

  test("WITH UNMATCHED ROWS x exclusion: an excluded row is matched, " +
    "never unmatched") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> {- c{1,1} -} -> p) " +
        "MEASURES SUM(c.v) AS c_sum " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 5L),
      (1L, 3L, "P", 2L), (1L, 4L, "C", 7L))
    val out = CepMeasures.run(df, st).orderBy("id").collect().map { r =>
      (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("classifier"))) "-"
        else r.getString(r.fieldIndex("classifier")),
        if (r.isNullAt(r.fieldIndex("c_sum"))) -1L
        else r.getLong(r.fieldIndex("c_sum")))
    }.toVector
    // C(2) is excluded from output AND absent from the unmatched set;
    // C(4) genuinely unmatched; the p row still carries the c sum
    assert(out == Vector(
      (1L, "s", -1L), (3L, "p", 5L), (4L, "-", -1L)))
  }

  test("lexer: '{-' / '-}' do not collide with quantifier braces or '->'") {
    // a quantifier brace immediately after an excluded unit, and an
    // arrow right before '-}' would be the confusable neighborhoods
    val st = CepSql.parseStatement(
      "PATTERN (s {- c{1,2} -} -> p) " +
        "MEASURES COUNT(c) AS n_c ALL ROWS PER MATCH " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    assert(st.excluded == Vector("c"))
    intercept[IllegalArgumentException] {
      CepSql.parseStatement(
        "PATTERN (s {- (c p) -}) ALL ROWS PER MATCH " +
          "PARTITION BY k ORDER BY id TYPE t " +
          "DEFINE s AS S; c AS C; p AS P", schema)
    }
  }
}

package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** The batch operator renders a key's MEASURES rows while the key is
  * still being fed: once its kept matches and ordinals pass a bar, every
  * match, empty match and unmatched row before the earliest event a live
  * run has bound is rendered and dropped (`CepMeasures.KeyMatches`,
  * `CepMeasuresSink`). These statements run on one unkeyed sequence of
  * 20,000 events and on three keys of ~6,700: numbered ONE ROW (once
  * where a later-starting run completes first), SHOW EMPTY in both row
  * modes (once with two-row matches), ALL ROWS with every RUNNING measure kind over long matches,
  * and WITH UNMATCHED ROWS under `{- -}` exclusion and over long
  * matches. The unkeyed sequence passes the first flush bar (1,024 kept
  * matches or ordinals) in every statement but "all rows long matches",
  * and the modes that keep ordinals pass it on every key. Each output is
  * pinned by its row count and row-multiset fingerprint, recorded with
  * the relational lowering that rendered whole keys at once.
  */
class CepMeasuresKeyFlushSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    "P" -> Vector("id", "v"), "V" -> Vector("id", "v"))

  /** 20,000 (k, id, t, v) events, ids 1..20000, k in 1..3, a seeded
    * type mix: S 10%, C 45%, P 15%, V 30%.
    */
  private def events: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261019L)
    (1 to 20000).map { i =>
      val u = rnd.nextInt(20)
      val t = if (u < 2) "S" else if (u < 11) "C" else if (u < 14) "P"
        else "V"
      (1L + rnd.nextInt(3), i.toLong, t, rnd.nextInt(100).toLong)
    }.toDF("k", "id", "t", "v")
  }

  private val statements: Vector[(String, String)] = Vector(
    "one row numbered" ->
      ("PATTERN (s -> c{1,3} -> p) MEASURES MATCH_NUMBER() AS mn, " +
        "FIRST(s) AS s_id, COUNT(c) AS n_c, SUM(c.v) AS c_sum, " +
        "LAST(p.v) AS p_v DEFINE s AS S; c AS C; p AS P WITHIN 10"),
    // a run that starts later can complete first (`v -> d` inside an
    // open `s -> c{3}`), so the older run must hold its later matches
    "one row numbered, later start completes first" ->
      ("PATTERN (s -> c{3,3} | v -> d) MEASURES MATCH_NUMBER() AS mn, " +
        "FIRST(s) AS s_id, FIRST(v) AS v_id, COUNT(c) AS n_c, " +
        "CLASSIFIER() AS cls " +
        "DEFINE s AS S; c AS C; v AS V; d AS C WITHIN 12"),
    "one row show empty" ->
      ("PATTERN (c{0,3}) MEASURES COUNT(c) AS n_c, SUM(c.v) AS c_v " +
        "ONE ROW PER MATCH SHOW EMPTY MATCHES DEFINE c AS C " +
        "AFTER MATCH SKIP PAST LAST ROW"),
    "one row show empty numbered, skip to next" ->
      ("PATTERN (c{0,2} -> p) MEASURES COUNT(c) AS n_c, " +
        "MATCH_NUMBER() AS mn, LAST(p) AS p_id " +
        "ONE ROW PER MATCH SHOW EMPTY MATCHES DEFINE c AS C; p AS P " +
        "WITHIN 6 AFTER MATCH SKIP TO NEXT ROW"),
    "all rows long matches" ->
      ("PATTERN (s -> c+ -> p) MEASURES COUNT(c) AS n_c, " +
        "SUM(c.v) AS c_sum, MIN(c.v) AS c_min, MAX(c.v) AS c_max, " +
        "AVG(c.v) AS c_avg, FIRST(c.v, 1) AS c2_v, LAST(c.v, 2) AS c3l_v, " +
        "LAST(c) AS c_id, LAST(u.v) AS u_v, COUNT(u) AS n_u, " +
        "CLASSIFIER() AS cls, CLASSIFIER(u) AS cls_u, " +
        "FINAL SUM(c.v) AS f_sum, FINAL LAST(c, 1) AS f_pen, " +
        "LAST(c.v) - FIRST(c.v) AS spread, MATCH_NUMBER() AS mn, " +
        "SUM(c.v * 2 + 1) AS c_arg " +
        "ALL ROWS PER MATCH SUBSET u = (s, p) " +
        "DEFINE s AS S; c AS C; p AS P AFTER MATCH SKIP PAST LAST ROW"),
    "all rows overlapping" ->
      ("PATTERN (s -> c{1,2} -> p) MEASURES COUNT(c) AS n_c, " +
        "SUM(c.v) AS c_sum, FIRST(s) AS s_ord ALL ROWS PER MATCH " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 8"),
    "all rows show empty, skip to last" ->
      ("PATTERN (c{0,2} -> p) MEASURES COUNT(c) AS n_c, " +
        "MATCH_NUMBER() AS mn, LAST(p) AS p_id " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES DEFINE c AS C; p AS P " +
        "WITHIN 6 AFTER MATCH SKIP TO LAST c"),
    "all rows long matches with unmatched rows" ->
      ("PATTERN (s -> c+ -> p) MEASURES COUNT(c) AS n_c, " +
        "SUM(c.v) AS c_sum, LAST(c.v, 1) AS c_pen, CLASSIFIER() AS cls " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 12"),
    // a two-row match can end at the event a flush stops before, so the
    // cover it leaves must carry into the next flush
    "all rows show empty, two-row matches" ->
      ("PATTERN ((c p){0,2}) MEASURES COUNT(c) AS n_c, SUM(p.v) AS p_v, " +
        "MATCH_NUMBER() AS mn ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "DEFINE c AS C; p AS P AFTER MATCH SKIP PAST LAST ROW"),
    "all rows show empty" ->
      ("PATTERN (c{0,3}) MEASURES COUNT(c) AS n_c, SUM(c.v) AS c_v, " +
        "MATCH_NUMBER() AS mn ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "DEFINE c AS C AFTER MATCH SKIP PAST LAST ROW"),
    "all rows with unmatched rows, excluded clicks" ->
      ("PATTERN (s -> {- c{1,2} -} -> p) MEASURES COUNT(c) AS n_c, " +
        "SUM(c.v) AS c_sum, FIRST(s) AS s_ord " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 8"))

  /** (rows, fingerprint) per statement: unkeyed, then keyed. */
  private val pinned: Map[String, ((Int, String), (Int, String))] = Map(
    "one row numbered" ->
      ((2056, "224978927ad3e365"), (2127, "45eab5b0f746ea05")),
    "one row numbered, later start completes first" ->
      ((6346, "c92c07920698f540"), (6357, "cc83fcefdb9f91ee")),
    "one row show empty" ->
      ((20000, "417b57cb72fdbc3b"), (20000, "61f21cb19fe357a0")),
    "one row show empty numbered, skip to next" ->
      ((19998, "7d8780efc56ccb00"), (19993, "711fb634bf4d9f5d")),
    "all rows long matches" ->
      ((3981, "c19513d0ac325876"), (4112, "5ad877204b041796")),
    "all rows overlapping" ->
      ((4922, "31f1a6d3dd2419c7"), (4956, "f5afdffea162bed4")),
    "all rows show empty, two-row matches" ->
      ((20000, "87f3ffa840666bf8"), (20000, "dc2f84deba35ed74")),
    "all rows show empty" ->
      ((20000, "37200f84f36a3b6e"), (20000, "368c635f5b87b6a1")),
    "all rows show empty, skip to last" ->
      ((32095, "8ebd75193377c511"), (32514, "2fc1d40813fdf74f")),
    "all rows long matches with unmatched rows" ->
      ((24833, "9c50a4271f575c85"), (24829, "6283598656d67f02")),
    "all rows with unmatched rows, excluded clicks" ->
      ((19778, "dbff569b3efd2bf1"), (19770, "4fe32d63b7c64ad9")))

  private def fingerprint(df: DataFrame): (Int, String) = {
    val ls = df.collect().map(_.toString).toVector.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ls.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (ls.length, md.digest().map("%02x".format(_)).mkString.take(16))
  }

  for ((name, sql) <- statements)
    test(s"$name: unkeyed and keyed outputs pinned") {
      val st = CepSql.parseStatement(sql, schema)
      val df = events
      val unkeyed = fingerprint(CepMeasures.run(df.drop("k"), st,
        CepSpec(None, "id", "t", Seq("v"))))
      val keyed = fingerprint(CepMeasures.run(df, st,
        CepSpec(Some("k"), "id", "t", Seq("v"))))
      assert(unkeyed._1 > 0 && keyed._1 > 0, s"$name: vacuous fixture")
      assert((unkeyed, keyed) == pinned(name),
        s"""$name: "$name" -> (($unkeyed), ($keyed))""")
    }
}

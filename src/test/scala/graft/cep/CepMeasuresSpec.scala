package graft.cep

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
  LogicalPlan, Window}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** A (key, id, type, v) event whose `v` may be NULL. */
case class EvNullV(k: Long, id: Long, t: String, v: Option[Long])

/** The MEASURES projection (`CepMeasures`): per-match scalar aggregates
  * over a match frame — positional tier (size/get over the binding
  * arrays) and attribute tier (explode → join events on (key, order) →
  * re-aggregate per match). Pinned against hand-computed values on a
  * crafted stream and against an independent in-memory model over the
  * executor's own matches.
  */
class CepMeasuresSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** (key, id, type, v) rows — id globally unique and monotone per key. */
  private def eventsDf(rows: (Long, Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("k", "id", "t", "v")
  }

  test("positional + attribute measures against hand-computed values") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, SUM(c.v) AS sum_c, " +
        "MIN(c.v) AS min_c, MAX(c.v) AS max_c, FIRST(c.v) AS first_c, " +
        "LAST(c.v) AS last_c, LAST(p) AS p_id, FIRST(p.v) AS p_v " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // key 1: S(1), C(2,v=7), C(3,v=4), P(4,v=9) — two matches (c{1} fork
    // at strict loop boundary takes c=[2] and c=[2,3])
    // key 2: S(10), C(11,v=5), P(12,v=2) — one match
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L),
      (2L, 10L, "S", 0L), (2L, 11L, "C", 5L), (2L, 12L, "P", 2L))
    val out = CepMeasures.run(df, st, spec)
      .orderBy("k", "s_id", "n_c", "sum_c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9))).toVector
    assert(out == Vector(
      (1L, 1L, 1L, 7L, 7L, 7L, 7L, 7L, 4L, 9L),
      (1L, 1L, 2L, 11L, 4L, 7L, 7L, 4L, 4L, 9L),
      (2L, 10L, 1L, 5L, 5L, 5L, 5L, 5L, 12L, 2L)))
  }

  test("empty optional binding: COUNT 0, NULL for every other measure") {
    val st = CepSql.parseStatement(
      "PATTERN (s c? -> p) " +
        "MEASURES COUNT(c) AS n_c, FIRST(c) AS c_id, SUM(c.v) AS sum_c, " +
        "LAST(p.v) AS p_v " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // S(1), P(2): the optional c takes nothing — one match with c empty
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "P", 3L))
    val rows = CepMeasures.run(df, st, spec).collect().toVector
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("n_c")) == 0L)
    assert(r.isNullAt(r.fieldIndex("c_id")))
    assert(r.isNullAt(r.fieldIndex("sum_c")))
    assert(r.getLong(r.fieldIndex("p_v")) == 3L)
  }

  test("unkeyed spec: joins on order alone; no key column in output") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> p) MEASURES FIRST(s) AS s_id, SUM(p.v) AS p_v " +
        "DEFINE s AS S; p AS P", schema)
    val df = eventsDf((9L, 1L, "S", 0L), (9L, 2L, "C", 1L),
      (9L, 3L, "P", 6L))
    val unkeyed = CepSpec(None, "id", "t", Seq("v"))
    val out = CepMeasures.run(df, st, unkeyed)
    assert(out.columns.toVector == Vector("s_id", "p_v"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toVector ==
      Vector((1L, 6L)))
  }

  test("differential: measures == an independent model over the " +
    "executor's own matches (seeded random streams)") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2}~ -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, SUM(c.v) AS sum_c, " +
        "LAST(c.v) AS last_c, LAST(p) AS p_id, FIRST(c.v, 1) AS c2_v, " +
        "LAST(c, 1) AS c_pen " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 6", schema)
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 20) {
      val types = Vector("S", "C", "P")
      val n = 12 + rnd.nextInt(12)
      val evs = (1 to n).map { i =>
        (1L + rnd.nextInt(2), i.toLong, types(rnd.nextInt(3)),
          rnd.nextInt(10).toLong)
      }
      val df = eventsDf(evs: _*)
      def opt(r: Row, f: String): Option[Long] = {
        val i = r.fieldIndex(f)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      val got = CepMeasures.run(df, st, spec)
        .collect().map(r => (r.getLong(0),
          r.getLong(r.fieldIndex("s_id")), r.getLong(r.fieldIndex("n_c")),
          r.getLong(r.fieldIndex("sum_c")),
          r.getLong(r.fieldIndex("last_c")),
          r.getLong(r.fieldIndex("p_id")),
          opt(r, "c2_v"), opt(r, "c_pen")))
        .toVector.sortBy(_.toString)
      // independent model: run the pure executor per key, compute the
      // measures from the bound events directly
      val byKey = evs.groupBy(_._1)
      val want = byKey.toVector.flatMap { case (k, kevs) =>
        val stream = kevs.sortBy(_._2).map(e =>
          Event(e._3, Vector("id" -> e._2, "v" -> e._4)))
        CepOperator.run(st.query, stream).map { m =>
          val mm = m.toMap
          val cs = mm("c")
          val vOf = kevs.map(e => e._2 -> e._4).toMap
          (k, mm("s").head("id"), cs.length.toLong,
            cs.map(e => vOf(e("id"))).sum, vOf(cs.last("id")),
            mm("p").head("id"),
            cs.lift(1).map(e => vOf(e("id"))),          // FIRST(c.v, 1)
            cs.lift(cs.length - 2).map(_("id")))        // LAST(c, 1)
        }
      }.sortBy(_.toString)
      assert(got == want, s"trial $trial diverged")
    }
  }

  test("differential: the round-15 measure surface == an independent " +
    "model (argument exprs, DISTINCT, physical navigation; seeded " +
    "random streams)") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2}~ -> p) " +
        "MEASURES SUM(c.v * c.v) AS energy, " +
        "AVG(2 * c.v + 1) AS sc, " +
        "COUNT(DISTINCT c.v) AS ndv, " +
        "SUM(DISTINCT c.v / 2) AS sdb, " +
        "PREV(LAST(c.v)) AS pl, " +
        "NEXT(FIRST(c.v), 2) AS nf, " +
        "COUNT(c.v) AS ncv " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 6", schema)
    val rnd = new scala.util.Random(20260825L)
    for (trial <- 0 until 20) {
      val types = Vector("S", "C", "P")
      val n = 12 + rnd.nextInt(12)
      val evs = (1 to n).map { i =>
        (1L + rnd.nextInt(2), i.toLong, types(rnd.nextInt(3)),
          rnd.nextInt(10).toLong)
      }
      val df = eventsDf(evs: _*)
      def opt(r: Row, f: String): Option[Long] = {
        val i = r.fieldIndex(f)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      val got = CepMeasures.run(df, st, spec)
        .collect().map(r => (r.getLong(0),
          r.getLong(r.fieldIndex("energy")),
          r.getLong(r.fieldIndex("sc")),
          r.getLong(r.fieldIndex("ndv")),
          r.getLong(r.fieldIndex("sdb")),
          opt(r, "pl"), opt(r, "nf"),
          r.getLong(r.fieldIndex("ncv"))))
        .toVector.sortBy(_.toString)
      val byKey = evs.groupBy(_._1)
      val want = byKey.toVector.flatMap { case (k, kevs) =>
        val ordered = kevs.sortBy(_._2)
        val stream = ordered.map(e =>
          Event(e._3, Vector("id" -> e._2, "v" -> e._4)))
        val idToPos = ordered.map(_._2).zipWithIndex.toMap
        val posToV = ordered.map(_._4)
        CepOperator.run(st.query, stream).map { m =>
          val mm = m.toMap
          val cvals = mm("c").map(e => posToV(idToPos(e("id"))))
          // physical neighbors of the logical targets, None at edges
          def at(pos: Int): Option[Long] =
            if (pos < 0 || pos >= posToV.length) None else Some(posToV(pos))
          val lastPos = idToPos(mm("c").last("id"))
          val firstPos = idToPos(mm("c").head("id"))
          (k,
            cvals.map(v => v * v).sum,                     // energy
            Math.floorDiv(cvals.map(v => 2 * v + 1).sum,   // AVG, floored
              cvals.length.toLong),
            cvals.distinct.length.toLong,                  // ndv
            cvals.map(_ / 2).distinct.sum,                 // sdb
            at(lastPos - 1),                               // PREV(LAST)
            at(firstPos + 2),                              // NEXT(FIRST, 2)
            cvals.length.toLong)                           // COUNT(c.v)
        }
      }.sortBy(_.toString)
      assert(got == want, s"trial $trial diverged")
    }
  }

  test("runShared: shared-scan measures == each statement run solo") {
    val stmts = CepSql.parseStatements(Seq(
      "m1" -> ("PATTERN (s -> c{1,2} -> p) MEASURES FIRST(s) AS a, " +
        "COUNT(c) AS b, SUM(c.v) AS d DEFINE s AS S; c AS C; p AS P"),
      "m2" -> ("PATTERN (s c? -> p) MEASURES FIRST(s) AS a, " +
        "COUNT(c) AS b, SUM(c.v) AS d DEFINE s AS S; c AS C; p AS P")),
      schema)
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 0 until 5) {
      val types = Vector("S", "C", "P")
      val evs = (1 to (10 + rnd.nextInt(10))).map { i =>
        (1L + rnd.nextInt(2), i.toLong, types(rnd.nextInt(3)),
          rnd.nextInt(9).toLong)
      }
      val df = eventsDf(evs: _*)
      val shared = CepMeasures.runShared(df, stmts, spec)
      for (((name, got), (_, st)) <- shared.zip(stmts)) {
        def canon(d: DataFrame): Vector[String] =
          d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
            .toVector.sorted
        assert(canon(got) == canon(CepMeasures.run(df, st, spec)),
          s"trial $trial member $name diverged")
      }
    }
    // rejection: a measure-free ONE ROW member (ALL ROWS members are
    // admitted since round 16 — CepSharedSinglePassSpec pins them)
    intercept[IllegalArgumentException] {
      CepMeasures.runShared(eventsDf((1L, 1L, "S", 0L)),
        CepSql.parseStatements(Seq("m" -> "PATTERN (s) DEFINE s AS S"),
          schema), spec)
    }
  }

  test("validation: bad measures fail loudly at parse time") {
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(sql, schema)
      }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    bad("PATTERN (a) MEASURES MEDIAN(a) AS x DEFINE a AS S",
      "unknown function")
    // COUNT(a.v) is LEGAL since the DISTINCT work: SQL's non-NULL count
    assert(CepSql.parseStatement(
      "PATTERN (a) MEASURES COUNT(a.v) AS x DEFINE a AS S", schema)
      .measures(0).asInstanceOf[CepMeasures.Measure].attr.contains("v"))
    bad("PATTERN (a) MEASURES SUM(a) AS x DEFINE a AS S",
      "needs an attribute")
    bad("PATTERN (a) MEASURES COUNT(z) AS x DEFINE a AS S", "no DEFINE")
    bad("PATTERN (a) MEASURES SUM(a.nope) AS x DEFINE a AS S",
      "no attribute 'nope'")
    bad("PATTERN (a) MEASURES COUNT(a) AS x, FIRST(a) AS x DEFINE a AS S",
      "duplicate alias")
    bad("PATTERN ((a)+:g) MEASURES COUNT(g) AS x " +
      "DEFINE a AS S; g AS GROUP", "GROUP label")
    bad("PATTERN (a) MEASURES COUNT(a) x DEFINE a AS S", "expected")
    bad("PATTERN (a) MEASURES SUM(a.v, 1) AS x DEFINE a AS S",
      "only FIRST/LAST take an offset")
    bad("PATTERN (a) MEASURES FIRST(a, -1) AS x DEFINE a AS S", "expected")
    // parse (the CepQuery-only surface) rejects MEASURES loudly
    val e = intercept[IllegalArgumentException] {
      CepSql.parse("PATTERN (a) MEASURES COUNT(a) AS n DEFINE a AS S",
        schema)
    }
    assert(e.getMessage.contains("parseStatement"))
  }

  private def planOf(sql: String): LogicalPlan = {
    val st = CepSql.parseStatement(sql, schema)
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 1L),
      (1L, 3L, "P", 2L))
    CepMeasures.run(df, st, spec).queryExecution.optimizedPlan
  }
  private def cepNodes(p: LogicalPlan) =
    p.collect { case c: graft.plans.CepMatchPlan => c }
  private def relational(p: LogicalPlan) = p.collect {
    case j: Join => j
    case a: Aggregate => a
    case w: Window => w
  }
  private def nodeNames(p: LogicalPlan): Seq[String] =
    p.collect { case n => n.nodeName }

  test("join shape is static: inner (broadcast-eligible) unless a " +
    "measured name can bind empty") {
    // measures fold inside the match pass, so no events join exists whose
    // type could hinge on an empty binding: a name that always binds, one
    // that can bind empty, and names under a {0,n} group plan alike
    val shapes = Seq(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES SUM(c.v) AS c_sum DEFINE s AS S; c AS C; p AS P",
      "PATTERN (s c? -> p) " +
        "MEASURES SUM(c.v) AS c_sum DEFINE s AS S; c AS C; p AS P",
      "PATTERN (s (c p){0,2}) " +
        "MEASURES SUM(c.v) AS c_sum DEFINE s AS S; c AS C; p AS P"
    ).map { sql =>
      val plan = planOf(sql)
      assert(cepNodes(plan).length == 1, s"expected one CEP node:\n$plan")
      assert(relational(plan).isEmpty,
        s"expected no Join/Aggregate/Window:\n$plan")
      nodeNames(plan)
    }
    assert(shapes.distinct.length == 1, s"plan shapes differ: $shapes")
  }

  test("expression and offset lowering keep ONE events join — hidden " +
    "atoms ride the same explode/join/aggregate pass") {
    // the hidden atoms behind expressions and offsets are read by the one
    // CEP pass too: the plan is node for node that of a plain measure
    val plain = planOf("PATTERN (s -> c{1,2} -> p) " +
      "MEASURES SUM(c.v) AS plain DEFINE s AS S; c AS C; p AS P")
    val plan = planOf("PATTERN (s -> c{1,2} -> p) " +
      "MEASURES SUM(c.v) - MIN(c.v) AS above_min, " +
      "LAST(c.v) * 2 + FIRST(p.v) AS combo, " +
      "FIRST(c.v, 1) AS c2_v, SUM(c.v) AS plain, " +
      "MATCH_NUMBER() AS mn DEFINE s AS S; c AS C; p AS P")
    assert(cepNodes(plan).length == 1, s"expected one CEP node:\n$plan")
    assert(relational(plan).isEmpty,
      s"expected no Join/Aggregate/Window:\n$plan")
    assert(nodeNames(plan) == nodeNames(plain),
      s"expected the plain measure's plan shape:\n$plan\nvs\n$plain")
  }

  test("a measured statement plans one CepMatchExec with nothing " +
    "relational above it; navigation windows sit below it") {
    // every row-rendering mode
    for (sql <- Seq(
        "PATTERN (c{0,2}) MEASURES COUNT(c) AS n_c ONE ROW PER MATCH " +
          "SHOW EMPTY MATCHES DEFINE c AS C",
        "PATTERN (s -> c{1,2}) MEASURES SUM(c.v) AS sv ALL ROWS PER " +
          "MATCH WITH UNMATCHED ROWS DEFINE s AS S; c AS C")) {
      val plan = planOf(sql)
      val cep = cepNodes(plan)
      assert(cep.length == 1, s"expected one CEP node:\n$plan")
      assert(relational(plan).isEmpty,
        s"expected no Join/Aggregate/Window:\n$plan")
    }
    // PREV/NEXT(FIRST/LAST(..)) read the DEFINE-side navigation columns:
    // one Window, below the CEP node
    val nav = planOf("PATTERN (s -> c{1,2} -> p) " +
      "MEASURES PREV(LAST(c.v)) AS pl, NEXT(FIRST(c.v), 2) AS nf " +
      "DEFINE s AS S; c AS C; p AS P")
    val cep = cepNodes(nav)
    assert(cep.length == 1, s"expected one CEP node:\n$nav")
    assert(relational(nav).length == 1 &&
      relational(cep.head.child).length == 1,
      s"expected one Window, below the CEP node:\n$nav")
  }

  test("statement render round-trips measures") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, SUM(c.v) AS sum_c, COUNT(c) AS n_c, " +
        "FIRST(c.v, 2) AS c3_v, LAST(c, 1) AS c_pen " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 8", schema)
    assert(st.measures.collect { case m: CepMeasures.Measure => m.offset }
      == Vector(0, 0, 0, 2, 1))
    val again = CepSql.parseStatement(CepSql.render(st), schema)
    assert(again == st)
  }

  test("FIRST/LAST offsets: (k+1)-th bound event from either end, NULL " +
    "when the binding is shorter — positional, attribute, and SUBSET") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{3,3} -> p) " +
        "MEASURES FIRST(c.v, 1) AS c2_v, LAST(c.v, 2) AS c_last3_v, " +
        "FIRST(c, 2) AS c3_id, LAST(c.v, 5) AS c_over, " +
        "FIRST(u, 1) AS u2_id, LAST(u.v, 1) AS u_pen_v " +
        "SUBSET u = (s, p) " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // one match: s=[1], c=[2,3,4] (v 7,4,6), p=[5] (v 9); u = [1,5]
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "C", 6L), (1L, 5L, "P", 9L))
    val rows = CepMeasures.run(df, st, spec).collect().toVector
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("c2_v")) == 4L)      // 2nd click's v
    assert(r.getLong(r.fieldIndex("c_last3_v")) == 7L) // 3rd-from-end = 1st
    assert(r.getLong(r.fieldIndex("c3_id")) == 4L)     // 3rd click's ordinal
    assert(r.isNullAt(r.fieldIndex("c_over")))         // offset 5 > |c|-1
    assert(r.getLong(r.fieldIndex("u2_id")) == 5L)     // union [1,5], 2nd
    assert(r.getLong(r.fieldIndex("u_pen_v")) == 0L)   // 2nd-from-end = s's v
    // the streaming fold agrees measure-for-measure
    val byName = Map(
      "s" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 0L))),
      "c" -> Vector(
        Event("C", Vector("id" -> 2L, "v" -> 7L)),
        Event("C", Vector("id" -> 3L, "v" -> 4L)),
        Event("C", Vector("id" -> 4L, "v" -> 6L))),
      "p" -> Vector(Event("P", Vector("id" -> 5L, "v" -> 9L))))
    val folded = st.measures.map(m =>
      CepMeasures.evalItem(m, byName, "id", st.subsetMap))
    assert(folded == Vector(Some(4L), Some(7L), Some(4L), None,
      Some(5L), Some(0L)))
  }

  test("measure expressions: '/' is DuckDB-// integer division — " +
    "truncation toward zero, NULL on zero divisor; AVG stays floored") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2}) " +
        "MEASURES SUM(c.v) / COUNT(c) AS rate, " +
        "(0 - SUM(c.v)) / 2 AS neg_rate, " +
        "COUNT(c) / (COUNT(c) - COUNT(c)) AS div0, " +
        "AVG(c.v) AS floored " +
        "DEFINE s AS S; c AS C", schema)
    // S(1), C(2,v=7), C(3,v=4): matches c=[2] (sum 7) and c=[2,3] (11)
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L))
    val out = CepMeasures.run(df, st, spec).orderBy("rate")
      .collect().toVector
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("rate")),
        r.getLong(r.fieldIndex("neg_rate")),
        r.isNullAt(r.fieldIndex("div0")),
        r.getLong(r.fieldIndex("floored")))
    // c=[2,3]: 11/2 = 5; -11/2 = -5 (TRUNCATED — floored would be -6);
    // AVG(7,4) = floor(11/2) = 5. c=[2]: 7/1 = 7; -7/2 = -3.
    assert(out.map(row) == Vector(
      (5L, -5L, true, 5L), (7L, -3L, true, 7L)))
    // streaming/eval fold agrees on the truncated quotient and the
    // zero-divisor NULL
    import CepMeasures.MExpr._
    val cnt = CepMeasures.Measure(CepMeasures.Fn.Count, "c", None, "")
    val sumv = CepMeasures.Measure(CepMeasures.Fn.Sum, "c", Some("v"), "")
    val byName = Map("s" -> Vector(Event("S", Vector("id" -> 1L))),
      "c" -> Vector(Event("C", Vector("id" -> 2L, "v" -> 7L)),
        Event("C", Vector("id" -> 3L, "v" -> 4L))))
    def ev(e: CepMeasures.MExpr) = CepMeasures.evalItem(
      CepMeasures.ExprMeasure(e, "x"), byName, "id", Map.empty)
    assert(ev(Div(Sub(Lit(0), Atom(sumv)), Lit(2))) == Some(-5L))
    assert(ev(Div(Atom(sumv), Atom(cnt))) == Some(5L))
    assert(ev(Div(Atom(cnt), Sub(Atom(cnt), Atom(cnt)))) == None)
  }

  test("measure expressions: long arithmetic over atoms, hand-computed; " +
    "NULL atoms poison the expression") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES LAST(c.v) - FIRST(c.v) AS spread, " +
        "10 * COUNT(c) + 1 AS scaled, " +
        "SUM(c.v) - MIN(c.v) AS above_min, " +
        "(FIRST(s)) AS s_id, " +
        "FIRST(p.v) * (COUNT(c) + COUNT(p)) AS pv_n " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // the parenthesized single atom collapses to a plain Measure
    assert(st.measures(3).isInstanceOf[CepMeasures.Measure])
    assert(st.measures(0).isInstanceOf[CepMeasures.ExprMeasure])
    // S(1), C(2,v=7), C(3,v=4), P(4,v=9): matches c=[2] and c=[2,3]
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L))
    val out = CepMeasures.run(df, st, spec)
      .orderBy("scaled")
      .collect().map(r => (r.getLong(r.fieldIndex("spread")),
        r.getLong(r.fieldIndex("scaled")),
        r.getLong(r.fieldIndex("above_min")),
        r.getLong(r.fieldIndex("s_id")),
        r.getLong(r.fieldIndex("pv_n")))).toVector
    assert(out == Vector(
      (0L, 11L, 0L, 1L, 18L),   // c=[2]:   7-7, 10*1+1, 7-7, 1, 9*(1+1)
      (-3L, 21L, 7L, 1L, 27L))) // c=[2,3]: 4-7, 10*2+1, 11-4, 1, 9*(2+1)
    // NULL atom (empty optional binding) → NULL expression
    val stOpt = CepSql.parseStatement(
      "PATTERN (s c? -> p) " +
        "MEASURES SUM(c.v) + COUNT(c) AS s_plus_n, " +
        "COUNT(c) * 2 AS n2 " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val rows = CepMeasures.run(eventsDf((1L, 1L, "S", 0L),
      (1L, 2L, "P", 3L)), stOpt, spec).collect().toVector
    assert(rows.length == 1)
    assert(rows.head.isNullAt(rows.head.fieldIndex("s_plus_n")))
    assert(rows.head.getLong(rows.head.fieldIndex("n2")) == 0L)
    // streaming fold agrees
    val byName = Map(
      "s" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 0L))),
      "c" -> Vector(Event("C", Vector("id" -> 2L, "v" -> 7L)),
        Event("C", Vector("id" -> 3L, "v" -> 4L))),
      "p" -> Vector(Event("P", Vector("id" -> 4L, "v" -> 9L))))
    assert(st.measures.map(m => CepMeasures.evalItem(m, byName, "id")) ==
      Vector(Some(-3L), Some(21L), Some(7L), Some(1L), Some(27L)))
    assert(CepMeasures.evalItem(stOpt.measures(0),
      byName - "c", "id") == None)
  }

  test("measure expressions render round-trip with minimal parentheses") {
    val sqls = Vector(
      "PATTERN (a -> b) MEASURES SUM(a.v) + SUM(b.v) * 2 AS x " +
        "DEFINE a AS S; b AS C",
      "PATTERN (a -> b) MEASURES (SUM(a.v) + SUM(b.v)) * 2 AS x " +
        "DEFINE a AS S; b AS C",
      "PATTERN (a -> b) MEASURES SUM(a.v) - (COUNT(a) - COUNT(b)) AS x, " +
        "FINAL LAST(b.v, 1) - FIRST(a.v) AS y " +
        "DEFINE a AS S; b AS C",
      "PATTERN (a -> b) MEASURES MATCH_NUMBER() * 1000 + COUNT(a) AS x " +
        "DEFINE a AS S; b AS C")
    for (sql <- sqls) {
      val st = CepSql.parseStatement(sql, schema)
      val again = CepSql.parseStatement(CepSql.render(st), schema)
      assert(again == st, s"round-trip diverged for: $sql\n" +
        s"rendered: ${CepSql.render(st)}")
    }
  }

  test("measure expressions: bad forms fail loudly") {
    def bad(measures: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(
          s"PATTERN (a -> b) MEASURES $measures DEFINE a AS S; b AS C",
          schema)
      }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    bad("CLASSIFIER() + 1 AS x", "not usable in measure arithmetic")
    bad("1 + 2 AS x", "references no measure atom")
    bad("COUNT(a) + AS x", "expected")
    bad("COUNT(a) COUNT(b) AS x", "trailing input")
    bad("SUM(a.v, 1) + 1 AS x", "only FIRST/LAST take an offset")
    bad("COUNT(z) + 1 AS x", "no DEFINE")
    bad("SUM(a.nope) + 1 AS x", "no attribute 'nope'")
  }

  test("ALL ROWS PER MATCH: running expression measures combine running " +
    "atoms per row") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{2,2}~ -> p) " +
        "MEASURES SUM(c.v) - COUNT(c) AS sum_less_n, " +
        "FINAL SUM(c.v) + 100 AS fin_plus " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // one match: s=1, c=[2(v7),3(v4)], p=4(v9)
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L))
    val out = CepMeasures.run(df, st, spec).orderBy("id")
      .collect().map { r =>
        (r.getLong(r.fieldIndex("id")),
          if (r.isNullAt(r.fieldIndex("sum_less_n"))) None
          else Some(r.getLong(r.fieldIndex("sum_less_n"))),
          r.getLong(r.fieldIndex("fin_plus")))
      }.toVector
    assert(out == Vector(
      (1L, None, 111L),      // s row: running SUM NULL - COUNT 0 → NULL
      (2L, Some(6L), 111L),  // 7 - 1
      (3L, Some(9L), 111L),  // 11 - 2
      (4L, Some(9L), 111L))) // p row: unchanged running c aggregates
  }

  test("ALL ROWS PER MATCH offset navigation: FINAL FIRST/LAST, RUNNING " +
    "FIRST (r17) and RUNNING LAST over the descending running twin (r18)") {
    // FINAL FIRST/LAST(x, k): the (k+1)-th bound event of the whole
    // match, constant per row; RUNNING FIRST(x, k): the (k+1)-th
    // bound SO FAR (NULL until it exists); RUNNING LAST(x, k): the
    // (k+1)-th from the END of the takes so far, current row included
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{3,3}~ -> p) " +
        "MEASURES FINAL FIRST(c.v, 1) AS ff1, FINAL LAST(c.v, 1) AS fl1, " +
        "FINAL LAST(c, 2) AS fl2pos, FIRST(c.v, 1) AS rf1, " +
        "RUNNING LAST(c.v, 1) AS rl1, RUNNING LAST(c, 1) AS rl1pos " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    // one match: s(1) c(2,v=5) c(3,v=9) c(4,v=7) p(5)
    val df2 = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 5L),
      (1L, 3L, "C", 9L), (1L, 4L, "C", 7L), (1L, 5L, "P", 2L))
    val out = CepMeasures.run(df2, st, spec).orderBy("id").collect()
      .map { r =>
        def opt(f: String): Long =
          if (r.isNullAt(r.fieldIndex(f))) -1L
          else r.getLong(r.fieldIndex(f))
        (r.getLong(r.fieldIndex("id")),
          r.getLong(r.fieldIndex("ff1")),
          r.getLong(r.fieldIndex("fl1")),
          r.getLong(r.fieldIndex("fl2pos")),
          opt("rf1"), opt("rl1"), opt("rl1pos"))
      }.toVector
    // ff1 = 2nd c's v = 9; fl1 = 2nd-from-end c's v = 9; fl2pos =
    // 3rd-from-end c's ORD = 2; rf1 = NULL until two c's bound, then 9;
    // rl1 = 2nd-from-end take so far: NULL, NULL, 5, 9, 9;
    // rl1pos = its ordinal: NULL, NULL, 2, 3, 3
    assert(out == Vector(
      (1L, 9L, 9L, 2L, -1L, -1L, -1L),
      (2L, 9L, 9L, 2L, -1L, -1L, -1L),
      (3L, 9L, 9L, 2L, 9L, 5L, 2L),
      (4L, 9L, 9L, 2L, 9L, 9L, 3L),
      (5L, 9L, 9L, 2L, 9L, 9L, 3L)))
    // offset past the binding: NULL (aggregate-over-missing)
    val stBeyond = CepSql.parseStatement(
      "PATTERN (s -> p) MEASURES FINAL FIRST(s.v, 3) AS x " +
        "ALL ROWS PER MATCH DEFINE s AS S; p AS P", schema)
    val out2 = CepMeasures.run(
      eventsDf((1L, 1L, "S", 0L), (1L, 2L, "P", 1L)), stBeyond, spec)
      .collect()
    assert(out2.forall(_.isNullAt(out2.head.fieldIndex("x"))))
  }

  test("FINAL vs RUNNING measure semantics in ALL ROWS PER MATCH") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{2,2}~ -> p) " +
        "MEASURES SUM(c.v) AS run_sum, FINAL SUM(c.v) AS fin_sum, " +
        "RUNNING COUNT(c) AS run_n, FINAL LAST(c.v) AS fin_last " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    assert(st.measures.map(_.isFinal) ==
      Vector(false, true, false, true))
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    // one match: s(1) c(2,v=5) c(3,v=9) p(4)
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "C", 5L),
      (1L, 3L, "C", 9L), (1L, 4L, "P", 2L))
    val out = CepMeasures.run(df, st).orderBy("id").collect().map { r =>
      (r.getString(r.fieldIndex("classifier")),
        if (r.isNullAt(r.fieldIndex("run_sum"))) -1L
        else r.getLong(r.fieldIndex("run_sum")),
        r.getLong(r.fieldIndex("fin_sum")),
        r.getLong(r.fieldIndex("run_n")),
        r.getLong(r.fieldIndex("fin_last")))
    }.toVector
    assert(out == Vector(
      ("s", -1L, 14L, 0L, 9L),   // running sum NULL before any c
      ("c", 5L, 14L, 1L, 9L),
      ("c", 14L, 14L, 2L, 9L),
      ("p", 14L, 14L, 2L, 9L)))
  }

  test("MATCH_NUMBER()/match_no follow temporal order under an " +
    "alternation-headed pattern (empty arrays must not sort first)") {
    // (p | x) s: match 1 goes through the p-branch (ids 1,2), match 2 —
    // temporally LATER — through the x-branch (ids 3,4). Ordering the
    // sequence window by the binding arrays alone numbers match 2 first
    // (its p-array is EMPTY and [] < [1] lexicographically); the
    // temporal window orders by the earliest bound ordinal.
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "P", 5L),
      (1L, 3L, "C", 0L), (1L, 4L, "P", 7L))
    val one = CepSql.parseStatement(
      "PATTERN ((p | x) s) " +
        "MEASURES MATCH_NUMBER() AS mno, FIRST(p) AS p_id, " +
        "FIRST(x) AS x_id " +
        "DEFINE p AS S; x AS C; s AS P", schema)
    val got = CepMeasures.run(df, one, spec).orderBy("mno").collect()
      .map(r => (r.getLong(r.fieldIndex("mno")),
        if (r.isNullAt(r.fieldIndex("p_id"))) -1L
        else r.getLong(r.fieldIndex("p_id")),
        if (r.isNullAt(r.fieldIndex("x_id"))) -1L
        else r.getLong(r.fieldIndex("x_id")))).toVector
    assert(got == Vector((1L, 1L, -1L), (2L, -1L, 3L)))
    // same sequence in ALL ROWS PER MATCH's match_no
    val all = CepSql.parseStatement(
      "PATTERN ((p | x) s) MEASURES COUNT(p) AS n_p " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE p AS S; x AS C; s AS P", schema)
    val rows = CepMeasures.run(df, all).orderBy("id").collect()
      .map(r => (r.getLong(r.fieldIndex("match_no")),
        r.getLong(r.fieldIndex("id")))).toVector
    assert(rows == Vector((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L)))
  }

  test("ALL ROWS PER MATCH clause: parsed, rendered, dispatched by run") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> p) MEASURES COUNT(s) AS n_s " +
        "ALL ROWS PER MATCH " +
        "PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; p AS P", schema)
    assert(st.rowsPerMatch == CepSql.RowsPerMatch.AllRows)
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    // explicit ONE ROW PER MATCH == the default
    val one = CepSql.parseStatement(
      "PATTERN (s -> p) MEASURES COUNT(s) AS n_s ONE ROW PER MATCH " +
        "DEFINE s AS S; p AS P", schema)
    assert(one.rowsPerMatch == CepSql.RowsPerMatch.OneRow)
    // run() dispatches: AllRows emits shape columns + one row per event
    val df = eventsDf((1L, 1L, "S", 0L), (1L, 2L, "P", 3L))
    val out = CepMeasures.run(df, st)
    assert(out.columns.toVector ==
      Vector("k", "match_no", "classifier", "id", "n_s"))
    assert(out.collect().map(r => (r.getString(2), r.getLong(3),
      r.getLong(4))).toSet == Set(("s", 1L, 1L), ("p", 2L, 1L)))
    // malformed / duplicate clauses fail loudly
    intercept[IllegalArgumentException] {
      CepSql.parseStatement(
        "PATTERN (s) ALL ROW PER MATCH DEFINE s AS S", schema)
    }
    intercept[IllegalArgumentException] {
      CepSql.parseStatement(
        "PATTERN (s) ONE ROW PER MATCH ALL ROWS PER MATCH " +
          "DEFINE s AS S", schema)
    }
  }

  test("aggregate-argument expressions: per-event value expressions " +
    "inside SUM/MIN/MAX/AVG/FIRST/LAST, hand-computed; batch == fold") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES SUM(c.v * c.v) AS energy, " +
        "AVG(2 * c.v + 1) AS avg2, " +
        "MIN(c.v - 10) AS lo, " +
        "MAX(c.v * c.v - c.v) AS hi, " +
        "FIRST(c.v * 3) AS f3, " +
        "LAST(p.v / 2) AS ph, " +
        "LAST(c.v * c.v, 1) AS pen_sq " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // parse shape: an arg-expr atom carries argExpr and no attr
    val energy = st.measures(0).asInstanceOf[CepMeasures.Measure]
    assert(energy.argExpr.isDefined && energy.attr.isEmpty &&
      energy.name == "c")
    // S(1), C(2,v=7), C(3,v=4), P(4,v=9): matches c=[2] and c=[2,3]
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L))
    def g(r: Row, n: String): Any =
      if (r.isNullAt(r.fieldIndex(n))) null else r.getLong(r.fieldIndex(n))
    val out = CepMeasures.run(df, st, spec)
      .orderBy("energy")
      .collect().map(r => (g(r, "energy"), g(r, "avg2"), g(r, "lo"),
        g(r, "hi"), g(r, "f3"), g(r, "ph"), g(r, "pen_sq"))).toVector
    assert(out == Vector(
      // c=[2]: 49, (15)//1, -3, 42, 21, 9/2=4, offset-1 off the end: NULL
      (49L, 15L, -3L, 42L, 21L, 4L, null),
      // c=[2,3]: 49+16, (15+9)//2, -6, max(42,12), 21, 4, 2nd-from-last
      (65L, 12L, -6L, 42L, 21L, 4L, 49L)))
    // streaming fold agrees measure-for-measure (the batch==stream gate
    // in StreamingCepMeasuresSpec covers the operator; this pins the
    // fold arithmetic itself)
    val byName = Map(
      "s" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 0L))),
      "c" -> Vector(Event("C", Vector("id" -> 2L, "v" -> 7L)),
        Event("C", Vector("id" -> 3L, "v" -> 4L))),
      "p" -> Vector(Event("P", Vector("id" -> 4L, "v" -> 9L))))
    assert(st.measures.map(m => CepMeasures.evalItem(m, byName, "id")) ==
      Vector(Some(65L), Some(12L), Some(-6L), Some(42L), Some(21L),
        Some(4L), Some(49L)))
    // division by zero inside the argument poisons the EVENT (NULL), in
    // both tiers
    val stZ = CepSql.parseStatement(
      "PATTERN (s -> p) MEASURES LAST(p.v / (p.v - 9)) AS z " +
        "DEFINE s AS S; p AS P", schema)
    val rz = CepMeasures.run(eventsDf((1L, 1L, "S", 0L),
      (1L, 2L, "P", 9L)), stZ, spec).collect().head
    assert(rz.isNullAt(rz.fieldIndex("z")))
    assert(CepMeasures.evalItem(stZ.measures(0),
      Map("s" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 0L))),
        "p" -> Vector(Event("P", Vector("id" -> 2L, "v" -> 9L)))),
      "id") == None)
  }

  test("aggregate-argument expressions: SUBSET union target, ALL ROWS " +
    "running form, and composition with the outer measure expression") {
    // SUBSET union: SUM over the merged binding in stream order
    val stU = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES SUM(u.v * u.v) AS u_energy, " +
        "SUM(c.v * c.v) + COUNT(p) AS combined " +
        "SUBSET u = (c, p) " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L))
    val outU = CepMeasures.run(df, stU, spec).orderBy("u_energy")
      .collect().map(r => (r.getLong(r.fieldIndex("u_energy")),
        r.getLong(r.fieldIndex("combined")))).toVector
    assert(outU == Vector(
      (49L + 81L, 50L),        // c=[2]:   49+81, 49+1
      (49L + 16L + 81L, 66L))) // c=[2,3]: 49+16+81, 65+1
    // ALL ROWS PER MATCH: the arg expression feeds the RUNNING window
    val stR = CepSql.parseStatement(
      "PATTERN (s -> c{2,2}) " +
        "MEASURES SUM(c.v * c.v) AS r_energy " +
        "ALL ROWS PER MATCH " +
        "DEFINE s AS S; c AS C", schema)
    val outR = CepMeasures.run(df, stR, spec)
      .orderBy("id")
      .collect().map(r => (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("r_energy"))) null
        else r.getLong(r.fieldIndex("r_energy")))).toVector
    assert(outR == Vector((1L, null), (2L, 49L), (3L, 65L)))
  }

  test("aggregate-argument expressions render round-trip; bad forms " +
    "fail loudly") {
    val sqls = Vector(
      "PATTERN (a -> b) MEASURES SUM(a.v * a.v) + 1 AS x " +
        "DEFINE a AS S; b AS C",
      "PATTERN (a -> b) MEASURES AVG((a.v + 1) * 2) AS y " +
        "DEFINE a AS S; b AS C",
      "PATTERN (a -> b) MEASURES FIRST(a.v * 2, 1) AS z, " +
        "MIN(b.v / 3 - 1) AS w DEFINE a AS S; b AS C")
    for (sql <- sqls) {
      val st = CepSql.parseStatement(sql, schema)
      val again = CepSql.parseStatement(CepSql.render(st), schema)
      assert(again == st, s"round-trip diverged for: $sql\n" +
        s"rendered: ${CepSql.render(st)}")
    }
    // a parenthesized bare ref collapses to the plain atom form
    val c = CepSql.parseStatement(
      "PATTERN (a -> b) MEASURES SUM((a.v)) AS x DEFINE a AS S; b AS C",
      schema).measures(0).asInstanceOf[CepMeasures.Measure]
    assert(c.attr.contains("v") && c.argExpr.isEmpty)
    def bad(measures: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(
          s"PATTERN (a -> b) MEASURES $measures DEFINE a AS S; b AS C",
          schema)
      }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    bad("SUM(a.v * b.v) AS x", "exactly one pattern")
    bad("SUM(v * 2) AS x", "must be qualified")
    // nullary fns take no argument expression (ctor-level: the parser
    // rejects the paren shape first)
    val eNul = intercept[IllegalArgumentException] {
      CepMeasures.Measure(CepMeasures.Fn.MatchNo, "", None, "x",
        argExpr = Some(CepMeasures.AExpr.Mul(
          CepMeasures.AExpr.Ref("v"), CepMeasures.AExpr.Lit(2L))))
    }
    assert(eNul.getMessage.contains("takes no argument expression"))
    bad("SUM(1 + 2) AS x", "exactly one pattern")
    bad("SUM(a.nope * 2) AS x", "no attribute 'nope'")
  }

  test("nested physical navigation PREV/NEXT around FIRST/LAST: the " +
    "shifted partition row, NULL past the edge, offsets/arguments " +
    "compose; hand-computed") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES COUNT(c) AS n_c, " +
        "PREV(LAST(c.v)) AS before_last_c, " +
        "NEXT(FIRST(c.v), 2) AS two_after_first_c, " +
        "PREV(FIRST(s.v)) AS before_s, " +
        "PREV(LAST(c.v * 10)) AS before_last_c10, " +
        "PREV(LAST(c.v, 1)) AS pen_prev " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // S(1,v=2), C(2,v=7), C(3,v=4), P(4,v=9): matches c=[2] and c=[2,3]
    val df = eventsDf(
      (1L, 1L, "S", 2L), (1L, 2L, "C", 7L), (1L, 3L, "C", 4L),
      (1L, 4L, "P", 9L))
    def g(r: Row, n: String): Any =
      if (r.isNullAt(r.fieldIndex(n))) null else r.getLong(r.fieldIndex(n))
    val out = CepMeasures.run(df, st, spec).orderBy("n_c")
      .collect().map(r => (g(r, "n_c"), g(r, "before_last_c"),
        g(r, "two_after_first_c"), g(r, "before_s"),
        g(r, "before_last_c10"), g(r, "pen_prev"))).toVector
    assert(out == Vector(
      // c=[2]: PREV(last c@2) = S(v=2); NEXT(first c@2, 2) = P(v=9);
      // PREV of s@1 falls off the partition; arg expr over the shifted
      // row: 2*10; offset target NULL on the 1-click fork
      (1L, 2L, 9L, null, 20L, null),
      // c=[2,3]: PREV(last c@3) = C(v=7); offset LAST(c,1)@2 → PREV = 2
      (2L, 7L, 9L, null, 70L, 2L)))
    // render round-trips, with and without explicit steps
    val again = CepSql.parseStatement(CepSql.render(st), schema)
    assert(again == st, CepSql.render(st))
    // rejections: ALL ROWS, streaming fold, bad nesting shapes
    val stAll = CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES PREV(LAST(c.v)) AS x ALL ROWS PER MATCH " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val eAll = intercept[IllegalArgumentException] {
      CepMeasures.run(df, stAll, spec).collect()
    }
    assert(eAll.getMessage.contains("ONE ROW PER MATCH only"))
    val ePhysFold = intercept[IllegalArgumentException] {
      CepMeasures.evalMeasure(
        st.measures(1).asInstanceOf[CepMeasures.Measure],
        Map("c" -> Vector(Event("C", Vector("id" -> 2L, "v" -> 7L)))),
        "id")
    }
    assert(ePhysFold.getMessage.contains("batch-only"))
    def bad(measures: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(
          s"PATTERN (a -> b) MEASURES $measures DEFINE a AS S; b AS C",
          schema)
      }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    bad("PREV(COUNT(a)) AS x", "nest around FIRST/LAST only")
    bad("PREV(LAST(a)) AS x", "positional form has no navigable value")
    bad("PREV(NEXT(LAST(a.v))) AS x", "do not nest in each other")
    bad("PREV(LAST(a.v), 0) AS x", "must be a positive integer")
    // un-nested SQL:2016 spelling: PREV(a.v[, k]) is implicit-LAST sugar
    def one(measures: String): CepMeasures.MeasureItem =
      CepSql.parseStatement(
        s"PATTERN (a -> b) MEASURES $measures DEFINE a AS S; b AS C",
        schema).measures(0)
    assert(one("PREV(a.v) AS x") == one("PREV(LAST(a.v)) AS x"))
    assert(one("NEXT(a.v, 3) AS x") == one("NEXT(LAST(a.v), 3) AS x"))
  }

  test("DISTINCT aggregates and attributed COUNT: hand-computed; " +
    "batch == fold; ALL ROWS and bad shapes reject loudly") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,3}~ -> p) " +
        "MEASURES COUNT(c) AS n_c, COUNT(c.v) AS n_cv, " +
        "COUNT(DISTINCT c.v) AS n_dv, SUM(DISTINCT c.v) AS s_dv, " +
        "SUM(DISTINCT c.v * c.v) AS s_dsq " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // S(1), C(2,7), C(3,7), C(4,4), P(5,9): c = [2], [2,3], [2,3,4]
    val df = eventsDf(
      (1L, 1L, "S", 0L), (1L, 2L, "C", 7L), (1L, 3L, "C", 7L),
      (1L, 4L, "C", 4L), (1L, 5L, "P", 9L))
    val out = CepMeasures.run(df, st, spec).orderBy("n_c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toVector
    assert(out == Vector(
      (1L, 1L, 1L, 1L, 7L, 49L),   // [7]
      (1L, 2L, 2L, 1L, 7L, 49L),   // [7,7]: one distinct value
      (1L, 3L, 3L, 2L, 11L, 65L))) // [7,7,4]
    // emission-time fold agrees
    val byName = Map(
      "s" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 0L))),
      "c" -> Vector(Event("C", Vector("id" -> 2L, "v" -> 7L)),
        Event("C", Vector("id" -> 3L, "v" -> 7L)),
        Event("C", Vector("id" -> 4L, "v" -> 4L))),
      "p" -> Vector(Event("P", Vector("id" -> 5L, "v" -> 9L))))
    assert(st.measures.map(m => CepMeasures.evalItem(m, byName, "id")) ==
      Vector(Some(3L), Some(3L), Some(2L), Some(11L), Some(65L)))
    // attributed COUNT over an EMPTY binding is 0, not NULL (SQL COUNT)
    val stOpt = CepSql.parseStatement(
      "PATTERN (s c? -> p) MEASURES COUNT(c.v) AS n_cv, " +
        "COUNT(DISTINCT c.v) AS n_dv " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val r0 = CepMeasures.run(eventsDf((1L, 1L, "S", 0L),
      (1L, 2L, "P", 3L)), stOpt, spec).collect().head
    assert(r0.getLong(r0.fieldIndex("n_cv")) == 0L)
    assert(r0.getLong(r0.fieldIndex("n_dv")) == 0L)
    // render round-trips
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    def bad(measures: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(
          s"PATTERN (a -> b) MEASURES $measures DEFINE a AS S; b AS C",
          schema)
      }
      assert(e.getMessage.contains(frag), s"'${e.getMessage}' !~ '$frag'")
    }
    bad("AVG(DISTINCT a.v) AS x", "DISTINCT applies to COUNT/SUM only")
    bad("COUNT(DISTINCT a) AS x", "positional DISTINCT is the plain form")
    // ALL ROWS rejects DISTINCT at run time (window fns take none)
    val stAll = CepSql.parseStatement(
      "PATTERN (s -> c{1,2}) MEASURES COUNT(DISTINCT c.v) AS x " +
        "ALL ROWS PER MATCH DEFINE s AS S; c AS C", schema)
    val eAll = intercept[IllegalArgumentException] {
      CepMeasures.run(df, stAll, spec).collect()
    }
    assert(eAll.getMessage.contains("ONE ROW PER MATCH only"))
  }

  test("differential: ALL ROWS RUNNING/FINAL LAST(x, k) == an " +
    "independent per-row model over the executor's own matches " +
    "(seeded random streams; r18 — the descending running twin)") {
    // rl0 rides the PLAIN RUNNING LAST path, rl1/rl2pos the new
    // offset path over the descending running frame, fl1 the FINAL
    // descending twin — one statement ties all three to the same
    // per-row walk, and the model recomputes each from the binding
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{1,2}~ -> p) " +
        "MEASURES FINAL FIRST(s) AS s_id, FINAL COUNT(c) AS n_c, " +
        "FINAL LAST(p) AS p_id, RUNNING LAST(c.v) AS rl0, " +
        "RUNNING LAST(c.v, 1) AS rl1, RUNNING LAST(c, 2) AS rl2pos, " +
        "FINAL LAST(c.v, 1) AS fl1 " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P WITHIN 6", schema)
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 20) {
      val types = Vector("S", "C", "P")
      val n = 12 + rnd.nextInt(12)
      val evs = (1 to n).map { i =>
        (1L + rnd.nextInt(2), i.toLong, types(rnd.nextInt(3)),
          rnd.nextInt(10).toLong)
      }
      val df = eventsDf(evs: _*)
      def opt(r: Row, f: String): Option[Long] = {
        val i = r.fieldIndex(f)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
      // one tuple per OUTPUT ROW, match-pinned by (s_id, n_c, p_id);
      // compared as sorted multisets (overlapping NoSkip matches can
      // share rows, so no per-row key exists — the full-tuple multiset
      // is the faithful comparison)
      val got = CepMeasures.run(df, st, spec).collect().map { r =>
        (r.getLong(r.fieldIndex("k")), r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("classifier")),
          r.getLong(r.fieldIndex("s_id")), r.getLong(r.fieldIndex("n_c")),
          r.getLong(r.fieldIndex("p_id")),
          opt(r, "rl0"), opt(r, "rl1"), opt(r, "rl2pos"), opt(r, "fl1"))
      }.toVector.sortBy(_.toString)
      val byKey = evs.groupBy(_._1)
      val want = byKey.toVector.flatMap { case (k, kevs) =>
        val stream = kevs.sortBy(_._2).map(e =>
          Event(e._3, Vector("id" -> e._2, "v" -> e._4)))
        val vOf = kevs.map(e => e._2 -> e._4).toMap
        CepOperator.run(st.query, stream).flatMap { m =>
          val mm = m.toMap
          val rows = mm.toVector.flatMap { case (nm, es) =>
            es.map(e => (e("id"), nm)) }.sortBy(_._1)
          val cAll = mm("c").map(_("id"))
          def lastK(sofar: Vector[Long], kk: Int): Option[Long] =
            sofar.lift(sofar.length - 1 - kk)
          rows.map { case (id, nm) =>
            val cSoFar = cAll.filter(_ <= id)
            (k, id, nm, mm("s").head("id"), cAll.length.toLong,
              mm("p").head("id"),
              lastK(cSoFar, 0).map(vOf),          // RUNNING LAST(c.v)
              lastK(cSoFar, 1).map(vOf),          // RUNNING LAST(c.v, 1)
              lastK(cSoFar, 2),                   // RUNNING LAST(c, 2)
              lastK(cAll, 1).map(vOf))            // FINAL LAST(c.v, 1)
          }
        }
      }.sortBy(_.toString)
      assert(got == want, s"trial $trial diverged")
      // the last row of every match agrees RUNNING == FINAL for the
      // same offset (emission-time reading)
      got.groupBy(t => (t._1, t._4, t._5, t._6)).foreach { case (_, rs) =>
        val last = rs.maxBy(_._2)
        assert(last._8 == last._10, s"trial $trial last-row rl1 != fl1")
      }
    }
  }

  test("RUNNING/FINAL LAST offsets under {- -} exclusion and SUBSET: " +
    "excluded rows still feed the offset walk (r18 — the interplay " +
    "the round-17 deviation note worried about, hand-computed)") {
    // c rows are EXCLUDED from output but bind: at the p row the
    // c-takes so far are [5, 9], so RUNNING LAST(c.v, 1) = 5 — an
    // implementation that filtered excluded rows BEFORE the window
    // pass would read NULL here; u = (s, c) checks the SUBSET walk
    // (takes so far at p: [7, 5, 9] -> second-from-end = 5)
    val st = CepSql.parseStatement(
      "PATTERN (s -> {- c{2,2} -} -> p) " +
        "MEASURES RUNNING LAST(c.v, 1) AS rl1, FINAL LAST(c.v, 1) " +
        "AS fl1, RUNNING LAST(u.v, 1) AS ru1 " +
        "SUBSET u = (s, c) " +
        "ALL ROWS PER MATCH PARTITION BY k ORDER BY id TYPE t " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    val df = eventsDf((1L, 1L, "S", 7L), (1L, 2L, "C", 5L),
      (1L, 3L, "C", 9L), (1L, 4L, "P", 2L))
    val out = CepMeasures.run(df, st, spec).orderBy("id").collect()
      .map { r =>
        def opt(f: String): Long =
          if (r.isNullAt(r.fieldIndex(f))) -1L
          else r.getLong(r.fieldIndex(f))
        (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("classifier")),
          opt("rl1"), opt("fl1"), opt("ru1"))
      }.toVector
    // only s and p rows emit; fl1 = 5 on every row (whole-match);
    // at s: no c yet (rl1 NULL), u-takes [7] (ru1 NULL — no second)
    assert(out == Vector(
      (1L, "s", -1L, 5L, -1L),
      (4L, "p", 5L, 5L, 5L)), out.mkString(", "))
  }

  test("ALL ROWS FIRST/LAST read the first/last bound event's value even " +
    "when it is NULL; a match's last row equals ONE ROW and streaming") {
    val s = spark
    import s.implicits._
    val st = CepSql.parseStatement(
      "PATTERN (s -> c{2,2} -> p) MEASURES FIRST(c.v) AS fc, " +
        "LAST(c.v) AS lc, FIRST(p.v) AS pv " +
        "DEFINE s AS S; c AS C; p AS P", schema)
    // key 1 binds clicks v = NULL, 4; key 2 binds clicks v = 4, NULL
    val evs = Seq(
      EvNullV(1L, 1L, "S", Some(5L)), EvNullV(1L, 2L, "C", None),
      EvNullV(1L, 3L, "C", Some(4L)), EvNullV(1L, 4L, "P", None),
      EvNullV(2L, 5L, "S", Some(5L)), EvNullV(2L, 6L, "C", Some(4L)),
      EvNullV(2L, 7L, "C", None), EvNullV(2L, 8L, "P", Some(7L)))
    def opt(r: Row, f: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Long](f))
    def measures(r: Row) = (r.getAs[Long]("k"), opt(r, "fc"), opt(r, "lc"),
      opt(r, "pv"))
    val oneRow = CepMeasures.run(evs.toDF(), st, spec).collect()
      .map(measures).toVector.sortBy(_._1)
    assert(oneRow == Vector((1L, None, Some(4L), None),
      (2L, Some(4L), None, Some(7L))))
    val allRows = CepMeasures.runAllRows(evs.toDF(), st, spec)
      .orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), measures(r))).toVector
    assert(allRows.map(r => r._1 -> r._2.productIterator.drop(1).toVector)
      == Vector(
        1L -> Vector(None, None, None), 2L -> Vector(None, None, None),
        3L -> Vector(None, Some(4L), None), 4L -> Vector(None, Some(4L), None),
        5L -> Vector(None, None, None), 6L -> Vector(Some(4L), Some(4L), None),
        7L -> Vector(Some(4L), None, None),
        8L -> Vector(Some(4L), None, Some(7L))))
    assert(Vector(allRows(3)._2, allRows(7)._2) == oneRow)

    implicit val sqlCtx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EvNullV]
    val q = StreamingCep.matchPatternMeasures(mem.toDF(), st, spec)
      .writeStream.format("memory").queryName("cep_meas_null_first_last")
      .outputMode("append").start()
    try { mem.addData(evs: _*); q.processAllAvailable() } finally q.stop()
    val streamed = s.table("cep_meas_null_first_last").collect()
      .map(measures).toVector.sortBy(_._1)
    assert(streamed == oneRow)
  }
}

package graft.cep

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SQL:2016 row navigation (`PREV`/`NEXT` in DEFINE conditions — [[Nav]]):
  * the parse-side rewrite + NULL guards, the render inversion, the
  * rejection surface, pure-executor semantics over [[Nav.augmentEvents]],
  * and a seeded Spark-vs-pure differential through both physical
  * formulations (typed mapPartitions and the Catalyst exec).
  */
class CepNavSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema: Vector[(String, Vector[String])] = Vector(
    "click" -> Vector("event_id", "value"),
    "view" -> Vector("event_id", "value"))
  private val spec =
    SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value"))

  private def clicks(vs: Long*): Vector[Event] =
    vs.toVector.zipWithIndex.map { case (v, i) =>
      Event("click", Vector("event_id" -> (i + 1L), "value" -> v))
    }

  private def runPure(q: CepQuery, evs: Vector[Event]): Vector[Match] =
    CepOperator.run(q, Nav.augmentEvents(evs, Nav.ofQuery(q)))

  private def ids(m: Match, name: String): Vector[Long] =
    m.collectFirst { case (n, es) if n == name =>
      es.map(_.attrs.collectFirst { case ("event_id", v) => v }.get)
    }.get

  // ---------------------------------------------------------------- parse

  test("PREV rewrites to a guarded reserved attribute") {
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)
    val y = q.patseq.asInstanceOf[Pattern.Combine].right
      .asInstanceOf[Pattern.Spat]
    assert(y.cndt == Expr.And(Expr.Ref("__nav_has_p1_value"),
      Expr.Cmp(">", Expr.Ref("value"), Expr.Ref("__nav_p1_value"))))
    assert(Nav.ofQuery(q) == Vector(Nav(prev = true, "value", 1)))
  }

  test("guards wrap atoms, not whole conditions: OR branches stay live") {
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click " +
        "WHERE value > PREV(value) or value == 0", schema)
    val p = q.patseq.asInstanceOf[Pattern.Spat]
    assert(p.cndt == Expr.Or(
      Expr.And(Expr.Ref("__nav_has_p1_value"),
        Expr.Cmp(">", Expr.Ref("value"), Expr.Ref("__nav_p1_value"))),
      Expr.Cmp("==", Expr.Ref("value"), Expr.Lit(0))))
  }

  test("statement render round-trips PREV/NEXT, offsets, UNTIL nav") {
    val texts = Vector(
      "PATTERN (x y) MEASURES FIRST(x) AS x_id " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE x AS click; y AS click WHERE value > PREV(value)",
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value, 3) and " +
        "value > NEXT(value, 2)",
      "PATTERN (a{1,}) DEFINE a AS click WHERE value >= PREV(value) " +
        "UNTIL NEXT(value) == 0")
    for (t <- texts) {
      val st = CepSql.parseStatement(t, schema)
      val again = CepSql.parseStatement(CepSql.render(st), schema)
      assert(again == st, s"round-trip failed for: $t\n" +
        s"rendered: ${CepSql.render(st)}")
    }
  }

  test("rejections: reserved prefix, LET navigation, bad offsets, " +
    "streaming") {
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        CepSql.parseStatement(sql, schema))
      assert(e.getMessage.contains(frag),
        s"message '${e.getMessage}' lacks '$frag'")
    }
    bad("PATTERN (p) DEFINE p AS click WHERE __nav_p1_value > 0",
      "reserved")
    bad("PATTERN (p) DEFINE p AS click LET R = 0 THEN R + PREV(value)",
      "navigation")
    bad("PATTERN (p) DEFINE p AS click WHERE value > PREV(value, 0)",
      "offset")
    bad("PATTERN (p) DEFINE p AS click WHERE value > PREV(value, " +
      "99999999999)", "out of range")

    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Ev]
    // PREV is streaming-supported (per-key history in state —
    // StreamingCepNavSpec); NEXT is supported by the EVENT-TIME
    // operators, single-query (r17) and shared (r18) — watermark
    // hold-back, StreamingCepNavSpec — and stays rejected on the
    // ARRIVAL-ORDER operators, single and shared, with a message that
    // routes the user to the event-time forms
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > NEXT(value)", schema)
    val e = intercept[IllegalArgumentException](
      StreamingCep.matchPattern(mem.toDF(), q, spec))
    assert(e.getMessage.contains(
      "NEXT is not supported by the ARRIVAL-ORDER streaming operators"))
    assert(e.getMessage.contains("matchPatternsSharedEventTime"))
    val e2 = intercept[IllegalArgumentException](
      StreamingCep.matchPatternsShared(mem.toDF(), Seq("nav" -> q), spec))
    assert(e2.getMessage.contains(
      "NEXT is not supported by the ARRIVAL-ORDER streaming operators"))
  }

  // ------------------------------------------------------- pure semantics

  test("ascending adjacent pairs via PREV (pure executor)") {
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)
    // values 5 3 4 7 2 7 → rising adjacent pairs at (2,3) (3,4) (5,6)
    val ms = runPure(q, clicks(5, 3, 4, 7, 2, 7))
    assert(ms.map(m => (ids(m, "x").head, ids(m, "y").head)) ==
      Vector((2L, 3L), (3L, 4L), (5L, 6L)))
  }

  test("first row: guarded atom is not-true, OR branch still matches") {
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click " +
        "WHERE value > PREV(value) or value == 0", schema)
    // v=0 first row: PREV atom not-true, `value == 0` matches anyway
    // (second row -1 matches neither branch)
    assert(runPure(q, clicks(0, -1)).map(m => ids(m, "p").head) ==
      Vector(1L))
    // v=5 first row: neither branch
    assert(runPure(q, clicks(5, 4)).map(m => ids(m, "p").head) ==
      Vector.empty)
  }

  test("PREV is PHYSICAL: it sees rows of other types") {
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value)", schema)
    // view(10) click(11): the click's PREV is the view's value
    val evs = Vector(
      Event("view", Vector("event_id" -> 1L, "value" -> 10L)),
      Event("click", Vector("event_id" -> 2L, "value" -> 11L)),
      Event("click", Vector("event_id" -> 3L, "value" -> 5L)))
    assert(runPure(q, evs).map(m => ids(m, "p").head) == Vector(2L))
  }

  test("NEXT at the tail and PREV(_, k) offsets") {
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click " +
        "WHERE value > PREV(value, 2) and value > NEXT(value)", schema)
    // values 1 5 9 2 9 → p@3 (9 > 1, 9 > 2); p@5 has no NEXT; p@4 fails
    val ms = runPure(q, clicks(1, 5, 9, 2, 9))
    assert(ms.map(m => ids(m, "p").head) == Vector(3L))
  }

  test("absent base attribute at the offset row: indicator 0, atom " +
    "not-true") {
    val q = CepSql.parse(
      "PATTERN (p) DEFINE p AS click WHERE value > PREV(value)", schema)
    val evs = Vector(
      Event("view", Vector("event_id" -> 1L)), // no `value` attr
      Event("click", Vector("event_id" -> 2L, "value" -> 11L)))
    assert(runPure(q, evs) == Vector.empty)
  }

  // --------------------------------------------------- Spark differential

  test("seeded differential: Spark (both formulations) == pure executor " +
    "with augmented events") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260818L)
    val types = Vector("click", "view")
    val evs = (1 to 240).map { i =>
      Ev(1L + rnd.nextInt(3), i.toLong, types(rnd.nextInt(2)),
        rnd.nextInt(12).toLong)
    }.toVector
    val q = CepSql.parse(
      "PATTERN (x -> y) DEFINE x AS click WHERE value > NEXT(value); " +
        "y AS click WHERE value > PREV(value, 2) WITHIN 6", schema)

    val pure: Vector[(Long, Vector[Long], Vector[Long])] =
      evs.groupBy(_.user_id).toVector.flatMap { case (k, kevs) =>
        val ordered = kevs.sortBy(_.event_id).map(e =>
          Event(e.event_type,
            Vector("event_id" -> e.event_id, "value" -> e.value)))
        runPure(q, ordered).map(m => (k, ids(m, "x"), ids(m, "y")))
      }.sortBy(_.toString)

    val got = SparkCep.matchPatternExec(evs.toDF(), q, spec).collect()
      .toVector.map { r: Row =>
        (r.getLong(0), r.getSeq[Long](1).toVector,
          r.getSeq[Long](2).toVector)
      }.sortBy(_.toString)
    assert(got == pure)
    assert(pure.nonEmpty, "fixture produced no matches")
  }

  test("plan: the lag window's key exchange IS the NFA's — one shuffle") {
    val s = spark
    import s.implicits._
    val evs = Vector(Ev(1L, 1L, "click", 1L), Ev(1L, 2L, "click", 2L))
    val q = CepSql.parse(
      "PATTERN (x y) DEFINE x AS click; y AS click " +
        "WHERE value > PREV(value)", schema)
    val plan = SparkCep.matchPatternExec(evs.toDF(), q, spec)
      .queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"expected exactly one key exchange, got $nEx:\n$plan")
    assert(plan.contains("Window ["), "lag window missing from the plan")
  }

  test("navigation + measures: peaks statement on a handcrafted frame") {
    val s = spark
    import s.implicits._
    val evs = Vector(
      Ev(7L, 1L, "click", 4L), Ev(7L, 2L, "click", 9L),
      Ev(7L, 3L, "view", 2L), Ev(7L, 4L, "click", 8L),
      Ev(7L, 5L, "click", 3L), Ev(7L, 6L, "click", 10L))
    val st = CepSql.parseStatement(
      "PATTERN (p) MEASURES FIRST(p) AS p_id, FIRST(p.value) AS p_value " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE p AS click WHERE value > PREV(value) and " +
        "value > NEXT(value)", schema)
    val got = CepMeasures.run(evs.toDF(), st).collect().toVector
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // peaks: id2 (9 > 4, 9 > 2) and id4 (8 > 2, 8 > 3); id6 has no NEXT
    assert(got == Vector((7L, 2L, 9L), (7L, 4L, 8L)))
  }
}

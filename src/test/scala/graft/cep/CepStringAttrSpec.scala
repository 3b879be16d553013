package graft.cep

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** TYPED STRING ATTRIBUTES (round 16, beyond-reference): a STRING input
  * column rides `Event.strs` end-to-end — DEFINE equality/IN conditions
  * (`host == 'a.com'`, `host in ('a','b')`, `not in`), FIRST/LAST
  * string measures (STRING-typed output), COUNT over a string attr, the
  * prefilter pushdown, the typed and Catalyst batch paths, and the
  * streaming operator with codec v6 state. Long-only invariants stay:
  * arithmetic/registers over strings reject loudly (ordering
  * comparisons and `like` joined the admitted set in round 17 —
  * `ExprStringOrderLikeSpec`).
  */
case class EvS(user_id: Long, event_id: Long, event_type: String,
    value: Long, host: String)

class CepStringAttrSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    "signup" -> Vector("event_id", "value", "host"),
    "click" -> Vector("event_id", "value", "host"),
    "purchase" -> Vector("event_id", "value", "host"),
    // 'view' must be DECLARED for relaxed contiguity to skip it — an
    // undeclared type has no ignore edge and kills the run (reference
    // alphabet semantics)
    "view" -> Vector("event_id", "value", "host"))
  private val spec = CepSpec(Some("user_id"), "event_id", "event_type",
    Seq("value", "host"))

  private def events(n: Int = 200, seed: Long = 20260816L): Vector[EvS] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("signup", "click", "purchase", "view")
    val hosts = Vector("a.com", "b.com", "c.com")
    (1 to n).map(i => EvS(1L + rnd.nextInt(4), i.toLong,
      types(rnd.nextInt(4)), rnd.nextInt(50).toLong,
      hosts(rnd.nextInt(3)))).toVector
  }

  private def df(evs: Vector[EvS]): DataFrame = {
    val s = spark
    import s.implicits._
    evs.toDF()
  }

  // ---------------------------------------------------------- Expr tier

  test("parser: string literals, in, not in; render round-trips") {
    val e = Expr.parse("host == 'a.com' and value > 3")
    assert(Expr.strRefs(e) == Set("host"))
    val in = Expr.parse("host in ('a.com', 'b.com')")
    assert(in == Expr.InSet(Expr.Ref("host"),
      Vector("a.com", "b.com")))
    val notIn = Expr.parse("host not in ('a.com')")
    assert(notIn == Expr.Not(Expr.InSet(Expr.Ref("host"),
      Vector("a.com"))))
    // render (reference condition syntax) re-parses to the same AST
    for (x <- Seq(e, in, notIn))
      assert(Expr.parse(Pattern.ExprRepr(x)) == x)
  }

  test("eval: equality both ways, in; arithmetic/ordering over strings " +
    "raise; compiled tier agrees") {
    val env = Expr.env(Map("value" -> 7L), Map.empty,
      Map("host" -> "a.com"))
    def num(s: String): Long = Expr.evalNumIn(Expr.parse(s), env)
    assert(num("host == 'a.com'") == 1L)
    assert(num("'b.com' != host") == 1L)
    assert(num("host in ('b.com', 'a.com')") == 1L)
    assert(num("host not in ('b.com')") == 1L)
    assert(num("host == 'a.com' and value == 7") == 1L)
    // ordering is part of the string tier since round 17
    assert(num("host < 'b.com'") == 1L)
    intercept[Expr.EvalException](num("host + 1 == 2"))
    // a numeric attr compared to a string literal resolves the ref on
    // the STRING side (the literal types the comparison) — NameError
    intercept[Expr.EvalException](num("value == 'a.com'"))
    // compiled tier: same values through Event.strs resolution
    val ev = Event("click", Vector("event_id" -> 1L, "value" -> 7L),
      Vector("host" -> "a.com"))
    def cnum(s: String): Long = CompiledExpr.eval(
      CompiledExpr.compile(Expr.parse(s), null), ev, Map.empty)
    assert(cnum("host == 'a.com'") == 1L)
    assert(cnum("host != 'b.com'") == 1L)
    assert(cnum("host in ('x', 'a.com')") == 1L)
    assert(cnum("host not in ('a.com')") == 0L)
    intercept[Expr.EvalException](cnum("nope == 'a.com'"))
  }

  test("fuzz: random string/long condition trees — parse∘render " +
    "identity, interpreted == compiled on random events, loud errors") {
    val rnd = new scala.util.Random(20260820L)
    val hosts = Vector("a.com", "b.com", "c.com", "x")
    def rndStrCond(): String = rnd.nextInt(4) match {
      case 0 => s"host == '${hosts(rnd.nextInt(4))}'"
      case 1 => s"'${hosts(rnd.nextInt(4))}' != host"
      case 2 => s"host in (${(0 to rnd.nextInt(2)).map(_ =>
        s"'${hosts(rnd.nextInt(4))}'").mkString(", ")})"
      case 3 => s"host not in ('${hosts(rnd.nextInt(4))}')"
    }
    def rndNumCond(): String = rnd.nextInt(3) match {
      case 0 => s"v ${Vector("==", "!=", "<", ">=")(rnd.nextInt(4))} " +
        s"${rnd.nextInt(9)}"
      case 1 => s"v + ${rnd.nextInt(5)} > ${rnd.nextInt(9)}"
      case 2 => s"not (v == ${rnd.nextInt(9)})"
    }
    def rndTree(depth: Int): String =
      if (depth == 0) { if (rnd.nextBoolean()) rndStrCond() else rndNumCond() }
      else rnd.nextInt(3) match {
        case 0 => s"(${rndTree(depth - 1)}) and (${rndTree(depth - 1)})"
        case 1 => s"(${rndTree(depth - 1)}) or (${rndTree(depth - 1)})"
        case 2 => s"not (${rndTree(depth - 1)})"
      }
    for (_ <- 0 until 300) {
      val src = rndTree(rnd.nextInt(3))
      val e = Expr.parse(src)
      // render → re-parse identity
      assert(Expr.parse(Pattern.ExprRepr(e)) == e, src)
      // interpreted == compiled on a random event (both layouts)
      val ev = Event("T", Vector("v" -> rnd.nextInt(9).toLong),
        Vector("host" -> hosts(rnd.nextInt(4))))
      val env = Expr.env(ev.attrMap, Map.empty, ev.strMap)
      val interp =
        try Right(Expr.evalNumIn(e, env) != 0L)
        catch { case x: Expr.EvalException => Left(x.getMessage) }
      val compiled =
        try Right(CompiledExpr.eval(
          CompiledExpr.compile(e, Vector("v")), ev, Map.empty) != 0L)
        catch { case x: Expr.EvalException => Left(x.getMessage) }
      (interp, compiled) match {
        case (Right(a), Right(b)) => assert(a == b, src)
        case (Left(_), Left(_))   => () // both loud — same class
        case other => fail(s"tiers disagree on '$src': $other")
      }
    }
  }

  // ----------------------------------------------------------- batch

  private val stSql =
    "PATTERN (s -> c) " +
      "MEASURES FIRST(s) AS s_id, LAST(c.host) AS c_host, " +
      "FIRST(c.host) AS f_host, COUNT(c.host) AS n_h, " +
      "SUM(c.value) AS c_v " +
      "DEFINE s AS signup; c AS click WHERE host == 'a.com' WITHIN 6"

  test("batch: string DEFINE condition + FIRST/LAST/COUNT string " +
    "measures; typed and Catalyst paths agree; in-JVM model agrees") {
    val evs = events()
    val st = CepSql.parseStatement(stSql, schema)
    val got = CepMeasures.run(df(evs), st, spec)
    assert(got.schema("c_host").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toVector.sorted
    assert(rows.nonEmpty, "no matches — fixture is vacuous")
    // every matched click is an a.com click (the condition held)
    assert(rows.forall(_._3 == "a.com"))
    assert(rows.forall(r => r._3 == r._4 && r._5 == 1L))
    // in-JVM model: first a.com click within 6 steps after each signup
    // (relaxed combine: non-qualifying events are ignorable, the first
    // qualifying click takes)
    val byKey = evs.groupBy(_.user_id)
    val model = byKey.toVector.flatMap { case (k, kevs) =>
      val sorted = kevs.sortBy(_.event_id)
      sorted.zipWithIndex.collect {
        case (e, i) if e.event_type == "signup" =>
          sorted.drop(i + 1).take(5).zipWithIndex.find { case (c, _) =>
            c.event_type == "click" && c.host == "a.com" }
            .map { case (c, _) => (k, e.event_id, c.event_id) }
      }.flatten
    }
    val gotPairs = rows.map(r => (r._1, r._2)).toSet
    val modelPairs = model.map(m => (m._1, m._2)).toSet
    assert(gotPairs == modelPairs,
      s"matched signups diverge from the model")
  }

  test("batch: IN condition; typed operator equals the Catalyst exec") {
    val evs = events(300, 20260817L)
    val q = CepSql.parse(
      "PATTERN (s -> c) DEFINE s AS signup; " +
        "c AS click WHERE host in ('a.com', 'c.com') WITHIN 4", schema)
    val model = CepModel.matches(df(evs), q, spec)
    val exec = CepModel.canon(SparkCep.matchPatternExec(df(evs), q, spec))
    assert(model == exec)
    assert(model.nonEmpty)
  }

  test("prefilter: a single-spat string equality/IN pushes down as an " +
    "UNCAST string predicate and changes nothing") {
    val evs = events(300, 20260818L)
    // single Spat — the shape whose condition (not just type) pushes
    // down; a positional WITHIN or multi-step pattern vetoes it
    val q = CepSql.parse(
      "PATTERN (c) DEFINE c AS click WHERE host in ('b.com', 'c.com')",
      schema)
    val pf = SparkCep.prefilter(q, spec)
    assert(pf.isDefined, "string condition produced no prefilter")
    assert(pf.get.toString.contains("b.com"))
    val got = SparkCep.matchPatternExec(df(evs), q, spec)
      .collect().map(_.toString).sorted
    // model: every click with one of the two hosts, singleton match
    val model = evs.filter(e => e.event_type == "click" &&
      Set("b.com", "c.com").contains(e.host))
    assert(got.length == model.length)
    assert(got.nonEmpty)
  }

  test("prefilter: single-spat LIKE and string ORDERING push down " +
    "(round 17) — and a backslash pattern declines the like pushdown") {
    val evs = events(300, 20260832L)
    val q = CepSql.parse(
      "PATTERN (c) DEFINE c AS click " +
        "WHERE host like '%.com' and host >= 'b'", schema)
    val pf = SparkCep.prefilter(q, spec)
    assert(pf.isDefined, "like/ordering condition produced no prefilter")
    val repr = pf.get.toString
    assert(repr.contains("%.com") && repr.contains("b"), repr)
    val got = SparkCep.matchPatternExec(df(evs), q, spec)
      .collect().map(_.toString).sorted
    val model = evs.filter(e => e.event_type == "click" &&
      e.host.endsWith(".com") && e.host >= "b")
    assert(got.length == model.length)
    assert(got.nonEmpty)
    // a backslash pattern PUSHES since round 18 — the dialect's
    // literal backslash translates to Spark's escaped form (doubled),
    // so the predicates agree exactly; no host contains one, so the
    // match set is empty either way
    val q2 = CepSql.parse(
      "PATTERN (c) DEFINE c AS click WHERE host like 'a\\%'", schema)
    val pf2 = SparkCep.prefilter(q2, spec)
    assert(pf2.isDefined && pf2.get.toString.contains("\\\\"),
      pf2.map(_.toString).toString)
    assert(SparkCep.matchPatternExec(df(evs), q2, spec).collect()
      .isEmpty) // no host contains a backslash
    // LIKE ... ESCAPE pushes as Spark's three-arg like (round 18) and
    // the batch result equals the NFA model. Hosts are a/b/c.com:
    // '%.c_m' (the `_` is WILD) matches every host; '%.c!_m' escape
    // '!' makes the `_` LITERAL and matches nothing — same pattern
    // chars, opposite result, so a pushdown that mishandled the escape
    // would flip one of the two assertions. (SQL:2016 — and Spark, and
    // this dialect — reject an escape before anything but %/_/itself
    // at parse time, so there is no "escape an ordinary char" form.)
    val q3 = CepSql.parse(
      "PATTERN (c) DEFINE c AS click " +
        "WHERE host like '%.c_m' escape '!'", schema)
    val pf3 = SparkCep.prefilter(q3, spec)
    assert(pf3.isDefined && pf3.get.toString.toLowerCase
      .contains("like"), pf3.map(_.toString).toString)
    val got3 = SparkCep.matchPatternExec(df(evs), q3, spec).collect()
    val model3 = evs.filter(_.event_type == "click")
    assert(got3.length == model3.length)
    assert(got3.nonEmpty)
    val q4 = CepSql.parse(
      "PATTERN (c) DEFINE c AS click " +
        "WHERE host like '%.c!_m' escape '!'", schema)
    val pf4 = SparkCep.prefilter(q4, spec)
    assert(pf4.isDefined && pf4.get.toString.toLowerCase
      .contains("like"), pf4.map(_.toString).toString)
    assert(SparkCep.matchPatternExec(df(evs), q4, spec).collect()
      .isEmpty) // no host contains a literal underscore
  }

  test("rejections: string attr in SUM/arithmetic measures, registers") {
    val evs = df(events(50))
    def bad(sql: String): Unit = {
      val st = CepSql.parseStatement(sql, schema)
      intercept[IllegalArgumentException] {
        CepMeasures.run(evs, st, spec).collect()
      }
    }
    bad("PATTERN (s -> c) MEASURES SUM(c.host) AS x " +
      "DEFINE s AS signup; c AS click WITHIN 4")
    bad("PATTERN (s -> c) MEASURES LAST(c.host) - FIRST(c.host) AS x " +
      "DEFINE s AS signup; c AS click WITHIN 4")
    bad("PATTERN (s -> c) MEASURES MIN(c.host) AS x " +
      "DEFINE s AS signup; c AS click WITHIN 4")
  }

  test("batch: PREV/NEXT around FIRST/LAST of a string attribute read " +
    "the navigated row's string, NULL past the edge or on a NULL value; " +
    "hand-computed") {
    val st = CepSql.parseStatement(
      "PATTERN (s -> c) MEASURES FIRST(s) AS s_id, " +
        "PREV(LAST(c.host)) AS before_c, PREV(LAST(c.host), 2) AS c_back2, " +
        "NEXT(LAST(c.host)) AS after_c, NEXT(LAST(c.host), 2) AS c_fwd2, " +
        "PREV(FIRST(s.host)) AS before_s, NEXT(FIRST(s.host), 2) AS s_fwd2 " +
        "DEFINE s AS signup; c AS click WITHIN 6", schema)
    // key 1: view(1, x.com) signup(2, a.com) view(3, NULL) click(4, b.com)
    // purchase(5, c.com); key 2: signup(10, k.com) click(11, m.com)
    val evs = Vector(
      EvS(1L, 1L, "view", 0L, "x.com"), EvS(1L, 2L, "signup", 0L, "a.com"),
      EvS(1L, 3L, "view", 0L, null), EvS(1L, 4L, "click", 0L, "b.com"),
      EvS(1L, 5L, "purchase", 0L, "c.com"),
      EvS(2L, 10L, "signup", 0L, "k.com"), EvS(2L, 11L, "click", 0L, "m.com"))
    val got = CepMeasures.run(df(evs), st, spec)
    assert(got.schema.fields.drop(2).forall(
      _.dataType == org.apache.spark.sql.types.StringType))
    val rows = got.orderBy("user_id").collect().map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i))
        .toVector).toVector
    assert(rows == Vector(
      Vector(1L, 2L, null, "a.com", "c.com", null, "x.com", "b.com"),
      Vector(2L, 10L, "k.com", null, null, null, null, null)))
  }

  test("CepSql render round-trips a statement with string condition") {
    val st = CepSql.parseStatement(stSql, schema)
    assert(CepSql.parseStatement(CepSql.render(st), schema) == st)
    // round 17: like / not like / ordering render round-trips too
    val stLike = CepSql.parseStatement(
      "PATTERN (s -> c) MEASURES FIRST(s) AS s_id " +
        "DEFINE s AS signup; c AS click " +
        "WHERE host like 'h%.com' and host not like 'h0%' " +
        "and host >= 'a' WITHIN 4", schema)
    assert(CepSql.parseStatement(CepSql.render(stLike), schema) == stLike)
  }

  // --------------------------------------------------------- streaming

  test("streaming measures == batch with a string condition and " +
    "string measures, across micro-batch boundaries") {
    val s = spark
    import s.implicits._
    val evs = events(160, 20260819L)
    val st = CepSql.parseStatement(stSql, schema)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[EvS]
    val out = StreamingCep.matchPatternMeasures(mem.toDF(), st, spec)
    assert(out.schema("c_host").dataType ==
      org.apache.spark.sql.types.StringType)
    val q = out.writeStream.format("memory").queryName("cep_str_stream")
      .outputMode("append").start()
    try {
      evs.grouped(40).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def canonRows(rows: Array[Row]): Vector[String] =
      rows.map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "-" else String.valueOf(r.get(i)))
        .mkString("|")).toVector.sorted
    val streamed = canonRows(
      spark.table("cep_str_stream").collect())
    val batch = canonRows(CepMeasures.run(df(evs), st, spec).collect())
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("EVENT-TIME streaming measures == batch with a string condition " +
    "and string measures (etPrepare keeps string attrs uncast — r17)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val evs = events(160, 20260825L)
    val st = CepSql.parseStatement(stSql, schema)

    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[EvS]
    // event time = event_id + 1 seconds (offset away from epoch 0 —
    // the initial watermark); arrival order == event-time order here,
    // the string tier is what is under test
    val withTs = mem.toDF().withColumn("ts",
      timestamp_seconds(col("event_id") + 1))
    val out = StreamingCep.matchPatternMeasuresEventTime(withTs, st,
      spec, tsCol = "ts", delay = "5 seconds")
    assert(out.schema("c_host").dataType ==
      org.apache.spark.sql.types.StringType)
    val q = out.writeStream.format("memory").queryName("cep_str_et")
      .outputMode("append").start()
    try {
      evs.grouped(40).foreach { b =>
        mem.addData(b: _*)
        q.processAllAvailable()
      }
      // drain: a far-future event on an unused key advances the
      // watermark past every buffered event
      mem.addData(EvS(999L, 100000L, "view", 0L, "z"))
      q.processAllAvailable()
      mem.addData(EvS(999L, 200000L, "view", 0L, "z"))
      q.processAllAvailable()
    } finally q.stop()
    def canonRows(rows: Array[Row]): Vector[String] =
      rows.map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "-" else String.valueOf(r.get(i)))
        .mkString("|")).toVector.sorted
    val streamed = canonRows(spark.table("cep_str_et")
      .where(org.apache.spark.sql.functions.col("user_id") =!= 999L)
      .collect())
    val batch = canonRows(CepMeasures.run(df(evs), st, spec).collect())
    assert(streamed.nonEmpty, "event-time stream produced no matches")
    assert(streamed == batch)
  }

  test("build-time typing audit: a long column in a string position " +
    "rejects when the operator is BUILT, naming column and type") {
    val evs = df(events(30))
    def built(cond: String): Unit = CepMeasures.run(evs,
      CepSql.parseStatement("PATTERN (s -> c) MEASURES FIRST(s) AS x " +
        s"DEFINE s AS signup; c AS click WHERE $cond WITHIN 4", schema),
      spec)
    // value is a LONG input column — every string position rejects at
    // build (not per event at run)
    for (cond <- Seq("value == 'a.com'", "value < 'a'",
        "value like 'a%'", "value in ('a', 'b')")) {
      val e = intercept[IllegalArgumentException](built(cond))
      assert(e.getMessage.contains("'value'") &&
        e.getMessage.contains("bigint"), s"$cond: ${e.getMessage}")
    }
    // a register in a string position rejects too
    val q = CepQuery(
      Pattern.Spat("c", "click", Expr.parse("budget == 'x'"),
        Vector(VarDef("budget", 0L, Expr.parse("budget + 1")))),
      schema)
    val e2 = intercept[IllegalArgumentException](
      SparkCep.matchPatternExec(evs, q, spec))
    assert(e2.getMessage.contains("register"))
    // a string column in a string position still builds and runs
    built("host like 'a%'")
    built("host < 'b'")
  }
}

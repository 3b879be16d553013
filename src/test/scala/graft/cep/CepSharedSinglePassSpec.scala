package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec
import graft.ops.CacheLease
import graft.plans.CepExecMetrics

/** `CepMeasures.runShared` executes the shared NFA sweep exactly ONCE,
  * however many members there are and however the caller consumes the
  * returned frames.
  *
  * Without materialization each member frame carries its own copy of the
  * full shared `CepMatchExec` subtree; ReuseExchange dedupes the scan and
  * key shuffle BELOW the operator, but the sweep itself re-runs k times,
  * each time matching all k patterns — k× the cost of one shared pass,
  * invisible on small data, a scale-killer at 100×. The probe is the
  * shared `CepMatchExec`'s `numEvents` metric, which counts each event
  * fed once (never per (event × query)): summed over every execution of
  * the operator while every member is consumed, it equals the
  * single-pass feed count iff the sweep ran once. Metrics only
  * over-count on task retries, which a healthy local run has none of —
  * an exact-equality probe here, not a bound.
  */
class CepSharedSinglePassSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val stmts = CepSql.parseStatements(Seq(
    "m1" -> ("PATTERN (s p) MEASURES FIRST(s) AS a, SUM(p.v) AS d " +
      "DEFINE s AS S; p AS P"),
    "m2" -> ("PATTERN (s c) MEASURES FIRST(s) AS a, SUM(c.v) AS d " +
      "DEFINE s AS S; c AS C"),
    "m3" -> ("PATTERN (c p) MEASURES FIRST(c) AS a, SUM(p.v) AS d " +
      "DEFINE c AS C; p AS P")), schema)

  private def events(): DataFrame = {
    val rnd = new scala.util.Random(20260815L)
    val types = Vector("S", "C", "P")
    val rows = (1 to 240).map { i =>
      (1L + rnd.nextInt(6), i.toLong, types(rnd.nextInt(3)),
        rnd.nextInt(9).toLong)
    }
    val s = spark
    import s.implicits._
    rows.toDF("k", "id", "t", "v")
  }

  /** Events one shared pass feeds (post-pushdown), measured directly on
    * the shared operator with no measure projection above it.
    */
  private def singlePassEvents(df: DataFrame,
      sts: Seq[(String, CepSql.CepSqlStatement)] = stmts): Long = {
    val out = SparkCep.matchPatternsShared(df,
      sts.map { case (n, st) => n -> st.query }, spec)
    out.collect()
    val e = CepExecMetrics.of(out, "numEvents").sum
    assert(e > 0L, "probe stream fed no events — probe is vacuous")
    e
  }

  /** `body`'s result and the events the operators it ran fed. */
  private def swept[T](body: => T): (T, Long) = {
    val (r, ms) = CepExecMetrics.ran(spark)(body)
    r -> ms.map(_("numEvents")).sum
  }

  test("default (localCheckpoint): one sweep total, consumed as a " +
    "union and re-consumed per member") {
    val df = events()
    val onePass = singlePassEvents(df)
    // eager localCheckpoint: the sweep runs here, exactly once
    val (members, built) = swept(CepMeasures.runShared(df, stmts, spec))
    assert(built == onePass,
      s"materialization ran $built events, expected $onePass")
    // consuming every member — unioned AND individually — adds nothing
    val (_, consumed) = swept {
      members.map(_._2).reduce(_ unionByName _).collect()
      members.foreach(_._2.collect())
    }
    assert(consumed == 0L, s"consumption re-ran the sweep: $consumed events")
  }

  test("lease (persist): one sweep total across separate per-member " +
    "actions, zero after release until re-consumed") {
    val df = events()
    val onePass = singlePassEvents(df)
    val lease = new CacheLease
    try {
      // persist is lazy: nothing ran yet
      val (members, built) = swept(CepMeasures.runShared(df, stmts, spec,
        lease = Some(lease)))
      assert(built == 0L, "lease path executed eagerly")
      // first consumer materializes the cache — one sweep; the rest,
      // and the union after them, hit it
      val (_, fed) = swept {
        members.foreach(_._2.collect())
        members.map(_._2).reduce(_ unionByName _).collect()
      }
      assert(fed == onePass,
        s"lease path swept $fed events over every action, expected $onePass")
      // each member reads the one cached operator
      for ((name, m) <- members)
        assert(CepExecMetrics.of(m, "numEvents") == Seq(onePass),
          s"lease path swept ${CepExecMetrics.of(m, "numEvents")} " +
            s"events for $name, expected $onePass")
    } finally lease.close()
  }

  test("anchored members ride the shared scan: ^ and $ members equal " +
    "their solo runs (isLast threads through the multi-exec; the " +
    "anchored members also disable the union prefilter)") {
    val anchored = CepSql.parseStatements(Seq(
      "first" -> ("PATTERN (^ s -> p) MEASURES FIRST(s) AS a, " +
        "SUM(p.v) AS d DEFINE s AS S; p AS P"),
      "last" -> ("PATTERN (s p $) MEASURES FIRST(s) AS a, " +
        "SUM(p.v) AS d DEFINE s AS S; p AS P"),
      "plain" -> ("PATTERN (s c) MEASURES FIRST(s) AS a, " +
        "SUM(c.v) AS d DEFINE s AS S; c AS C")), schema)
    val df = events()
    def canon(d: DataFrame): Vector[String] =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .toVector.sorted
    for ((name, got) <- CepMeasures.runShared(df, anchored, spec)) {
      val st = anchored.find(_._1 == name).get._2
      val solo = canon(CepMeasures.run(df, st, spec))
      assert(canon(got) == solo, s"member $name diverged from solo")
      if (name == "first" || name == "last")
        assert(solo.nonEmpty, s"$name produced no matches — vacuous")
    }
  }

  test("ALL ROWS members ride the shared scan: plain, WITH UNMATCHED " +
    "ROWS and SHOW EMPTY MATCHES members equal their solo runs, and " +
    "the mixed set still sweeps once") {
    val mixed = CepSql.parseStatements(Seq(
      "one" -> ("PATTERN (s p) MEASURES FIRST(s) AS a, SUM(p.v) AS d " +
        "DEFINE s AS S; p AS P"),
      "all" -> ("PATTERN (s c) MEASURES COUNT(c) AS n, SUM(c.v) AS d " +
        "ALL ROWS PER MATCH DEFINE s AS S; c AS C"),
      "unm" -> ("PATTERN (s c) MEASURES COUNT(c) AS n " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "DEFINE s AS S; c AS C AFTER MATCH SKIP TO NEXT ROW"),
      "empt" -> ("PATTERN (c{0,2}) MEASURES COUNT(c) AS n, " +
        "SUM(c.v) AS d ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "DEFINE c AS C AFTER MATCH SKIP PAST LAST ROW")), schema)
    val df = events()
    // one sweep for the whole mixed set, however the members re-consume
    // their slices (UNMATCHED reads its slice twice, SHOW EMPTY three
    // times — all behind the shared materialization + their own
    // localCheckpoint)
    val onePass = singlePassEvents(df, mixed)
    val (members, fed) = swept {
      val ms = CepMeasures.runShared(df, mixed, spec)
      ms.foreach(_._2.collect())
      ms
    }
    assert(fed == onePass,
      s"mixed set swept $fed events, expected $onePass")
    def canon(d: DataFrame): Vector[String] =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .toVector.sorted
    for ((name, got) <- members) {
      val st = mixed.find(_._1 == name).get._2
      val solo = canon(CepMeasures.run(df, st, spec))
      assert(canon(got) == solo, s"member $name diverged from solo")
      assert(solo.nonEmpty, s"member $name matched nothing — vacuous")
    }
  }

  test("shared members still equal solo runs (fix changed cost, not " +
    "semantics)") {
    val df = events()
    def canon(d: DataFrame): Vector[String] =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .toVector.sorted
    for ((name, got) <- CepMeasures.runShared(df, stmts, spec)) {
      val st = stmts.find(_._1 == name).get._2
      assert(canon(got) == canon(CepMeasures.run(df, st, spec)),
        s"member $name diverged from solo")
    }
  }
}

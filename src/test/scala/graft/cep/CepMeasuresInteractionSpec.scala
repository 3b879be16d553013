package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** Interaction differential: MEASURES under EVERY after-match skip
  * strategy and BOTH window kinds, closed the `SkipToAnchorSpec` way — an
  * in-memory recomputation (pure `CepOperator.run` per key, measures
  * folded straight off the bound events) checked against the Spark
  * operator (`CepMeasures.run`) for every (strategy × window) cell over
  * seeded random streams. A second invariant ties ALL ROWS to ONE ROW
  * (`CepMeasures.runAllRows`): each match's LAST row carries the running
  * aggregates at completion, which must equal the one-row-per-match
  * projection as a multiset.
  */
class CepMeasuresInteractionSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    "S" -> Vector("id", "v", "ts"), "C" -> Vector("id", "v", "ts"),
    "P" -> Vector("id", "v", "ts"))
  private val spec = CepSpec(Some("k"), "id", "t", Seq("v", "ts"))

  private val pattern = Pattern.Combine(Contiguity.Relaxed,
    Pattern.Combine(Contiguity.Relaxed,
      Pattern.spat("s", "S", "True"),
      Pattern.lpat("c", "C", "True", Contiguity.Relaxed, 1, 2)),
    Pattern.spat("p", "P", "True"))

  private val measures = Vector(
    CepMeasures.Measure(CepMeasures.Fn.First, "s", None, "s_id"),
    CepMeasures.Measure(CepMeasures.Fn.Count, "c", None, "n_c"),
    CepMeasures.Measure(CepMeasures.Fn.Sum, "c", Some("v"), "c_sum"),
    CepMeasures.Measure(CepMeasures.Fn.Min, "c", Some("v"), "c_min"),
    CepMeasures.Measure(CepMeasures.Fn.Avg, "c", Some("v"), "c_avg"),
    CepMeasures.Measure(CepMeasures.Fn.Last, "c", Some("v"), "c_last"),
    CepMeasures.Measure(CepMeasures.Fn.Last, "p", None, "p_id"))

  private val strategies: Vector[(String, AfterMatchStrategy)] = Vector(
    "NoSkip" -> AfterMatchStrategy.NoSkip,
    "SkipToNext" -> AfterMatchStrategy.SkipToNext,
    "SkipPastLastEvent" -> AfterMatchStrategy.SkipPastLastEvent,
    "SkipToFirst(c)" -> AfterMatchStrategy.SkipToFirst("c"),
    "SkipToLast(c)" -> AfterMatchStrategy.SkipToLast("c"))

  private val windows: Vector[(String, Option[Int], Option[WithinTime])] =
    Vector(
      ("no window", None, None),
      ("step within 6", Some(6), None),
      ("event-time within 40 on ts", None, Some(WithinTime("ts", 40))))

  /** (key, measure values with None = NULL) rows, sorted — the
    * comparison shape for both engines.
    */
  private type MRow = (Long, Vector[Option[Long]])

  private def collectRows(df: DataFrame): Vector[MRow] =
    df.collect().map { r =>
      (r.getLong(0), (1 until r.length).map(i =>
        if (r.isNullAt(i)) None else Some(r.getLong(i))).toVector)
    }.toVector.sortBy(_.toString)

  /** Independent model: pure executor per key, measures folded directly
    * off the bound events (the streaming tier's fold — shared code is
    * fine here: this differential targets the RELATIONAL tier's
    * explode/join/aggregate machinery, which shares nothing with it).
    */
  private def model(evs: Seq[(Long, Long, String, Long, Long)],
      query: CepQuery): Vector[MRow] =
    evs.groupBy(_._1).toVector.flatMap { case (k, kevs) =>
      val stream = kevs.sortBy(_._2).map(e =>
        Event(e._3, Vector("id" -> e._2, "v" -> e._4, "ts" -> e._5)))
      CepOperator.run(query, stream.toVector).map { m =>
        val byName = m.toMap
        (k, measures.map(ms => CepMeasures.evalMeasure(ms, byName, "id")))
      }
    }.sortBy(_.toString)

  test("project() == independent model across 5 strategies × 3 windows " +
    "(seeded streams); allRows' last row == project() per match") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260813L)
    for {
      (sname, strategy) <- strategies
      (wname, within, withinTime) <- windows
    } {
      val query = CepQuery(pattern, schema, strategy, within, withinTime)
      var matched = 0
      for (trial <- 0 until 6) {
        val types = Vector("S", "C", "P")
        val n = 14 + rnd.nextInt(10)
        // ts advances with jitter so the event-time window cuts runs at
        // different spans than the step window
        var ts = 0L
        val evs = (1 to n).map { i =>
          ts += 1 + rnd.nextInt(9)
          (1L + rnd.nextInt(2), i.toLong, types(rnd.nextInt(3)),
            rnd.nextInt(10).toLong, ts)
        }
        val df = evs.toDF("k", "id", "t", "v", "ts")
        val st = CepSql.CepSqlStatement(query, measures)
        val got = collectRows(CepMeasures.run(df, st, spec))
        val want = model(evs, query)
        assert(got == want,
          s"[$sname / $wname] trial $trial: run() diverged from " +
            s"the independent model\n got=$got\nwant=$want")
        matched += got.length

        // ALL ROWS: the last row of each match carries the completed
        // running aggregates == the one-row-per-match projection
        val ar = CepMeasures.runAllRows(df, st, spec)
        val lastRows = ar.collect()
          .groupBy(r => (r.getLong(0), r.getLong(1)))
          .iterator.map { case (_, rows) =>
            val last = rows.maxBy(_.getLong(3))
            (last.getLong(0), (4 until last.length).map(i =>
              if (last.isNullAt(i)) None else Some(last.getLong(i)))
              .toVector)
          }.toVector.sortBy(_.toString)
        assert(lastRows == want,
          s"[$sname / $wname] trial $trial: ALL ROWS' final running " +
            "measures diverged from ONE ROW")
      }
      assert(matched > 0,
        s"[$sname / $wname] degenerate: no matches in any trial")
    }
  }
}

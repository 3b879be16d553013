package graft.cep

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import SparkCep.CepSpec

/** The round-12 `CepMeasures` hazard, pinned: the attribute tier used to
  * tag the match frame with `monotonically_increasing_id` and then
  * SELF-JOIN the frame on that id (accumulator side vs exploded/
  * aggregated side). The id is nondeterministic per Spark's contract —
  * its values depend on the row order each EVALUATION of the frame
  * happens to see — and a self-join evaluates the frame twice. Whenever
  * the two evaluations disagree on row order (non-total input sort,
  * shuffle-fetch order, stage retry), measures silently attach to the
  * WRONG match.
  *
  * This spec manufactures the disagreement deterministically: a source
  * RDD that reverses its row order on every other evaluation (an
  * `AtomicInteger` in the partition closure — local mode, one JVM). The
  * legacy self-join formulation (embedded below, verbatim shape)
  * mis-attaches measures on it. The shipped formulation has no match
  * identity to disagree on: `CepMeasures.run` folds every measure over
  * the match's own bound events inside the CEP operator, and stays
  * correct on an event source that flips its row order the same way.
  */
object CepMeasuresDeterminismSpec {
  // executor-JVM evaluation counter (local mode: same JVM as the test)
  val evals = new AtomicInteger(0)
}

class CepMeasuresDeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // the hazard must not be masked by accidental plan reuse
      .config("spark.sql.exchange.reuse", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val matchesSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("s", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("c", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** `n` matches for key 1: match i binds s=[i], c=[100+2i, 101+2i];
    * event v at order o is crafted so the correct SUM(c.v) for match i
    * is exactly `20*i + 1` — any cross-match mis-attachment breaks the
    * `c_sum == 20*s_id + 1` invariant on some row.
    */
  private def fixtures(n: Int): (DataFrame, DataFrame) = {
    val rows = (0 until n).map { i =>
      Row(1L, Seq(i.toLong), Seq(100L + 2 * i, 101L + 2 * i))
    }
    // the order-flipping source: every other evaluation reverses
    val base = spark.sparkContext.parallelize(rows, 1)
    val flipping = base.mapPartitions { it =>
      val v = it.toVector
      val flip = CepMeasuresDeterminismSpec.evals.getAndIncrement() % 2 == 1
      (if (flip) v.reverse else v).iterator
    }
    val matches = spark.createDataFrame(flipping, matchesSchema)
    val evRows = (0 until n).flatMap { i =>
      Seq(Row(1L, i.toLong, "S", 0L),
        Row(1L, 100L + 2 * i, "C", 10L * i),
        Row(1L, 101L + 2 * i, "C", 10L * i + 1))
    }
    val events = spark.createDataFrame(
      spark.sparkContext.parallelize(evRows, 1),
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("id", LongType, nullable = false),
        StructField("t", StringType, nullable = false),
        StructField("v", LongType, nullable = false))))
    (matches, events)
  }

  /** `n` strict `s c c` runs for key 1 from a source whose row order
    * reverses on every other evaluation: run i binds S(3i) and the
    * clicks C(3i+1), C(3i+2) with values 10i and 10i+1, so its correct
    * SUM(c.v) is `20*i + 1` and FIRST(s) / 3 is i.
    */
  private def flippingEvents(n: Int): DataFrame = {
    val rows = (0 until n).flatMap { i =>
      Seq(Row(1L, 3L * i, "S", 0L), Row(1L, 3L * i + 1, "C", 10L * i),
        Row(1L, 3L * i + 2, "C", 10L * i + 1))
    }
    val flipping = spark.sparkContext.parallelize(rows, 1).mapPartitions {
      it =>
        val v = it.toVector
        val flip =
          CepMeasuresDeterminismSpec.evals.getAndIncrement() % 2 == 1
        (if (flip) v.reverse else v).iterator
    }
    spark.createDataFrame(flipping, StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("t", StringType, nullable = false),
      StructField("v", LongType, nullable = false))))
  }

  private val spec = CepSpec(Some("k"), "id", "t", Seq("v"))
  private val measures = Vector(
    CepMeasures.Measure(CepMeasures.Fn.First, "s", None, "s_id"),
    CepMeasures.Measure(CepMeasures.Fn.Sum, "c", Some("v"), "c_sum"))
  private val statement = CepSql.CepSqlStatement(CepSql.parse(
    "PATTERN (s c{2,2}) DEFINE s AS S; c AS C",
    Vector("S" -> Vector("id", "v"), "C" -> Vector("id", "v"))), measures)

  /** The round-12 formulation, verbatim shape: tag with
    * monotonically_increasing_id, explode/aggregate one side, LEFT
    * SELF-JOIN the other side on the id.
    */
  private def legacyProject(matches: DataFrame,
      events: DataFrame): DataFrame = {
    val withMid = matches.withColumn("__mid", monotonically_increasing_id())
    val evProj = events.select(col("k").as("__k"),
      col("id").cast(LongType).as("__ord"),
      col("v").cast(LongType).as("__a_v"))
    val exploded = withMid.select(col("__mid"), col("k").as("__k"),
      explode(col("c")).as("__ord"))
    val joined = exploded.join(evProj, Seq("__k", "__ord"))
    val perMatch = joined.groupBy(col("__mid"))
      .agg(sum(col("__a_v")).as("c_sum"))
    withMid.join(perMatch, Seq("__mid"), "left")
      .select(col("k"), get(col("s"), lit(0)).as("s_id"), col("c_sum"))
  }

  private def violations(out: Vector[(Long, Long)]): Int =
    out.count { case (sId, cSum) => cSum != 20 * sId + 1 }

  test("legacy self-join mis-attaches measures under evaluation-order " +
    "divergence; shipped single-pass does not") {
    val n = 8
    var legacyBroken = false
    // the flip parity race (which side of the self-join sees the
    // reversed order) doesn't matter — ANY disagreement mismatches the
    // ids — but give it a few trials in case an evaluation count drifts
    for (_ <- 0 until 3 if !legacyBroken) {
      val (matches, events) = fixtures(n)
      val legacy = legacyProject(matches, events)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toVector
      if (violations(legacy) > 0) legacyBroken = true
    }
    assert(legacyBroken,
      "expected the legacy self-join formulation to mis-attach measures " +
        "on the order-flipping source — the hazard this spec pins")

    // the operator's formulation: correct on an adversarial event source
    // whose row order flips between evaluations, every trial
    for (trial <- 0 until 3) {
      val out = CepMeasures.run(flippingEvents(n), statement, spec)
        .collect().map(r => (r.getLong(1) / 3, r.getLong(2))).toVector
      assert(out.length == n, s"trial $trial: lost/duplicated matches")
      assert(violations(out) == 0,
        s"trial $trial: CepMeasures.run mis-attached measures: $out")
    }
  }
}

package graft.cep

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Var-length keys across a spilling sort. The operator's child sort
  * hands out rows that are views into its buffers, and once it spills
  * it rewrites those buffers under the feed loop. The loop's held key
  * must therefore be a copy for every var-length type — an array key
  * held as a view changes under the loop, and key switches are missed.
  * The session forces a spill every 16 rows.
  */
class CepSpillKeySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "16")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("an array key finds every match of its long key once the sort spills") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261019L)
    val types = Vector("signup", "click", "purchase")
    val df = (1 to 400).map(i => (1L + rnd.nextInt(6), i.toLong,
      types(rnd.nextInt(3)), rnd.nextInt(50).toLong))
      .toDF("u", "event_id", "event_type", "value")
      .withColumn("ak", array(col("u"), col("u") * 10))
    val query = graft.Queries.cepNextSignupPurchaseQuery
    def spec(k: String) =
      SparkCep.CepSpec(Some(k), "event_id", "event_type", Seq("value"))

    var spilled = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          spilled += e.taskMetrics.memoryBytesSpilled
    }
    s.sparkContext.addSparkListener(listener)
    val byArray = try {
      SparkCep.matchPatternExec(df, query, spec("ak")).collect()
        .map(r => (r.getSeq[Long](0).head, r.getSeq[Long](1),
          r.getSeq[Long](2))).toSet
    } finally {
      org.apache.spark.graftprobe.ListenerDrain(s.sparkContext)
      s.sparkContext.removeSparkListener(listener)
    }
    val byLong = SparkCep.matchPatternExec(df, query, spec("u")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))).toSet
    assert(spilled > 0, "the key sort did not spill")
    assert(byLong.size > 20)
    assert(byArray == byLong)
  }
}

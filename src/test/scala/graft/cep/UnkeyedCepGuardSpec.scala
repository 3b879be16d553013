package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The unkeyed CEP path is semantically single-partition (`AllTuples` —
  * the reference's single-sequence application). That is required, not a
  * defect, but feeding a table-scale input through it must be LOUD:
  * `CepRuntimeWarnings` fires once per task when the row count crosses
  * `spark.graft.cep.unkeyedWarnRows`, naming the keyed form as the fix
  * (VERDICT r8 #8). Local-mode tasks run in this JVM, so the spec swaps
  * the warning hook to observe the firing.
  */
class UnkeyedCepGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schema = Vector(
    "click" -> Vector("event_id", "value"),
    "purchase" -> Vector("event_id", "value"))
  private val query = CepQuery(
    Pattern.spat("a", "purchase", "value < 100"), schema)

  private def events(n: Long) = spark.range(n).select(
    lit(1L).as("user_id"),
    col("id").as("event_id"),
    when(col("id") % 5 === 0, "purchase").otherwise("click")
      .as("event_type"),
    (col("id") % 200).as("value"))

  /** Collect (rows, threshold) firings while `body` runs. */
  private def capture(body: => Unit): Vector[(Long, Long)] = {
    val fired =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long)]())
    val prev = CepRuntimeWarnings.onUnkeyedThreshold
    CepRuntimeWarnings.onUnkeyedThreshold =
      (rows, thr) => fired.add((rows, thr))
    try body finally CepRuntimeWarnings.onUnkeyedThreshold = prev
    import scala.jdk.CollectionConverters._
    fired.asScala.toVector
  }

  test("unkeyed exec path fires at the configured threshold, once") {
    spark.conf.set(CepRuntimeWarnings.UnkeyedWarnRowsKey, "100")
    try {
      val fired = capture {
        SparkCep.matchPatternExec(events(5000), query,
          SparkCep.CepSpec(None, "event_id", "event_type",
            Seq("value"))).count()
      }
      assert(fired == Vector((100L, 100L)),
        s"expected exactly one firing at row 100, got $fired")
    } finally spark.conf.unset(CepRuntimeWarnings.UnkeyedWarnRowsKey)
  }

  test("unkeyed gauge and timeout entry points fire at the threshold") {
    spark.conf.set(CepRuntimeWarnings.UnkeyedWarnRowsKey, "100")
    val spec = SparkCep.CepSpec(None, "event_id", "event_type", Seq("value"))
    try {
      for (run <- Seq(
          () => SparkCep.shedGauge(events(5000), query, spec, cap = 1),
          () => SparkCep.timedOutPartials(events(5000),
            query.copy(within = Some(3)), spec))) {
        val fired = capture(run().count())
        assert(fired == Vector((100L, 100L)),
          s"expected exactly one firing at row 100, got $fired")
      }
    } finally spark.conf.unset(CepRuntimeWarnings.UnkeyedWarnRowsKey)
  }

  test("below the threshold nothing fires") {
    spark.conf.set(CepRuntimeWarnings.UnkeyedWarnRowsKey, "100")
    try {
      val fired = capture {
        SparkCep.matchPatternExec(events(400), query,
          SparkCep.CepSpec(None, "event_id", "event_type",
            Seq("value"))).count()
      }
      assert(fired.isEmpty, s"guard fired below threshold: $fired")
    } finally spark.conf.unset(CepRuntimeWarnings.UnkeyedWarnRowsKey)
  }

  test("keyed path never fires, whatever the row count") {
    spark.conf.set(CepRuntimeWarnings.UnkeyedWarnRowsKey, "100")
    try {
      val fired = capture {
        SparkCep.matchPatternExec(events(5000), query,
          SparkCep.CepSpec(Some("user_id"), "event_id", "event_type",
            Seq("value"))).count()
      }
      assert(fired.isEmpty, s"keyed path fired the unkeyed guard: $fired")
    } finally spark.conf.unset(CepRuntimeWarnings.UnkeyedWarnRowsKey)
  }

  test("default threshold is 10M and the message names the keyed fix") {
    assert(CepRuntimeWarnings.UnkeyedWarnRowsDefault == 10000000L)
    val msg = CepRuntimeWarnings.unkeyedMessage(123L, 456L)
    assert(msg.contains("keyed form") && msg.contains("CepSpec"))
  }
}

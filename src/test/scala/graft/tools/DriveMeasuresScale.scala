package graft.tools

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep._

/** Scale probe for MATCH_RECOGNIZE MEASURES through the public entry
  * points (`CepMeasures.run`, `runAllRows`): the funnel s→c{1,2}→p
  * WITHIN 8 with five measures in ONE ROW, ALL ROWS and ALL ROWS WITH
  * UNMATCHED ROWS, a numbered ONE ROW SHOW EMPTY over the nullable
  * `c{0,3}`, and one long-match ALL ROWS statement (`s -> c+ -> p`,
  * SKIP PAST LAST ROW, RUNNING measures over matches of tens of rows). One
  * event layout per run:
  *  - `dense`: 4,000 keys, signup 1-in-4 (~1 funnel match per ~6
  *    events);
  *  - `sparse`: 4,000 keys, signup 1-in-1,000 (rare matches);
  *  - `nokey`: the dense layout as ONE unkeyed sequence — a single
  *    task feeds every event.
  * Each statement is built and executed to completion; it prints the
  * output rows, seconds (build included), events/s and the peak of the
  * JVM's old generation during the statement (local mode: the executor
  * is this JVM, so the old generation holds whatever the operator
  * keeps across events). The run ends with the process's peak RSS.
  *
  * Usage: DriveMeasuresScale [dense|sparse|nokey] [nEvents] [threads]
  */
object DriveMeasuresScale {
  def main(args: Array[String]): Unit = {
    val layout = args.headOption.getOrElse("dense")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(2000000L)
    val threads = args.drop(2).headOption.getOrElse("4")
    val spark = SparkSession.builder().master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val schema = Vector(
      "click" -> Vector("event_id", "value"),
      "view" -> Vector("event_id", "value"),
      "purchase" -> Vector("event_id", "value"),
      "signup" -> Vector("event_id", "value"))
    val keyed = layout != "nokey"
    val spec = SparkCep.CepSpec(if (keyed) Some("user_id") else None,
      "event_id", "event_type", Seq("value"))
    val funnel = "PATTERN (s -> c{1,2} -> p) " +
      "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, SUM(c.value) AS " +
      "c_sum, AVG(c.value) AS c_avg, LAST(p) AS p_id "
    val define = "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8"
    val statements = Vector(
      "one_row" -> (funnel + define),
      "all_rows" -> (funnel + "ALL ROWS PER MATCH " + define),
      "all_rows_unmatched" ->
        (funnel + "ALL ROWS PER MATCH WITH UNMATCHED ROWS " + define),
      "one_row_show_empty" ->
        ("PATTERN (c{0,3}) MEASURES COUNT(c) AS n_c, SUM(c.value) AS " +
          "c_v, MATCH_NUMBER() AS mn ONE ROW PER MATCH SHOW EMPTY " +
          "MATCHES DEFINE c AS click AFTER MATCH SKIP PAST LAST ROW"),
      "all_rows_long" ->
        ("PATTERN (s -> c+ -> p) MEASURES COUNT(c) AS n_c, SUM(c.value) " +
          "AS c_sum, MAX(c.value) AS c_max, LAST(c.value, 1) AS c_pen " +
          "ALL ROWS PER MATCH DEFINE s AS signup; c AS click; " +
          "p AS purchase WHERE value < 20 AFTER MATCH SKIP PAST LAST ROW"))

    val rarity = if (layout == "sparse") 1000 else 4
    val events: DataFrame =
      spark.range(n).select(
        (col("id") % 4000).as("user_id"),
        col("id").as("event_id"),
        when(pmod(hash(col("id")), lit(rarity)) === 0, lit("signup"))
          .otherwise(element_at(
            array(lit("click"), lit("view"), lit("purchase")),
            (pmod(hash(col("id") * 31), lit(3)) + 1).cast("int")))
          .as("event_type"),
        pmod(col("id") * 40503, lit(500)).as("value"))
    val input = if (keyed) events else events.drop("user_id")

    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toVector
    val old = heap.filter(_.getName.contains("Old"))
    for ((label, sql) <- statements) {
      val st = CepSql.parseStatement(sql, schema)
      System.gc()
      heap.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val df = CepMeasures.run(input, st, spec)
      val rows = df.queryExecution.executedPlan.execute().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val oldPeak = old.map(_.getPeakUsage.getUsed).sum >> 20
      println(f"MEASURES_SCALE layout=$layout stmt=$label events=$n " +
        f"rows=$rows seconds=$sec%.2f " +
        f"events_per_sec=${(n / sec).toLong} old_gen_peak_mb=$oldPeak")
    }
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong >> 10)
    println(s"MEASURES_SCALE layout=$layout peak_rss_mb=${hwm.getOrElse(-1L)}")
    spark.stop()
  }
}

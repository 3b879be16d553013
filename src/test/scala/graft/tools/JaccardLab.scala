package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** A/B lab for the capped n-gram Jaccard pair pipeline (round-18
  * optimization forensics): each variant recomputes the same output;
  * wall-clock compared within one JVM, caches cleared between runs.
  */
object JaccardLab {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Queries.table(spark, "/root/testdata/sf0.1", "documents")
    docs.count()

    val idCol = "doc_id"; val textCol = "text"
    val n = 3; val simMilli = 500; val maxShingleFreq = 64L

    // codegen shingle index: explode + PolyHash expression (no Row boundary)
    def idxCodegen: DataFrame =
      docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).cast(LongType).as(idCol),
          explode(graft.ops.DedupOps.shingles(col(textCol), n)).as("s"))
        .select(col(idCol), graft.ops.DedupOps.tokenHash60(col("s")).as("sh"))

    def idxMapPartitions: DataFrame =
      graft.ops.DedupOps.shingleIndex(docs, idCol, textCol, n)

    // tail shared by all variants: cap, cache, self-join, counts, filter
    def tail(idx: DataFrame, viaGroupBy: Boolean,
        joinFreq2: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val filtered =
        if (!viaGroupBy)
          idx.withColumn("freq", count(lit(1)).over(
            Window.partitionBy(col("sh"))))
            .filter(col("freq") <= maxShingleFreq)
        else {
          val freqs = idx.groupBy(col("sh"))
            .agg(count(lit(1)).as("freq"))
            .filter(col("freq") <= maxShingleFreq)
          idx.join(freqs, "sh")
        }
      val idx2 = filtered.cache()
      val counts = idx2.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_sh"))
      val joinIn = if (joinFreq2) idx2.filter(col("freq") >= 2L) else idx2
      joinIn.as("a").join(joinIn.as("b"), col("a.sh") === col("b.sh"))
        .filter(col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"))
        .join(counts.select(col(idCol).as("id1"), col("n_sh").as("n1")), "id1")
        .join(counts.select(col(idCol).as("id2"), col("n_sh").as("n2")), "id2")
        .withColumn("uni", col("n1") + col("n2") - col("inter"))
        .filter(col("inter") * 1000 >= col("uni") * simMilli)
        .select(col("id1"), col("id2"), col("inter"), col("uni"))
    }

    def current(): DataFrame = graft.ops.DedupOps.ngramJaccardPairs(
      docs, idCol, textCol, n, simMilli, maxShingleFreq)

    // round-19 variants ------------------------------------------------
    // v6: same shape as current, but the capped index is EAGERLY
    // materialized (localCheckpoint) so the self-join's two consumers
    // cannot race a cold cache and run the shingle+window chain twice
    // (ProfileQ round 19: two ~8 s stages each writing the same 118k
    // index rows)
    def tailEager(idx: DataFrame, joinFreq2: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val filtered = idx.withColumn("freq", count(lit(1)).over(
        Window.partitionBy(col("sh"))))
        .filter(col("freq") <= maxShingleFreq)
        .localCheckpoint(true)
      val counts = filtered.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_sh"))
      val joinIn =
        (if (joinFreq2) filtered.filter(col("freq") >= 2L) else filtered)
          .drop("freq")
      joinIn.as("a").join(joinIn.as("b"), col("a.sh") === col("b.sh"))
        .filter(col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"))
        .join(counts.select(col(idCol).as("id1"), col("n_sh").as("n1")), "id1")
        .join(counts.select(col(idCol).as("id2"), col("n_sh").as("n2")), "id2")
        .withColumn("uni", col("n1") + col("n2") - col("inter"))
        .filter(col("inter") * 1000 >= col("uni") * simMilli)
        .select(col("id1"), col("id2"), col("inter"), col("uni"))
    }
    // v8: posting-run pair counting — the capped index is already sorted
    // by sh within its hash partitions (the window pass did that), so one
    // narrow JVM pass per partition accumulates (id1, id2) -> count in a
    // map and emits only the distinct pairs it saw; the cross-partition
    // combine is a small groupBy-sum. No join rows are materialized.
    def tailPostings(idx: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val filtered = idx.withColumn("freq", count(lit(1)).over(
        Window.partitionBy(col("sh"))))
        .filter(col("freq") <= maxShingleFreq)
        .localCheckpoint(true)
      val counts = filtered.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_sh"))
      val pairSchema = StructType(Seq(
        StructField("id1", LongType, nullable = false),
        StructField("id2", LongType, nullable = false),
        StructField("c", LongType, nullable = false)))
      val partial = filtered.filter(col("freq") >= 2L)
        .select(col("sh"), col(idCol))
        .sortWithinPartitions(col("sh"))
        .mapPartitions { rows =>
          val m = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
          val run = scala.collection.mutable.ArrayBuffer.empty[Long]
          var curSh = 0L
          var started = false
          def flush(): Unit = {
            if (run.length >= 2) {
              val ids = run.toArray
              java.util.Arrays.sort(ids)
              var i = 0
              while (i < ids.length) {
                var j = i + 1
                while (j < ids.length) {
                  if (ids(i) < ids(j)) {
                    val k = (ids(i), ids(j))
                    m.update(k, m.getOrElse(k, 0L) + 1L)
                  }
                  j += 1
                }
                i += 1
              }
            }
            run.clear()
          }
          rows.foreach { r =>
            val sh = r.getLong(0)
            if (!started || sh != curSh) { flush(); curSh = sh; started = true }
            run += r.getLong(1)
          }
          flush()
          m.iterator.map { case ((a, b), c) => Row(a, b, c) }
        }(Encoders.row(pairSchema))
      partial.groupBy(col("id1"), col("id2"))
        .agg(sum(col("c")).as("inter"))
        .join(counts.select(col(idCol).as("id1"), col("n_sh").as("n1")), "id1")
        .join(counts.select(col(idCol).as("id2"), col("n_sh").as("n2")), "id2")
        .withColumn("uni", col("n1") + col("n2") - col("inter"))
        .filter(col("inter") * 1000 >= col("uni") * simMilli)
        .select(col("id1"), col("id2"), col("inter"), col("uni"))
    }

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "v0_current" -> (() => current()),
      "v1_groupby_freq" -> (() => tail(idxMapPartitions, viaGroupBy = true,
        joinFreq2 = false)),
      "v5_freq2_only" -> (() => tail(idxMapPartitions, viaGroupBy = false,
        joinFreq2 = true)),
      "v6_eager_ckpt" -> (() => tailEager(idxMapPartitions,
        joinFreq2 = false)),
      "v8_posting_runs" -> (() => tailPostings(idxMapPartitions)),
      "v9_eager_freq2" -> (() => tailEager(idxMapPartitions,
        joinFreq2 = true)),
    )
    for (r <- 1 to 3; (name, f) <- variants) {
      val t0 = System.nanoTime()
      val c = graft.ops.CacheScope.withCaches(spark) { f().count() }
      val secs = (System.nanoTime() - t0) / 1e9
      // value-identity probe OUTSIDE the timed region
      val sums = graft.ops.CacheScope.withCaches(spark) {
        f().agg(sum(col("inter")), sum(col("uni")),
          sum(col("id1") * col("id2"))).head()
      }
      println(f"JLAB $name%-26s round$r: $c%6d pairs $secs%.2fs  sums=$sums")
    }
    spark.stop()
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental near-duplicate detection against a PERSISTED MinHash band
  * index — the "daily batch vs 100 TB corpus" path.
  *
  * The ad-hoc LSH join (`DedupOps.minHashLshPairs`) re-reads and
  * re-shingles the whole corpus on every run; at 100 TB the text scan
  * and signature CPU are the entire cost. This operator pays them once:
  * `writeIndex` persists the corpus's band keys (`bands/`: 12 bytes a
  * row — long id + int bucket, the band number is the partition
  * directory) and 32-bit signature residues (`sigs/`: k ints a row) as
  * parquet — a fixed ~0.45 KB per document regardless of document size
  * (~10% of a typical 4 KB web document, and shrinking as docs grow) —
  * and each incoming batch is then matched by shingling ONLY the batch
  * and joining its band keys against the index:
  *
  *   - the candidate join BROADCASTS the batch's band keys (bounded by
  *     batch size) and streams the corpus-sized band table through a
  *     codegen'd hash join — the index is never shuffled; an oversized
  *     batch falls back to a driver-built Bloom over its keys pruning
  *     the index scan ahead of a shuffle join (1% false positives, all
  *     dropped by the equi-join — bit-identical output either way);
  *   - the agreement estimate joins candidate-bounded (the candidate
  *     ids broadcast; only surviving pairs carry signature arrays into
  *     the estimate), though the join STREAMS the sig table — a
  *     columnar scan of k ints per corpus doc per batch. That scan is
  *     the steady-state floor of the batch match, and it is still
  *     ~100× less IO than re-reading corpus text, which is the
  *     operator's point;
  *   - the hot-bucket valve (`DedupOps.capBuckets`) is applied at WRITE
  *     time — the index never contains a degenerate bucket, so a batch
  *     bucket of size b joins at most `b * maxBucketSize` candidates.
  *
  * Signature storage is the low 32 bits of each MinHash component, and
  * `est_milli` is the agreement fraction of those residues: two distinct
  * components collide with probability 2^-32 per comparison (negligible
  * at any batch size; on equal shingle sets the residues are exactly
  * equal), and the DuckDB oracle applies the same mask, so the estimate
  * is exact by definition, not approximation-by-accident.
  *
  * `appendBatch` grows the index with an accepted batch (parquet append,
  * no rewrite). The bucket cap is enforced per write in that case — a
  * bucket can exceed the cap ACROSS appends; `bucketSaturation` is the
  * drop gauge (per-band over-cap bucket counts) and `compactIndex`
  * rewrites `bands/` applying the cap globally — pinned identical to a
  * fresh `writeIndex` over the same documents
  * (`IncrementalDedupCompactSpec`) — exactly LSM-ish index maintenance,
  * without re-reading any corpus text (signatures are never rewritten).
  */
object IncrementalDedup {

  import DedupOps.{MinHashParams, minHashSignatures, bucketKeyJvm, capBuckets}

  private val bandSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  private val idxBandsSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("band", IntegerType, nullable = false)))

  private val idxSigsSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("mhs32", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  /** (id, band, bucket) band keys of every doc — one tight JVM pass over
    * the full-width signatures; per doc the band keys are distinct by
    * construction. `bucketKeyJvm` folds mod 2^31-1, so the bucket fits
    * an int exactly.
    */
  private def explodeBands(sigs: DataFrame, params: MinHashParams)
      : DataFrame = {
    val bands = params.bands
    val rows_ = params.rows
    sigs.mapPartitions { rs =>
      rs.flatMap { r =>
        val id = r.getLong(0)
        val mhs = r.getSeq[Long](1)
        (0 until bands).iterator.map(b =>
          Row(id, b, bucketKeyJvm(mhs, b * rows_, (b + 1) * rows_).toInt))
      }
    }(Encoders.row(bandSchema))
  }

  /** Full-width signatures truncated to their stored 32-bit residues. */
  private def truncSigs(sigs: DataFrame): DataFrame =
    sigs.mapPartitions { rs =>
      rs.map { r =>
        Row(r.getLong(0), r.getSeq[Long](1).map(v => (v & 0xffffffffL).toInt))
      }
    }(Encoders.row(idxSigsSchema))

  private def writeTo(docs: DataFrame, idCol: String, textCol: String,
      path: String, params: MinHashParams, n: Int, maxBucketSize: Long,
      mode: String): Unit = {
    val sigs = minHashSignatures(docs, idCol, textCol, params, n)
      .withColumnRenamed(idCol, "id").cache()
    try {
      truncSigs(sigs).write.mode(mode).parquet(s"$path/sigs")
      capBuckets(explodeBands(sigs, params), maxBucketSize)
        .write.partitionBy("band").mode(mode).parquet(s"$path/bands")
    } finally sigs.unpersist()
  }

  /** Build the persisted index at `path`: `bands/` (id, bucket;
    * disk-partitioned by band) and `sigs/` (id, mhs32). Buckets larger
    * than `maxBucketSize` are dropped from `bands/` (their docs keep
    * their signatures — they are findable via their other bands).
    */
  def writeIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, params: MinHashParams = MinHashParams(), n: Int = 3,
      maxBucketSize: Long = Long.MaxValue): Unit =
    writeTo(corpus, idCol, textCol, path, params, n, maxBucketSize,
      "overwrite")

  /** Append an accepted batch to the index (no rewrite; see the cap
    * caveat in the object doc). Appended batches must be id-disjoint
    * from the existing index (the accepted-batch contract): re-appending
    * an id duplicates its sig/band rows, and `matchBatch` would then
    * emit that neighbor's pairs once per copy (the streaming form's
    * pair-dedup state hides this; the batch form does not).
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
      path: String, params: MinHashParams = MinHashParams(), n: Int = 3,
      maxBucketSize: Long = Long.MaxValue): Unit =
    writeTo(batch, idCol, textCol, path, params, n, maxBucketSize, "append")

  /** Match a new batch against the persisted index WITHOUT touching
    * corpus text: shingle the batch, join band keys, estimate similarity
    * from signature-residue agreement. Output `(new_id, dup_of,
    * est_milli)` — every (batch doc, index doc) pair sharing a band
    * bucket, with est = fraction of equal 32-bit components × 1000 (see
    * the object doc for the residue semantics).
    *
    * Also works on a STREAMING `batch` frame (the ingestion-time gate —
    * see `streaming.StreamingDedup.nearDupStream`): every stage is a
    * narrow map or a stream-static join, and the pair dedup is
    * `dropDuplicates` — in that mode its state is one row per emitted
    * pair (the output set itself), the only state the operator keeps.
    * The Bloom prune is batch-only (it needs the batch's key set up
    * front); a streaming micro-batch relies on the static-side join.
    *
    * Cache lifetime: the batch plan persists two intermediates (batch
    * signatures + band keys) that must outlive this call because the
    * returned frame is lazy. Pass a `CacheLease` and `close()` it after
    * consuming the result (the long-lived-driver form), or wrap
    * consumption in `CacheScope.withCaches` (the harness form) —
    * without either, the caches live until LRU eviction.
    */
  def matchBatch(batch: DataFrame, idCol: String, textCol: String,
      path: String, params: MinHashParams = MinHashParams(), n: Int = 3,
      lease: Option[CacheLease] = None): DataFrame = {
    val spark = batch.sparkSession
    val k = params.k
    def persisted(df: DataFrame): DataFrame = {
      val c = df.cache()
      lease.foreach(_.track(c))
      c
    }
    // cache: the signature pass feeds both the band explode and the
    // estimate join; persist is illegal on a streaming frame (each
    // micro-batch is small — recompute is the right trade there)
    val sigs0 = minHashSignatures(batch, idCol, textCol, params, n)
      .withColumnRenamed(idCol, "new_id")
    val newSigs = if (batch.isStreaming) sigs0 else persisted(sigs0)
    val newBands = explodeBands(newSigs.withColumnRenamed("new_id", "id"),
      params)
    // Explicit schema: a fully-saturated cap can leave `bands/` with
    // zero data files, which must read as an empty frame, not an
    // inference error.
    val idxBands0 = spark.read.schema(idxBandsSchema)
      .parquet(s"$path/bands")
      .select(col("id").as("dup_of"), col("band").cast(IntegerType),
        col("bucket"))
    val idxSigs = spark.read.schema(idxSigsSchema).parquet(s"$path/sigs")
      .select(col("id").as("dup_of"), col("mhs32").as("m2"))
    val estSchema = StructType(Seq(
      StructField("new_id", LongType, nullable = false),
      StructField("dup_of", LongType, nullable = false),
      StructField("est_milli", LongType, nullable = false)))
    // m1 = full-width longs (recomputed batch side), m2 = stored ints
    def estRows(paired: DataFrame): DataFrame = paired
      .mapPartitions { rs =>
        rs.map { r =>
          val m1 = r.getSeq[Long](2); val m2 = r.getSeq[Int](3)
          var eq = 0; var i = 0
          while (i < k) {
            if ((m1(i) & 0xffffffffL).toInt == m2(i)) eq += 1
            i += 1
          }
          Row(r.getLong(0), r.getLong(1), eq.toLong * 1000L / k)
        }
      }(Encoders.row(estSchema))
    if (batch.isStreaming) {
      // STREAM plan: every join must be stream-static (a join back to
      // `newSigs` would be a stream-stream self-join whose buffered
      // candidate state re-emits old pairs when a duplicate doc id
      // arrives), so the signature rides along the exploded band rows
      // (k longs × bands per doc — fine per micro-batch) and ONE
      // stateful dropDuplicates at the end is the only state.
      val sigBandSchema = StructType(Seq(
        StructField("new_id", LongType, nullable = false),
        StructField("band", IntegerType, nullable = false),
        StructField("bucket", IntegerType, nullable = false),
        StructField("m1", ArrayType(LongType, containsNull = false),
          nullable = false)))
      val bands = params.bands
      val rows_ = params.rows
      val sigBands = newSigs.mapPartitions { rs =>
        rs.flatMap { r =>
          val id = r.getLong(0)
          val mhs = r.getSeq[Long](1)
          (0 until bands).iterator.map(b =>
            Row(id, b, bucketKeyJvm(mhs, b * rows_, (b + 1) * rows_).toInt,
              mhs))
        }
      }(Encoders.row(sigBandSchema))
      estRows(sigBands
        .join(idxBands0, Seq("band", "bucket"))
        .join(idxSigs, "dup_of")
        .select(col("new_id"), col("dup_of"), col("m1"), col("m2")))
        .dropDuplicates(Seq("new_id", "dup_of"))
    } else {
      // BATCH plan. The batch side is small by the operator's premise
      // (a daily increment vs the corpus), so the candidate join should
      // stream the corpus-sized band table through a codegen'd
      // broadcast hash join with ZERO index shuffle. Two regimes:
      //  - batch band keys fit a broadcast (the normal case): broadcast
      //    newBands to the index scan — exact pruning, no index
      //    shuffle, whole-stage codegen end to end;
      //  - oversized batch: fall back to a driver-built Bloom over the
      //    batch's (band, bucket) keys pruning the index scan before a
      //    shuffle join. A Bloom false positive only adds a
      //    non-matching band row, which the equi-join drops: no false
      //    negatives, bit-identical output either way.
      val newB = persisted(newBands.select(col("band"), col("bucket"),
        col("id").as("new_id")))
      val nBandRows = newB.count()
      val cand0 =
        if (nBandRows <= 4000000L) {
          idxBands0.join(broadcast(newB), Seq("band", "bucket"))
        } else {
          val keyed = newB
            .select((col("band").cast(LongType) * 4294967296L +
              col("bucket").cast(LongType)).as("__bk"))
          val bloom = keyed.stat.bloomFilter("__bk",
            math.max(nBandRows, 1L), 0.01)
          val bcBloom = spark.sparkContext.broadcast(bloom)
          val idxBands = idxBands0.mapPartitions { rs =>
            val bf = bcBloom.value
            rs.filter { r =>
              bf.mightContainLong(
                r.getInt(1).toLong * 4294967296L + r.getInt(2).toLong)
            }
          }(Encoders.row(StructType(Seq(
            StructField("dup_of", LongType, nullable = false),
            StructField("band", IntegerType, nullable = false),
            StructField("bucket", IntegerType, nullable = false)))))
          newB.join(idxBands, Seq("band", "bucket"))
        }
      // candidate-bounded signature fetch — band rows stay 12 bytes and
      // signatures are only joined for surviving pairs.
      val cand = cand0.select("new_id", "dup_of").distinct()
      estRows(cand
        .join(newSigs.select(col("new_id"), col("mhs").as("m1")), "new_id")
        .join(idxSigs, "dup_of")
        .select(col("new_id"), col("dup_of"), col("m1"), col("m2")))
    }
  }

  /** The drop gauge: per-band bucket saturation of a persisted index vs
    * a cap — `over_cap > 0` anywhere means appends have pushed buckets
    * past the cap a fresh build would have dropped, and `compactIndex`
    * is due. One groupBy over the 12-byte `bands/` rows; never touches
    * `sigs/` or corpus text. Output (band, n_buckets, max_bucket,
    * n_rows, over_cap), one row per band, band-ordered.
    */
  def bucketSaturation(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBucketSize: Long): DataFrame =
    spark.read.schema(idxBandsSchema).parquet(s"$path/bands")
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast(LongType).as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(col("sz")).as("n_rows"),
        sum(when(col("sz") > maxBucketSize, 1L).otherwise(0L))
          .as("over_cap"))
      .orderBy("band")

  /** Merge several persisted indexes into one at `out` — the sharded
    * build path: at 100 TB the corpus is indexed per shard/team/source
    * and the shards merge without ever touching corpus text. Inputs
    * must be id-disjoint (the same accepted-batch contract as
    * `appendBatch`). `sigs/` concatenates; `bands/` concatenates and
    * re-applies the whole-bucket cap GLOBALLY, so the result is
    * row-identical to a fresh `writeIndex` over the union of the
    * inputs' documents (spec-pinned in `IncrementalDedupCompactSpec`).
    * Cost: one shuffle of the combined 12-byte band rows plus a copy
    * of the sig rows.
    */
  def mergeIndexes(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], out: String, maxBucketSize: Long): Unit = {
    require(paths.nonEmpty, "mergeIndexes needs >= 1 input index")
    val bands = paths.map(p =>
        spark.read.schema(idxBandsSchema).parquet(s"$p/bands")
          .select(col("id"), col("band"), col("bucket")))
      .reduce(_ union _)
    val sigs = paths.map(p =>
        spark.read.schema(idxSigsSchema).parquet(s"$p/sigs"))
      .reduce(_ union _)
    sigs.write.mode("overwrite").parquet(s"$out/sigs")
    capBuckets(bands, maxBucketSize)
      .write.partitionBy("band").mode("overwrite").parquet(s"$out/bands")
  }

  /** Re-compact a persisted index in place: rewrite `bands/` applying
    * the whole-bucket cap GLOBALLY (the fresh-`writeIndex` rule —
    * oversized buckets are dropped entirely; their docs stay findable
    * via their other bands and keep their signatures). Because band keys
    * are a pure function of the signatures and the cap drops whole
    * buckets by size only, the compacted `bands/` is row-identical to a
    * fresh `writeIndex` over the union of every written batch
    * (spec-pinned). `sigs/` is untouched — compaction costs one shuffle
    * of the 12-byte band rows, independent of corpus text size.
    *
    * The rewrite goes through a sibling temp dir + two renames. The
    * REAL crash window is between `rename(cur, old)` and
    * `rename(next, cur)`: there `bands/` exists under NEITHER name —
    * the old copy sits at `bands__old`, the complete new copy at
    * `bands__compacting`. Entry therefore starts with
    * `recoverBandsSwap`, which detects that half-swapped state and rolls
    * FORWARD to the new copy when it finished (`_SUCCESS` present) or
    * BACK to the old one otherwise — only after `bands/` again exists
    * are the leftover temp dirs deleted. Every other crash point leaves
    * `bands/` itself complete (a partial `bands__compacting` with no
    * `_SUCCESS` is just garbage for the next entry to clear).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      maxBucketSize: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val next = new Path(s"$path/bands__compacting")
    val cur = new Path(s"$path/bands")
    val old = new Path(s"$path/bands__old")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverBandsSwap(fs, cur, old, next)
    // bands/ is now guaranteed present; leftovers are safe to clear
    fs.delete(next, true)
    fs.delete(old, true)
    val bands = spark.read.schema(idxBandsSchema).parquet(cur.toString)
      .select(col("id"), col("band"), col("bucket"))
    capBuckets(bands, maxBucketSize)
      .write.partitionBy("band").mode("overwrite")
      .parquet(next.toString)
    if (!fs.rename(cur, old) || !fs.rename(next, cur))
      throw new java.io.IOException(
        s"compactIndex: rename failed swapping $cur")
    fs.delete(old, true)
  }

  /** Crash recovery for the compact swap (see `compactIndex` doc): if
    * `bands/` is missing, re-establish it from the surviving copy —
    * the completed new one (`_SUCCESS` in `bands__compacting`) rolls
    * forward, else `bands__old` rolls back; neither present with
    * `bands/` missing is an unrecoverable (or never-built) index and
    * fails loudly instead of letting the caller's deletes destroy
    * evidence.
    */
  private[ops] def recoverBandsSwap(fs: org.apache.hadoop.fs.FileSystem,
      cur: org.apache.hadoop.fs.Path, old: org.apache.hadoop.fs.Path,
      next: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(cur)) return
    val nextComplete = fs.exists(
      new org.apache.hadoop.fs.Path(next, "_SUCCESS"))
    if (nextComplete) {
      if (!fs.rename(next, cur)) throw new java.io.IOException(
        s"compactIndex recovery: roll-forward rename $next -> $cur failed")
    } else if (fs.exists(old)) {
      if (!fs.rename(old, cur)) throw new java.io.IOException(
        s"compactIndex recovery: roll-back rename $old -> $cur failed")
    } else throw new java.io.IOException(
      s"compactIndex: $cur missing and no complete copy to recover from " +
        s"(checked $next/_SUCCESS and $old) — is this an index directory?")
  }
}

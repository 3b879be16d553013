package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — an O(n·m) block join that Spark
  * parallelizes across partitions; the probe side is broadcast when small
  * (the common "query batch vs. corpus" shape). Scale path: random
  * hyperplane LSH — 64-bit sign signatures bucketed into bands, candidates
  * re-ranked exactly, so the pair join touches signature buckets instead of
  * the full cross product.
  *
  * All similarity math is done in double precision over the float inputs
  * with a fixed left-to-right summation order (`zip_with` + `aggregate`), so
  * results are bit-deterministic and reproducible in the DuckDB oracle.
  *
  * Cache contract: `lshNearNeighbors` caches its signature frame (both the
  * band join and the re-rank read it); the blocks persist until the caller
  * releases them — call `spark.catalog.clearCache()` after materializing
  * the result in a long-lived session (the graft bench does, per query).
  */
// Serializable: stateless, but per-row helpers (checkDim) called from
// nested local defs make scalac capture the module in executor closures
object Similarity extends Serializable {

  /** Cosine similarity of two array<float/double> columns, in double. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast(DoubleType) * y.cast(DoubleType)), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x =>
      x.cast(DoubleType) * x.cast(DoubleType)), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x =>
      x.cast(DoubleType) * x.cast(DoubleType)), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Integer-scaled cosine (×1e6, floored) — hash-stable across engines. */
  def cosineMicro(a: Column, b: Column): Column =
    floor(cosine(a, b) * 1000000L).cast(LongType)

  /** Brute-force cosine top-k: for every probe vector, the k most similar
    * corpus vectors (excluding itself when probing the corpus against
    * itself). Deterministic tie-break on (similarity desc, corpus id).
    *
    * Physical plan for scale — a fully distributed block-nested join with
    * no driver-side materialization of either side: the corpus is
    * hash-partitioned into `chunks` blocks, probes are replicated to every
    * block (an `explode` over the chunk ids — a shuffle of `|probes| ×
    * chunks` id+vector rows, never a `collect`), and a cogroup scores each
    * block in one tight primitive loop, emitting only the per-(probe,
    * block) top-k. The final window merges `chunks × k` candidates per
    * probe. Executor memory is bounded by one corpus block (`|corpus| /
    * chunks` vectors — size `chunks` accordingly); the probe side streams.
    * Compute is the unavoidable O(|corpus|·|probes|·dim) of exact KNN —
    * for corpus×corpus at scale use `ivfTopK` / `lshNearNeighbors`, which
    * replace the cross product, not just its layout.
    * The JVM loop (`⌊1e6·dot/(‖a‖·‖b‖)⌋`, sequential left-to-right sums in
    * double) matches the DuckDB oracle bit-for-bit.
    *
    * @param chunks corpus block count; 0 ⇒ `spark.sql.shuffle.partitions`
    */
  def knnBruteForce(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, chunks: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val nChunks =
      if (chunks > 0) chunks
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    val corpusKeyed = corpus.select(
      pmod(xxhash64(col(idCol)), lit(nChunks.toLong)).cast(IntegerType)
        .as("__chunk"),
      col(idCol).cast(LongType).as("__cid"), col(vecCol).as("__cvec"))
    val probeRep = probes.select(
      explode(sequence(lit(0), lit(nChunks - 1))).as("__chunk"),
      col(idCol).cast(LongType).as("__qid"), col(vecCol).as("__qvec"))

    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("sim_micro", LongType, nullable = false)))

    implicit val intEnc = org.apache.spark.sql.Encoders.scalaInt
    val local = corpusKeyed.groupByKey(_.getInt(0))
      .cogroup(probeRep.groupByKey(_.getInt(0))) { (_, cRows, pRows) =>
        // materialize this corpus block once (ids, double vectors, norms);
        // null id/vector rows are excluded from both sides
        val cidB = Array.newBuilder[Long]
        val cvB = Array.newBuilder[Array[Double]]
        val cnB = Array.newBuilder[Double]
        cRows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).foreach { r =>
          val v = toDoubles(toFloatArray(r.getSeq[Float](2)))
          var sq = 0.0
          var d = 0
          while (d < v.length) { sq += v(d) * v(d); d += 1 }
          cidB += r.getLong(1); cvB += v; cnB += math.sqrt(sq)
        }
        val cids = cidB.result()
        val cvecs = cvB.result()
        val cnorms = cnB.result()
        // probes stream through; per probe a size-k top list over the block
        pRows.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).flatMap { pr =>
          val qid = pr.getLong(1)
          val qv = toDoubles(toFloatArray(pr.getSeq[Float](2)))
          var sq = 0.0
          var d = 0
          while (d < qv.length) { sq += qv(d) * qv(d); d += 1 }
          val qNorm = math.sqrt(sq)
          val top = new TopK(k)
          var c = 0
          while (c < cids.length) {
            if (cids(c) != qid) {
              val cv = cvecs(c)
              var dot = 0.0
              d = 0
              while (d < cv.length) { dot += qv(d) * cv(d); d += 1 }
              top.offer(math.floor(1000000.0 *
                (dot / (qNorm * cnorms(c)))).toLong, cids(c))
            }
            c += 1
          }
          top.rows(qid)
        }
      }(Encoders.row(outSchema))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_micro").desc, col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Scalar int8 quantization of one float component:
    * `clamp(⌊x · scale⌋, -128, 127)`. With `scale` a power of two the
    * product is exact in double, so the quantized code is bit-deterministic
    * across engines (the DuckDB oracle applies the identical formula).
    */
  private[ops] def quantizeSq8Jvm(x: Float, scale: Int): Byte = {
    val q = math.floor(x.toDouble * scale)
    (if (q < -128) -128L else if (q > 127) 127L else q.toLong).toByte
  }

  /** Column form of the int8 quantizer (array<float> → array<long> codes,
    * for inspection/tests; the KNN path quantizes to packed bytes JVM-side).
    */
  def quantizeSq8(vec: Column, scale: Int = 128): Column =
    transform(vec, x => greatest(lit(-128L), least(lit(127L),
      floor(x.cast(DoubleType) * scale).cast(LongType))))

  /** Brute-force top-k by int8-quantized dot product — the memory-bound
    * scan path of exact KNN. Each vector is quantized to `dim` bytes in
    * the narrow pre-shuffle pass, so every downstream exchange and every
    * corpus block held by a scoring task is 4× smaller than float32 (the
    * classic SQ8 trade: recall loss bounded by quantization error, scan
    * bandwidth quartered — at 100 TB the corpus scan is bandwidth-bound,
    * making this the default first rung before IVF/LSH pruning).
    *
    * Same fully distributed block-nested shape as `knnBruteForce` (corpus
    * hash-chunked, probes replicated per chunk, cogroup scores each block
    * in a primitive loop emitting per-block top-k, window merges); scoring
    * is an integer dot product over byte codes with (dot desc, id asc)
    * tie-breaks. Output: (query_id, neighbor_id, dot_q, rnk).
    *
    * @param chunks corpus block count; 0 ⇒ `spark.sql.shuffle.partitions`
    */
  def knnSq8TopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, scale: Int = 128, chunks: Int = 0)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val nChunks =
      if (chunks > 0) chunks
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    val qSchema = StructType(Seq(
      StructField("__chunk", IntegerType, nullable = false),
      StructField("__id", LongType, nullable = false),
      StructField("__q", BinaryType, nullable = false)))
    // quantize BEFORE the shuffle: bytes, not floats, go over the wire
    def quantized(df: DataFrame, replicate: Boolean): DataFrame =
      df.select(col(idCol).cast(LongType), col(vecCol))
        .mapPartitions { rows =>
          rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
            val id = r.getLong(0)
            val f = toFloatArray(r.getSeq[Float](1))
            val q = new Array[Byte](f.length)
            var d = 0
            while (d < f.length) { q(d) = quantizeSq8Jvm(f(d), scale); d += 1 }
            if (replicate) (0 until nChunks).iterator.map(c => Row(c, id, q))
            else {
              val c = ((id.## % nChunks) + nChunks) % nChunks
              Iterator.single(Row(c, id, q))
            }
          }
        }(Encoders.row(qSchema))

    val corpusQ = quantized(corpus, replicate = false)
    val probesQ = quantized(probes, replicate = true)

    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("dot_q", LongType, nullable = false)))
    implicit val intEnc = org.apache.spark.sql.Encoders.scalaInt
    val local = corpusQ.groupByKey(_.getInt(0))
      .cogroup(probesQ.groupByKey(_.getInt(0))) { (_, cRows, pRows) =>
        val cidB = Array.newBuilder[Long]
        val cqB = Array.newBuilder[Array[Byte]]
        cRows.foreach { r =>
          cidB += r.getLong(1); cqB += r.getAs[Array[Byte]](2)
        }
        val cids = cidB.result()
        val cqs = cqB.result()
        pRows.flatMap { pr =>
          val qid = pr.getLong(1)
          val qq = pr.getAs[Array[Byte]](2)
          val top = new TopK(k)
          var c = 0
          while (c < cids.length) {
            if (cids(c) != qid) {
              val cq = cqs(c)
              var dot = 0L
              var d = 0
              while (d < cq.length) { dot += qq(d).toLong * cq(d); d += 1 }
              top.offer(dot, cids(c))
            }
            c += 1
          }
          top.rows(qid)
        }
      }(Encoders.row(outSchema))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Floored-micro dot product of a query subvector against a codeword
    * (double math, left-to-right — bit-identical to DuckDB's
    * `list_inner_product` on the same slices).
    */
  private[ops] def dotMicroJvm(a: Array[Double], aFrom: Int,
      b: Array[Double], len: Int): Long = {
    var dot = 0.0
    var d = 0
    while (d < len) { dot += a(aFrom + d) * b(d); d += 1 }
    math.floor(1000000.0 * dot).toLong
  }

  /** Floored-micro squared L2 distance of a subvector against a codeword,
    * decomposed as `⟨x,x⟩ − 2⟨x,w⟩ + ⟨w,w⟩` with each inner product summed
    * left-to-right in double — the exact FP ops DuckDB performs for
    * `ip(s,s) - 2*ip(s,w) + ip(w,w)` on the same slices, so encodings are
    * engine-portable. `sxx` (the subvector's self-dot) is hoisted by the
    * caller — it is constant across the codeword scan.
    */
  private[ops] def l2MicroJvm(sxx: Double, a: Array[Double], aFrom: Int,
      w: Array[Double], len: Int): Long = {
    var sxw = 0.0
    var d = 0
    while (d < len) { sxw += a(aFrom + d) * w(d); d += 1 }
    var sww = 0.0
    d = 0
    while (d < len) { sww += w(d) * w(d); d += 1 }
    math.floor(1000000.0 * (sxx - 2.0 * sxw + sww)).toLong
  }

  /** PQ encoding: per subspace the codeword minimizing floored-micro
    * squared L2 (reconstruction error — the metric that bounds ADC's
    * scoring error |q·x − q·c| ≤ ‖q‖·‖x−c‖; ranking codewords by dot
    * instead is what made untrained-codebook recall collapse), ties to
    * the smaller codeword index. Mirrored exactly by the oracle's
    * `distm ASC, cw` ranking.
    */
  private[ops] def encodePq(v: Array[Double],
      book: Array[Array[Array[Double]]], subDim: Int): Array[Byte] = {
    val m = book.length
    val code = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val words = book(j)
      var sxx = 0.0
      var d = 0
      while (d < subDim) {
        val x = v(j * subDim + d); sxx += x * x; d += 1
      }
      var best = 0
      var bestDist = l2MicroJvm(sxx, v, j * subDim, words(0), subDim)
      var c = 1
      while (c < words.length) {
        val dist = l2MicroJvm(sxx, v, j * subDim, words(c), subDim)
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }

  /** Dimension guard for the trained-quantizer paths: a codebook or
    * centroid set whose dimensionality disagrees with the data would
    * otherwise silently encode a PREFIX of each vector (when the vectors
    * are longer) or die deep in an executor loop (when shorter) — one
    * integer compare per row buys a named error instead.
    */
  // private[ops], not private: fully-private members make executor
  // closures capture the (non-serializable) enclosing object to reach them
  private[ops] def checkDim(actual: Int, expected: Int, what: String): Unit =
    if (actual != expected)
      throw new IllegalArgumentException(
        s"$what: vector dim $actual != quantizer dim $expected")

  /** Cell assignment: max floored-micro cosine against the centroids,
    * ties to the smaller centroid index — the one assignment rule shared
    * by IVF/IVFPQ corpus assignment, probe-list selection, residual
    * training, and the SQL oracle.
    */
  private[ops] def assignCosine(v: Array[Float],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestSim = cosineMicroJvmD(v, cents(0))
    var i = 1
    while (i < cents.length) {
      val s = cosineMicroJvmD(v, cents(i))
      if (s > bestSim) { bestSim = s; best = i }
      i += 1
    }
    best
  }

  /** Product-quantized top-k with asymmetric-distance computation (ADC) —
    * the deep-compression rung of the ANN ladder: each vector is encoded
    * as `m` codebook indices (one byte per subspace: 8 bytes for a 64-dim
    * float vector, 32× smaller), and scoring a probe against the corpus
    * is table lookups, not float math.
    *
    * The codebook is deterministic and engine-portable (same device as
    * `ivfTopK`'s coarse quantizer): the codewords of subspace `j` are the
    * `j`-th subvectors of the `ksub` smallest-id corpus vectors — no
    * k-means iterations, so the DuckDB oracle rebuilds encoding, lookup
    * tables, and ranking exactly. Assignment and scoring use floored-micro
    * subvector dot products (`argmax`, ties to the smaller codeword
    * index); the ADC score is the exact integer sum of the `m` per-
    * subspace micro dots.
    *
    * Physical plan: the codebook is collected (`ksub` rows) and broadcast;
    * encoding is a narrow per-partition pass emitting `m`-byte codes (the
    * only corpus-sized shuffle carries id + 8-byte code); the scoring is
    * the same block-nested cogroup as `knnBruteForce`/`knnSq8TopK`, but
    * each probe first builds its `m × ksub` lookup table once per block
    * and then scans byte codes with integer adds — at 100 TB the scan
    * reads 32× fewer bytes than float and does no multiplies.
    *
    * @param m    subspace count (dim must divide evenly)
    * @param ksub codewords per subspace (≤ 256 so codes fit in a byte)
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, m: Int = 8, ksub: Int = 16,
      chunks: Int = 0,
      codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ksub <= 256, "codes must fit in one byte")
    val spark = corpus.sparkSession
    val nChunks =
      if (chunks > 0) chunks
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // codebook: trained (Codebooks.trainPq — the shipped path) or the
    // untrained first-ids fallback (unit tests with hand-checkable
    // geometry); either way cb(j)(c) is codeword c of subspace j
    val (cb, subDim) = codebook match {
      case Some(book) =>
        require(book.length == m, s"codebook has ${book.length} subspaces")
        require(book.forall(_.length <= 256), "codes must fit in one byte")
        (book, book.head.head.length)
      case None =>
        val cbRows = corpus.select(col(idCol).cast(LongType), col(vecCol))
          .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
          .orderBy(col(idCol)).limit(ksub).collect()
        val dim = toFloatArray(cbRows.head.getSeq[Float](1)).length
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        val sd = dim / m
        (Array.tabulate(m) { j =>
          cbRows.map { r =>
            val f = toFloatArray(r.getSeq[Float](1))
            Array.tabulate(sd)(d => f(j * sd + d).toDouble)
          }
        }, sd)
    }
    val bc = spark.sparkContext.broadcast(cb)

    val codeSchema = StructType(Seq(
      StructField("__chunk", IntegerType, nullable = false),
      StructField("__id", LongType, nullable = false),
      StructField("__code", BinaryType, nullable = false)))
    val corpusCodes = corpus.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val book = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { r =>
          val id = r.getLong(0)
          val v = toDoubles(toFloatArray(r.getSeq[Float](1)))
          checkDim(v.length, m * subDim, "pq encode")
          val code = encodePq(v, book, subDim)
          val chunk = ((id.## % nChunks) + nChunks) % nChunks
          Row(chunk, id, code)
        }
      }(Encoders.row(codeSchema))

    val probeSchema = StructType(Seq(
      StructField("__chunk", IntegerType, nullable = false),
      StructField("__id", LongType, nullable = false),
      StructField("__vec", probes.schema(vecCol).dataType, nullable = true)))
    val probeRep = probes.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
          (0 until nChunks).iterator.map(c => Row(c, r.getLong(0), r.get(1)))
        }
      }(Encoders.row(probeSchema))

    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("score_q", LongType, nullable = false)))
    implicit val intEnc = org.apache.spark.sql.Encoders.scalaInt
    val local = corpusCodes.groupByKey(_.getInt(0))
      .cogroup(probeRep.groupByKey(_.getInt(0))) { (_, cRows, pRows) =>
        val cidB = Array.newBuilder[Long]
        val ccB = Array.newBuilder[Array[Byte]]
        cRows.foreach { r =>
          cidB += r.getLong(1); ccB += r.getAs[Array[Byte]](2)
        }
        val cids = cidB.result()
        val ccodes = ccB.result()
        val book = bc.value
        pRows.flatMap { pr =>
          val qid = pr.getLong(1)
          val qv = toDoubles(toFloatArray(pr.getSeq[Float](2)))
          checkDim(qv.length, m * subDim, "pq probe")
          adcScan(qid, qv, cids, ccodes, book, subDim, k, 0L)
        }
      }(Encoders.row(outSchema))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** ADC top-k scan of one probe against one block of PQ codes, with
    * `base` added to every score (the residual-IVFPQ centroid term; 0
    * otherwise).
    *
    * Adaptive lookup: the classic per-(probe, block) lookup table costs
    * `Σⱼ|bookⱼ|·subDim` multiplies to build, while scoring the block by
    * direct per-code dots costs `|block|·m·subDim` — so the LUT only
    * pays for itself once the block has at least as many codes as the
    * books have words. Below that (fine 256-codeword books over small
    * blocks/cells) each code's subspace dots are computed directly; both
    * paths call the same `dotMicroJvm`, so scores are bit-identical and
    * the oracle is unaffected. The LUT is deliberately NOT precomputed
    * before probe replication either way: m·ksub longs is 256× the
    * float vector at m=32/ksub=256, so shipping it would swell the
    * probe shuffle.
    */
  private def adcScan(qid: Long, qv: Array[Double], cids: Array[Long],
      ccodes: Array[Array[Byte]], book: Array[Array[Array[Double]]],
      subDim: Int, k: Int, base: Long): Iterator[Row] = {
    val m = book.length
    var bookWords = 0L
    var j0 = 0
    while (j0 < m) { bookWords += book(j0).length; j0 += 1 }
    val useLut = cids.length.toLong * m >= bookWords
    val lut: Array[Array[Long]] =
      if (!useLut) null
      else Array.tabulate(m) { j =>
        Array.tabulate(book(j).length) { c =>
          dotMicroJvm(qv, j * subDim, book(j)(c), subDim)
        }
      }
    val top = new TopK(k)
    var ci = 0
    while (ci < cids.length) {
      if (cids(ci) != qid) {
        val code = ccodes(ci)
        var s = base
        var j = 0
        if (useLut)
          while (j < m) { s += lut(j)(code(j) & 0xff); j += 1 }
        else
          while (j < m) {
            s += dotMicroJvm(qv, j * subDim, book(j)(code(j) & 0xff), subDim)
            j += 1
          }
        top.offer(s, cids(ci))
      }
      ci += 1
    }
    top.rows(qid)
  }

  /** IVF + PQ composition (faiss-style IVFPQ with `by_residual=false`):
    * the coarse quantizer prunes the scan to `nprobe` of `nlist` cells,
    * and within a cell the scan reads `m`-byte PQ codes scored by ADC
    * lookup tables — the two scale levers composed: a probe touches
    * `nprobe/nlist` of the corpus AND reads 32× fewer bytes of it. This
    * is the standard corpus-scale ANN layout; the flat-code variant
    * (raw-vector codebooks rather than residual codebooks) keeps the
    * oracle exactly reproducible in SQL.
    *
    * Both quantizers are the deterministic first-ids device (`ivfTopK`,
    * `pqTopK`); assignment and scoring use floored-micro dots with the
    * same tie-breaks. Physical plan: centroids (`nlist` rows) and the
    * codebook (`ksub` rows) broadcast; cell assignment + PQ encoding is
    * one narrow pass emitting (cell, id, code); the cogroup shuffles on
    * cell id; per (probe, cell) the LUT builds once and codes scan with
    * integer adds.
    */
  /** @param centroids trained coarse centroids (index = cell id); None ⇒
    *                   first-ids fallback (unit tests)
    * @param codebook   trained PQ codebook; None ⇒ first-ids fallback
    * @param byResidual encode `x − centroid(cell(x))` instead of `x`
    *                   (faiss `by_residual`) and score as
    *                   `⌊1e6·q·c⌋ + Σⱼ lut[j][code j]` — requires trained
    *                   centroids AND a residual-trained codebook
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16,
      centroids: Option[Array[Array[Double]]] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      byResidual: Boolean = false): DataFrame = {
    require(ksub <= 256, "codes must fit in one byte")
    require(!byResidual || (centroids.isDefined && codebook.isDefined),
      "byResidual needs trained centroids and a residual-trained codebook")
    val (centIds, centVecs, cb) = ivfPqResolve(corpus, idCol, vecCol,
      nlist, m, ksub, centroids, codebook)
    val subDim = cb.head.head.length
    val assignedCodes = ivfPqEncode(corpus, idCol, vecCol, centIds,
      centVecs, cb, subDim, byResidual)
    ivfPqScore(assignedCodes, probes, idCol, vecCol, k, nprobe, centIds,
      centVecs, cb, subDim, byResidual)
  }

  /** Quantizer resolution shared by the IVFPQ entry points: trained
    * (centroids + codebook given) or the first-ids fallback.
    */
  private def ivfPqResolve(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, m: Int, ksub: Int,
      centroids: Option[Array[Array[Double]]],
      codebook: Option[Array[Array[Array[Double]]]])
      : (Array[Long], Array[Array[Double]], Array[Array[Array[Double]]]) =
    (centroids, codebook) match {
      case (Some(cs), Some(book)) =>
        (Array.tabulate(cs.length)(_.toLong), cs, book)
      case _ =>
        val base = corpus.select(col(idCol).cast(LongType), col(vecCol))
          .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
        val centRows = base.orderBy(col(idCol))
          .limit(math.max(nlist, ksub)).collect()
        val dim0 = toFloatArray(centRows.head.getSeq[Float](1)).length
        require(dim0 % m == 0, s"dim $dim0 not divisible into $m subspaces")
        val sd = dim0 / m
        val cvs = centroids.getOrElse(centRows.take(nlist).map(r =>
          toDoubles(toFloatArray(r.getSeq[Float](1)))))
        // trained centroids key cells by index; first-ids key by vec_id
        val ids =
          if (centroids.isDefined) Array.tabulate(cvs.length)(_.toLong)
          else centRows.take(nlist).map(_.getLong(0))
        val book = codebook.getOrElse(Array.tabulate(m) { j =>
          centRows.take(ksub).map { r =>
            val f = toFloatArray(r.getSeq[Float](1))
            Array.tabulate(sd)(d => f(j * sd + d).toDouble)
          }
        })
        (ids, cvs, book)
    }

  /** The IVFPQ index-build pass: one narrow scan assigning every corpus
    * vector to its cell and PQ-encoding it (the residual when
    * `byResidual`). Output columns `(__cell, __id, __code)` — the only
    * corpus-sized frame any IVFPQ path ever shuffles or persists.
    */
  private[ops] def ivfPqEncode(corpus: DataFrame, idCol: String,
      vecCol: String, centIds: Array[Long], centVecs: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], subDim: Int, byResidual: Boolean)
      : DataFrame = {
    val bc = corpus.sparkSession.sparkContext
      .broadcast((centIds, centVecs, cb))
    val codeSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false),
      StructField("__id", LongType, nullable = false),
      StructField("__code", BinaryType, nullable = false)))
    val expDim = cb.length * subDim
    require(centVecs.head.length == expDim,
      s"centroid dim ${centVecs.head.length} != codebook m*subDim $expDim")
    corpus.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val (ids, cvs, book) = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { r =>
          val f = toFloatArray(r.getSeq[Float](1))
          checkDim(f.length, expDim, "ivfPqEncode")
          val best = assignCosine(f, cvs)
          val x = toDoubles(f)
          val v =
            if (!byResidual) x
            else {
              val c = cvs(best)
              var d = 0
              while (d < x.length) { x(d) -= c(d); d += 1 }
              x
            }
          Row(ids(best), r.getLong(0), encodePq(v, book, subDim))
        }
      }(Encoders.row(codeSchema))
  }

  /** The IVFPQ probe/score tail: probes fan out to their `nprobe` top
    * cells, the cogroup shuffles codes and probes on cell id, and each
    * (probe, cell) pair runs the adaptive ADC scan. `assignedCodes` may
    * come from `ivfPqEncode` (inline) or from a persisted index scan.
    */
  private def ivfPqScore(assignedCodes: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centIds: Array[Long], centVecs: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], subDim: Int, byResidual: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cb.length
    val dim = m * subDim
    require(centVecs.head.length == dim,
      s"centroid dim ${centVecs.head.length} != codebook m*subDim $dim")
    val bc = probes.sparkSession.sparkContext
      .broadcast((centIds, centVecs, cb))

    val probeSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false),
      StructField("__qid", LongType, nullable = false),
      StructField("__qvec", probes.schema(vecCol).dataType, nullable = true)))
    val probed = probes.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val (ids, cvs, _) = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
          val f = toFloatArray(r.getSeq[Float](1))
          checkDim(f.length, dim, "ivfPq probe")
          val sims = cvs.map(cv => cosineMicroJvmD(f, cv))
          val order = ids.indices.sortBy(i => (-sims(i), ids(i)))
          order.take(nprobe).iterator
            .map(i => Row(ids(i), r.getLong(0), r.get(1)))
        }
      }(Encoders.row(probeSchema))

    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("score_q", LongType, nullable = false)))
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
    val scored = assignedCodes
      .select(col("__cell"), col("__id"), col("__code"))
      .groupByKey(_.getLong(0))
      .cogroup(probed.groupByKey(_.getLong(0))) { (cellKey, cRows, pRows) =>
        val cidB = Array.newBuilder[Long]
        val ccB = Array.newBuilder[Array[Byte]]
        cRows.foreach { r =>
          cidB += r.getLong(1); ccB += r.getAs[Array[Byte]](2)
        }
        val cids = cidB.result()
        val ccodes = ccB.result()
        val (_, cvs, book) = bc.value
        // residual scoring adds the probe·centroid term of this cell;
        // trained cell keys ARE centroid indices
        val cellIdx = if (byResidual) cellKey.toInt else -1
        pRows.flatMap { pr =>
          val qid = pr.getLong(1)
          val qv = toDoubles(toFloatArray(pr.getSeq[Float](2)))
          val base =
            if (byResidual) dotMicroJvm(qv, 0, cvs(cellIdx), dim) else 0L
          // adaptive LUT-vs-direct scoring, see adcScan
          adcScan(qid, qv, cids, ccodes, book, subDim, k, base)
        }
      }(Encoders.row(outSchema))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Build-once/query-many IVFPQ: persist the encoded corpus as parquet
    * PARTITIONED BY cell. At 100 TB the encoding scan (read every float
    * vector, assign, encode) is the expensive half of every ad-hoc IVFPQ
    * query — a persisted index pays it once, and the cell-partitioned
    * layout means a query's file scan is pruned to its probes' cells
    * before any row is read (see `ivfPqTopKFromIndex`).
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]], byResidual: Boolean = false)
      : Unit = {
    val centIds = Array.tabulate(centroids.length)(_.toLong)
    val subDim = codebook.head.head.length
    ivfPqEncode(corpus, idCol, vecCol, centIds, centroids, codebook,
      subDim, byResidual)
      .write.partitionBy("__cell").mode("overwrite").parquet(path)
  }

  /** Incremental maintenance for the persisted IVFPQ index (the faiss
    * `add`-after-train pattern): encode a new batch with the SAME frozen
    * quantizers the index was built with and append its codes to the
    * cell directories — no rewrite, no retraining, and
    * `ivfPqTopKFromIndex` results are identical to a full rebuild over
    * the union (spec-pinned) because scoring depends only on (cell,
    * code), not on file layout. Appended ids must be disjoint from the
    * index (same accepted-batch contract as
    * `IncrementalDedup.appendBatch`). Quantizer drift is the operator's
    * one hazard — pass the exact centroids/codebook of `writeIvfPqIndex`
    * (they are committed artifacts here); retraining means rebuilding.
    */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String, centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]], byResidual: Boolean = false)
      : Unit = {
    val centIds = Array.tabulate(centroids.length)(_.toLong)
    val subDim = codebook.head.head.length
    ivfPqEncode(batch, idCol, vecCol, centIds, centroids, codebook,
      subDim, byResidual)
      .write.partitionBy("__cell").mode("append").parquet(path)
  }

  /** IVFPQ top-k against a persisted index (`writeIvfPqIndex`): the
    * probe batch's distinct cells (≤ nlist values — a bounded collect
    * regardless of probe count) become a static partition filter, so
    * the index scan reads only `nprobe`-worth of cell directories —
    * partition pruning does the IVF prune at the FILE level, before any
    * byte of the non-probed corpus is read. Scores are identical to the
    * inline `ivfPqTopK` with the same quantizers (pinned by spec).
    */
  def ivfPqTopKFromIndex(indexPath: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]], byResidual: Boolean = false)
      : DataFrame = {
    val spark = probes.sparkSession
    val centIds = Array.tabulate(centroids.length)(_.toLong)
    val subDim = codebook.head.head.length
    val bc = spark.sparkContext.broadcast(centroids)
    // distinct probe cells: ≤ nlist longs after the distinct, so the
    // collect is bounded by the quantizer size, never the probe count
    val cellSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false)))
    val probeCells = probes.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val cvs = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
          val f = toFloatArray(r.getSeq[Float](1))
          val sims = cvs.map(cv => cosineMicroJvmD(f, cv))
          cvs.indices.sortBy(i => (-sims(i), i)).take(nprobe).iterator
            .map(i => Row(i.toLong))
        }
      }(Encoders.row(cellSchema))
      .distinct().collect().map(_.getLong(0))
    // partition-column values read back with inferred (int) type — cast
    // to the long cell key the scoring cogroup expects. The isin filter
    // sits on the partition column, so it prunes directories at planning
    // time (PartitionFilters in the scan), not rows at runtime.
    val index = spark.read.parquet(indexPath)
      .filter(col("__cell").isin(probeCells: _*))
      .select(col("__cell").cast(LongType).as("__cell"), col("__id"),
        col("__code"))
    ivfPqScore(index, probes, idCol, vecCol, k, nprobe, centIds,
      centroids, codebook, subDim, byResidual)
  }

  /** Exact re-rank refinement (faiss `IndexRefineFlat` pattern): take a
    * candidate list `(query_id, neighbor_id)` from any approximate rung
    * (typically IVFPQ top-`kc` with `kc` ≈ 4–5× the final `k`), join the
    * true vectors back, score each pair by exact floored-micro cosine,
    * and keep the top `k`. Recovers the recall the compressed scan lost
    * to quantization — the composed recall ceiling becomes the coarse
    * pruning stage's — while the corpus-sized scan still read codes, not
    * floats: only `|probes|·kc` true vectors are ever fetched.
    *
    * Physical plan: two id-equi-joins pull the probe and neighbor
    * vectors onto the candidate rows (AQE broadcasts the candidate side
    * while it fits; at scale they are shuffle joins on 8-byte ids), then
    * a narrow primitive-loop pass scores and a window keeps `k` — no
    * stage ever holds more than one candidate row's two vectors.
    * Output: (query_id, neighbor_id, sim_micro, rnk).
    */
  def refineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cvecs = corpus.select(col(idCol).cast(LongType).as("neighbor_id"),
      col(vecCol).as("__nvec"))
      .filter(col("neighbor_id").isNotNull && col("__nvec").isNotNull)
    val qvecs = probes.select(col(idCol).cast(LongType).as("query_id"),
      col(vecCol).as("__qvec"))
      .filter(col("query_id").isNotNull && col("__qvec").isNotNull)
    val joined = candidates.select(col("query_id"), col("neighbor_id"))
      .join(qvecs, "query_id")
      .join(cvecs, "neighbor_id")
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("sim_micro", LongType, nullable = false)))
    val scored = joined
      .select(col("query_id"), col("neighbor_id"), col("__qvec"),
        col("__nvec"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), r.getLong(1),
            cosineMicroJvm(r.getSeq[Float](2), r.getSeq[Float](3)))
        }
      }(Encoders.row(outSchema))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_micro").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Deterministic pseudo-random hyperplanes: `planes(i)(d)` in {-1, +1}
    * via splitmix64 on (seed, i, d). Sign-random projections preserve
    * cosine locality; ±1 planes avoid float nondeterminism entirely.
    */
  /** The full ±1 plane matrix (for oracle generation / inspection). */
  def planeMatrix(seed: Long, nBits: Int, dim: Int): Array[Array[Int]] =
    Array.tabulate(nBits, dim)((i, d) => planeSign(seed, i, d))

  private def planeSign(seed: Long, i: Int, d: Int): Int = {
    var z = seed + 0x9E3779B97F4A7C15L * (i.toLong * 4099 + d + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    if (((z ^ (z >>> 31)) & 1L) == 0L) -1 else 1
  }

  /** (id, vec, 64-bit random-hyperplane signature) via tight per-partition
    * loops (the 64×dim projection is far too large as an expression tree).
    */
  def rhpSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 64, seed: Long = 42L): DataFrame = {
    val signs: Array[Array[Double]] = Array.tabulate(nBits, dim)((i, d) =>
      planeSign(seed, i, d).toDouble)
    val vecType = df.schema(vecCol).dataType
    val outSchema = StructType(Seq(
      StructField("__id", LongType, nullable = false),
      StructField("__vec", vecType, nullable = true),
      StructField("sig", LongType, nullable = false)))
    df.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        // null id/vector ⇒ excluded from the signature frame
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { row =>
          val vSeq = row.getSeq[Float](1)
          val v = new Array[Double](vSeq.length)
          var d = 0
          while (d < v.length) { v(d) = vSeq(d).toDouble; d += 1 }
          var sig = 0L
          var i = 0
          while (i < nBits) {
            val plane = signs(i)
            var proj = 0.0
            d = 0
            while (d < v.length) { proj += v(d) * plane(d); d += 1 }
            if (proj > 0) sig |= (1L << i)
            i += 1
          }
          Row(row.getLong(0), row.get(1), sig)
        }
      }(Encoders.row(outSchema))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    * the corpus into `nlist` cells; each probe scans only its `nprobe`
    * nearest cells, then re-ranks exactly. The classic ANN scale path —
    * cells are the shuffle/partition unit, so a probe touches
    * `nprobe/nlist` of the corpus instead of all of it.
    *
    * The quantizer is deterministic and engine-portable (no k-means
    * iterations): the centroids are the embeddings of the `nlist` smallest
    * corpus ids, similarity is floored-micro cosine with (sim desc, id asc)
    * tie-breaks everywhere — the DuckDB oracle reproduces cell assignment,
    * probe lists, and re-rank exactly.
    *
    * Physical plan: centroids are collected (nlist vectors) and broadcast;
    * cell assignment and probe-list selection are narrow JVM passes; the
    * candidate join shuffles on cell id (the IVF partition unit); the final
    * per-query top-k is a window over ≤ |cell|·nprobe candidates.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    val (centIds, centVecs) = centroids match {
      case Some(cs) => (Array.tabulate(cs.length)(_.toLong), cs)
      case None =>
        val centRows = corpus.select(col(idCol).cast(LongType), col(vecCol))
          .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
          .orderBy(col(idCol)).limit(nlist).collect()
        (centRows.map(_.getLong(0)),
          centRows.map(r => toDoubles(toFloatArray(r.getSeq[Float](1)))))
    }
    val bc = spark.sparkContext.broadcast((centIds, centVecs))

    def simToCentroids(v: Array[Float]): Array[Long] = {
      val (_, cvs) = bc.value
      checkDim(v.length, cvs.head.length, "ivf assignment")
      cvs.map(cv => cosineMicroJvmD(v, cv))
    }

    val assignSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false),
      StructField("__cid", LongType, nullable = false),
      StructField("__cvec", corpus.schema(vecCol).dataType, nullable = true)))
    val assigned = corpus.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val (ids, _) = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { r =>
          val sims = simToCentroids(toFloatArray(r.getSeq[Float](1)))
          var best = 0
          var i = 1
          while (i < sims.length) {
            // max sim; ties to the smaller centroid id (ids are sorted)
            if (sims(i) > sims(best)) best = i
            i += 1
          }
          Row(ids(best), r.getLong(0), r.get(1))
        }
      }(Encoders.row(assignSchema))

    val probeSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false),
      StructField("__qid", LongType, nullable = false),
      StructField("__qvec", probes.schema(vecCol).dataType, nullable = true)))
    val probed = probes.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val (ids, _) = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
          val sims = simToCentroids(toFloatArray(r.getSeq[Float](1)))
          // top nprobe cells by (sim desc, centroid id asc)
          val order = ids.indices.sortBy(i => (-sims(i), ids(i)))
          order.take(nprobe).iterator.map(i => Row(ids(i), r.getLong(0), r.get(1)))
        }
      }(Encoders.row(probeSchema))

    val simSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("sim_micro", LongType, nullable = false)))
    // cogroup by cell — the IVF physical plan: each task materializes one
    // cell's vectors (cells are executor-sized by the nlist choice) and
    // scans its probes against them in a primitive loop, emitting only the
    // per-(probe, cell) top-k. A plain join would materialize
    // |probes|·|cell| rows each carrying two vectors; this shuffles the
    // vectors once and emits k rows per probe per cell. The global top-k
    // is a subset of the union of per-cell top-ks, so the final window
    // ranks nprobe·k candidates per query, not the whole scan.
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
    val scored = assigned.groupByKey(_.getLong(0))
      .cogroup(probed.groupByKey(_.getLong(0))) {
        (_, corpusRows, probeRows) =>
          val cids = Array.newBuilder[Long]
          val cvecs = Array.newBuilder[Array[Float]]
          corpusRows.foreach { r =>
            cids += r.getLong(1); cvecs += toFloatArray(r.getSeq[Float](2))
          }
          val ids = cids.result(); val vecs = cvecs.result()
          probeRows.flatMap { pr =>
            val qid = pr.getLong(1)
            val qv = toFloatArray(pr.getSeq[Float](2))
            val top = new TopK(k)
            var c = 0
            while (c < ids.length) {
              if (ids(c) != qid) top.offer(cosineMicroJvm(qv, vecs(c)), ids(c))
              c += 1
            }
            top.rows(qid)
          }
      }(Encoders.row(simSchema))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_micro").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  /** Embedding quality gate: every vector's floored-micro cosine to its
    * nearest coarse centroid (same assignment rule as `ivfTopK`: max
    * sim, ties to the smaller cell id), with vectors whose best-cell
    * affinity falls below `minSimMicro` flagged as outliers — the
    * distance-to-centroid filter curation pipelines run to drop
    * mis-embedded / out-of-distribution vectors before they poison
    * nearest-neighbor dedup and retrieval.
    *
    * Physical plan: centroids ride a broadcast; the whole operator is
    * one narrow per-partition pass over the corpus (no shuffle), so it
    * composes into the scan like the text-quality gates.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], minSimMicro: Long): DataFrame = {
    require(centroids.nonEmpty, "centroidOutliers: empty centroid set")
    val bc = df.sparkSession.sparkContext.broadcast(centroids)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("cell", LongType, nullable = false),
      StructField("sim_micro", LongType, nullable = false),
      StructField("is_outlier", BooleanType, nullable = false)))
    df.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val cvs = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { r =>
          val v = toFloatArray(r.getSeq[Float](1))
          checkDim(v.length, cvs.head.length, "centroid outlier gate")
          var best = 0
          var bestSim = cosineMicroJvmD(v, cvs(0))
          var i = 1
          while (i < cvs.length) {
            val s = cosineMicroJvmD(v, cvs(i))
            if (s > bestSim) { bestSim = s; best = i }
            i += 1
          }
          Row(r.getLong(0), best.toLong, bestSim, bestSim < minSimMicro)
        }
      }(Encoders.row(outSchema))
  }

  /** Cluster-prototype pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv:2206.14486): in the abundant-data regime the
    * best pruning metric KEEPS the hard examples — rank every vector
    * within its (trained) cluster by cosine to the centroid and drop
    * the most PROTOTYPICAL `prunePermille`/1000 of each cluster. The
    * SSL-prototypes metric is exactly this distance-to-own-centroid
    * rank, computed here on the same trained coarse quantizer the IVF
    * ladder ships (floored-micro cosine, ties to the smaller cell,
    * then to the smaller id — fully deterministic).
    *
    * Output: (id, cell, sim_micro, rnk, keep) — `rnk` 1 = most
    * prototypical; `keep` = rnk past the pruned prefix,
    * `rnk > ⌊cell_n · permille / 1000⌋`.
    *
    * Physical plan for scale: assignment is the `centroidOutliers`
    * narrow broadcast pass (no shuffle); the rank needs ONE exchange on
    * the cell id — the IVF cell is the partition unit, per-task work is
    * bounded by the cell size, and both window functions (rank + cell
    * count) share the single partitioning. No driver materialization
    * anywhere.
    */
  def clusterPrune(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], prunePermille: Long): DataFrame = {
    require(prunePermille >= 0L && prunePermille <= 1000L,
      s"prunePermille $prunePermille outside [0, 1000]")
    import org.apache.spark.sql.expressions.Window
    val assigned = centroidOutliers(df, idCol, vecCol, centroids,
      minSimMicro = Long.MinValue).drop("is_outlier")
    val byCell = Window.partitionBy("cell")
    val rankW = byCell.orderBy(col("sim_micro").desc, col(idCol))
    assigned
      .withColumn("rnk", row_number().over(rankW).cast(LongType))
      .withColumn("__cell_n", count(lit(1)).over(byCell))
      .withColumn("keep",
        col("rnk") > expr(s"__cell_n * $prunePermille DIV 1000"))
      .drop("__cell_n")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the same deterministic
    * coarse quantizer as `ivfTopK` (centroids = the `nlist` smallest-id
    * vectors, floored-micro cosine, ties to the smaller centroid id), then
    * within each cell drop every vector that has a *smaller-id* cell-mate
    * with cosine ≥ `simMicro`/1e6. The keep rule is deliberately
    * non-transitive (an item is judged against all earlier cell-mates,
    * kept or not) — one deterministic pass, exactly reproducible in SQL
    * via a correlated EXISTS, no iteration to converge.
    *
    * Output: (vec_id, cell, keep) for every non-null corpus row, `keep`
    * a 0/1 long.
    *
    * Physical plan for scale: only `nlist` centroid rows ever reach the
    * driver; assignment is a narrow per-partition pass; the single
    * corpus-sized exchange shuffles (cell, id, vec) on cell — the cell is
    * the partition unit, exactly IVF's layout — and the quadratic
    * similarity term is bounded per task by the cell size, which `nlist`
    * controls (at N vectors, expected |cell| = N/nlist; size nlist so a
    * cell's vectors fit one executor). Each pair is scored at most once
    * (earlier-id side only) with an early exit at the first dup hit.
    *
    * Guard rails at corpus scale: `nlist ≤ 0` derives `max(16, ⌈N/20k⌉)`
    * from a corpus count, keeping the expected cell near 20k vectors as N
    * grows; and any single cell larger than `maxCellSize` fails LOUDLY
    * (like the CEP `maxRunsPerKey` valve) instead of letting one hot
    * near-duplicate cluster OOM its task or run O(|cell|²) for hours —
    * the fix is a larger `nlist` or deduping the degenerate mass first.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, simMicro: Long = 350000L,
      maxCellSize: Int = 100000,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    // trained k-means cells (SemDeDup proper — the paper clusters before
    // the within-cell pass) when given; first-ids fallback otherwise
    val (centIds, centVecs) = centroids match {
      case Some(cs) => (Array.tabulate(cs.length)(_.toLong), cs)
      case None =>
        val nonNull = corpus.select(col(idCol).cast(LongType), col(vecCol))
          .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
        val effNlist =
          if (nlist > 0) nlist
          else {
            val computed =
              math.max(16L, (nonNull.count() + 19999L) / 20000L)
            // the first-ids fallback collects effNlist full vectors and
            // scans all of them per corpus row — fine while the quantizer
            // is broadcast-sized, absurd at the corpus sizes auto-nlist
            // would reach. Fail loudly instead of melting the driver:
            // corpora past ~1.3 B rows must pass TRAINED centroids
            // (Codebooks.trainCoarse trains on a bounded sample).
            require(computed <= 65536L,
              s"auto-nlist $computed exceeds the first-ids fallback bound" +
                " (65536): pass trained centroids " +
                "(Codebooks.trainCoarse) for a corpus this large")
            computed.toInt
          }
        val centRows = nonNull.orderBy(col(idCol)).limit(effNlist).collect()
        (centRows.map(_.getLong(0)),
          centRows.map(r => toDoubles(toFloatArray(r.getSeq[Float](1)))))
    }
    val bc = spark.sparkContext.broadcast((centIds, centVecs))

    val assignSchema = StructType(Seq(
      StructField("__cell", LongType, nullable = false),
      StructField("__id", LongType, nullable = false),
      StructField("__vec", corpus.schema(vecCol).dataType, nullable = true)))
    val assigned = corpus.select(col(idCol).cast(LongType), col(vecCol))
      .mapPartitions { rows =>
        val (ids, cvs) = bc.value
        rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map { r =>
          val v = toFloatArray(r.getSeq[Float](1))
          checkDim(v.length, cvs.head.length, "semanticDedup assignment")
          // max sim; ties to the smaller centroid id/index (ids sorted)
          val best = assignCosine(v, cvs)
          Row(ids(best), r.getLong(0), r.get(1))
        }
      }(Encoders.row(assignSchema))

    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("cell", LongType, nullable = false),
      StructField("keep", LongType, nullable = false)))
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
    assigned.groupByKey(_.getLong(0)).flatMapGroups { (cell, rows) =>
      val members = rows
        .map(r => (r.getLong(1), toFloatArray(r.getSeq[Float](2))))
        .toArray.sortBy(_._1)
      if (members.length > maxCellSize)
        throw new IllegalStateException(
          s"semanticDedup cell $cell has ${members.length} members " +
            s"(maxCellSize=$maxCellSize): a hot near-duplicate cluster " +
            "would go quadratic here — raise nlist (or pre-dedup the " +
            "degenerate mass), or raise maxCellSize deliberately")
      members.iterator.zipWithIndex.map { case ((id, v), i) =>
        var keep = 1L
        var j = 0
        while (j < i && keep == 1L) {
          if (cosineMicroJvm(v, members(j)._2) >= simMicro) keep = 0L
          j += 1
        }
        Row(id, cell, keep)
      }
    }(Encoders.row(outSchema))
  }

  /** Unwrap a row's array<float> column to the primitive array without
    * copying when Spark hands back an `ArraySeq.ofFloat` wrapper — the
    * generic `Seq[Float].apply` boxes per element, which dominates
    * million-pair re-rank loops.
    */
  private[ops] def toFloatArray(s: scala.collection.Seq[Float]): Array[Float] =
    s match {
      case w: scala.collection.mutable.ArraySeq.ofFloat => w.array
      case _                                            => s.toArray
    }

  private[ops] def toDoubles(f: Array[Float]): Array[Double] = {
    val v = new Array[Double](f.length)
    var d = 0
    while (d < f.length) { v(d) = f(d).toDouble; d += 1 }
    v
  }

  /** The (score desc, id asc) candidate ordering every ANN rung ranks by
    * — one definition so a tie-break change can never desynchronize the
    * rungs from each other or from the shared window-merge tail.
    */
  private[ops] def betterHit(s1: Long, i1: Long, s2: Long, i2: Long)
      : Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  /** Bounded top-k accumulator under `betterHit`: the per-(probe, block)
    * selection shared by all ANN scan loops. One instance per probe;
    * fixed arrays, no per-candidate allocation.
    */
  private[ops] final class TopK(k: Int) {
    private val scores = new Array[Long](k)
    private val ids = new Array[Long](k)
    private var n = 0
    def offer(s: Long, id: Long): Unit = {
      if (n < k) { scores(n) = s; ids(n) = id; n += 1 }
      else {
        var worst = 0
        var i = 1
        while (i < k) {
          if (betterHit(scores(worst), ids(worst), scores(i), ids(i)))
            worst = i
          i += 1
        }
        if (betterHit(s, id, scores(worst), ids(worst))) {
          scores(worst) = s; ids(worst) = id
        }
      }
    }
    /** Consume before the next probe's accumulator is filled. */
    def rows(qid: Long): Iterator[Row] =
      (0 until n).iterator.map(i => Row(qid, ids(i), scores(i)))
  }

  /** Exact JVM mirror of `cosineMicro`: double math with left-to-right
    * summation — bit-identical to the Column expression and to DuckDB's
    * `list_inner_product`.
    *
    * DEGENERATE INPUT PIN: a zero-norm side makes the quotient 0/0 =
    * NaN, which `NaN.toLong` would silently map to 0 while a SQL
    * oracle's `CAST(floor(NaN) AS BIGINT)` ERRORS — the two sides would
    * diverge on exactly the rows that need a defined answer. Cosine to
    * the zero vector is defined here as 0 (no direction, no affinity),
    * explicitly, in both JVM mirrors and in the oracle SQL of the one
    * registry query whose input column could carry it (`emb_outliers`).
    */
  private[ops] def cosineMicroJvm(a: Array[Float], b: Array[Float]): Long = {
    val n = a.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var d = 0
    while (d < n) {
      val x = a(d).toDouble; val y = b(d).toDouble
      dot += x * y; na += x * x; nb += y * y
      d += 1
    }
    if (na == 0.0 || nb == 0.0) 0L
    else math.floor(1000000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))))
      .toLong
  }

  private[ops] def cosineMicroJvm(a: scala.collection.Seq[Float],
      b: scala.collection.Seq[Float]): Long =
    cosineMicroJvm(toFloatArray(a), toFloatArray(b))

  /** `cosineMicroJvm` against a double-valued centroid (trained codebooks
    * store doubles). For float centroids cast to double this is
    * bit-identical to the float/float overload — float→double is exact.
    */
  private[ops] def cosineMicroJvmD(a: Array[Float], b: Array[Double])
      : Long = {
    val n = a.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var d = 0
    while (d < n) {
      val x = a(d).toDouble; val y = b(d)
      dot += x * y; na += x * x; nb += y * y
      d += 1
    }
    // zero-norm pin: see cosineMicroJvm
    if (na == 0.0 || nb == 0.0) 0L
    else math.floor(1000000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))))
      .toLong
  }

  /** LSH-bucketed near-neighbor pairs: signature band join (4×16 bits) then
    * exact cosine re-rank, keeping pairs with cosine ≥ simMicro/1e6. The
    * scale path: joins touch 16-bit buckets, not the cross product.
    *
    * The band join carries ids only (8-byte rows), pairs are deduplicated
    * *before* any similarity math — a pair colliding in several bands is
    * scored once — and vectors are joined back to the surviving candidates
    * (AQE broadcasts the signature side while it fits; at corpus scale it
    * degrades to a shuffle join on id). The re-rank itself is a tight
    * per-partition primitive loop, not an interpreted HOF expression.
    */
  def lshNearNeighbors(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, simMicro: Long = 950000L, seed: Long = 42L,
      bandBits: Int = 16, maxBucketSize: Long = Long.MaxValue)
      : DataFrame = {
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val sigs = rhpSignatures(df, idCol, vecCol, dim, 64, seed)
      .select(col("__id").as(idCol), col("__vec").as(vecCol), col("sig"))
      .cache()
    // per doc the nBands (band, bucket) keys are distinct by construction
    // (band is part of the key) — no dedup needed on the exploded index.
    // maxBucketSize: the hot-bucket valve, see
    // DedupOps.capBuckets
    val banded = DedupOps.capBuckets(sigs.select(col(idCol),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * bandBits).bitwiseAND(mask)
            .as("bucket"))): _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bucket")),
      maxBucketSize)
    val cand = banded.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val pairs = cand
      .join(sigs.select(col(idCol).as("id1"), col(vecCol).as("v1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col(vecCol).as("v2")), "id2")
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
    val outSchema = StructType(Seq(
      StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false),
      StructField("sim_micro", LongType, nullable = false)))
    pairs.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0), r.getLong(1),
          cosineMicroJvm(r.getSeq[Float](2), r.getSeq[Float](3)))
      }
    }(Encoders.row(outSchema))
      .filter(col("sim_micro") >= simMicro)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard (inverted-index join), MinHash+LSH, SimHash.
  *
  * Scale notes (the design target is ~100 TB of documents on a large
  * cluster):
  *   - Exact dedup is a single hash-shuffle on the text (or a text digest at
  *     scale — swap `text` for `sha2(text, 256)` to shuffle 32-byte keys
  *     instead of documents).
  *   - The Jaccard pair-join is the standard inverted-index self-join on
  *     shingles; ubiquitous shingles explode pair counts, so
  *     `maxShingleFreq` drops the over-frequent ones (a no-op at these test
  *     sizes when set high, a necessity at corpus scale).
  *   - MinHash signatures are computed with map-side partial `min`
  *     aggregation — no per-doc shingle lists are ever materialized; LSH
  *     banding then joins 16-byte band keys, never documents.
  *
  * Cache contract: the pair-join operators (`ngramJaccardPairs`,
  * `minHashLshPairs`, `simHashPairs`) `cache()`
  * or `persist()` an intermediate that both join sides read. The cache is
  * lazy — building the returned frame runs no job; its first action fills
  * the cache. The blocks persist (storage level spills, never OOMs) until
  * the caller releases them, and lineage stays, so a lost block
  * recomputes. In a long-lived session call `spark.catalog.clearCache()`
  * (or unpersist via the catalog) after materializing the returned frame,
  * or build and consume it inside `CacheScope.withCaches` — the graft
  * bench does exactly that between queries.
  */
object DedupOps {

  /** 3-gram (by default) token shingles of a text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Exact duplicate mapping: every doc → the minimum doc-id holding its
    * exact text (`keep_id`), plus the duplicate-group size. One shuffle.
    * With `byDigest`, the shuffle key is `sha2(text, 256)` — 32-byte keys
    * instead of whole documents, the corpus-scale variant (collision
    * probability 2^-128: cryptographically negligible).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String,
      byDigest: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = if (byDigest) sha2(col(textCol), 256) else col(textCol)
    val w = Window.partitionBy(key)
    df.select(
      col(idCol),
      min(col(idCol)).over(w).as("keep_id"),
      count(lit(1)).over(w).as("group_cnt"))
  }

  /** Deterministic polynomial hash of a string (base `base`, mod 1e9+7 —
    * products stay below 2^40, so ANSI-mode overflow can never trip).
    * Native codegen'd expression; see `graft.functions.PolyHash`.
    */
  def polyHash(s: Column, base: Long = 131L): Column =
    graft.functions.PolyHash.polyHash(s, base)

  /** Two independent 30-bit polynomial hashes combined into a ~60-bit
    * token hash (bit-spread for SimHash/MinHash without long overflow).
    */
  def tokenHash60(s: Column): Column =
    polyHash(s, 131L) + polyHash(s, 257L) * 1073741824L // << 30

  /** Exploded (id, shingle-hash) inverted index, distinct per doc. The
    * 60-bit `tokenHash60` is the join key: an 8-byte shuffle key instead of
    * the n-gram string, and — because the DuckDB oracle applies the *same*
    * hash — any collision is mirrored identically in both engines, keeping
    * the comparison exact.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("sh", LongType, nullable = false)))
    df.select(col(idCol).cast(LongType), col(textCol))
      .mapPartitions { rows =>
        rows.flatMap { row =>
          // null text/id ⇒ the doc is simply absent from the index — the
          // same rows a SQL unnest-over-NULL drops, so oracles agree
          if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
          else {
            val id = row.getLong(0)
            shinglesJvm(row.getString(1), n).iterator
              .map(s => Row(id, tokenHash60Jvm(s)))
          }
        }
      }(Encoders.row(outSchema))
  }

  /** All pairs with n-gram Jaccard similarity ≥ simMilli/1000, via the
    * inverted-index self-join. Output is integer-only:
    * (id1, id2, inter, uni) with inter/uni the shingle-set overlap/union.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, simMilli: Int = 500,
      maxShingleFreq: Long = Long.MaxValue): DataFrame = {
    val idx = shingleIndex(df, idCol, textCol, n)
    val capped =
      if (maxShingleFreq == Long.MaxValue) idx
      else {
        import org.apache.spark.sql.expressions.Window
        idx.withColumn("freq", count(lit(1)).over(
          Window.partitionBy(col("sh"))))
          .filter(col("freq") <= maxShingleFreq)
      }
    // persisted lazily: the capped shingle index feeds both join sides
    // and the per-doc counts. Building the frame runs no job, lineage
    // stays (a lost block recomputes), the cap's Window stays in the plan
    // under the InMemoryRelation, and `clearCache()`/`CacheScope` release
    // the blocks. An eager localCheckpoint was within 7% of this at sf0.1
    // (data/jaccard_pr3_ab.json) but ran a job at build time.
    val filtered = capped.persist()
    val counts = filtered.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"))
    // freq-1 shingles can never produce a pair (a shared shingle sits in
    // two docs, so its frequency is >= 2) — pruning them from the join
    // input is exact, and at corpus scale unique shingles are the LONG
    // TAIL of the index, so the join input shrinks by the tail's mass
    // (JaccardLab v9; value-identity asserted there and by the oracle).
    val idx2 =
      (if (maxShingleFreq == Long.MaxValue) filtered
       else filtered.filter(col("freq") >= 2L).drop("freq"))
    // the self-join carries only (sh, id) — 16-byte rows, fully codegen'd —
    // and the per-doc shingle counts join back onto the *aggregated*
    // (id1, id2, inter) pairs, orders of magnitude fewer rows than the raw
    // join output. (A groupBy-collect_list + JVM pair-emission variant
    // measured ~2× slower here, and a posting-run pair-count map pass
    // slower still — boxed Row emission loses to the codegen'd hash join;
    // JaccardLab v8.) No broadcast hint: AQE broadcasts counts while it
    // fits and falls back to a shuffle join at corpus scale.
    idx2.as("a").join(idx2.as("b"), col("a.sh") === col("b.sh"))
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

  /** MinHash parameters: k independent hash functions over shingle hashes,
    * arranged as `bands` bands of `rows` rows (k = bands * rows).
    * Coefficients are fixed pseudo-random odd constants (deterministic).
    */
  final case class MinHashParams(bands: Int = 16, rows: Int = 4,
      seed: Long = 42L) {
    val k: Int = bands * rows
    private val p = 2305843009213693951L // 2^61 - 1
    /** Deterministic (a, b) per hash function via splitmix64-style mixing
      * (computed once per JVM — transient so closures reship the seed, not
      * the table).
      */
    @transient lazy val coeffs: IndexedSeq[(Long, Long)] = (0 until k).map { i =>
      var z = seed + 0x9E3779B97F4A7C15L * (i + 1)
      def mix(): Long = {
        z += 0x9E3779B97F4A7C15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val a = (mix() & Long.MaxValue) % (p - 1) + 1
      val b = (mix() & Long.MaxValue) % p
      (a, b)
    }
    /** Coefficients unpacked into primitive arrays (reduced mod 2^31-1 up
      * front) — the signature loop calls `perm` k times per shingle and must
      * not unbox a tuple per call.
      */
    @transient private lazy val aArr: Array[Long] =
      coeffs.map(_._1 % 2147483647L).toArray
    @transient private lazy val bArr: Array[Long] = coeffs.map(_._2).toArray
    /** (a·h + b) mod p with both operands reduced below 2^31 so the product
      * fits in 63 bits — the single definition used by the signature loop.
      */
    def perm(i: Int, h: Long): Long =
      ((h % 2147483647L) * aArr(i) + bArr(i)) % 2305843009213693951L
  }

  /** JVM-side mirrors of the Column-expression hashes (bit-identical:
    * same integer arithmetic; corpus is ASCII so char == codepoint).
    */
  private[ops] def polyHashJvm(s: String, base: Long): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * base + s.charAt(i).toLong) % 1000000007L
      i += 1
    }
    acc
  }
  private[ops] def tokenHash60Jvm(s: String): Long =
    polyHashJvm(s, 131L) + polyHashJvm(s, 257L) * 1073741824L

  /** Positional n-gram spans — one entry per occurrence; documents
    * shorter than `n` tokens contribute their whole text as one span.
    * The single tokenize/slide core behind both the distinct shingle
    * semantics (dedup) and the occurrence-counting span semantics
    * (contamination/dup-passage).
    */
  private[ops] def spansJvm(text: String, n: Int): Array[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toArray
    else Array(toks.mkString(" "))
  }

  private[ops] def shinglesJvm(text: String, n: Int): Array[String] =
    spansJvm(text, n).distinct

  /** `spansJvm` with 1-based token positions and span token lengths —
    * (pos, slen, span) per occurrence. The positional variant feeds the
    * substring-scrub operator, which must know which token indices each
    * duplicated span covers.
    */
  private[ops] def spansPosJvm(text: String, n: Int)
      : Array[(Int, Int, String)] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length >= n)
      Array.tabulate(toks.length - n + 1) { i =>
        (i + 1, n, toks.slice(i, i + n).mkString(" "))
      }
    else Array((1, toks.length, toks.mkString(" ")))
  }

  /** Per-doc MinHash signature as one `array<long>` column of length k,
    * computed in one tight per-partition pass (tokenize → shingle → hash →
    * k running minima per doc) — a narrow transformation with no shuffle
    * and no interpreted expression trees; the codegen'd-HOF equivalent
    * spent ~60× longer on the k permutations, and a k-column-wide schema
    * spent seconds in janino compiling 65-column codegen units.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      params: MinHashParams = MinHashParams(), n: Int = 3): DataFrame = {
    val k = params.k
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("mhs", ArrayType(LongType, containsNull = false),
        nullable = false)))
    df.select(col(idCol).cast(LongType), col(textCol))
      .mapPartitions { rows =>
        rows.flatMap { row =>
          // null text/id ⇒ no signature (doc excluded, matching the index)
          if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
          else {
            val mins = Array.fill(k)(Long.MaxValue)
            for (sh <- shinglesJvm(row.getString(1), n)) {
              val h = tokenHash60Jvm(sh)
              var i = 0
              while (i < k) {
                val v = params.perm(i, h)
                if (v < mins(i)) mins(i) = v
                i += 1
              }
            }
            Iterator.single(Row(row.getLong(0), mins.toSeq))
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Deterministic band-bucket key: fold the band's signature components
    * into mod 2^31-1 (engine-portable, unlike Murmur — the DuckDB oracle
    * reproduces it exactly).
    */
  private[ops] def bucketKeyJvm(mhs: scala.collection.Seq[Long], from: Int,
      until: Int): Long = {
    var acc = 0L
    var i = from
    while (i < until) {
      acc = ((acc * 131) % 2147483647L + mhs(i) % 2147483647L) % 2147483647L
      i += 1
    }
    acc
  }

  /** Per-bucket size cap for LSH band indexes — the hot-bucket valve of
    * every band join here (MinHash, SimHash, RHP): a degenerate corpus
    * that lands one bucket with B members makes the self-join emit B²/2
    * candidate rows, so buckets larger than `maxBucketSize` are dropped
    * from the index entirely before the join. Cap-is-part-of-semantics,
    * exactly like `maxShingleFreq`: a saturated bucket carries ~zero
    * discriminative signal (it pairs everything with everything), and the
    * oracle mirrors the drop with a HAVING-count CTE. The kept index
    * rows show as the cap `Filter`'s `numOutputRows` SQL metric.
    *
    * Expects a frame with `band`/`bucket` columns; emits it filtered,
    * schema unchanged.
    */
  private[ops] def capBuckets(banded: DataFrame, maxBucketSize: Long)
      : DataFrame = {
    if (maxBucketSize == Long.MaxValue) return banded
    import org.apache.spark.sql.expressions.Window
    banded.withColumn("__bsz", count(lit(1)).over(
      Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
  }

  /** LSH candidate pairs: docs sharing any band bucket. Output
    * (id1, id2, est_milli) with est = fraction of equal signature
    * components × 1000. Band keys and the agreement estimate are computed
    * in tight JVM passes; only the (band, bucket) candidate join and the
    * two signature joins (AQE-broadcast while small) shuffle.
    * `maxBucketSize`: see `capBuckets`.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      params: MinHashParams = MinHashParams(), n: Int = 3,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val bands = params.bands
    val rows_ = params.rows
    val k = params.k
    val sigs = minHashSignatures(df, idCol, textCol, params, n).cache()
    val bandSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false)))
    // per doc the band keys are distinct by construction (the band index is
    // part of the key) — no dedup shuffle needed on the banded index
    val banded0 = sigs.mapPartitions { rs =>
      rs.flatMap { r =>
        val id = r.getLong(0)
        val mhs = r.getSeq[Long](1)
        (0 until bands).iterator.map(b =>
          Row(id, b, bucketKeyJvm(mhs, b * rows_, (b + 1) * rows_)))
      }
    }(Encoders.row(bandSchema))
    val banded = capBuckets(banded0, maxBucketSize)
    val cand = banded.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val estSchema = StructType(Seq(
      StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false),
      StructField("est_milli", LongType, nullable = false)))
    cand
      .join(sigs.select(col(idCol).as("id1"), col("mhs").as("m1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col("mhs").as("m2")), "id2")
      .select(col("id1"), col("id2"), col("m1"), col("m2"))
      .mapPartitions { rs =>
        rs.map { r =>
          val m1 = r.getSeq[Long](2); val m2 = r.getSeq[Long](3)
          var eq = 0; var i = 0
          while (i < k) { if (m1(i) == m2(i)) eq += 1; i += 1 }
          Row(r.getLong(0), r.getLong(1), eq.toLong * 1000L / k)
        }
      }(Encoders.row(estSchema))
  }

  /** Connected components over a near-dup pair graph: every node ends
    * labeled with the minimum node id of its component — the canonical
    * "keep" id of a duplicate cluster.
    *
    * Input: edge frame with two long id columns. Output:
    * `(node, cluster)` for every node appearing in an edge.
    *
    * Adaptive execution: a near-dup pair graph is orders of magnitude
    * smaller than its corpus (pairs survive banding + caps + thresholds),
    * so when the edge count is at most `localEdgeThreshold` (default 1 M
    * edges ≈ 16 MB — the broadcast-small-side budget) the components are
    * solved with driver-side union-find in one pass instead of paying
    * per-round job scheduling; above it, the distributed
    * large-star/small-star alternation runs (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds on
    * ANY graph shape — a 10k-node path collapses in ~10 rounds where
    * min-label propagation needs diameter ≈ 10k (property-pinned by
    * `OpsSpec`). Both paths are property-tested equal.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, localEdgeThreshold: Long = 1000000L): DataFrame = {
    // null endpoints carry no identity: drop them up front so the local
    // and distributed paths agree on the graph
    val e2 = edges.select(col(srcCol).cast(LongType).as("a"),
      col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // one action probes and fetches together: collect up to cap+1 edges —
    // at or under the threshold they ARE the graph (solve locally without
    // recomputing the upstream pair pipeline); over it, fall through to
    // the distributed loop
    val probeCap = math.min(localEdgeThreshold + 1, Int.MaxValue.toLong).toInt
    val probed = e2.limit(probeCap).collect()
    if (probed.length <= localEdgeThreshold) {
      val spark = edges.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      probed.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by min root keeps labels deterministic
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val rows = parent.keys.toArray.sorted.map(n => (n, find(n)))
      import spark.implicits._
      return rows.toSeq.toDF("node", "cluster")
    }
    connectedComponentsDistributed(e2, maxIter)._1
  }

  /** The distributed overflow path of `connectedComponents`: alternating
    * large-star/small-star rounds until the edge set reaches its star
    * fixpoint (every surviving edge connects a node to its component's
    * minimum id). Per round, large-star hangs every node's
    * larger-than-itself neighbors off `min(N(u) ∪ {u})`, then small-star
    * rewires each node and its smaller neighbors to that minimum —
    * component trees halve in height every alternation, giving O(log n)
    * rounds independent of diameter. Each round is two shuffles
    * (adjacency group-min + emit) plus a dedup; the edge frame is
    * `localCheckpoint`ed per round (flat lineage, previous round's blocks
    * released deterministically). Fixpoint detection compares a
    * (count, xxhash-sum) signature of successive edge sets — one cheap
    * aggregate, no driver-side edge materialization.
    *
    * Returns (labels, rounds) — rounds is exposed for the O(log n)
    * convergence property test.
    */
  private[ops] def connectedComponentsDistributed(e2: DataFrame,
      maxIter: Int): (DataFrame, Int) = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    // canonicalize ONCE off the upstream pair pipeline (self loops still
    // present — their nodes belong in the output universe), then derive
    // the node set and the working edge set from the checkpoint
    val edges0 = e2
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint(true)
    val nodes = edges0.select(col("a").as("node"))
      .union(edges0.select(col("b").as("node"))).distinct()
    var edges = edges0.filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      // per-edge hash reduced mod 1e9+7 before the sum: ANSI mode
      // hard-errors on long overflow, and raw xxhash sums overflow fast
      val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("a"), col("b")),
          lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prevSig = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: u's neighbors v > u attach to m(u) = min(N(u) ∪ {u})
      val nbrs = edges
        .union(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = nbrs.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val large = nbrs.filter(col("b") > col("a"))
        .join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()
      // small-star: u and its neighbors v < u rewire to their minimum
      val nbrs2 = large
        .union(large.select(col("b").as("a"), col("a").as("b")))
      val smalls = nbrs2.filter(col("b") < col("a"))
      val mins2 = smalls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = smalls.join(mins2, "a")
        .select(col("b").as("n"), col("m"))
        .union(mins2.select(col("a").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("m").as("a"), col("n").as("b"))
        .distinct().localCheckpoint(true)
      val sig = signature(next)
      // the round map is deterministic, so an unchanged edge set is a
      // fixpoint. The signature is only a cheap screen: on a match, the
      // equality is CONFIRMED exactly with a symmetric set difference —
      // a hash collision declaring false convergence would silently
      // return non-star labels (under-deduping with no signal), and the
      // exact check costs one extra job at the single convergence point
      converged = sig == prevSig &&
        next.except(edges).union(edges.except(next)).isEmpty
      prevSig = sig
      GraftColumnBridge.unpersistLocalCheckpoint(edges)
      edges = next
      iter += 1
    }
    // silent non-convergence would return labels that are not component
    // minima (and not even idempotent) — under-deduping downstream with
    // no signal. Loud beats wrong, same stance as maxRunsPerKey.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "large-star/small-star needs O(log n) rounds, so this graph is " +
        "far beyond the configured budget; raise maxIter")
    // fixpoint edges are (componentMin, node) stars; everything else
    // (roots, self-loop nodes) labels itself
    val stars = edges.select(col("b").as("node"), col("a").as("cluster"))
    val labels = nodes.join(stars, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node"))
        .as("cluster"))
    (labels, iter)
  }

  /** Duplicate-cluster keep map for a whole corpus: every doc's
    * `cluster_id` is the smallest doc id in its near-dup component
    * (docs in no pair are their own cluster). Downstream, keeping
    * `doc_id == cluster_id` prunes the corpus to one representative per
    * cluster — the step that turns near-dup *pairs* into an actual
    * dedup decision.
    */
  def nearDupKeepMap(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs, "id1", "id2")
    docs.select(col(idCol).cast(LongType).as("doc_id"))
      .join(cc, col("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(least(col("doc_id"), col("cluster")), col("doc_id"))
          .as("cluster_id"))
  }

  /** 64-bit SimHash over token hashes: per bit, the sign of the ±1 sum
    * across tokens. Runs as the native codegen'd
    * `graft.functions.SimHash64` expression — the signature fuses into
    * the scan's whole-stage-codegen pipeline (no `mapPartitions`
    * iterator boundary; equality with the JVM-loop formulation pinned by
    * `SimHash64Spec`). Null text/id rows are excluded, matching the
    * other index builders.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as(idCol),
        graft.functions.SimHash64.simHash64(col(textCol)).as("simhash"))

  /** Near-duplicate pairs by SimHash: hamming distance ≤ maxHamming, found
    * via a band join sized so recall is total: with `bands > maxHamming`
    * differing bits cannot touch every band (pigeonhole), so every
    * qualifying pair shares at least one exact band. Bands are the smallest
    * divisor-of-64 count above maxHamming.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Long = Long.MaxValue)
      : DataFrame =
    hammingPairs(simHash(df, idCol, textCol), idCol, "simhash",
      maxHamming, maxBucketSize)

  /** Hamming-band pair join over ANY 64-bit hash column (SimHash text
    * signatures, image dHashes, …): pairs at hamming distance ≤
    * `maxHamming`, found via the pigeonhole band join — with
    * `bands > maxHamming`, the differing bits cannot touch every band,
    * so every qualifying pair shares at least one exact band. Bands are
    * the smallest divisor-of-64 count above `maxHamming`; hot buckets
    * are capped by the shared `capBuckets` valve.
    */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucketSize: Long = Long.MaxValue)
      : DataFrame = {
    require(maxHamming < 32, s"maxHamming=$maxHamming needs >32 bands")
    val bands = Seq(1, 2, 4, 8, 16, 32).find(_ > maxHamming).get
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // the band self-join consumes the hashed frame twice; cache it so the
    // (possibly expensive — SimHash scan, image decode) hash computation
    // runs once (released by the caller's CacheScope)
    val hashedC = hashed.cache()
    val banded = capBuckets(hashedC.select(col(idCol), col(hashCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * width).bitwiseAND(mask)
            .as("bucket"))): _*)).as("bk"))
      .select(col(idCol), col(hashCol), col("bk.band"), col("bk.bucket")),
      maxBucketSize)
    banded.select(col("band"), col("bucket"), col(idCol).as("id1"),
        col(hashCol).as("h1"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id2"),
        col(hashCol).as("h2")), Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast(LongType)
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}

package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.plans.CepExecMetrics

/** Correctness pins for the pipeline ops whose queries are rows-only in the
  * driver gate (MinHash/SimHash/LSH internals), plus hand-computed cases for
  * the oracle-backed ones.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("piiScrub: masks emails/phones/IPs with exact counts; clean and " +
    "tricky text untouched") {
    val df = docs(
      1L -> ("write a@b.io or bob.smith+tag@sub.example.org, " +
        "call +44-123-4567890, ssh 192.168.0.1 and 10.0.0.255"),
      2L -> "no pii here at all",
      // near-misses the conservative patterns must NOT touch: version
      // numbers (3 octets), a bare local number, an @ with no TLD
      3L -> "v1.2.3 released, call 555-1234, ping user@localhost")
    val out = TextOps.piiScrub(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(out(1L) == ((2L, 1L, 2L),
      "write <EMAIL> or <EMAIL>, call <PHONE>, ssh <IP> and <IP>"))
    assert(out(2L) == ((0L, 0L, 0L), "no pii here at all"))
    assert(out(3L) == ((0L, 0L, 0L),
      "v1.2.3 released, call 555-1234, ping user@localhost"))
  }

  test("urlNormalize: lowercases authority only, strips default port / " +
    "fragment / utm params, preserves param order and path case") {
    val df = docs(
      1L -> ("read https://WWW.Example.COM:443/Data/X?utm_source=a&id=7" +
        "&utm_b=c&z=2#Frag then http://Site.ORG:80/p"),
      2L -> "bare https://a.b.co/path?utm_only=1 and https://c.d.io",
      // non-default port survives; https on :80 is NOT a default port
      3L -> "odd https://h.net:80/q?x=1 and http://h.net:8080/r")
    val out = TextOps.urlExtract(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(out((1L, 0L)) == ("https://www.example.com/Data/X?id=7&z=2",
      "www.example.com", "example.com"))
    assert(out((1L, 1L)) == ("http://site.org/p", "site.org", "site.org"))
    // all-utm query: the dangling '?' goes too
    assert(out((2L, 0L)) == ("https://a.b.co/path", "a.b.co", "b.co"))
    assert(out((2L, 1L)) == ("https://c.d.io", "c.d.io", "d.io"))
    assert(out((3L, 0L)) == ("https://h.net:80/q?x=1", "h.net", "h.net"))
    assert(out((3L, 1L)) == ("http://h.net:8080/r", "h.net", "h.net"))
  }

  test("cmsTopK: exact at ample width, one-sided error when squeezed, " +
    "sketches merge cell-wise") {
    val s = spark
    import s.implicits._
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .toDF("tok")
    val wide = Sketches.cmsTopK(toks, "tok", k = 4, width = 1024, depth = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    // no collisions at width 1024 on 4 distinct tokens: est == exact,
    // ranking est desc then token asc
    assert(wide.toSeq == Seq("a" -> (5L, 5L), "b" -> (3L, 3L),
      "c" -> (1L, 1L), "d" -> (1L, 1L)))
    // width 2 with 4 tokens: pigeonhole forces shared cells in every
    // row -> some estimate strictly exceeds its exact count, none under
    val tight = Sketches.cmsTopK(toks, "tok", k = 4, width = 2, depth = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(tight.forall { case (est, ex) => est >= ex })
    assert(tight.exists { case (est, ex) => est > ex },
      "width-2 sketch produced no overestimate")
    // mergeability: sketch(parts unioned) == cell-wise sum of part
    // sketches — the property that makes CMS the cross-shard profile
    val p1 = Seq("a", "a", "b").toDF("tok")
    val p2 = Seq("a", "c").toDF("tok")
    val whole = Sketches.cmsSketch(p1.union(p2), "tok", 64, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val merged = Sketches.cmsSketch(p1, "tok", 64, 3)
      .union(Sketches.cmsSketch(p2, "tok", 64, 3))
      .groupBy("r", "pos")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(whole == merged)
  }

  test("gopherRepetition: hand-computed top-gram masses and flag") {
    val df = docs(
      1L -> "a b a b a b c", // top2 (a b)x3 857m, top3 x2 857m, top4 x2 1142m
      2L -> "q",             // no 2-grams: all zero, unflagged
      3L -> "u v w x y z u v w x y z") // top2 (u v)x2 = 333m -> flagged
    val out = TextOps.gopherRepetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getBoolean(8)))
      .toMap
    assert(out(1L) == (7L, 3L, 857L, 2L, 857L, 2L, 1142L, true))
    assert(out(2L) == (1L, 0L, 0L, 0L, 0L, 0L, 0L, false))
    // doc 3: every 2-gram occurs twice -> top2 = 2, 2*2000/12 = 333
    assert(out(3L)._2 == 2L && out(3L)._3 == 333L && out(3L)._8)
  }

  test("exact dedup maps every doc to min id of its text group") {
    val df = docs(1L -> "a b c", 2L -> "x y", 3L -> "a b c", 4L -> "a b c")
    val out = DedupOps.exactDedup(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 3L), (3L, 1L, 3L), (4L, 1L, 3L), (2L, 2L, 1L)))
  }

  test("shingles: 3-gram windows, short docs fall back to whole text") {
    val df = docs(1L -> "a b c d", 2L -> "a b")
    val out = df.select(
      org.apache.spark.sql.functions.col("doc_id"),
      DedupOps.shingles(org.apache.spark.sql.functions.col("text"), 3)
        .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(out(1L) == Vector("a b c", "b c d"))
    assert(out(2L) == Vector("a b"))
  }

  test("ngram jaccard finds the overlapping pair with exact counts") {
    val df = docs(
      1L -> "a b c d e",   // shingles: abc bcd cde
      2L -> "a b c d x",   // shingles: abc bcd cdx  → inter 2, union 4
      3L -> "p q r s t")
    val out = DedupOps.ngramJaccardPairs(df, "doc_id", "text", 3, 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 4L)))
  }

  test("connected components: chains collapse to min id, singletons kept") {
    val s = spark
    import s.implicits._
    // a 5-chain (diameter forces multiple propagation rounds), a pair,
    // and an isolated doc (no edge)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (8L, 9L))
      .toDF("id1", "id2")
    val cc = DedupOps.connectedComponents(edges, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(cc(8L) == 8L && cc(9L) == 8L)
    // force the distributed propagation loop (threshold 0) — must equal
    // the driver-side union-find on the identical graph
    val ccDist = DedupOps.connectedComponents(edges, "id1", "id2",
      localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist == cc, "local union-find and distributed loop diverged")

    val docs = (1L to 10L).map(i => i -> s"doc $i")
    val keep = DedupOps.nearDupKeepMap(
      docs.toDF("doc_id", "text"), "doc_id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(keep(_) == 1L))
    assert(keep(8L) == 8L && keep(9L) == 8L)
    // isolated docs are their own cluster
    assert(Seq(6L, 7L, 10L).forall(i => keep(i) == i))
  }

  test("connected components: null edges dropped identically; loud non-convergence") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      (Option(1L), Option(2L)),
      (None: Option[Long], Option(7L)), // null endpoint: edge dropped
      (Option(8L), None: Option[Long]))
      .toDF("id1", "id2")
    def nodes(threshold: Long) =
      DedupOps.connectedComponents(edges, "id1", "id2",
        localEdgeThreshold = threshold)
        .collect().map(_.getLong(0)).toSet
    assert(nodes(1000000L) == Set(1L, 2L))
    assert(nodes(0L) == Set(1L, 2L), "paths diverged on null edges")

    // a 6-chain cannot converge in 2 propagation rounds — must fail loudly
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, "id1", "id2", maxIter = 2,
        localEdgeThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: random graphs agree between both paths") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(120)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
        .toDF("id1", "id2")
      val local = DedupOps.connectedComponents(edges, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = DedupOps.connectedComponents(edges, "id1", "id2",
        localEdgeThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"seed=$seed")
      // labels are component minima: every label labels itself
      assert(local.values.toSet.forall(c => local(c) == c), s"seed=$seed")
    }
  }

  test("connected components: 10k-node path converges in O(log n) rounds") {
    val s = spark
    import s.implicits._
    // the adversarial shape for min-label propagation (diameter = n): a
    // 10k-node path must collapse in ~log2(n) large/small-star rounds,
    // not ~n — and the labels must equal the union-find ground truth
    // (every node reaches the path minimum)
    import org.apache.spark.sql.functions.col
    val n = 10000
    val rnd = new scala.util.Random(7)
    val edges = rnd.shuffle((0 until n - 1).map(i =>
      (i.toLong, i.toLong + 1))).toDF("id1", "id2")
      .select(col("id1").as("a"), col("id2").as("b"))
    val (labels, rounds) =
      DedupOps.connectedComponentsDistributed(edges, maxIter = 50)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), "a node missed the component minimum")
    // log2(10000) ≈ 13.3; the alternation halves tree height per round
    // (+1 fixpoint-confirmation round). 25 is a loose sublinear pin —
    // regressing to diameter-bound behavior would need ~10,000.
    assert(rounds <= 25, s"path graph took $rounds rounds")
  }

  test("LSH hot-bucket cap drops saturated buckets and counts the drops") {
    val s = spark
    import s.implicits._
    // adversarial corpus: 10 byte-identical docs land every band in one
    // bucket of size 10 — uncapped, the band join would emit 45 pairs
    // from pure degeneracy; capped at 4 the bucket is dropped whole and
    // only the independent 2-doc near-dup pair survives
    val docs = ((1L to 10L).map(i => (i, "the same degenerate text " * 3))
      ++ Seq((11L, "a genuinely distinct pair doc"),
        (12L, "a genuinely distinct pair doc")))
      .toDF("doc_id", "text")

    // the cap Filter keeps the 2 distinct docs' index rows, drops the
    // 10 degenerate docs' rows (read from every cap Filter of the plan)
    def kept(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      CepExecMetrics.nodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.references.exists(_.name == "__bsz") =>
          f.metrics("numOutputRows").value
      }
    val mhDf = DedupOps.minHashLshPairs(docs, "doc_id", "text",
      maxBucketSize = 4L)
    val mh = mhDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((11L, 12L)), s"capped minhash pairs: $mh")
    val bands = DedupOps.MinHashParams().bands
    assert(kept(mhDf).nonEmpty && kept(mhDf).forall(_ == 2L * bands),
      s"cap kept ${kept(mhDf)} index rows, not 2 docs x $bands bands")
    // uncapped control: the degenerate clique is all there
    val un = DedupOps.minHashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un.size == 45 + 1)
    spark.catalog.clearCache()

    val shDf = DedupOps.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
      maxBucketSize = 4L)
    val sh = shDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == Set((11L, 12L)), s"capped simhash pairs: $sh")
    assert(kept(shDf).nonEmpty && kept(shDf).forall(_ == 2L * 4),
      s"simhash: cap kept ${kept(shDf)} index rows, not 2 docs x 4 bands")
    spark.catalog.clearCache()

    // RHP LSH over identical vectors: same valve, same outcome
    val vecs = ((1L to 10L).map(i => (i, Seq.fill(8)(1.0f)))
      ++ Seq((11L, Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)),
        (12L, Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f))))
      .toDF("vec_id", "embedding")
    val rhp = Similarity.lshNearNeighbors(vecs, "vec_id", "embedding",
      dim = 8, simMicro = 900000L, bandBits = 8, maxBucketSize = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rhp == Set((11L, 12L)), s"capped rhp pairs: $rhp")
    spark.catalog.clearCache()
  }

  test("deterministic sampling is partitioning-invariant and rate-bounded") {
    val s = spark
    import s.implicits._
    val df = (1L to 1000L).map(i => i -> ("r" + i)).toDF("id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).toSet
    val a = ids(Sampling.deterministicSample(df, "id", 200))
    val b = ids(Sampling.deterministicSample(df.repartition(7), "id", 200))
    assert(a == b, "sample changed under repartitioning")
    assert(a.nonEmpty && a.size < 400, s"rate 20% kept ${a.size}/1000")
    assert(ids(Sampling.deterministicSample(df, "id", 0)).isEmpty)
    assert(ids(Sampling.deterministicSample(df, "id", 1000)).size == 1000)
    // a higher rate strictly contains a lower one (same hash, same cut)
    val wide = ids(Sampling.deterministicSample(df, "id", 500))
    assert(a.subsetOf(wide))
  }

  test("stratified sampling applies per-stratum rates") {
    val s = spark
    import s.implicits._
    val df = ((1L to 100L).map(i => (i, "en")) ++
      (101L to 200L).map(i => (i, "de"))).toDF("id", "lang")
    val kept = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 0), defaultMilli = 1000)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.forall(_._2 == "de"), "rate-0 stratum leaked rows")
    assert(kept.length == 100, "default rate 1000 must keep all of 'de'")
  }

  test("null text/id rows are excluded, never NPE, across the dedup/ANN ops") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(1L), Some("a b c d e")),
      (Some(2L), Some("a b c d e")),
      (Some(3L), None),            // null text
      (None: Option[Long], Some("x y z w v"))) // null id
      .toDF("doc_id", "text")
    // every op must run and cover exactly docs 1 and 2
    val idx = DedupOps.shingleIndex(df, "doc_id", "text")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idx == Set(1L, 2L))
    val sigs = DedupOps.minHashSignatures(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(sigs == Set(1L, 2L))
    val sh = DedupOps.simHash(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(sh == Set(1L, 2L))
    val pairs = DedupOps.ngramJaccardPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))

    val emb = Seq(
      (Some(1L), Some(Seq(1.0f, 0.0f))),
      (Some(2L), Some(Seq(0.9f, 0.1f))),
      (Some(3L), None),            // null vector
      (None: Option[Long], Some(Seq(0.0f, 1.0f)))) // null id
      .toDF("vec_id", "embedding")
    val knn = Similarity.knnBruteForce(emb, emb, "vec_id", "embedding", 2)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(knn == Set(1L, 2L))
    val ivf = Similarity.ivfTopK(emb, emb, "vec_id", "embedding", 2, 2, 2)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ivf == Set(1L, 2L))
    val lsh = Similarity.lshNearNeighbors(emb, "vec_id", "embedding",
      dim = 2, simMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) })
  }

  test("digest-keyed exact dedup equals text-keyed exact dedup") {
    val df = docs(1L -> "same text", 2L -> "same text", 3L -> "other")
    def rows(byDigest: Boolean) =
      DedupOps.exactDedup(df, "doc_id", "text", byDigest).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(byDigest = true) == rows(byDigest = false))
    assert(rows(byDigest = true) ==
      Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("minhash: identical texts share full signatures; disjoint do not") {
    val df = docs(1L -> "a b c d e f", 2L -> "a b c d e f",
      3L -> "p q r s t u")
    val sigs = DedupOps.minHashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("minhash LSH surfaces identical pair at est 1000") {
    val df = docs(1L -> "a b c d e f", 2L -> "a b c d e f",
      3L -> "p q r s t u")
    val pairs = DedupOps.minHashLshPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 1000L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical texts at hamming 0, near texts nearer than far") {
    val df = docs(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz",
      4L -> "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")
    val h = DedupOps.simHash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) == 0)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("knn brute force: exact neighbors on constructed vectors") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnBruteForce(df, df, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L) // closest to (1,0) is (0.9,0.1)
    assert(out(2L) == 1L)
    assert(out(3L) == 2L) // (0.9,0.1) has nonzero cosine vs (0,1)
  }

  test("ivf with full probe coverage equals brute force; partial probes subset") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.9f, 0.1f)),
      (5L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // nlist = corpus size, nprobe = nlist → every cell probed → exact
    val full = rows(Similarity.ivfTopK(df, df, "vec_id", "embedding",
      k = 2, nlist = 5, nprobe = 5))
    val exact = rows(Similarity.knnBruteForce(df, df, "vec_id", "embedding",
      k = 2))
    assert(full == exact)
    // partial probing returns a subset of the exact candidate set per query
    val partial = Similarity.ivfTopK(df, df, "vec_id", "embedding",
      k = 2, nlist = 3, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Similarity.knnBruteForce(df, df, "vec_id", "embedding",
      k = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(partial.subsetOf(exactPairs))
  }

  test("repetition score: duplicate bigram fraction, short docs score 0") {
    val df = docs(
      1L -> "a b a b a b",   // bigrams: ab ba ab ba ab → 5 total, 2 distinct
      2L -> "w x y z",       // all distinct → 0
      3L -> "solo")          // < n tokens → 0 grams, 0 score
    val out = TextOps.repetitionScore(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((5L, 2L, 600L))) // (5-2)/5 = 600 milli
    assert(out(2L) == ((3L, 3L, 0L)))
    assert(out(3L) == ((0L, 0L, 0L)))
  }

  test("token counts: bpe-ish regex splits letter/digit/symbol runs") {
    val df = docs(1L -> "ab3 x, 42!!")
    val r = TextOps.tokenCounts(df, "doc_id", "text").collect()(0)
    assert(r.getLong(1) == 3L) // whitespace: ab3 | x, | 42!!
    // bpe-ish: [ab][3][ x][,][ 42][!!]
    assert(r.getLong(2) == 6L)
  }

  test("rhp LSH: identical vectors always pair; rerank keeps threshold") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (3L, Seq(-4.0f, 3.0f, -2.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshNearNeighbors(df, "vec_id", "embedding", dim = 4,
      simMicro = 990000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("multimodal: stub features are windowed byte sums over the payload") {
    val s = spark
    import s.implicits._
    val df = Seq((7L, "abcdefghij", "srcX")).toDF("doc_id", "text", "source")
    val assets = MultiModal.ingestFromText(df, "doc_id", "text", "source")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "modality", "payload", "meta"))
    val feats = MultiModal.extractFeatures(assets).collect()(0)
    assert(feats.getLong(0) == 7L)
    assert(feats.getLong(2) == 10L)
    val f = feats.getSeq[Long](3)
    // bytes 'a'..'j': positions 0..9; f0 = 'a'+'i', f1 = 'b'+'j', f2 = 'c'…
    assert(f == Seq('a' + 'i', 'b' + 'j', 'c'.toLong, 'd'.toLong,
      'e'.toLong, 'f'.toLong, 'g'.toLong, 'h'.toLong).map(_.toLong))
  }

  test("multimodal resize and frame sampling are deterministic byte ops") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "abcdefgh", "src")).toDF("doc_id", "text", "source")
    val assets = MultiModal.ingestFromText(df, "doc_id", "text", "source")
    // resize 8 bytes -> 4: windows of 2, averaged
    val resized = MultiModal.resize(assets, 4).collect()(0)
    val bytes = resized.getAs[Array[Byte]](2)
    assert(bytes.toSeq == Seq(('a' + 'b') / 2, ('c' + 'd') / 2,
      ('e' + 'f') / 2, ('g' + 'h') / 2).map(_.toByte))
    assert(resized.getStruct(3).getLong(0) == 4L)
    // frames of 3 bytes, stride 2 -> frames 0 and 2 ("abc", "ghi"-less)
    val df2 = Seq((2L, "abcdefghi", "src")).toDF("doc_id", "text", "source")
    val frames = MultiModal.frameSample(
      MultiModal.ingestFromText(df2, "doc_id", "text", "source"), 3, 2)
      .collect().map(r => (r.getLong(1),
        new String(r.getAs[Array[Byte]](2), "UTF-8"))).toSet
    assert(frames == Set((0L, "abc"), (2L, "ghi")))
  }

  test("kmv sketch: exact below k, within 20% above k") {
    val s = spark
    import s.implicits._
    // 50 distinct values < k=256 → exact count
    val small = (1 to 50).map(i => s"tok$i").toDF("v")
    val r1 = Sketches.kmvDistinct(small, "v", 256).collect()(0)
    assert(r1.getLong(0) == 50L && r1.getLong(2) == 50L)
    // 5000 distinct values > k → estimate within 20%
    val big = (1 to 5000).map(i => s"token$i").toDF("v")
    val r2 = Sketches.kmvDistinct(big, "v", 256).collect()(0)
    assert(r2.getLong(0) == 256L)
    val est = r2.getLong(2).toDouble
    assert(est > 4000 && est < 6000, s"est=$est")
  }

  test("text stats: counts and quality score") {
    val df = docs(1L -> "a b a c, d!")
    val r = TextOps.textStats(df, "doc_id", "text").collect()(0)
    assert(r.getLong(1) == 5L) // tokens: a b a c, d!
    assert(r.getLong(3) == 11L) // chars
    assert(r.getLong(4) == 2L) // , and !
  }

  test("lang id: marker votes with deterministic tie-break") {
    val df = docs(
      1L -> "the cat and the dog",  // en markers: the, and, the → 3
      2L -> "der hund und die katze ist da", // de: der, und, die, ist → 4
      3L -> "xyz abc")              // no markers → und
    val out = TextOps.langId(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("temperature quota: ⌊√n⌋-proportional budgets, hash-order keep, " +
      "partitioning-invariant") {
    val s2 = spark
    import s2.implicits._
    // strata sized 100/25/4 → √ = 10/5/2, Σ = 17
    val rows = (1L to 100L).map(i => (i, "a")) ++
      (101L to 125L).map(i => (i, "b")) ++ (126L to 129L).map(i => (i, "c"))
    val df = rows.toDF("doc_id", "lang")
    val out = Sampling.temperatureQuotaSample(df, "doc_id", "lang", 170L)
    // join output order: (lang, doc_id, n_stratum, quota)
    val got = out.collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(1)))
    val quotas = got.map(t => t._1 -> t._3).toMap
    assert(quotas == Map("a" -> 100L, "b" -> 50L, "c" -> 20L))
    // kept = min(n, quota): the op selects, it does not repeat rows
    val kept = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(kept == Map("a" -> 100, "b" -> 25, "c" -> 4))
    // smaller budget exercises the integer floor: 17·s/17 = s
    val q2 = Sampling.temperatureQuotaSample(df, "doc_id", "lang", 17L)
      .select("lang", "quota").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q2 == Map("a" -> 10L, "b" -> 5L, "c" -> 2L))
    val a = out.collect().map(_.toSeq).toSet
    val b = Sampling.temperatureQuotaSample(df.repartition(7), "doc_id",
      "lang", 170L).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("hll registers match the trailing-zero reference; shards merge " +
      "by max") {
    val s2 = spark
    import s2.implicits._
    val vals = Seq.tabulate(400)(i => s"tok$i")
    // independent reference: java trailing-zero intrinsic vs the SQL
    // CASE chain
    def rhoRef(h: Long): Long =
      if (h == 0L) Sketches.hllRhoCap.toLong
      else math.min(java.lang.Long.numberOfTrailingZeros(h) + 1,
        Sketches.hllRhoCap).toLong
    val expect = vals
      .map(v => (DedupOps.polyHashJvm(v, 131L) % Sketches.hllM,
        rhoRef(DedupOps.polyHashJvm(v, 131L) *
          DedupOps.polyHashJvm(v, 257L) % 1000000007L)))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    val regs = Sketches.hllSketch(vals.toDF("tok"), "tok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(regs.size == Sketches.hllM)
    regs.foreach { case (b, r) =>
      assert(r == expect.getOrElse(b, 0L), s"bucket $b")
    }
    // shard merge: cell-wise max equals the whole-corpus registers
    val (p1, p2) = vals.splitAt(150)
    val merged = Sketches.hllSketch(p1.toDF("tok"), "tok")
      .union(Sketches.hllSketch(p2.toDF("tok"), "tok"))
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.max("r").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == regs)
  }

  test("grouped hll equals the ungrouped report run per group") {
    val s2 = spark
    import s2.implicits._
    val rows = Seq.tabulate(6000)(i =>
      (s"g${i % 3}", s"v${i % (700 + 300 * (i % 3))}"))
    val df = rows.toDF("g", "k")
    val grouped = Sketches.hllReportBy(df, "k", Seq("g")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq("g0", "g1", "g2").foreach { g =>
      val r = Sketches.hllReport(df.filter($"g" === g), "k").collect()(0)
      assert(grouped(g) == ((r.getLong(1), r.getLong(2))), s"group $g")
    }
  }

  test("hll estimate lands near the exact count and is " +
      "partitioning-invariant") {
    val s2 = spark
    import s2.implicits._
    val df = Seq.tabulate(20000)(i => s"w${i % 5000}").toDF("tok")
    val r = Sketches.hllReport(df, "tok").collect()(0)
    val (est, exact) = (r.getLong(1), r.getLong(2))
    assert(exact == 5000L)
    // standard error 1.04/√1024 ≈ 3.3%; 10% is a loose deterministic pin
    assert(math.abs(est - exact) <= exact / 10,
      s"est $est vs exact $exact")
    val rep = Sketches.hllReport(df.repartition(7), "tok").collect()(0)
    assert(rep.getLong(1) == est)
  }
  test("ppsSystematicSample: all-integer PPS — at most k per stratum, " +
    "stride-heavy rows always picked, weight share drives inclusion") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(20260823L)
    // stratum a: one giant row among small ones; stratum b: uniform
    val rows =
      (1 to 400).map(i => (i.toLong, "a",
        if (i == 137) 100000L else 1L + rnd.nextInt(5))) ++
      (401 to 800).map(i => (i.toLong, "b", 10L))
    val df = rows.toDF("id", "grp", "w")
    val k = 20
    val picked = Sampling.ppsSystematicSample(df, "id", "grp", "w", k)
      .collect().map(r => (r.getLong(0), r.getString(1))).toVector
    val byGrp = picked.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byGrp.values.forall(_ <= k), byGrp.toString)
    // uniform stratum b: exactly k picks (the grid lands k times)
    assert(byGrp("b") == k, byGrp.toString)
    // the giant row dominates stratum a's total: it absorbs most of
    // the stride grid (emitted ONCE — sampling without replacement),
    // so a's DISTINCT pick count collapses while the giant is certain
    assert(picked.contains((137L, "a")))
    assert(byGrp("a") >= 1 && byGrp("a") <= k, byGrp.toString)
    // deterministic: repartitioning changes nothing
    val again = Sampling.ppsSystematicSample(df.repartition(7), "id",
      "grp", "w", k).collect().map(r => (r.getLong(0), r.getString(1)))
      .toVector.sortBy(_._1)
    assert(again == picked.sortBy(_._1))
  }
}

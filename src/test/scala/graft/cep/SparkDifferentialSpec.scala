package graft.cep

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Spark-layer differential sampling: every 500th corpus case runs through
  * the full `SparkCep.matchPatternExec` path (DataFrame → prefilter →
  * exchange → sort → NFA → match rows) in global mode and must produce
  * the in-memory operator's matches — same bindings, same order. Guards
  * the Spark integration (column mapping, pushdown, ordering) against the
  * whole shape cross-product, not just hand-picked patterns.
  */
class SparkDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def loadSample(step: Int,
      resource: String = "/differential/cases.jsonl.gz")
      : Vector[(Int, String, Vector[(String, Int, Int)])] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, "differential corpus missing")
    val gz = new java.util.zip.GZIPInputStream(in)
    scala.io.Source.fromInputStream(gz, "UTF-8").getLines().zipWithIndex
      .collect { case (line, i) if i % step == 0 => line }
      .map { line =>
        val j = JsonMethods.parse(line)
        val id = (j \ "id") match { case JInt(v) => v.toInt; case _ => -1 }
        val JString(query) = (j \ "query"): @unchecked
        val input = (j \ "input") match {
          case JArray(evs) => evs.map {
            case JArray(List(JString(t), JInt(n), JInt(p))) =>
              (t, n.toInt, p.toInt)
            case other => fail(s"bad input $other")
          }.toVector
          case other => fail(s"bad input list $other")
        }
        (id, query, input)
      }.toVector
  }

  /** Run every 500th corpus case through `runner` in global mode and
    * require the in-memory operator's matches, including order.
    */
  private def checkSampledGlobal(label: String,
      runner: (org.apache.spark.sql.DataFrame, CepQuery,
        SparkCep.CepSpec) => org.apache.spark.sql.DataFrame,
      step: Int = 500,
      resource: String = "/differential/cases.jsonl.gz"): Unit = {
    val s = spark
    import s.implicits._
    val sample = loadSample(step, resource)
    assert(sample.nonEmpty)
    var checked = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((id, queryYaml, input) <- sample) {
      val q = YamlQuery.fromYaml(queryYaml)
      val events = input.zipWithIndex.map { case ((t, nm, pr), i) =>
        Event(t, Vector("id" -> (i + 1).toLong, "name" -> nm.toLong,
          "price" -> pr.toLong))
      }
      val names = SparkCep.patternNames(q.patseq)
      val want = CepOperator.run(q, events).map(m =>
        names.map(n => m.toMap.getOrElse(n, Vector.empty).map(_("id"))))

      val df = input.zipWithIndex.map { case ((t, nm, pr), i) =>
        ((i + 1).toLong, t, nm.toLong, pr.toLong)
      }.toDF("id", "type", "name", "price")
      val spec = SparkCep.CepSpec(None, "id", "type", Seq("name", "price"))
      val got = runner(df, q, spec).collect().toVector
        .map(r => names.indices.map(i => r.getSeq[Long](i)).toVector)

      if (got != want && failures.length < 3)
        failures += s"case $id: want=$want got=$got"
      checked += 1
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    info(s"$checked sampled cases matched through $label")
  }

  test("sampled corpus cases match through the Catalyst-planned operator") {
    checkSampledGlobal("CepMatchExec",
      (df, q, spec) => SparkCep.matchPatternExec(df, q, spec))
  }

  test("sampled LONG-stream cases (100-1,000 events) match through the " +
    "Catalyst-planned operator") {
    // the InternalRow NFA loop + pushdown on inputs where runs cross
    // hundreds of noise events — the regime the 9-event corpus never
    // enters on the Spark layer
    checkSampledGlobal("CepMatchExec/long",
      (df, q, spec) => SparkCep.matchPatternExec(df, q, spec),
      step = 25, resource = "/differential/cases_long.jsonl.gz")
  }

  test("keyed mode isolates interleaved key copies across sampled shapes") {
    val s = spark
    import s.implicits._
    val sample = loadSample(1000)
    var checked = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((id, queryYaml, input) <- sample) {
      val q = YamlQuery.fromYaml(queryYaml)
      val events = input.zipWithIndex.map { case ((t, nm, pr), i) =>
        Event(t, Vector("id" -> (i + 1).toLong, "name" -> nm.toLong,
          "price" -> pr.toLong))
      }
      val names = SparkCep.patternNames(q.patseq)
      val want = CepOperator.run(q, events).map(m =>
        names.map(n => m.toMap.getOrElse(n, Vector.empty).map(_("id"))))

      // two keys, rows interleaved; each key carries the full sequence
      // (same per-key ids so both keys must reproduce `want` exactly)
      val rows = input.zipWithIndex.flatMap { case ((t, nm, pr), i) =>
        Seq((7L, (i + 1).toLong, t, nm.toLong, pr.toLong),
          (9L, (i + 1).toLong, t, nm.toLong, pr.toLong))
      }
      val df = rows.toDF("k", "id", "type", "name", "price")
      val spec = SparkCep.CepSpec(Some("k"), "id", "type",
        Seq("name", "price"))
      val got = SparkCep.matchPatternExec(df, q, spec).collect().toVector
        .groupBy(_.getLong(0))
        .map { case (k, rs) =>
          k -> rs.map(r =>
            names.indices.map(i => r.getSeq[Long](i + 1)).toVector)
        }
      val ok = got.keySet == Set(7L, 9L) &&
        got.values.forall(_ == want) ||
        (want.isEmpty && got.isEmpty)
      if (!ok && failures.length < 3)
        failures += s"case $id: want=$want got=$got"
      checked += 1
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    info(s"$checked sampled cases isolated correctly under keys")
  }

  test("sampled corpus cases match through streaming CEP across batches") {
    checkSampledStreaming(loadSample(2000), nBatches = 2)
  }

  test("sampled LONG-stream cases match through streaming CEP across " +
    "four micro-batches") {
    // live runs persisting across MANY micro-batch boundaries with long
    // noise gaps between takes — the state-codec round-trip regime the
    // 9-event inputs touch only once
    checkSampledStreaming(
      loadSample(100, "/differential/cases_long.jsonl.gz"), nBatches = 4)
  }

  private def checkSampledStreaming(
      sample: Vector[(Int, String, Vector[(String, Int, Int)])],
      nBatches: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    assert(sample.nonEmpty)
    var checked = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((id, queryYaml, input) <- sample) {
      val q = YamlQuery.fromYaml(queryYaml)
      val events = input.zipWithIndex.map { case ((t, nm, pr), i) =>
        Event(t, Vector("id" -> (i + 1).toLong, "name" -> nm.toLong,
          "price" -> pr.toLong))
      }
      val names = SparkCep.patternNames(q.patseq)
      val want = CepOperator.run(q, events).map(m =>
        names.map(n => m.toMap.getOrElse(n, Vector.empty).map(_("id"))))
        .toSet

      val rows = input.zipWithIndex.map { case ((t, nm, pr), i) =>
        ((i + 1).toLong, t, nm.toLong, pr.toLong)
      }
      val batchSize = math.max(1, (rows.length + nBatches - 1) / nBatches)
      val batches = rows.grouped(batchSize).toVector
      val mem = MemoryStream[(Long, String, Long, Long)]
      val spec = SparkCep.CepSpec(None, "id", "type", Seq("name", "price"))
      val out = StreamingCep.matchPattern(
        mem.toDF().toDF("id", "type", "name", "price"), q, spec)
      val qn = s"sdiff_$id"
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        for (b <- batches if b.nonEmpty) {
          mem.addData(b: _*); sq.processAllAvailable()
        }
      } finally sq.stop()
      val got = spark.table(qn).collect().toVector
        .map(r => names.indices.map(i => r.getSeq[Long](i)).toVector)
        .toSet
      if (got != want && failures.length < 3)
        failures += s"case $id: want=$want got=$got"
      checked += 1
      spark.sql(s"DROP TABLE IF EXISTS $qn")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    info(s"$checked sampled cases matched through streaming CEP")
  }
}

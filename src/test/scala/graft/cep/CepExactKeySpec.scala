package graft.cep

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** String-keyed event fixture for the exact-key gates. */
case class SEv(skey: String, event_id: Long, event_type: String,
    value: Long)
/** Two-column-keyed event fixture (multi-column PARTITION BY). */
case class MEv(u: Long, region: String, event_id: Long,
    event_type: String, value: Long)

/** The EXACT-KEY contract (round 16 — retires the xxhash64 hashed-key
  * trade-off): non-numeric CEP keys are carried through the operators,
  * the measures tiers, the streaming state store and the output
  * VERBATIM. Gates here:
  *
  *  - batch: string keys surface as raw strings in the match frame and
  *    the measures output; the attribute join keys on the string;
  *  - streaming: string keys group/state/emit exactly, batch==stream,
  *    and a checkpointed restart completes a partial match (the state
  *    store's KEY schema is now the key's own type);
  *  - switching the key type over an existing checkpoint is refused by
  *    Spark's state schema check (the loud migration contract);
  *  - multi-column PARTITION BY streams in BOTH time modes via the
  *    exact composite struct key (`StreamingCep.matchPatternMeasures` /
  *    `...EventTime`), batch==stream against `CepMeasures.run`'s
  *    dispatch, original columns leading the output.
  */
class CepExactKeySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val schema: Vector[(String, Vector[String])] = Vector(
    "signup" -> Vector("event_id", "value"),
    "click" -> Vector("event_id", "value"),
    "purchase" -> Vector("event_id", "value"))
  private val sSpec = SparkCep.CepSpec(Some("skey"), "event_id",
    "event_type", Seq("value"))

  private def strEvents(n: Int, seed: Long): Vector[SEv] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("signup", "click", "purchase", "view")
    (1 to n).map(i => SEv(s"user-${1 + rnd.nextInt(4)}", i.toLong,
      types(rnd.nextInt(4)), rnd.nextInt(50).toLong)).toVector
  }

  private val sSt = CepSql.parseStatement(
    "PATTERN (a b) MEASURES FIRST(a) AS a_id, SUM(b.value) AS b_v " +
      "PARTITION BY skey ORDER BY event_id TYPE event_type " +
      "DEFINE a AS signup; b AS purchase", schema)

  test("batch: string keys are exact end to end — raw string in the " +
    "match frame, the measures join and the measures output") {
    val s = spark
    import s.implicits._
    val evs = strEvents(200, 20260816L)
    val df = evs.toDF()
    // the plain match frame: key column is StringType with raw values
    val q = sSt.query
    val mf = SparkCep.matchPatternExec(df, q, sSpec)
    assert(mf.schema("skey").dataType == StringType)
    val model = CepModel.matches(df, q, sSpec)
    val exec = CepModel.canon(mf)
    assert(model == exec && model.nonEmpty)
    // measures output: key leads, raw string, attribute join exact
    val out = CepMeasures.run(df, sSt, sSpec).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(out.nonEmpty)
    // per-key oracle in plain scala: strict signup->purchase pairs
    val want = evs.groupBy(_.skey).toSeq.flatMap { case (k, es) =>
      val sorted = es.sortBy(_.event_id)
      sorted.zip(sorted.drop(1)).collect {
        case (a, b) if a.event_type == "signup" &&
            b.event_type == "purchase" => (k, a.event_id, b.value)
      }
    }.sorted
    assert(out.toSeq == want)
  }

  test("streaming: string-keyed matchPattern == batch across " +
    "micro-batch boundaries") {
    val s = spark
    import s.implicits._
    val evs = strEvents(120, 20260817L)
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[SEv]
    val out = StreamingCep.matchPattern(mem.toDF(), sSt.query, sSpec)
    assert(out.schema("skey").dataType == StringType)
    val q = out.writeStream.format("memory").queryName("cep_skey_stream")
      .outputMode("append").start()
    try {
      evs.grouped(30).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = s.sql("SELECT * FROM cep_skey_stream").collect()
      .map(_.toString).sorted.toVector
    val batch = SparkCep.matchPatternExec(evs.toDF(), sSt.query, sSpec)
      .collect().map(_.toString).sorted.toVector
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming: string-keyed state survives a checkpointed restart; " +
    "switching the key type over the checkpoint is refused") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-skey").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val inSchema = StructType(Seq(
      StructField("skey", StringType), StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", LongType)))

    def startQuery() = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir, inSchema)
      StreamingCep.matchPatternMeasures(in, sSt, sSpec)
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }

    // batch 1: the signup only — a partial run held under a STRING key
    Seq(("alice", 1L, "signup", 0L))
      .toDF("skey", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // restart: the purchase completes the match under the same key
    Seq(("alice", 2L, "purchase", 9L))
      .toDF("skey", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val outSchema = StructType(Seq(
      StructField("skey", StringType), StructField("a_id", LongType),
      StructField("b_v", LongType)))
    val out = spark.read.schema(outSchema).json(outDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("alice", 1L, 9L)))

    // key-TYPE switch over the same checkpoint: the state store's key
    // schema is string — resuming with a long key must fail loudly
    // (Spark's state schema check), never silently re-key
    val longSt = CepSql.parseStatement(
      "PATTERN (a b) MEASURES FIRST(a) AS a_id, SUM(b.value) AS b_v " +
        "PARTITION BY event_id ORDER BY event_id TYPE event_type " +
        "DEFINE a AS signup; b AS purchase", schema)
    val longSpec = SparkCep.CepSpec(Some("event_id"), "event_id",
      "event_type", Seq("value"))
    Seq(("bob", 3L, "signup", 0L))
      .toDF("skey", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val in3 = graft.sources.EventSource.jsonStream(spark, inDir, inSchema)
    val q3 = StreamingCep.matchPatternMeasures(in3, longSt, longSpec)
      .writeStream.format("json")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(e.getMessage.toLowerCase.contains("schema"),
      s"expected a state key-schema refusal, got: ${e.getMessage}")
  }

  // ----------------------------------------------------- multi-column

  private val mSt = CepSql.parseStatement(
    "PATTERN (a b) " +
      "MEASURES FIRST(a) AS a_id, LAST(b) AS b_id, SUM(b.value) AS b_v " +
      "PARTITION BY u, region ORDER BY event_id TYPE event_type " +
      "DEFINE a AS click; b AS click", schema)
  private val mSpecNoKey =
    SparkCep.CepSpec(None, "event_id", "event_type", Seq("value"))

  private def mEvents(n: Int, seed: Long): Vector[MEv] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("click", "purchase", "view")
    val regions = Vector("eu", "us")
    (1 to n).map(i => MEv(1L + rnd.nextInt(3),
      regions(rnd.nextInt(2)), i.toLong, types(rnd.nextInt(3)),
      rnd.nextInt(50).toLong)).toVector
  }

  private def mShape(rows: Array[Row]): Vector[(Long, String, Long,
      Long, Long)] =
    rows.map(r => (r.getLong(r.fieldIndex("u")),
      r.getString(r.fieldIndex("region")),
      r.getLong(r.fieldIndex("a_id")), r.getLong(r.fieldIndex("b_id")),
      r.getLong(r.fieldIndex("b_v")))).toVector.sorted

  test("streaming multi-column PARTITION BY (arrival order) == batch " +
    "runMultiKey across micro-batch boundaries; original columns lead") {
    val s = spark
    import s.implicits._
    val evs = mEvents(150, 20260818L)
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[MEv]
    val out = StreamingCep.matchPatternMeasures(mem.toDF(), mSt, mSpecNoKey)
    assert(out.columns.take(2).toSeq == Seq("u", "region"))
    assert(out.schema("region").dataType == StringType)
    val q = out.writeStream.format("memory").queryName("cep_mkey_stream")
      .outputMode("append").start()
    try {
      evs.grouped(40).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = mShape(s.sql("SELECT * FROM cep_mkey_stream").collect())
    val batch = mShape(CepMeasures.run(evs.toDF(), mSt).collect())
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming multi-column PARTITION BY (event time) == batch on " +
    "out-of-order input") {
    val s = spark
    import s.implicits._
    val evs = mEvents(150, 20260819L)
    val batch = mShape(CepMeasures.run(evs.toDF(), mSt).collect())
    assert(batch.nonEmpty)
    // ts = event_id + 1 seconds (never epoch 0); four TIME slices with
    // ~20% of events displaced one slice later (the established
    // out-of-order construction — lateness is bounded by one slice
    // width, which the watermark delay covers), scrambled within each
    // slice file
    val width = 150L / 4 + 1
    val delaySec = width + 10
    val dir = Files.createTempDirectory("mkey-et").toString + "/in"
    val base = evs.toDF()
      .withColumn("ts", (col("event_id") + 1).cast("timestamp"))
      .withColumn("slice", least(lit(3L),
        floor((col("event_id") - 1) / width) +
          when(pmod(xxhash64(col("event_id")), lit(5L)) === 0L, 1L)
            .otherwise(0L)))
    for (sl <- 0L until 4L)
      base.filter(col("slice") === sl).drop("slice")
        .orderBy(xxhash64(col("event_id"))).coalesce(1)
        .write.mode("append").parquet(dir)
    // flush sentinels advance the watermark past every buffered event.
    // They need REAL (non-null) partition columns: the null-key drop is
    // a plain deterministic predicate Catalyst pushes below the
    // watermark node, so a NULL-keyed row never advances the clock
    // (consistent with the documented heartbeat contract — any event
    // with a non-null key and ts moves the watermark). Filtered from
    // the output below by key.
    for (k <- 2L to 3L)
      Seq((160L + k) -> (1000L + k * delaySec)).toDF("event_id", "tsec")
        .select(lit(-1L).as("u"), lit("zz").as("region"), col("event_id"),
          lit("__flush").as("event_type"), lit(0L).as("value"),
          col("tsec").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    val streamDf = s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = StreamingCep.matchPatternMeasuresEventTime(streamDf, mSt,
      mSpecNoKey, tsCol = "ts", delay = s"$delaySec seconds")
    assert(out.columns.take(2).toSeq == Seq("u", "region"))
    val sq = out.writeStream.format("memory").queryName("cep_mkey_et")
      .outputMode("append").start()
    val streamed =
      try {
        sq.processAllAvailable()
        mShape(s.sql("SELECT * FROM cep_mkey_et")
          .where(col("u") =!= -1L).collect())
      } finally sq.stop()
    assert(streamed == batch,
      s"event-time multi-key diverged: ${streamed.length} vs " +
        s"${batch.length}")
  }

  test("streaming multi-column PARTITION BY survives a checkpointed " +
    "restart (partial match completes under the struct key)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ckpt-mkey").toString
    val inDir = s"$dir/in"
    val ckpt = s"$dir/checkpoint"
    val outDir = s"$dir/out"
    val inSchema = StructType(Seq(
      StructField("u", LongType), StructField("region", StringType),
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", LongType)))
    def startQuery() = {
      val in = graft.sources.EventSource.jsonStream(spark, inDir, inSchema)
      StreamingCep.matchPatternMeasures(in, mSt, mSpecNoKey)
        .writeStream.format("json")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // first click of (1, eu); a decoy in (1, us) that must NOT pair
    Seq((1L, "eu", 1L, "click", 5L), (1L, "us", 2L, "click", 7L))
      .toDF("u", "region", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // restart: the second (1, eu) click completes exactly one pair
    Seq((1L, "eu", 3L, "click", 4L))
      .toDF("u", "region", "event_id", "event_type", "value")
      .write.mode("append").json(inDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val outSchema = StructType(Seq(
      StructField("u", LongType), StructField("region", StringType),
      StructField("a_id", LongType), StructField("b_id", LongType),
      StructField("b_v", LongType)))
    val out = mShape(s.read.schema(outSchema).json(outDir).collect()
      .map(identity))
    assert(out == Vector((1L, "eu", 1L, 3L, 4L)))
  }
}

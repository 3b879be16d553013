package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins `ParquetSchema.of` to byte-identity with Spark's own inference
  * for every fixture table and committed artifact layout the engine
  * reads — the footer fast path must never change a schema (round-18
  * optimization: the inference JOB is skipped, the result may not move).
  */
class ParquetSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def check(path: String): Unit = {
    // same flag table() sets before reading fixture tables — restored
    // after the check so other assertions see the session default
    // (r18 advice: the suite used to leave it set globally, so the
    // non-legacy converter path was never exercised)
    val prev = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      val fast = ParquetSchema.of(spark, path)
      assert(fast.isDefined, s"no driver-side schema for $path")
      val inferred = spark.read.parquet(path).schema
      assert(fast.get === inferred, s"schema mismatch for $path")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  test("fixture tables: footer schema == inferred schema (all sfs)") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1");
         t <- Seq("region", "nation", "customer", "supplier", "part",
           "orders", "lineitem", "events", "documents", "embeddings")) {
      val p = s"/root/testdata/$sf/$t.parquet"
      if (new java.io.File(p).exists()) check(p)
    }
  }

  test("committed artifacts: footer schema == inferred schema") {
    for (p <- Seq(Codebooks.coarsePath, Codebooks.pqPath,
      Codebooks.pqResPath, Dsir.weightsPath, QualityModel.weightsPath,
      LangIdModel.modelPath, LangIdModel.corpusPath, Bpe.mergesPath,
      NgramLm.modelPath)) check(p)
  }

  test("non-legacy converter path: footer schema == inferred schema " +
      "with nanosAsLong unset (non-timestamp artifact)") {
    // exercises ParquetToSparkSchemaConverter under the DEFAULT SQLConf —
    // check() above always ran under the legacy flag (r18 advice)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"))
    val p = Dsir.weightsPath
    val fast = ParquetSchema.of(spark, p)
    assert(fast.isDefined, s"no driver-side schema for $p")
    assert(fast.get === spark.read.parquet(p).schema)
  }

  test("multi-part directory with consistent footers resolves; " +
      "mixed footers or summary files bail to None") {
    val dir = java.nio.file.Files.createTempDirectory("psmulti").toFile
    dir.deleteOnExit()
    val pathA = new java.io.File(dir, "a").getAbsolutePath
    val s = spark
    import s.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .repartition(2).write.parquet(pathA)
    val fast = ParquetSchema.of(spark, pathA)
    assert(fast.isDefined)
    assert(fast.get === spark.read.parquet(pathA).schema)
    // summary file present → bail (inference would prefer it)
    val marker = new java.io.File(pathA, "_metadata")
    assert(marker.createNewFile())
    assert(ParquetSchema.of(spark, pathA).isEmpty)
    assert(marker.delete())
    // heterogeneous footers → bail (inference merges/picks by its rules)
    val pathB = new java.io.File(dir, "b").getAbsolutePath
    Seq((1L, 2L)).toDF("id", "n").write.parquet(pathB)
    new java.io.File(pathB).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(pathA, "part-zz-" + f.getName).toPath)
      }
    assert(ParquetSchema.of(spark, pathA).isEmpty)
  }

  test("hive-partitioned trees fall back to inference (None)") {
    val idx = Codebooks.dedupIndexRoot
    if (new java.io.File(idx).exists())
      assert(ParquetSchema.of(spark, idx).isEmpty)
  }

  test("read() returns identical rows to inference") {
    val p = "/root/testdata/sf0.001/events.parquet"
    val a = ParquetSchema.read(spark, p)
    val b = spark.read.parquet(p)
    assert(a.schema === b.schema)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fuzz: Spark-written layouts resolve to the inferred schema or " +
    "fall back") {
    val root = java.nio.file.Files.createTempDirectory("parquet-schema-fuzz")
    for (seed <- Seq(1L, 2L, 3L);
         (name, p) <- ParquetLayouts.write(spark, root, seed)) {
      val inferred = spark.read.parquet(p).schema
      ParquetSchema.of(spark, p).foreach(fast =>
        assert(fast === inferred, s"$name/$seed: schema"))
      if (name != "mixed")
        assert(ParquetSchema.of(spark, p).isDefined, s"$name/$seed: fell back")
    }
  }

  test("fuzz: map, decimal and timestamp layouts resolve to the inferred " +
    "schema, and read the same rows") {
    val root = java.nio.file.Files.createTempDirectory("parquet-schema-typed")
    for (seed <- Seq(1L, 2L, 3L);
         (name, p) <- ParquetLayouts.writeTyped(spark, root, seed)) {
      val viaSpark = spark.read.parquet(p)
      val fast = ParquetSchema.of(spark, p)
      assert(fast.isDefined, s"$name/$seed: fell back")
      assert(fast.get === viaSpark.schema, s"$name/$seed: schema")
      val read = ParquetSchema.read(spark, p)
      assert(read.schema === viaSpark.schema, s"$name/$seed: read schema")
      assert(read.collect().map(_.toString).sorted.toSeq ===
        viaSpark.collect().map(_.toString).sorted.toSeq,
        s"$name/$seed: read rows")
    }
  }
}

package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins `LocalParquet.collect` to value-identity with
  * `spark.read.parquet(path).collect()` for every committed artifact
  * layout the loaders read (round-18 optimization: artifact loads no
  * longer launch cluster jobs — the values may not move).
  */
class LocalParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def canon(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map {
      // Spark collect yields mutable.ArraySeq — match the base Seq type
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  test("artifacts: local collect == spark collect") {
    for (p <- Seq(Codebooks.coarsePath, Codebooks.pqPath,
      Codebooks.pqResPath, Dsir.weightsPath, QualityModel.weightsPath,
      LangIdModel.modelPath, Bpe.mergesPath, NgramLm.modelPath)) {
      val local = LocalParquet.collect(spark, p)
      assert(local.isDefined, s"no local collect for $p")
      val viaSpark = spark.read.parquet(p).collect()
      assert(canon(local.get.toSeq) === canon(viaSpark.toSeq), s"values for $p")
    }
  }

  test("unsupported layouts return None (fallback, never a failure)") {
    // a fixture table with types outside the artifact set (timestamp)
    val events = "/root/testdata/sf0.001/events.parquet"
    assert(LocalParquet.collect(spark, events).isEmpty ||
      canon(LocalParquet.collect(spark, events).get.toSeq) ===
        canon(spark.read.parquet(events).collect().toSeq))
    // nonexistent path
    assert(LocalParquet.collect(spark, "/no/such/path").isEmpty)
    // a legacy 1-level `repeated` int64 column whose values are all
    // empty: Spark reads `[]`, so a local decode to null would be a
    // wrong value — the read must fall back instead
    val legacy = java.nio.file.Files.createTempDirectory("legacy-rep")
      .resolve("rep.parquet").toString
    val repSchema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; repeated int64 xs; }")
    val w = ExampleParquetWriter.builder(new Path(legacy))
      .withType(repSchema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(repSchema).newGroup().append("id", 1L))
    finally w.close()
    assert(canon(spark.read.parquet(legacy).collect().toSeq) === Seq("1|[]"))
    assert(LocalParquet.collect(spark, legacy).isEmpty)
  }

  test("loaders produce identical models through the local path") {
    // loadCoarse sorts locally by cw — compare against the Spark order
    val viaLocal = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val viaSpark = spark.read.parquet(Codebooks.coarsePath).orderBy("cw")
      .collect().map(_.getSeq[Double](1).toArray)
    assert(viaLocal.map(_.toSeq).toSeq === viaSpark.map(_.toSeq).toSeq)
    val pqLocal = Codebooks.loadPq(spark, Codebooks.pqPath)
    assert(pqLocal.length > 0 && pqLocal.head.length > 0)
  }

  test("fuzz: Spark-written layouts collect exactly or fall back") {
    val root = java.nio.file.Files.createTempDirectory("local-parquet-fuzz")
    for (seed <- Seq(1L, 2L, 3L);
         (name, p) <- ParquetLayouts.write(spark, root, seed)) {
      val viaSpark = scala.util.Try(spark.read.parquet(p).collect())
      LocalParquet.collect(spark, p).foreach { local =>
        assert(viaSpark.isSuccess,
          s"$name/$seed: local rows where Spark's read fails")
        assert(canon(local.toSeq) === canon(viaSpark.get.toSeq),
          s"$name/$seed: values")
      }
    }
    // the layouts the fast path exists for must still take it
    for ((name, p) <- ParquetLayouts.write(spark, root, 4L)
         if Set("flat", "lists", "two-parts")(name))
      assert(LocalParquet.collect(spark, p).isDefined, s"$name: fell back")
  }

  test("fuzz: map, decimal and timestamp layouts collect exactly or fall " +
    "back") {
    // the value's class joins its text, so a decimal or a timestamp that
    // decodes as its raw long cannot pass for the real thing
    def typed(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toSeq.map(v =>
        if (v == null) "null" else s"${v.getClass.getName}:$v")
        .mkString("|")).sorted
    val root = java.nio.file.Files.createTempDirectory("local-parquet-typed")
    for (seed <- Seq(1L, 2L, 3L);
         (name, p) <- ParquetLayouts.writeTyped(spark, root, seed)) {
      val viaSpark = spark.read.parquet(p).collect()
      LocalParquet.collect(spark, p).foreach { local =>
        assert(typed(local.toSeq) === typed(viaSpark.toSeq),
          s"$name/$seed: values")
      }
    }
  }
}

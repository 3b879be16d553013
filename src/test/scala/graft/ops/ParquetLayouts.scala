package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded parquet layouts for the driver-side fast path fuzz in
  * `LocalParquetSpec` and `ParquetSchemaSpec`. [[write]] has the
  * layouts the fast paths are meant to take, written by Spark: nullable
  * scalars and an all-null column, `array<double>` with empty and null
  * lists in the standard and the legacy list format, null list
  * elements, a nested struct, two part files of one write, and two
  * appends of different schemas in one directory. [[writeTyped]] has
  * annotated and nested types they must decode exactly or refuse.
  */
object ParquetLayouts {

  /** `(name, path)` of every layout for `seed`, written under `root`. */
  def write(spark: SparkSession, root: java.nio.file.Path, seed: Long)
      : Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val n = 20 + rnd.nextInt(20)
    def maybe(v: => Any): Any = if (rnd.nextInt(4) == 0) null else v
    def list(elemNulls: Boolean): Any = rnd.nextInt(5) match {
      case 0 => null
      case 1 => Seq.empty[Double]
      case _ => Seq.fill(1 + rnd.nextInt(4))(
        if (elemNulls && rnd.nextInt(4) == 0) null
        else java.lang.Double.valueOf(rnd.nextInt(1000) / 8.0))
    }
    val flatSchema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("none", StringType)))
    val flat = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq.tabulate(n)(i => org.apache.spark.sql.Row(
        maybe(i.toLong + rnd.nextInt(100)), maybe(s"s${rnd.nextInt(50)}"),
        maybe(rnd.nextGaussian()), null)), 1), flatSchema)
    def lists(elemNulls: Boolean): DataFrame = {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("xs", ArrayType(DoubleType, elemNulls))))
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq.tabulate(n)(i => org.apache.spark.sql.Row(i.toLong,
          list(elemNulls))), 1),
        schema)
    }
    val dense = lists(elemNulls = false)
    val sparse = lists(elemNulls = true)
    val longs = flat.select(col("id"),
      array(col("id"), col("id") + 1).as("ys"))
    val nested = flat.select(col("id"),
      struct(col("id").as("a"), col("s").as("b")).as("st"))

    def put(name: String, df: DataFrame, legacy: Boolean = false,
        parts: Int = 1): (String, String) = {
      val p = root.resolve(s"$name-$seed.parquet").toString
      val key = "spark.sql.parquet.writeLegacyFormat"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, legacy.toString)
      try df.repartition(parts).write.parquet(p)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      name -> p
    }
    val mixed = put("mixed", flat.select("id", "s"))
    flat.select("id").write.mode(SaveMode.Append).parquet(mixed._2)
    Seq(
      put("flat", flat),
      put("lists", dense), put("lists-legacy", dense, legacy = true),
      put("null-elems", sparse),
      put("null-elems-legacy", sparse, legacy = true),
      put("long-lists", longs), put("nested", nested),
      put("two-parts", flat, parts = 2), mixed)
  }

  /** `(name, path)` of every typed layout for `seed`, written under
    * `root`. Written by Spark: a `map<string,bigint>` column (null,
    * empty and filled maps), `decimal(18,4)`, `timestamp` and
    * `timestamp_ntz`. Written by parquet-hadoop's example writer (no
    * Spark schema in the footer): INT64 columns annotated
    * `TIMESTAMP(MILLIS)` and `DECIMAL(10,2)`.
    */
  def writeTyped(spark: SparkSession, root: java.nio.file.Path, seed: Long)
      : Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val n = 20 + rnd.nextInt(20)
    def maybe(v: => Any): Any = if (rnd.nextInt(4) == 0) null else v
    def put(name: String, dt: DataType, value: () => Any)
        : (String, String) = {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("x", dt)))
      val p = root.resolve(s"$name-$seed.parquet").toString
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq.tabulate(n)(i => Row(i.toLong, maybe(value()))), 1), schema)
        .write.parquet(p)
      name -> p
    }
    val micros = 1700000000000000L
    val bySpark = Seq(
      put("map", MapType(StringType, LongType), () =>
        Seq.tabulate(rnd.nextInt(3))(j => s"k$j" -> rnd.nextInt(100).toLong)
          .toMap),
      put("decimal", DecimalType(18, 4), () =>
        java.math.BigDecimal.valueOf(rnd.nextLong() % 100000000000000L, 4)),
      put("timestamp", TimestampType, () => java.sql.Timestamp.from(
        java.time.Instant.EPOCH.plusNanos(
          (micros + rnd.nextInt(1000000000)) * 1000L))),
      put("timestamp-ntz", TimestampNTZType, () =>
        java.time.LocalDateTime.of(2024, 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60),
          rnd.nextInt(60), rnd.nextInt(1000) * 1000000)))
    val p = root.resolve(s"example-$seed.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; " +
        "optional int64 ts (TIMESTAMP(MILLIS,true)); " +
        "optional int64 amount (DECIMAL(10,2)); }")
    val w = ExampleParquetWriter.builder(new Path(p))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until n).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong)
      if (rnd.nextInt(4) != 0)
        g.append("ts", 1700000000000L + rnd.nextInt(1000000000))
      if (rnd.nextInt(4) != 0)
        g.append("amount", rnd.nextInt(2000000000).toLong - 1000000000L)
      w.write(g)
    } finally w.close()
    bySpark :+ ("example-annotated" -> p)
  }
}

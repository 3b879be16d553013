package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded parquet layouts written by Spark, for the driver-side fast
  * path fuzz in `LocalParquetSpec` and `ParquetSchemaSpec`: nullable
  * scalars and an all-null column, `array<double>` with empty and null
  * lists in the standard and the legacy list format, null list
  * elements, a nested struct, two part files of one write, and two
  * appends of different schemas in one directory.
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
}

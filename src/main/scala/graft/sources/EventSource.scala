package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Uniform source layer for event/document tables: one entry point over
  * Parquet (the native scale format), CSV, and JSON lines, batch or
  * streaming.
  *
  * The reference's only sources are YAML files loaded whole
  * (`/root/reference/reflinkcep/ast.py:69-81`, `exp/run.py:52-61`) —
  * `graft.cep.YamlQuery` covers that surface. This object is the scale
  * path: splittable columnar scans with column pruning and predicate
  * pushdown for Parquet, schema-pinned text formats for interchange.
  *
  * Every reader takes an explicit schema: at 100 TB, schema inference is
  * a full extra pass over the data (and nondeterministic under sampling) —
  * never let the engine guess.
  */
object EventSource {

  /** Parquet scan, the one parquet reader of the fixture tables
    * (`graft.Queries.table` reads through it).
    *
    * Session contract: every call sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the CALLER's session
    * (there is no per-reader option for it) and never resets it, so a
    * timestamp[ns] column reads as long in every other parquet read of
    * that session too — this reader's and any other — rather than
    * failing the scan. The current fixtures carry timestamp[us]
    * (TIMESTAMP_NTZ); for those the flag is a no-op. It exists to keep a
    * ns-typed fixture readable (the physical type has drifted between
    * fixture versions; the ns column lands in `graft.Queries.normalizeTs`'s
    * LongType branch). Consumers that do event-time arithmetic should
    * normalize through `normalizeTs` (canonical long epoch micros).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // driver-side footer schema: skips the per-read inference JOB
    // (~110 ms/build at sf0.1 — ReadOverheadLab; ParquetSchema scaladoc)
    graft.ops.ParquetSchema.read(spark, path)
  }

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Streaming variants: identical schemas, `readStream` instead of
    * `read` — the frames feed `StreamingCep`/`StreamingSessions` directly.
    */
  def parquetStream(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  def csvStream(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.readStream.schema(schema).option("header", header.toString)
      .csv(path)

  def jsonStream(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)
}

package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.spark.sql.{Row, SparkSession}

/** Driver-local collect of a TINY flat parquet artifact (committed model
  * weights, codebooks, merges — KBs, ≤ ~10k rows): reads the part files
  * with parquet-hadoop's example `Group` reader directly on the driver,
  * returning the same `Row`s a `spark.read.parquet(path).collect()`
  * yields, without launching a cluster job.
  *
  * Why (round-18 optimization, guide §5 — "the driver should do almost
  * no data work", and symmetrically the CLUSTER should do no
  * driver-sized work): a Spark collect of a 29-row weights file costs a
  * full job round-trip (~100 ms at sf0.1, worse on a real cluster — task
  * launch + fetch for kilobytes). Model-artifact loading is driver work
  * at ANY scale; every loader already ends in `collect()`.
  *
  * Supported layouts (everything the committed artifacts use): flat
  * schemas of int64, utf8 string, double, and `array<double>`
  * (Spark-written 3-level lists), in part files that share one schema.
  * Anything else — or any decode surprise — returns None and the caller falls back to the cluster read, so this
  * is a fast path, never a new failure mode. Size-capped: artifacts past
  * `maxBytes` (default 32 MB) are refused (they belong on the cluster).
  * Value-identity with `spark.read.parquet().collect()` is spec-pinned
  * per artifact in `LocalParquetSpec`.
  */
object LocalParquet {

  def collect(spark: SparkSession, path: String,
      maxBytes: Long = 32L << 20): Option[Array[Row]] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files =
        if (!st.isDirectory) Array(st)
        else {
          val entries = fs.listStatus(p)
          // mixed layout (top-level part files + partition subdirs) would
          // return PARTIAL rows instead of falling back — any directory
          // entry means the layout is not a flat artifact (r18 advice);
          // mirror ParquetSchema.of and let the cluster read handle it
          if (entries.exists(_.isDirectory)) return None
          entries.filter { e =>
            val n = e.getPath.getName
            e.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")
          }.sortBy(_.getPath.getName)
        }
      if (files.isEmpty || files.map(_.getLen).sum > maxBytes) return None
      // part files of different schemas (appends that add or drop a
      // column): Spark reads every file under ONE footer's schema, while
      // each file here would decode under its own — a row-shape mismatch
      // that must fall back, not be returned
      if (files.length > 1 && files.map(f => ParquetFileReader.readFooter(
          conf, f.getPath, ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .getFileMetaData.getSchema).distinct.length > 1) return None
      val out = Array.newBuilder[Row]
      for (f <- files) {
        val reader = ParquetReader
          .builder(new GroupReadSupport(), f.getPath).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            decodeRow(g) match {
              case Some(r) => out += r
              case None => return None // unsupported shape — fall back
            }
            g = reader.read()
          }
        } finally reader.close()
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One Group → Row with Spark-collect value types (Long, String,
    * Double, Seq[Double]); None on any unsupported field shape.
    */
  private def decodeRow(g: Group): Option[Row] = {
    val schema = g.getType
    val n = schema.getFieldCount
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      val f = schema.getType(i)
      // a `repeated` field (legacy 1-level list) is a LIST, never a
      // nullable scalar: with no values it reads as `[]` in Spark, so it
      // must be rejected before the absent → null shortcut below
      if (f.isRepetition(Type.Repetition.REPEATED)) return None
      if (g.getFieldRepetitionCount(i) == 0) vals(i) = null
      else decodeField(g, f, i) match {
        case Some(v) => vals(i) = v
        case None => return None
      }
      i += 1
    }
    Some(Row.fromSeq(vals.toIndexedSeq))
  }

  private def decodeField(g: Group, f: Type, i: Int): Option[Any] =
    f match {
      // `repeated` fields never get here (rejected in `decodeRow`)
      case p: PrimitiveType =>
        p.getPrimitiveTypeName match {
          // plain or integer-annotated INT64 only: a TIMESTAMP annotation
          // must NOT decode as a raw long (Spark collects it as a
          // timestamp object) — reject so the caller falls back
          case PrimitiveType.PrimitiveTypeName.INT64
              if p.getLogicalTypeAnnotation == null ||
                p.getLogicalTypeAnnotation ==
                  LogicalTypeAnnotation.intType(64, true) =>
            Some(g.getLong(i, 0))
          case PrimitiveType.PrimitiveTypeName.DOUBLE =>
            Some(g.getDouble(i, 0))
          case PrimitiveType.PrimitiveTypeName.BINARY
              if p.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.stringType() =>
            Some(g.getString(i, 0))
          case _ => None
        }
      case gt: GroupType
          if gt.getLogicalTypeAnnotation ==
            LogicalTypeAnnotation.listType() && gt.getFieldCount == 1 =>
        // Spark 3-level list: group (LIST) { repeated group list/element…
        // { <primitive> element } } — only double elements supported
        val lst = g.getGroup(i, 0)
        val rep = lst.getType.getType(0)
        rep match {
          case rg: GroupType if rg.getFieldCount == 1 &&
              rg.getType(0).isPrimitive &&
              rg.getType(0).asPrimitiveType().getPrimitiveTypeName ==
                PrimitiveType.PrimitiveTypeName.DOUBLE =>
            val m = lst.getFieldRepetitionCount(0)
            val arr = new Array[Double](m)
            var j = 0
            while (j < m) {
              arr(j) = lst.getGroup(0, j).getDouble(0, 0)
              j += 1
            }
            Some(arr.toIndexedSeq)
          case _ => None
        }
      case _ => None
    }
}

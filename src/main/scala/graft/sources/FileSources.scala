package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Shared reader plumbing: positional projection, limit, synthetic
  * row-count column — all expressed as plan operations so Catalyst still
  * prunes/pushes down beneath them.
  */
private[sources] object ReaderCommon {
  def finish(df0: DataFrame,
             columns: Option[Seq[String]],
             projection: Option[Seq[Int]],
             nRows: Option[Long],
             rowCountCol: Option[String]): DataFrame = {
    var df = df0
    projection.foreach(idxs => df = df.select(idxs.map(i => df.columns(i)).map(df(_)): _*))
    columns.foreach(ns => df = df.select(ns.map(df(_)): _*))
    nRows.foreach(n => df = df.limit(n.toInt))
    rowCountCol.foreach { name =>
      // dense 0-based ids matching polars with_row_count semantics — stays
      // in Tungsten (no RDD round-trip), see DenseIndex
      df = graft.core.DenseIndex.withDenseIndex(df, name)
    }
    df
  }
}

/** CSV source/sink (reference S1/S2). */
object Csv {
  def read(spark: SparkSession, path: String, opts: CsvReadOptions = CsvReadOptions()): DataFrame = {
    // skip_rows drops raw lines BEFORE header parsing (csv/reader.rs:60-75).
    // Leading lines live in partition 0 (Hadoop line reader preserves file
    // order within the first split), so dropping them is a pure
    // mapPartitionsWithIndex on partition 0 — no global zipWithIndex pass,
    // no extra job; every other partition streams through untouched.
    val base: DataFrame =
      if (opts.skipRows > 0 || opts.skipRowsAfterHeader > 0) {
        val skipTop = opts.skipRows
        val afterHeader = opts.skipRowsAfterHeader
        val hasHeader = opts.header
        val lines = spark.read.textFile(path).rdd.mapPartitionsWithIndex {
          case (0, it) =>
            val afterSkip = it.drop(skipTop)
            if (afterHeader > 0) {
              if (hasHeader && afterSkip.hasNext) {
                val head = afterSkip.next() // header survives, then skip
                Iterator.single(head) ++ afterSkip.drop(afterHeader)
              } else afterSkip.drop(afterHeader)
            } else afterSkip
          case (_, it) => it
        }
        val ds = spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
        reader(spark, opts).csv(ds)
      } else reader(spark, opts).csv(path)
    ReaderCommon.finish(base, opts.columns, opts.projection, opts.nRows, opts.rowCountCol)
  }

  private def reader(spark: SparkSession, opts: CsvReadOptions) = {
    var r = spark.read
      .option("header", opts.header.toString)
      .option("sep", opts.delimiter.toString)
      .option("mode", if (opts.ignoreParseErrors) "DROPMALFORMED" else "PERMISSIVE")
    opts.commentChar.foreach(c => r = r.option("comment", c.toString))
    opts.schema match {
      case Some(s) => r.schema(s)
      case None    => r.option("inferSchema", "true")
    }
  }

  def write(df: DataFrame, path: String, opts: CsvWriteOptions = CsvWriteOptions()): Unit = {
    var w = df.write
      .option("header", opts.header.toString)
      .option("sep", opts.delimiter.toString)
      .option("quote", opts.quoteChar.toString)
    opts.dateFormat.foreach(f => w = w.option("dateFormat", f))
    opts.timestampFormat.foreach { f =>
      w = w.option("timestampFormat", f).option("timestampNTZFormat", f)
    }
    w.mode("overwrite").csv(path)
  }
}

/** Parquet source/sink (reference S3/S4). */
object Parquet {
  def read(spark: SparkSession, path: String, opts: ParquetReadOptions = ParquetReadOptions()): DataFrame =
    ReaderCommon.finish(spark.read.parquet(path), opts.columns, opts.projection, opts.nRows, opts.rowCountCol)

  /** Read with row-level provenance — `__file` (basename) and `__row_idx`
    * (position within that file, from the scan's `_metadata.row_index`
    * virtual column) appended to every row. The audit key a training
    * pipeline carries so any example traces back to its shard ("which
    * file, which row produced this?"); free at scan time — the metadata
    * struct is populated by the reader, no shuffle, no window, and
    * (unlike `monotonically_increasing_id`) stable across partitioning
    * and re-reads because it IS the file layout.
    */
  def readWithProvenance(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val df = spark.read.parquet(path)
    df.select(
      (df.columns.map(col).toSeq :+
        regexp_extract(col("_metadata.file_path"), "[^/]+$", 0).as("__file") :+
        col("_metadata.row_index").as("__row_idx")): _*)
  }

  def write(df: DataFrame, path: String, opts: ParquetWriteOptions = ParquetWriteOptions()): Unit =
    ColumnarWriter.write(df, path, "parquet", opts.compression, opts.partitionBy, opts.sortBy)
}

/** The one columnar-file writer behind [[Parquet.write]] and [[Orc.write]]:
  * overwrite `path` in `format`, Hive-partitioned by `partitionBy`, each
  * file sorted by `sortBy`.
  */
private object ColumnarWriter {
  def write(df: DataFrame, path: String, format: String, compression: String,
            partitionBy: Seq[String], sortBy: Seq[String]): Unit = {
    // partition cols must LEAD the sort: FileFormatWriter requires ordering
    // by the partition columns and inserts its own sort (destroying sortBy
    // order within files) unless the incoming order already satisfies it
    val sorted =
      if (sortBy.nonEmpty) df.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
      else df
    var w = sorted.write.format(format).option("compression", compression).mode("overwrite")
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(path)
  }
}

/** ORC source/sink — the second columnar-lake format (extension beyond the
  * reference's csv/parquet/json surface; a lake user expects both). Same
  * reader plumbing as [[Parquet]]: positional projection, limit and
  * row-count column sit above the scan, so column pruning and predicate
  * pushdown still reach the ORC reader (PushedFilters in `.explain`).
  */
object Orc {
  def read(spark: SparkSession, path: String, opts: OrcReadOptions = OrcReadOptions()): DataFrame =
    ReaderCommon.finish(spark.read.orc(path), opts.columns, opts.projection, opts.nRows, opts.rowCountCol)

  def write(df: DataFrame, path: String, opts: OrcWriteOptions = OrcWriteOptions()): Unit =
    ColumnarWriter.write(df, path, "orc", opts.compression, opts.partitionBy, opts.sortBy)
}

/** JSON source/sink (reference S5/S6). */
object Json {
  def read(spark: SparkSession, path: String, opts: JsonReadOptions = JsonReadOptions()): DataFrame = {
    var r = spark.read
    if (opts.format == JsonFormat.Json) r = r.option("multiLine", "true")
    opts.schema.foreach(s => r = r.schema(s))
    val base = r.json(path)
    ReaderCommon.finish(base, opts.columns, opts.projection, opts.nRows, opts.rowCountCol)
  }

  def write(df: DataFrame, path: String, opts: JsonWriteOptions = JsonWriteOptions()): Unit =
    opts.format match {
      case JsonFormat.JsonLines => df.write.mode("overwrite").json(path)
      case JsonFormat.Json =>
        // one top-level array (reference Json format, json/writer.rs:19-63):
        // inherently a single document — gather to one partition and wrap.
        // Only sensible for frames that fit one task; JsonLines is the
        // scale path.
        val lines = df.toJSON.coalesce(1)
        import lines.sparkSession.implicits._
        val arr = lines.mapPartitions { it =>
          val sb = new StringBuilder("[")
          var first = true
          it.foreach { s => if (!first) sb.append(','); sb.append(s); first = false }
          sb.append(']')
          Iterator(sb.toString)
        }
        arr.write.mode("overwrite").text(path)
    }
}

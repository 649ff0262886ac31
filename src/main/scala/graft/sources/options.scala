package graft.sources

import org.apache.spark.sql.types.StructType

/** Option surfaces mirroring the reference's reader/writer options
  * (fabrix/src/sources/csv/reader.rs:40-160, writer.rs:21-90;
  * parquet/reader.rs:21-97; json/reader.rs:20-106, writer.rs:19-63),
  * re-expressed over Spark's DataFrameReader/Writer. Fields the underlying
  * Spark source handles natively map straight through; the rest
  * (skipRows, positional projection, row-count column) are implemented
  * distributed in the readers.
  */
final case class CsvReadOptions(
    header: Boolean = true,
    delimiter: Char = ',',
    skipRows: Int = 0,
    skipRowsAfterHeader: Int = 0,
    nRows: Option[Long] = None,
    /** select by position (csv/reader.rs projection-by-idx) */
    projection: Option[Seq[Int]] = None,
    /** select by name */
    columns: Option[Seq[String]] = None,
    /** explicit schema; None = infer (csv/reader.rs:122-135 dtypes) */
    schema: Option[StructType] = None,
    commentChar: Option[Char] = None,
    /** drop malformed rows instead of failing (ignore_parse_errors) */
    ignoreParseErrors: Boolean = false,
    /** synthetic row-count column name (with_row_count) */
    rowCountCol: Option[String] = None)

final case class CsvWriteOptions(
    header: Boolean = true,
    delimiter: Char = ',',
    dateFormat: Option[String] = None,
    timestampFormat: Option[String] = None,
    quoteChar: Char = '"')

final case class ParquetReadOptions(
    nRows: Option[Long] = None,
    columns: Option[Seq[String]] = None,
    projection: Option[Seq[Int]] = None,
    rowCountCol: Option[String] = None)

final case class ParquetWriteOptions(
    /** parquet stats are always written by Spark; kept for API parity
      * (parquet/writer.rs:19-60 statistics flag). */
    statistics: Boolean = true,
    compression: String = "snappy",
    /** Hive-style partition columns (`path/col=value/…`). The 100 TB lever:
      * filters on these columns prune directories at planning time
      * (PartitionFilters), so a day/tenant-scoped query reads only its
      * slice. Choose low-cardinality columns; high-cardinality partitioning
      * makes a small-files problem instead.
      */
    partitionBy: Seq[String] = Nil,
    /** Optional per-file sort (applied via sortWithinPartitions before the
      * write) — gives min/max row-group skipping on the sorted column for
      * non-partition filters.
      */
    sortBy: Seq[String] = Nil)

/** ORC mirrors the parquet option surface — same columnar-lake role, same
  * pruning levers (Hive partitions, per-file sort for stripe-level min/max
  * skipping).
  */
final case class OrcReadOptions(
    nRows: Option[Long] = None,
    columns: Option[Seq[String]] = None,
    projection: Option[Seq[Int]] = None,
    rowCountCol: Option[String] = None)

final case class OrcWriteOptions(
    compression: String = "zstd",
    partitionBy: Seq[String] = Nil,
    sortBy: Seq[String] = Nil)

/** Json = one top-level array of objects (multiLine); JsonLines = NDJSON
  * (fabrix/src/sources/json/reader.rs JsonFormat).
  */
sealed trait JsonFormat
object JsonFormat {
  case object Json      extends JsonFormat
  case object JsonLines extends JsonFormat
}

final case class JsonReadOptions(
    format: JsonFormat = JsonFormat.JsonLines,
    schema: Option[StructType] = None,
    /** rows to sample for inference (infer_schema_len); None = all */
    inferSchemaLen: Option[Long] = None,
    nRows: Option[Long] = None,
    columns: Option[Seq[String]] = None,
    projection: Option[Seq[Int]] = None,
    rowCountCol: Option[String] = None)

final case class JsonWriteOptions(format: JsonFormat = JsonFormat.JsonLines)

/** Write-time conflict policy (fabrix-sql/src/builder/sql_adt.rs:893-900
  * SaveStrategy) — shared by every sink (file store, JDBC).
  */
sealed trait SaveStrategy {
  /** The strategy for every chunk after the first of a chunked write
    * (xl_db.rs:217-239): the first chunk created the table, so Replace and
    * FailIfExists become Append; Append and Upsert stay.
    */
  def laterChunk: SaveStrategy = this match {
    case SaveStrategy.Replace | SaveStrategy.FailIfExists => SaveStrategy.Append
    case s => s
  }
}
object SaveStrategy {
  case object FailIfExists extends SaveStrategy
  /** drop + recreate atomically (ec.rs:602-651 transactional replace) */
  case object Replace extends SaveStrategy
  case object Append extends SaveStrategy
  /** split on existing index values; update matches, insert rest
    * (ec.rs:476-540) — requires an index column.
    */
  final case class Upsert(indexCol: String) extends SaveStrategy
}

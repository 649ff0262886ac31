package graft.xl

import graft.sources.SaveStrategy
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Chunk → DataFrame conversion and the chunked ingest protocol — parity
  * with the reference's XlDbConvertor/XlToDbConsumer
  * (fabrix/src/dispatcher/xl_db.rs:28-161, 192-303).
  */
object XlIngest {

  /** Display rendering of a cell — used for header cells so a numeric header
    * becomes "3" (the reference renders the cell's display value,
    * fabrix/src/dispatcher/xl_db.rs set_row_wise_fields), never a case-class
    * toString like "Num(3.0)".
    */
  def displayString(v: ExcelValue): String = v match {
    case ExcelValue.Str(s)      => s
    case ExcelValue.Bool(b)     => if (b) "true" else "false"
    case ExcelValue.Num(d)      =>
      if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case ExcelValue.Date(d)     => d.toString
    case ExcelValue.Time(t)     => t.toString
    case ExcelValue.DateTime(t) => t.toString
    case ExcelValue.Error(code) => code
    case ExcelValue.None        => ""
  }

  /** Infer a Spark field from the first non-None value of a column
    * (reference infers series types the same way, series.rs:592-647).
    */
  private def fieldFor(name: String, values: Seq[ExcelValue]): StructField = {
    val dt = values.collectFirst {
      case _: ExcelValue.Bool     => BooleanType: DataType
      case _: ExcelValue.Num      => DoubleType: DataType
      case _: ExcelValue.Str      => StringType: DataType
      case _: ExcelValue.Date     => DateType: DataType
      case _: ExcelValue.Time     => LongType: DataType // nanos-of-day + metadata
      case _: ExcelValue.DateTime => TimestampNTZType: DataType
    }.getOrElse(StringType)
    val meta = values.collectFirst { case _: ExcelValue.Time =>
      new MetadataBuilder().putString("graft.type", "time").build()
    }.getOrElse(Metadata.empty)
    StructField(name, dt, nullable = true, meta)
  }

  private def cell(v: ExcelValue, dt: DataType): Any = v match {
    case ExcelValue.None        => null
    case ExcelValue.Error(_)    => null
    case ExcelValue.Bool(b)     => b
    case ExcelValue.Num(d)      => dt match {
      case StringType => d.toString
      case _          => d
    }
    case ExcelValue.Str(s)      => dt match {
      case DoubleType => s.toDoubleOption.orNull
      case _          => s
    }
    case ExcelValue.Date(d)     => java.sql.Date.valueOf(d)
    case ExcelValue.Time(t)     => t.toNanoOfDay
    case ExcelValue.DateTime(t) => t
  }

  /** Row-wise chunk → DataFrame. `headerRow` = the (cached) column names;
    * None auto-names Column_{i} (fabrix-core/src/row.rs:176,228).
    */
  def toDataFrame(spark: SparkSession, chunk: Seq[Seq[ExcelValue]],
                  names: Option[Seq[String]]): DataFrame = {
    val width = (chunk.map(_.size) ++ names.map(_.size)).maxOption.getOrElse(0)
    val colNames = names.getOrElse((0 until width).map(i => s"Column_$i"))
    val padded = chunk.map(r => r.padTo(width, ExcelValue.None))
    val schema = StructType((0 until width).map { i =>
      fieldFor(colNames(i), padded.map(_(i)))
    })
    val rows = padded.map(r => Row.fromSeq(r.zipWithIndex.map { case (v, i) => cell(v, schema(i).dataType) }))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Transpose a column-wise sheet (reference convert_col_wise,
    * xl_db.rs:93-161): each sheet ROW is a logical column, first cell may be
    * the column name.
    */
  def transpose(chunk: Seq[Seq[ExcelValue]]): Seq[Seq[ExcelValue]] = {
    val h = chunk.map(_.size).maxOption.getOrElse(0)
    (0 until h).map(i => chunk.map(r => if (i < r.size) r(i) else ExcelValue.None))
  }

  /** Index-column selection for ingest (reference
    * fabrix/src/sources/xl/reader.rs:109-145: index by name or position).
    */
  sealed trait XlIndex
  object XlIndex {
    final case class ByPos(pos: Int)     extends XlIndex
    final case class ByName(name: String) extends XlIndex
  }

  /** Chunked ingest state machine (reference xl_db.rs:217-289): the FIRST
    * chunk applies the caller's strategy (Replace / FailIfExists), later
    * chunks take [[SaveStrategy.laterChunk]] (Append / keep Upsert) — so a
    * streaming ingest creates the table once then appends.
    *
    * `transformCell` is the per-cell UDF hook (X1, reference
    * XlConsumer::transform, fabrix-xl/src/ec.rs:49-55) applied to every cell
    * — header row included — before conversion. `index` designates the frame
    * index column (by post-header name or position); the sink receives an
    * index-tagged [[graft.core.Fabrix]].
    */
  def runFx(spark: SparkSession,
            reader: XlsxReader,
            sheet: String,
            strategy: SaveStrategy,
            sink: (graft.core.Fabrix, SaveStrategy) => Unit,
            batchSize: Int = 1024,
            header: Boolean = true,
            transformCell: ExcelValue => ExcelValue = identity,
            index: Option[XlIndex] = None): Long = {
    var names: Option[Seq[String]] = None
    var consumed = 0L
    var chunkIdx = 0
    reader.rowBatches(sheet, batchSize).foreach { batch0 =>
      val transformed = batch0.map(_.map(transformCell))
      val batch =
        if (chunkIdx == 0 && header) {
          names = Some(transformed.head.map(displayString))
          transformed.tail
        } else transformed
      if (batch.nonEmpty) {
        val df = toDataFrame(spark, batch, names)
        val fx = index match {
          case None => graft.core.Fabrix(df)
          case Some(XlIndex.ByName(n)) => graft.core.Fabrix(df, n)
          case Some(XlIndex.ByPos(i)) =>
            require(i >= 0 && i < df.columns.length, s"index position $i out of range")
            graft.core.Fabrix(df, df.columns(i))
        }
        sink(fx, if (chunkIdx == 0) strategy else strategy.laterChunk)
        consumed += batch.size
      }
      chunkIdx += 1
    }
    consumed
  }

  /** DataFrame-sink form (no index tagging). */
  def run(spark: SparkSession,
          reader: XlsxReader,
          sheet: String,
          strategy: SaveStrategy,
          sink: (DataFrame, SaveStrategy) => Unit,
          batchSize: Int = 1024,
          header: Boolean = true): Long =
    runFx(spark, reader, sheet, strategy, (fx, s) => sink(fx.df, s), batchSize, header)
}

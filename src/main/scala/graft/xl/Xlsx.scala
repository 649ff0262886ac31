package graft.xl

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

/** Typed Excel cell value — parity with the reference's ExcelValue
  * (fabrix-xl/src/lib.rs:54-64: Bool/Number/String/Date/Time/DateTime/None/
  * Error).
  */
sealed trait ExcelValue
object ExcelValue {
  case object None extends ExcelValue
  final case class Bool(v: Boolean) extends ExcelValue
  final case class Num(v: Double) extends ExcelValue
  final case class Str(v: String) extends ExcelValue
  final case class Date(v: java.time.LocalDate) extends ExcelValue
  final case class Time(v: java.time.LocalTime) extends ExcelValue
  final case class DateTime(v: java.time.LocalDateTime) extends ExcelValue
  final case class Error(code: String) extends ExcelValue
}

/** One worksheet cell with full metadata — the reference's XlCell
  * (fabrix-xl/src/ws.rs:31-46): typed `value` plus the cell's `formula`
  * (may be empty), A1 `reference`, number-format `style` code, raw Excel
  * `cellType` (s/str/b/e/inlineStr/"" for numeric), and the raw stored
  * string `rawValue`.
  */
final case class XlCell(
    reference: String, value: ExcelValue, formula: String,
    style: String, cellType: String, rawValue: String)

/** Minimal from-scratch XLSX reader over JDK zip + StAX — behavioral parity
  * with the reference's fabrix-xl streaming reader: workbook sheet map
  * (wb.rs:227-310), shared strings, 1900/1904 date systems (lib.rs:33-50),
  * per-cell typed parse (ws.rs:327-365), batched row iteration
  * (ec.rs:188-236). [[XlsxReader.rowBatches]] streams typed values (what
  * the reference's consumers use); [[XlsxReader.cellBatches]] carries the
  * full per-cell metadata (formula/reference/style/type/raw — ws.rs:31-46).
  *
  * XLSX is a single-file driver-side format here, as in the reference; the
  * batch iterator bounds memory and feeds chunked ingestion (XlPipeline).
  */
final class XlsxReader(path: String) extends AutoCloseable {
  private val zip = new ZipFile(path)
  private val xif = XMLInputFactory.newInstance()
  xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
  xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)

  private def open(name: String): Option[InputStream] =
    Option(zip.getEntry(name)).map(zip.getInputStream)

  // ---- workbook: sheet name → rId, and date system ------------------------
  private case class SheetRef(name: String, rId: String)
  private val (sheetRefs: Vector[SheetRef], date1904: Boolean) = {
    val in = open("xl/workbook.xml").getOrElse(throw new IllegalArgumentException("not an xlsx: missing workbook.xml"))
    val r = xif.createXMLStreamReader(in)
    val sheets = Vector.newBuilder[SheetRef]
    var d1904 = false
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
        case "sheet" =>
          val name = attr(r, "name").getOrElse("")
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue).getOrElse("")
          sheets += SheetRef(name, rid)
        case "workbookPr" =>
          d1904 = attr(r, "date1904").exists(v => v == "1" || v == "true")
        case _ =>
      }
    }
    r.close(); in.close()
    (sheets.result(), d1904)
  }

  // ---- rels: rId → sheet xml path ------------------------------------------
  private val relTargets: Map[String, String] = {
    open("xl/_rels/workbook.xml.rels").map { in =>
      val r = xif.createXMLStreamReader(in)
      val m = Map.newBuilder[String, String]
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
          val id = attr(r, "Id").getOrElse("")
          val target = attr(r, "Target").getOrElse("")
          val t = if (target.startsWith("/")) target.drop(1)
                  else if (target.startsWith("xl/")) target
                  else s"xl/$target"
          m += id -> t
        }
      }
      r.close(); in.close()
      m.result()
    }.getOrElse(Map.empty)
  }

  def sheetNames: Seq[String] = sheetRefs.map(_.name)

  // ---- shared strings -------------------------------------------------------
  private lazy val sharedStrings: Vector[String] = {
    open("xl/sharedStrings.xml").map { in =>
      val r = xif.createXMLStreamReader(in)
      val out = Vector.newBuilder[String]
      val sb = new StringBuilder
      var inSi = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
            inSi = true; sb.clear()
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            inSi = false; out += sb.toString
          case XMLStreamConstants.START_ELEMENT if inSi && r.getLocalName == "t" =>
            sb.append(r.getElementText)
          case _ =>
        }
      }
      r.close(); in.close()
      out.result()
    }.getOrElse(Vector.empty)
  }

  // ---- serial date conversion (1900 system epoch 1899-12-30; 1904 system) --
  private def serialToDateTime(serial: Double): java.time.LocalDateTime = {
    val epoch = if (date1904) java.time.LocalDate.of(1904, 1, 1)
                else java.time.LocalDate.of(1899, 12, 30)
    val days = math.floor(serial).toLong
    val frac = serial - days
    // serials are IEEE doubles: sub-ms fraction bits are noise, round them
    val millis = math.round(frac * 86400.0 * 1e3)
    epoch.plusDays(days).atStartOfDay.plusNanos(millis * 1000000L)
  }

  private def cellValue(t: String, styleIdx: Int, raw: String): ExcelValue = {
    if (raw == null || raw.isEmpty) return ExcelValue.None
    t match {
      case "s"   => ExcelValue.Str(sharedStrings(raw.toInt))
      case "str" => ExcelValue.Str(raw)
      case "b"   => ExcelValue.Bool(raw == "1")
      case "e"   => ExcelValue.Error(raw)
      case "inlineStr" => ExcelValue.Str(raw)
      case _ => // numeric (or date-styled numeric)
        val d = raw.toDouble
        val kind = if (styleIdx >= 0 && styleIdx < styleKinds.size) styleKinds(styleIdx) else 0
        kind match {
          case 1 => ExcelValue.Date(serialToDateTime(d).toLocalDate)
          case 2 => ExcelValue.Time(serialToDateTime(d).toLocalTime)
          case 3 => ExcelValue.DateTime(serialToDateTime(d))
          case _ => ExcelValue.Num(d)
        }
    }
  }

  /** Column index from a cell reference like "BC23" → 54. */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) { acc = acc * 26 + (ref.charAt(i) - 'A' + 1); i += 1 }
    acc - 1
  }

  /** Column letters for a 0-based index — inverse of [[colIndex]]. */
  private def colName(i0: Int): String = {
    var i = i0 + 1; val sb = new StringBuilder
    while (i > 0) { val rem = (i - 1) % 26; sb.insert(0, ('A' + rem).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  // ---- styles: cellXfs index → number-format code and date kind -----------
  /** Builtin numFmt codes (ECMA-376 §18.8.30), mirroring the reference's
    * standard_styles table (fabrix-xl/src/wb.rs:512-519).
    */
  private val builtinFormatCodes: Map[Int, String] = Map(
    0 -> "General", 1 -> "0", 2 -> "0.00", 3 -> "#,##0", 4 -> "#,##0.00",
    9 -> "0%", 10 -> "0.00%", 11 -> "0.00E+00", 12 -> "# ?/?", 13 -> "# ??/??",
    14 -> "mm-dd-yy", 15 -> "d-mmm-yy", 16 -> "d-mmm", 17 -> "mmm-yy",
    18 -> "h:mm AM/PM", 19 -> "h:mm:ss AM/PM", 20 -> "h:mm", 21 -> "h:mm:ss",
    22 -> "m/d/yy h:mm", 37 -> "#,##0 ;(#,##0)", 38 -> "#,##0 ;[Red](#,##0)",
    39 -> "#,##0.00;(#,##0.00)", 40 -> "#,##0.00;[Red](#,##0.00)",
    45 -> "mm:ss", 46 -> "[h]:mm:ss", 47 -> "mmss.0", 48 -> "##0.0E+0", 49 -> "@")

  /** Per cellXfs xf, from one walk of styles.xml: the number-format code
    * string a cell's `s` attribute resolves to (custom formatCode wins over
    * builtin; unknown ids → "" so indexes stay aligned). This is the
    * reference XlCell's `style` field (fabrix-xl/src/ws.rs:38-39 via wb.rs
    * find_styles).
    */
  private lazy val styleCodes: Vector[String] = {
    open("xl/styles.xml").map { in =>
      val r = xif.createXMLStreamReader(in)
      val custom = mutable.Map[Int, String]()
      val xfs = Vector.newBuilder[String]
      var inCellXfs = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "numFmt" =>
              val id = attr(r, "numFmtId").flatMap(_.toIntOption).getOrElse(-1)
              custom(id) = attr(r, "formatCode").getOrElse("")
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              val id = attr(r, "numFmtId").flatMap(_.toIntOption).getOrElse(0)
              xfs += custom.getOrElse(id, builtinFormatCodes.getOrElse(id, ""))
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
            inCellXfs = false
          case _ =>
        }
      }
      r.close(); in.close()
      xfs.result()
    }.getOrElse(Vector.empty)
  }

  /** Per cellXfs xf: 0=none, 1=date, 2=time, 3=datetime, read off its
    * format code with `[…]` sections (colours, elapsed-hour brackets)
    * stripped: y, d or mmm mark a date, h or s a time. Every builtin date
    * and time id (14-22, 45-47) classifies by its code in the table above.
    */
  private lazy val styleKinds: Vector[Int] = styleCodes.map { fmt =>
    val code = fmt.toLowerCase.replaceAll("\\[[^]]*\\]", "")
    val hasDate = code.exists(c => c == 'y' || c == 'd') || code.contains("mmm")
    val hasTime = code.exists(c => c == 'h' || c == 's')
    if (hasDate && hasTime) 3 else if (hasTime) 2 else if (hasDate) 1 else 0
  }

  private def styleOf(s: Int): String =
    if (s >= 0 && s < styleCodes.size) styleCodes(s) else ""

  /** One parsed worksheet cell with full metadata — the reference's XlCell
    * (fabrix-xl/src/ws.rs:31-46): typed value plus formula, A1 reference,
    * number-format style, raw cell type, and raw stored string.
    *
    * `withMeta = false` is the values-only fast path ([[rowBatches]]): it
    * skips the per-cell A1-reference string build and style lookup and
    * shares one empty pad cell, so values-only ingestion of a large sheet
    * doesn't pay for metadata it immediately discards.
    */
  private def cellRowIter(sheet: String, withMeta: Boolean): Iterator[Vector[XlCell]] = {
    val ref = sheetRefs.find(_.name == sheet).getOrElse(
      throw new IllegalArgumentException(s"no sheet $sheet (have: ${sheetNames.mkString(",")})"))
    val target = relTargets.getOrElse(ref.rId, s"xl/worksheets/sheet1.xml")
    val in = open(target).getOrElse(throw new IllegalArgumentException(s"missing $target"))
    val r = xif.createXMLStreamReader(in)

    new Iterator[Vector[XlCell]] {
      private var nextRow: Vector[XlCell] = _
      private var done = false
      private var rowNum = 0
      advance()

      private def advance(): Unit = {
        nextRow = null
        var cells = mutable.ArrayBuffer[(Int, XlCell)]()
        var inRow = false
        var cellT = ""; var cellS = -1; var cellC = -1
        var cellRaw: String = null; var cellFormula = ""
        var inV = false
        val sb = new StringBuilder
        while (nextRow == null && !done) {
          if (!r.hasNext) { done = true; r.close(); in.close() }
          else r.next() match {
            case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
              case "row" =>
                inRow = true; cells = mutable.ArrayBuffer()
                rowNum = attr(r, "r").flatMap(_.toIntOption).getOrElse(rowNum + 1)
              case "c" if inRow =>
                cellT = attr(r, "t").getOrElse("")
                cellS = attr(r, "s").flatMap(_.toIntOption).getOrElse(-1)
                cellC = attr(r, "r").map(colIndex).getOrElse(cells.size)
                cellRaw = null; cellFormula = ""
              case "f" if inRow => cellFormula = r.getElementText
              case "v" if inRow => inV = true; sb.clear()
              case "t" if inRow && cellT == "inlineStr" =>
                sb.clear(); sb.append(r.getElementText)
                cellRaw = sb.toString
              case _ =>
            }
            case XMLStreamConstants.CHARACTERS if inV => sb.append(r.getText)
            case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
              case "v" =>
                inV = false
                cellRaw = sb.toString
              case "c" =>
                // a formula-only cell (an <f> with no cached <v>) occupies
                // its column position in BOTH modes — values-only as an
                // ExcelValue.None cell (it can widen a dense row; that is
                // deliberate: skipping it would desync the cells.size
                // fallback index of any following r-less cell and shift
                // every later column), metadata mode carrying its formula
                // (ws.rs:41)
                if (cellRaw != null || cellFormula.nonEmpty) {
                  val v = if (cellRaw != null) cellValue(cellT, cellS, cellRaw) else ExcelValue.None
                  val ref = if (withMeta) s"${colName(cellC)}$rowNum" else ""
                  val style = if (withMeta) styleOf(cellS) else ""
                  cells += ((cellC, XlCell(ref, v, cellFormula,
                    style, cellT, if (cellRaw == null) "" else cellRaw)))
                }
                cellT = ""; cellS = -1; cellRaw = null; cellFormula = ""
              case "row" =>
                inRow = false
                val width = cells.map(_._1).maxOption.map(_ + 1).getOrElse(0)
                val arr =
                  if (withMeta) Array.tabulate(width)(i =>
                    XlCell(s"${colName(i)}$rowNum", ExcelValue.None, "", "", "", ""))
                  else Array.fill(width)(XlsxReader.EmptyCell)
                cells.foreach { case (i, c) => arr(i) = c }
                nextRow = arr.toVector
              case "sheetData" => done = true; r.close(); in.close()
              case _ =>
            }
            case _ =>
          }
        }
      }

      def hasNext: Boolean = nextRow != null
      def next(): Vector[XlCell] = {
        val out = nextRow; advance(); out
      }
    }
  }

  /** Stream a sheet's rows (dense, nulls filled) in `batchSize` chunks —
    * the reference's XlSheetIter (fabrix-xl/src/ec.rs:188-236).
    */
  def rowBatches(sheet: String, batchSize: Int = 1024): Iterator[Vector[Vector[ExcelValue]]] =
    cellRowIter(sheet, withMeta = false).map(_.map(_.value)).grouped(batchSize).map(_.toVector)

  /** Stream a sheet's rows WITH per-cell metadata (formula, A1 reference,
    * style code, raw type/value) — the full reference XlCell surface
    * (fabrix-xl/src/ws.rs:31-46), values-only consumers use [[rowBatches]].
    */
  def cellBatches(sheet: String, batchSize: Int = 1024): Iterator[Vector[Vector[XlCell]]] =
    cellRowIter(sheet, withMeta = true).grouped(batchSize).map(_.toVector)

  private def attr(r: XMLStreamReader, name: String): Option[String] =
    Option(r.getAttributeValue(null, name))

  def close(): Unit = zip.close()
}

object XlsxReader {
  /** Shared pad for absent cells on the values-only path. */
  private[xl] val EmptyCell = XlCell("", ExcelValue.None, "", "", "", "")
}

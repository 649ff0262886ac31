package graft.xl

import graft.SparkSpec
import graft.sources.{ParquetStore, SaveStrategy}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft-xl").resolve(name).toString

  test("writer → reader roundtrip: types, header, batching") {
    val path = tmp("t.xlsx")
    XlsxWriter.write(path,
      header = Some(Seq("id", "name", "score", "flag", "day", "at")),
      rows = Iterator(
        Seq(1, "alpha", 1.5, true, java.time.LocalDate.of(2021, 3, 4),
          java.time.LocalDateTime.of(2021, 3, 4, 5, 6, 7)),
        Seq(2, "beta <&>", 2.5, false, java.time.LocalDate.of(2021, 3, 5),
          java.time.LocalDateTime.of(2021, 3, 5, 6, 7, 8)),
        Seq(3, "gamma", 3.5, true, java.time.LocalDate.of(2021, 3, 6),
          java.time.LocalDateTime.of(2021, 3, 6, 7, 8, 9))))
    val r = new XlsxReader(path)
    assert(r.sheetNames == Seq("data"))
    val batches = r.rowBatches("data", batchSize = 2).toVector
    assert(batches.map(_.size) == Vector(2, 2)) // 4 rows (header + 3) in 2 batches
    val rows = batches.flatten
    assert(rows.head == Vector(ExcelValue.Str("id"), ExcelValue.Str("name"),
      ExcelValue.Str("score"), ExcelValue.Str("flag"), ExcelValue.Str("day"), ExcelValue.Str("at")))
    assert(rows(1)(0) == ExcelValue.Num(1.0))
    assert(rows(1)(1) == ExcelValue.Str("alpha"))
    assert(rows(2)(1) == ExcelValue.Str("beta <&>"))
    assert(rows(1)(3) == ExcelValue.Bool(true))
    assert(rows(1)(4) == ExcelValue.Date(java.time.LocalDate.of(2021, 3, 4)))
    assert(rows(1)(5) == ExcelValue.DateTime(java.time.LocalDateTime.of(2021, 3, 4, 5, 6, 7)))
    r.close()
  }

  test("shared strings and 1904 date system") {
    // hand-built workbook exercising the sharedStrings path + date1904
    val path = tmp("ss.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(n: String, c: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<workbookPr date1904="1"/><sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    entry("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>hello</t></si><si><r><t>wor</t></r><r><t>ld</t></r></si></sst>""".stripMargin)
    entry("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" s="1"><v>100</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val r = new XlsxReader(path)
    val rows = r.rowBatches("s1").toVector.flatten
    assert(rows.head(0) == ExcelValue.Str("hello"))
    assert(rows.head(1) == ExcelValue.Str("world")) // rich-text runs concatenated
    // 1904 system: serial 100 = 1904-01-01 + 100 days
    assert(rows.head(2) == ExcelValue.Date(java.time.LocalDate.of(1904, 4, 10)))
    r.close()
  }

  test("cellBatches carries formula/style/reference/type metadata per cell") {
    // workbook shape with a formula cell (<f> + cached <v>), a custom
    // number format, and a shared string — the reference XlCell fields
    // (fabrix-xl/src/ws.rs:31-46)
    val path = tmp("meta.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(n: String, c: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    entry("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="1" uniqueCount="1">
        |<si><t>label</t></si></sst>""".stripMargin)
    entry("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="0.000"/></numFmts>
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="9"/></cellXfs></styleSheet>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" s="1"><v>2.5</v></c><c r="C1" s="2"><f>A2*B1</f><v>7.5</v></c></row>
        |<row r="2"><c r="A2"><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val r = new XlsxReader(path)
    val rows = r.cellBatches("s1").toVector.flatten
    val Vector(a1, b1, c1) = rows(0)
    assert(a1 == XlCell("A1", ExcelValue.Str("label"), "", "", "s", "0"))
    assert(b1 == XlCell("B1", ExcelValue.Num(2.5), "", "0.000", "", "2.5"))
    // formula cell: cached value typed, formula text carried, builtin style
    assert(c1 == XlCell("C1", ExcelValue.Num(7.5), "A2*B1", "0%", "", "7.5"))
    assert(rows(1)(0) == XlCell("A2", ExcelValue.Num(3.0), "", "", "", "3"))
    // the values-only view of the same sheet is unchanged
    val vals = r.rowBatches("s1").toVector.flatten
    assert(vals(0) == Vector(ExcelValue.Str("label"), ExcelValue.Num(2.5), ExcelValue.Num(7.5)))
    r.close()
  }

  test("custom date, time and datetime numFmts type their cells") {
    val path = tmp("fmt.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(n: String, c: String): Unit = {
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    entry("xl/styles.xml",
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="3"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/>
        |<numFmt numFmtId="165" formatCode="hh:mm:ss"/><numFmt numFmtId="166" formatCode="yyyy-mm-dd hh:mm"/></numFmts>
        |<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="165"/><xf numFmtId="166"/></cellXfs></styleSheet>""".stripMargin)
    // serial 44256 = 2021-03-01; .75 = 18:00
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" s="1"><v>44256</v></c><c r="B1" s="2"><v>0.75</v></c><c r="C1" s="3"><v>44256.75</v></c><c r="D1"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val r = new XlsxReader(path)
    assert(r.rowBatches("s1").toVector.flatten.head == Vector(
      ExcelValue.Date(java.time.LocalDate.of(2021, 3, 1)),
      ExcelValue.Time(java.time.LocalTime.of(18, 0)),
      ExcelValue.DateTime(java.time.LocalDateTime.of(2021, 3, 1, 18, 0)),
      ExcelValue.Num(7.0)))
    assert(r.cellBatches("s1").toVector.flatten.head.map(_.style) ==
      Vector("yyyy-mm-dd", "hh:mm:ss", "yyyy-mm-dd hh:mm", ""))
    r.close()
  }

  test("sparse rows are null-filled by cell reference") {
    val path = tmp("sparse.xlsx")
    XlsxWriter.write(path, None, Iterator(Seq("a", null, "c"), Seq(null, "b", null)))
    val r = new XlsxReader(path)
    val rows = r.rowBatches("data").toVector.flatten
    assert(rows(0) == Vector(ExcelValue.Str("a"), ExcelValue.None, ExcelValue.Str("c")))
    assert(rows(1) == Vector(ExcelValue.None, ExcelValue.Str("b")))
    r.close()
  }

  test("chunked ingest protocol: first chunk replaces, rest append") {
    val path = tmp("ingest.xlsx")
    XlsxWriter.write(path, Some(Seq("id", "v")),
      rows = (1 to 10).iterator.map(i => Seq(i, i * 1.5)))
    val store = new ParquetStore(Files.createTempDirectory("graft-xl-store").toString)
    val r = new XlsxReader(path)
    val strategies = Vector.newBuilder[SaveStrategy]
    val n = XlIngest.run(spark, r, "data", SaveStrategy.Replace,
      (df, s) => { strategies += s; store.write(df, "t", s) },
      batchSize = 4)
    r.close()
    assert(n == 10)
    // 11 rows (header+10) in batches of 4 → chunks of 3,4,3 data rows
    assert(strategies.result() == Vector(SaveStrategy.Replace, SaveStrategy.Append, SaveStrategy.Append))
    val got = store.read(spark, "t")
    assert(got.count() == 10)
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.agg(org.apache.spark.sql.functions.sum("id")).head.getDouble(0) == 55.0)
  }

  test("column-wise transpose with header cells") {
    val colwise = Seq(
      Seq(ExcelValue.Str("id"), ExcelValue.Num(1), ExcelValue.Num(2)),
      Seq(ExcelValue.Str("name"), ExcelValue.Str("a"), ExcelValue.Str("b")))
    val rowwise = XlIngest.transpose(colwise)
    assert(rowwise == Seq(
      Seq(ExcelValue.Str("id"), ExcelValue.Str("name")),
      Seq(ExcelValue.Num(1), ExcelValue.Str("a")),
      Seq(ExcelValue.Num(2), ExcelValue.Str("b"))))
    val df = XlIngest.toDataFrame(spark, rowwise.tail, Some(Seq("id", "name")))
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }
}

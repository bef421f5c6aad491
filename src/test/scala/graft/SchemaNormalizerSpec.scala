package graft

import graft.sources.SchemaNormalizer
import org.apache.spark.sql.functions._

class SchemaNormalizerSpec extends SparkSpec {

  test("fuzzy column mapping resolves varied spreadsheet headers") {
    val m = SchemaNormalizer.findMapping(
      Seq("State", "Bill  Number", "TITLE", "Last Action Date", "Status", "Bill URL"))
    assert(m("state") == "State")
    assert(m("bill_number") == "Bill  Number")
    assert(m("title") == "TITLE")
    assert(m("last_action_date") == "Last Action Date")
    assert(m("status") == "Status")
    assert(m("url") == "Bill URL")
  }

  test("substring pass matches nonstandard names; missing canonicals go null") {
    val m = SchemaNormalizer.findMapping(Seq("bill_no", "the status field"))
    assert(m("bill_number") == "bill_no")
    assert(m("status") == "the status field")
    assert(!m.contains("title"))
  }

  test("unionConform merges heterogeneous sources into one canonical table") {
    val s = spark
    import s.implicits._
    val a = Seq(("CO", "HB1177", "Red flag law", "Enacted"))
      .toDF("State", "Bill Number", "Title", "Status")
    val b = Seq(("TX", "SB11", "2019-06-01"))
      .toDF("state", "billno", "last action")
    val merged = SchemaNormalizer.unionConform(Seq(a -> "manual", b -> "api"))
    assert(merged.columns.toSeq ==
      Seq("state", "bill_number", "title", "status", "last_action_date", "url",
        "collection_method"))
    val rows = merged.orderBy("state").collect()
    assert(rows.length == 2)
    val co = rows.head
    assert(co.getAs[String]("state") == "CO" && co.getAs[String]("bill_number") == "HB1177"
      && co.getAs[String]("collection_method") == "manual")
    val tx = rows(1)
    assert(tx.getAs[String]("bill_number") == "SB11")
    assert(tx.getAs[String]("title") == null)
    assert(tx.getAs[String]("last_action_date") == "2019-06-01")
  }

  /** Write a minimal-but-valid xlsx (the OOXML parts Excel itself requires):
    * shared strings, inline strings, numeric cells, and a sparse row that
    * skips a column by cell reference. */
  private def writeXlsxFixture(path: java.nio.file.Path,
      header: Seq[String], rows: Seq[Seq[(String, String)]]): Unit = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
    val sharedList = scala.collection.mutable.LinkedHashMap[String, Int]()
    def sharedIdx(s: String) = sharedList.getOrElseUpdate(s, sharedList.size)
    def cellXml(ref: String, kind: String, v: String): String = kind match {
      case "s" => s"""<c r="$ref" t="s"><v>${sharedIdx(v)}</v></c>"""
      case "inline" => s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      case "n" => s"""<c r="$ref"><v>$v</v></c>"""
    }
    def colRef(i: Int) = ('A' + i).toChar.toString
    val headerXml = header.zipWithIndex
      .map { case (h, i) => cellXml(s"${colRef(i)}1", "s", h) }.mkString
    val dataXml = rows.zipWithIndex.map { case (cells, ri) =>
      val xml = cells.zipWithIndex.collect {
        case ((kind, v), ci) if kind != "skip" =>
          cellXml(s"${colRef(ci)}${ri + 2}", kind, v)
      }.mkString
      s"""<row r="${ri + 2}">$xml</row>"""
    }.mkString
    val sheet =
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1">$headerXml</row>$dataXml</sheetData></worksheet>"""
    val sst = s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedList.size}" uniqueCount="${sharedList.size}">${sharedList.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString}</sst>"""
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/></sheets></workbook>"""
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId0" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val wbRels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    try Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> rels,
      "xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> wbRels,
      "xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> sheet
    ).foreach { case (name, content) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("readXlsx conforms a real .xlsx fixture (shared/inline/numeric/sparse cells)") {
    val dir = tempDir("graft_xlsx")
    writeXlsxFixture(dir.resolve("bills.xlsx"),
      header = Seq("State", "Bill No.", "Title", "Status", "Last Action Date"),
      rows = Seq(
        Seq("s" -> "WA", "inline" -> "HB 1234", "s" -> "Safe storage & more",
          "s" -> "Passed", "s" -> "2019-06-01"),
        // sparse row: Title cell entirely absent, numeric bill number
        Seq("s" -> "CO", "n" -> "1177", "skip" -> "", "s" -> "Enacted",
          "s" -> "2020-01-15")))
    val df = SchemaNormalizer.readXlsx(spark, dir.toString, "xlsx_import")
    val rows = df.orderBy("state").collect()
    assert(rows.length == 2)
    val co = rows.head
    assert(co.getAs[String]("state") == "CO")
    assert(co.getAs[String]("bill_number") == "1177")
    assert(co.getAs[String]("title") == null) // sparse cell surfaced as null
    assert(co.getAs[String]("status") == "Enacted")
    val wa = rows(1)
    assert(wa.getAs[String]("bill_number") == "HB 1234") // inline string arm
    assert(wa.getAs[String]("title") == "Safe storage & more") // entity round-trip
    assert(wa.getAs[String]("last_action_date") == "2019-06-01")
    assert(wa.getAs[String]("collection_method") == "xlsx_import")
  }

  test("readCsv conforms a real CSV file") {
    val dir = tempDir("graft_csv")
    val f = dir.resolve("bills.csv")
    java.nio.file.Files.writeString(f,
      "STATE,Bill No.,bill title,STATUS\nWA,HB 1234,Safe storage,Passed\n")
    val df = SchemaNormalizer.readCsv(spark, f.toString, "csv_import")
    val r = df.collect().head
    assert(r.getAs[String]("state") == "WA")
    assert(r.getAs[String]("bill_number") == "HB 1234")
    assert(r.getAs[String]("title") == "Safe storage")
    assert(r.getAs[String]("status") == "Passed")
  }
}

package graft

import graft.io.Xlsx

/** XLSX source/sink specs: write-read roundtrip plus reading the
  * reference's in-tree sample workbook (FIXTURES.md F5). */
class XlsxSpec extends SparkSpec {

  import spark.implicits._

  test("write-read roundtrip preserves values and inferred types") {
    val df = Seq(
      ("Alpha Corp", 10L, 100000.5, "note, with comma & <xml>"),
      ("Beta Inc", 5L, 95000.0, "plain")
    ).toDF("vendor", "experience", "bid_amount", "notes")

    val path = tempDir("xlsx") + "/test.xlsx"
    Xlsx.write(path, Seq("Results" -> df))

    assert(Xlsx.sheetNames(path) == Seq("Results"))
    val back = Xlsx.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("vendor", "experience", "bid_amount", "notes"))
    assert(back.schema("experience").dataType.typeName == "long")
    assert(back.schema("bid_amount").dataType.typeName == "double")
    val rows = back.orderBy("vendor").collect()
    assert(rows(0).getString(0) == "Alpha Corp")
    assert(rows(0).getLong(1) == 10L)
    assert(rows(0).getDouble(2) == 100000.5)
    assert(rows(0).getString(3) == "note, with comma & <xml>")
  }

  test("write fails fast past the 1,048,576-row sheet limit, before collecting") {
    val big = spark.range(1048576L).toDF("id") // + header row = 1,048,577
    val path = tempDir("xlsx_big") + "/big.xlsx"
    val e = intercept[IllegalArgumentException] {
      Xlsx.write(path, Seq("Huge" -> big))
    }
    assert(e.getMessage.contains("XLSX per-sheet limit"), e.getMessage)
    assert(e.getMessage.contains("parquet"), "error must point to the distributed writers")
    // an in-limit frame still writes through the guard
    val ok = spark.range(3L).toDF("id")
    Xlsx.write(path, Seq("Ok" -> ok))
    assert(Xlsx.read(spark, path).count() == 3)
  }

  test("multi-sheet write with sheet selection on read") {
    val r = Seq(("A", 1L)).toDF("vendor", "rank")
    val s = Seq(("min", 5.0)).toDF("stat", "value")
    val path = tempDir("xlsx") + "/multi.xlsx"
    Xlsx.write(path, Seq("Results" -> r, "Statistics" -> s))

    assert(Xlsx.sheetNames(path) == Seq("Results", "Statistics"))
    assert(Xlsx.read(spark, path, Some("Statistics")).columns.toSeq == Seq("stat", "value"))
    intercept[IllegalArgumentException] { Xlsx.read(spark, path, Some("Nope")) }
  }

  test("reads the reference sample workbook (F5)") {
    val path = "/root/reference/sample_bids.xlsx"
    assume(new java.io.File(path).exists())
    val df = Xlsx.read(spark, path)
    assert(df.count() == 5)
    assert(df.columns.contains("vendor"))
    assert(df.columns.contains("bid_amount"))
    // and the engine runs end-to-end on it (demo-parity flow)
    val scored = new Evaluator()
      .minRatio("bid_amount", 0.6)
      .linear("experience", 0.4)
      .evaluate(df)
    assert(scored.count() == 5)
    assert(scored.columns.contains("ranking"))
  }

  test("boolean columns round-trip typed; r-less cells read positionally") {
    val df = Seq(("A", true), ("B", false)).toDF("vendor", "active")
    val path = tempDir("xlsx") + "/b.xlsx"
    Xlsx.write(path, Seq("S" -> df))
    val back = Xlsx.read(spark, path)
    assert(back.schema("active").dataType.typeName == "boolean")
    assert(back.filter(back("active")).count() == 1)

    // hand-built sheet whose cells omit r= (legal OOXML: "next column")
    val p2 = tempDir("xlsx2") + "/noref.xlsx"
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val out = new ZipOutputStream(new java.io.FileOutputStream(p2))
    def put(n: String, c: String): Unit = {
      out.putNextEntry(new ZipEntry(n)); out.write(c.getBytes("UTF-8")); out.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>a</t></is></c><c t="inlineStr"><is><t>b</t></is></c></row><row><c><v>1</v></c><c><v>2</v></c></row></sheetData></worksheet>""")
    out.close()
    val noref = Xlsx.read(spark, p2)
    assert(noref.columns.toSeq == Seq("a", "b"))
    val r = noref.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
  }
}

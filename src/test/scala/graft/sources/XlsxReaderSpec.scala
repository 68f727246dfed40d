package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

/** S9 xlsx path: tests build a genuine .xlsx (a ZIP of OOXML parts) with
  * the JDK and read it back — covering shared strings, rich-text runs,
  * inline strings, booleans, numbers, missing cells, and the read_data
  * format dispatch. */
class XlsxReaderSpec extends SparkSpec {

  private def writeXlsx(parts: Map[String, String]): String = {
    val f = Files.createTempFile("graft-test", ".xlsx").toFile
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f))
    parts.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  private val contentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="xml" ContentType="application/xml"/>
      |</Types>""".stripMargin

  private def workbook(sheetRid: String) =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
       | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
       |<sheets><sheet name="Data" sheetId="1" r:id="$sheetRid"/></sheets>
       |</workbook>""".stripMargin

  private def rels(rid: String, target: String) =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
       |<Relationship Id="$rid" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="$target"/>
       |</Relationships>""".stripMargin

  test("reads shared strings, rich text, inline strings, booleans, numbers, gaps") {
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |<si><t>name</t></si>
        |<si><t>age</t></si>
        |<si><r><t>ali</t></r><r><t>ve</t></r><rPh sb="0" eb="1"><t>IGNORED</t></rPh></si>
        |<si><t xml:space="preserve">fish </t></si>
        |</sst>""".stripMargin
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="inlineStr"><is><t>notes</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>4.5</v></c><c r="C2" t="b"><v>1</v></c><c r="D2" t="inlineStr"><is><t>swims fast</t></is></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>cat</t></is></c><c r="C3" t="b"><v>0</v></c></row>
        |<row r="4"><c r="B4" s="1"/><c r="D4"><v>42</v></c></row>
        |</sheetData>
        |</worksheet>""".stripMargin
    val path = writeXlsx(Map(
      "[Content_Types].xml" -> contentTypes,
      "xl/workbook.xml" -> workbook("rId1"),
      "xl/_rels/workbook.xml.rels" -> rels("rId1", "worksheets/dataSheet.xml"),
      "xl/worksheets/dataSheet.xml" -> sheet, // non-default name: rels must resolve it
      "xl/sharedStrings.xml" -> shared))

    val df = XlsxReader.read(spark, path)
    assert(df.columns.toList == List("name", "age", "alive", "notes"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).toSeq == Seq("fish ", "4.5", "True", "swims fast"))
    assert(rows(1).toSeq == Seq("cat", null, "False", null)) // gap at B3
    assert(rows(2).toSeq == Seq(null, null, null, "42"))     // style-only B4 stays null
  }

  test("column reference arithmetic covers multi-letter columns") {
    assert(XlsxReader.colIndex("A1") == 0)
    assert(XlsxReader.colIndex("Z9") == 25)
    assert(XlsxReader.colIndex("AA3") == 26)
    assert(XlsxReader.colIndex("BC7") == 54)
  }

  test("header mangling matches pd.read_excel: Unnamed + dedup suffixes") {
    assert(XlsxReader.mangleHeader(
      Array("a", null, "a", "", "a", "a.1")).toList ==
      List("a", "Unnamed: 1", "a.1", "Unnamed: 3", "a.2", "a.1.1"))
  }

  test("read_data dispatch: csv, parquet, xlsx, and the unsupported error") {
    import spark.implicits._
    val tmp = graft.queries.TempDirs.create("readdata").toFile.getAbsolutePath
    Seq(("a", "1"), ("b", "2")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t.parquet")
    assert(DataReader.readData(spark, s"$tmp/t.parquet").count() == 2)
    val e = intercept[IllegalArgumentException](
      DataReader.readData(spark, s"$tmp/t.json"))
    assert(e.getMessage == s"Unsupported format (not CSV, XLSX or parquet): $tmp/t.json")
  }

  test("autoparser reads mapping tables and dictionaries from xlsx") {
    // the mapping-file columns MappingParser.rowsFromCsv expects
    def row(r: Int, cells: (String, String)*): String =
      s"""<row r="$r">""" + cells.map { case (col, v) =>
        s"""<c r="$col$r" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString + "</row>"
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |""".stripMargin +
        row(1, "A" -> "target_field", "B" -> "source_description",
          "C" -> "source_field", "D" -> "value_mapping") +
        row(2, "A" -> "pet", "B" -> "Pet Animal", "C" -> "AnimalDeCompagnie",
          "D" -> "oui=True | non=False") +
        row(3, "A" -> "name", "B" -> "Full Name", "C" -> "Nom complet") +
        "</sheetData></worksheet>"
    val path = writeXlsx(Map(
      "xl/workbook.xml" -> workbook("rId1"),
      "xl/_rels/workbook.xml.rels" -> rels("rId1", "worksheets/sheet1.xml"),
      "xl/worksheets/sheet1.xml" -> sheet))
    val rows = graft.adtl.autoparser.MappingParser.rowsFromCsv(spark, path)
    assert(rows.length == 2)
    assert(rows(0).targetField == "pet" &&
      rows(0).valueMapping.contains("oui=True | non=False"))
    assert(rows(1).sourceField.contains("Nom complet"))

    // a dictionary via the same xlsx path
    val dictSheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |""".stripMargin +
        row(1, "A" -> "source_field", "B" -> "source_description",
          "C" -> "source_type", "D" -> "common_values") +
        row(2, "A" -> "alive", "B" -> "Alive", "C" -> "string",
          "D" -> "Oui, NON, oui") +
        "</sheetData></worksheet>"
    val dictPath = writeXlsx(Map(
      "xl/workbook.xml" -> workbook("rId1"),
      "xl/_rels/workbook.xml.rels" -> rels("rId1", "worksheets/sheet1.xml"),
      "xl/worksheets/sheet1.xml" -> dictSheet))
    val entries = graft.adtl.autoparser.DictReader
      .validateDictionaryFile(spark, dictPath)
    assert(entries.length == 1)
    assert(entries.head.commonValues.map(_.toSet).contains(Set("oui", "non")))
  }
}

package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.collection.mutable

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal XLSX codec — zero dependencies beyond the JDK (an .xlsx is a
  * zip of OOXML parts; `java.util.zip` + StAX cover it).
  *
  * Mirrors the reference's Excel surface (`pd.read_excel` /
  * `pd_save_dataframe` xlsx branch, /root/reference/_gui.py:227-228,
  * 350-352, 937-952): first row = column names, numeric cells → double,
  * everything else → string; `path!sheet` selects a sheet by name
  * (`table_name_selector`, /root/reference/_gui.py:141-148).
  *
  * Reader handles both inline strings and the sharedStrings table (what
  * real producers emit); writer emits inline strings (self-contained, no
  * shared table). Excel files in this domain are driver-side config/report
  * tables (KB–MB) — read on the driver, handed to Spark, like the mesh
  * codecs.
  */
object XlsxCodec {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** "B3" → 0-based column index (1). */
  private def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def parseSharedStrings(zf: ZipFile): IndexedSeq[String] = {
    val entry = zf.getEntry("xl/sharedStrings.xml")
    if (entry == null) return IndexedSeq.empty
    val r = XMLInputFactory.newInstance().createXMLStreamReader(
      zf.getInputStream(entry), "UTF-8")
    val out = mutable.ArrayBuffer.empty[String]
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
    out.toIndexedSeq
  }

  /** Sheet name → part path, in workbook order. */
  private def sheetParts(zf: ZipFile): Seq[(String, String)] = {
    val r = XMLInputFactory.newInstance().createXMLStreamReader(
      zf.getInputStream(zf.getEntry("xl/workbook.xml")), "UTF-8")
    val sheets = mutable.ArrayBuffer.empty[(String, String)] // (name, rId)
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id")
          .map(r.getAttributeValue).getOrElse("")
        sheets += ((name, rid))
      }
    }
    val rels = mutable.Map.empty[String, String]
    val relEntry = zf.getEntry("xl/_rels/workbook.xml.rels")
    if (relEntry != null) {
      val rr = XMLInputFactory.newInstance().createXMLStreamReader(
        zf.getInputStream(relEntry), "UTF-8")
      while (rr.hasNext) {
        if (rr.next() == XMLStreamConstants.START_ELEMENT &&
            rr.getLocalName == "Relationship") {
          val target = rr.getAttributeValue(null, "Target")
          rels(rr.getAttributeValue(null, "Id")) =
            if (target.startsWith("/")) target.drop(1)
            else if (target.startsWith("xl/")) target
            else "xl/" + target
        }
      }
    }
    sheets.toSeq.map { case (name, rid) =>
      name -> rels.getOrElse(rid, "xl/worksheets/sheet1.xml")
    }
  }

  /** Raw cell grid of one sheet: rows of (colIndex → (value, isNumericCell)).
    * The cell's `t` attribute decides numeric-ness ("n"/absent = number;
    * "s"/"inlineStr"/"str"/"b" = text) — string cells that LOOK numeric
    * ("007") must stay strings. */
  private def parseSheet(zf: ZipFile, part: String,
      shared: IndexedSeq[String]): Seq[Map[Int, (String, Boolean)]] = {
    val r = XMLInputFactory.newInstance().createXMLStreamReader(
      zf.getInputStream(zf.getEntry(part)), "UTF-8")
    val rows = mutable.ArrayBuffer.empty[Map[Int, (String, Boolean)]]
    var cur: mutable.Map[Int, (String, Boolean)] = null
    var cellCol = -1
    var cellType = ""
    var value: String = null
    var inIs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" => cur = mutable.Map.empty
          case "c" =>
            val ref = r.getAttributeValue(null, "r")
            cellCol = if (ref != null) colIndex(ref)
              else (if (cur.isEmpty) 0 else cur.keys.max + 1)
            cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
            value = null; inIs = false
          case "is" => inIs = true
          case "v" => value = r.getElementText
          case "t" if inIs =>
            value = (if (value == null) "" else value) + r.getElementText
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "row" => rows += cur.toMap; cur = null
          case "c" if cur != null && value != null =>
            val resolved = cellType match {
              case "s" => shared(value.toInt)
              case _ => value
            }
            cur(cellCol) = (resolved, cellType == "n")
          case "is" => inIs = false
          case _ =>
        }
        case _ =>
      }
    }
    rows.toSeq
  }

  /** Read a sheet as a DataFrame: `path` or `path!sheetName`; first row =
    * header; columns whose every data cell parses as a number → double. */
  def read(spark: SparkSession, pathAndSheet: String): DataFrame = {
    val (path, sheetName) = pathAndSheet.split('!') match {
      case Array(p, s) => (p, Some(s))
      case _ => (pathAndSheet, None)
    }
    val zf = new ZipFile(path)
    try {
      val shared = parseSharedStrings(zf)
      val parts = sheetParts(zf)
      val part = sheetName match {
        case Some(n) => parts.find(_._1 == n)
          .getOrElse(throw new IllegalArgumentException(
            s"sheet '$n' not in ${parts.map(_._1).mkString(",")}"))._2
        case None => parts.head._2
      }
      val grid = parseSheet(zf, part, shared)
      require(grid.nonEmpty, s"empty sheet in $path")
      val nCols = grid.map(r => if (r.isEmpty) 0 else r.keys.max + 1).max
      val header = (0 until nCols).map(i =>
        grid.head.get(i).map(_._1).getOrElse(s"_c$i"))
      val data = grid.tail
      // a column is double only when EVERY present cell is a numeric CELL
      // (cell type, not string parseability — "007" stays "007")
      val isNum = (0 until nCols).map { c =>
        val vals = data.flatMap(_.get(c))
        vals.nonEmpty && vals.forall(_._2)
      }
      val schema = StructType((0 until nCols).map(c =>
        StructField(header(c), if (isNum(c)) DoubleType else StringType)))
      val rows = data.map { m =>
        Row.fromSeq((0 until nCols).map { c =>
          m.get(c) match {
            case None => null
            case Some((v, _)) => if (isNum(c)) v.toDouble else v
          }
        })
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    } finally zf.close()
  }

  /** Write one sheet (inline strings, numbers as native cells). */
  def write(df: DataFrame, path: String, sheet: String = "Sheet1"): Unit =
    writeSheets(Seq(sheet -> df), path)

  /** Multi-sheet workbook — the engine's `pd_save_excel_tables`
    * (/root/reference/_gui.py:954-988): each (name, table) pair becomes
    * one worksheet, read back individually via `path!name`. */
  def writeSheets(sheets: Seq[(String, DataFrame)], path: String): Unit = {
    require(sheets.nonEmpty, "xlsx write needs at least one sheet")
    // Excel's workbook rules, enforced here so the output opens in Excel,
    // not just in our own reader: names are case-insensitively unique,
    // 1–31 chars, and free of []:*?/\
    require(sheets.map(_._1.toLowerCase).distinct.length == sheets.length,
      s"duplicate sheet names (case-insensitive): ${sheets.map(_._1).mkString(",")}")
    sheets.foreach { case (name, _) =>
      require(name.nonEmpty && name.length <= 31,
        s"sheet name must be 1-31 chars: '$name'")
      require(!name.exists("[]:*?/\\".contains(_)),
        s"sheet name contains a character Excel forbids ([]:*?/\\): '$name'")
    }
    def cellRef(r: Int, c: Int): String = {
      var n = c + 1
      val s = new StringBuilder
      while (n > 0) { s.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
      s.toString + (r + 1)
    }
    def sheetXml(df: DataFrame): String = {
      val cols = df.schema.fields
      val rows = df.collect()
      val sb = new StringBuilder
      sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      sb.append("<row r=\"1\">")
      cols.zipWithIndex.foreach { case (f, c) =>
        sb.append(s"""<c r="${cellRef(0, c)}" t="inlineStr"><is><t>${esc(f.name)}</t></is></c>""")
      }
      sb.append("</row>")
      rows.zipWithIndex.foreach { case (row, ri) =>
        sb.append(s"""<row r="${ri + 2}">""")
        cols.zipWithIndex.foreach { case (f, c) =>
          if (!row.isNullAt(c)) {
            f.dataType match {
              case _: NumericType =>
                sb.append(s"""<c r="${cellRef(ri + 1, c)}"><v>${row.get(c)}</v></c>""")
              case _ =>
                sb.append(s"""<c r="${cellRef(ri + 1, c)}" t="inlineStr"><is><t>${esc(row.get(c).toString)}</t></is></c>""")
            }
          }
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>")
      sb.toString
    }

    val n = sheets.length
    val overrides = (1 to n).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString("\n")
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val relTags = (1 to n).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
      .mkString("\n")
    val parts = Seq(
      "[Content_Types].xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |$overrides
          |</Types>""".stripMargin,
      "_rels/.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin,
      "xl/workbook.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets>$sheetTags</sheets>
          |</workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |$relTags
          |</Relationships>""".stripMargin) ++
      sheets.zipWithIndex.map { case ((_, df), i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(df)
      }

    val zos = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    try {
      parts.foreach { case (name, content) =>
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes(StandardCharsets.UTF_8))
        zos.closeEntry()
      }
    } finally zos.close()
  }
}

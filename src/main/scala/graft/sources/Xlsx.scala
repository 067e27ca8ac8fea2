package graft.sources

import java.util.zip.ZipFile

import scala.collection.mutable

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Direct `.xlsx` ingestion with ZERO dependencies beyond the JDK —
  * closes the one reference behavior every prior round recorded as
  * environment-blocked ("no spark-excel jar"): an xlsx file is a zip
  * of SpreadsheetML XML parts, and the JDK ships both the zip reader
  * and a streaming XML parser (StAX), so no jar was ever actually
  * required for the subset the reference uses (reference:
  * `Manipulação de Dataframes/análise_produtos_clientes.py:37,150`,
  * `manipulacao-analise-comercial.py:124-198` — `pd.read_excel` with
  * a header-row picker over string/numeric sheets).
  *
  * Supported: shared strings (`t="s"`, rich-text runs concatenated),
  * formula/cached strings (`t="str"`), inline strings
  * (`t="inlineStr"`), booleans (`t="b"` → "true"/"false"), plain
  * numerics (raw `<v>` text), sparse rows (missing cells → null),
  * named-sheet selection (SURVEY §2 S2 — previously "n/a by design",
  * now real), and the reference's header-row picker. Every value
  * lands as a STRING column: the reference pipeline immediately
  * re-coerces with its own rules ([[graft.operators.Cleaning]]
  * `toDateCoerce`/`toNumericCoerce`), so typing at the reader would
  * duplicate — and could contradict — the C1/C2 contract.
  *
  * Scale posture, stated plainly: the sheet materializes ON THE
  * DRIVER before parallelize — exactly like `pd.read_excel`, and
  * exactly right for what xlsx files ARE (hand-maintained
  * dimension/config sheets; the reference's is ~10k rows). The fact
  * path at 100 TB is parquet/csv (`Load.load`); a >100 MB xlsx is
  * refused with guidance rather than silently absorbing driver heap.
  */
object Xlsx {

  private val MaxBytes: Long = 100L * 1024 * 1024

  /** Read one sheet (default: the workbook's first) as an all-string
    * DataFrame. `headerRow` is 1-based, like the reference's UI
    * picker; rows above it are skipped, blank rows are dropped,
    * duplicate/blank header names get positional suffixes.
    */
  def read(
      spark: SparkSession,
      path: String,
      sheet: Option[String] = None,
      headerRow: Int = 1): DataFrame = {
    require(headerRow >= 1, s"headerRow is 1-based, got $headerRow")
    val f = new java.io.File(path)
    require(f.exists(), s"no such file: $path")
    require(f.length() <= MaxBytes,
      s"$path is ${f.length()} bytes; xlsx ingestion is the dimension-sheet " +
        s"path (driver-materialized, like pandas) and caps at $MaxBytes bytes — " +
        "convert bulk data to parquet/csv and use Load.load")

    val zip = new ZipFile(f)
    try {
      val sheetPart = resolveSheetPart(zip, sheet)
      val shared = readSharedStrings(zip)
      val rows = readSheetRows(zip, sheetPart, shared)
      shapeSheet(spark, rows, headerRow)
    } finally zip.close()
  }

  /** The shared cells → DataFrame shaping contract, used by BOTH the
    * `.xlsx` reader above and the legacy `.xls` reader ([[Xls]]) so
    * the two formats produce identical frames from identical sheets:
    * `headerRow` is 1-based, rows above it are discarded, WIDTH comes
    * from the header and data rows only (a wide banner row must not
    * inject phantom `col_i` columns — pd.read_excel(header=n)
    * parity), duplicate/blank header names get positional suffixes,
    * blank rows drop, and every value is a string.
    */
  private[sources] def shapeSheet(
      spark: SparkSession,
      rows: IndexedSeq[Array[String]],
      headerRow: Int): DataFrame = {
    require(rows.length >= headerRow,
      s"sheet has ${rows.length} rows; headerRow=$headerRow is past the end")
    val header = rows(headerRow - 1)
    val width = rows.iterator.drop(headerRow - 1).map(_.length).max
    val names = mutable.LinkedHashSet.empty[String]
    val fields = (0 until width).map { i =>
      val raw = if (i < header.length && header(i) != null && header(i).trim.nonEmpty)
        header(i).trim else s"col_$i"
      val name = if (names.add(raw)) raw else {
        var k = 1
        while (!names.add(s"${raw}_$k")) k += 1
        s"${raw}_$k"
      }
      StructField(name, StringType, nullable = true)
    }
    val data = rows.drop(headerRow)
      .filter(_.exists(v => v != null && v.nonEmpty))
      .map(r => Row.fromSeq((0 until width).map(i =>
        if (i < r.length) r(i) else null)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq),
      StructType(fields))
  }

  /** Workbook sheet registry: name → worksheet part path. */
  def sheetNames(path: String): Seq[String] = {
    val zip = new ZipFile(path)
    try sheetTable(zip).map(_._1)
    finally zip.close()
  }

  /** Write a DataFrame as a minimal single-sheet `.xlsx` — the
    * reference's OUTPUT format (`df.to_excel(timestamped)`, reference
    * `analise_pendentes.py:110-114`), same zero-dependency posture as
    * [[read]]: the five mandatory SpreadsheetML parts through
    * `ZipOutputStream`, every cell an inline string (universally
    * readable; consumers re-type, exactly like the reader's
    * all-string contract — [[read]] round-trips this bit-for-bit,
    * XlsxSpec-pinned). Driver-collects under the same dimension-scale
    * cap as the reader: Excel IS a small-data format — its own row
    * limit is 2^20 — and the bulk path stays parquet/csv.
    */
  def write(df: DataFrame, path: String, sheetName: String = "Sheet1"): Unit = {
    // Header occupies sheet row 1, so data caps at 2^20 - 1 rows —
    // writing row r=1048577 would produce a workbook Excel itself
    // rejects. Over-limit input fails LOUDLY (collect limit+1 and
    // check) instead of the old silent limit(2^20) truncation
    // (round-10 ADVICE fix).
    val MaxDataRows = 1048575
    val rows = df.limit(MaxDataRows + 1).collect()
    require(rows.length <= MaxDataRows,
      s"xlsx sheet capacity is $MaxDataRows data rows (+1 header); the " +
        "input has more — Excel is a small-data format; write parquet/csv " +
        "for bulk output")
    val header = df.columns
    // Escapes for BOTH contexts this writer emits into: text nodes
    // (&, <, > suffice) and double-quoted attribute values (sheetName
    // in workbook.xml — an unescaped '"' would corrupt the attribute).
    // XML 1.0 forbids control chars below 0x20 except TAB/LF/CR in
    // either context, escaped or not — strip them, matching what Excel
    // does on paste (round-10 ADVICE fix).
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
      .filter(ch => ch >= 0x20 || ch == '\t' || ch == '\n' || ch == '\r')
    def ref(c: Int, r: Int): String = {
      var n = c + 1; val sb = new StringBuilder
      while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
      sb.append(r.toString).toString
    }
    def rowXml(r: Int, vals: Seq[Any]): String =
      s"""<row r="$r">""" + vals.zipWithIndex.collect {
        case (v, c) if v != null =>
          s"""<c r="${ref(c, r)}" t="inlineStr"><is><t xml:space="preserve">${esc(v.toString)}</t></is></c>"""
      }.mkString + "</row>"

    val sheetXml = new StringBuilder
    sheetXml.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sheetXml.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    sheetXml.append(rowXml(1, header.toSeq))
    rows.zipWithIndex.foreach { case (row, i) =>
      sheetXml.append(rowXml(i + 2, row.toSeq))
    }
    sheetXml.append("</sheetData></worksheet>")

    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """</Types>""")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>""")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<sheets><sheet name="${esc(sheetName)}" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """</Relationships>""")
      put("xl/worksheets/sheet1.xml", sheetXml.toString)
    } finally zos.close()
  }

  // ------------------------------------------------------------ internals

  private def secureFactory(): XMLInputFactory = {
    val fac = XMLInputFactory.newInstance()
    fac.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    fac.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    fac
  }

  /** (sheet name, worksheet part path) in workbook order. */
  private def sheetTable(zip: ZipFile): Seq[(String, String)] = {
    // r:id → target from the workbook rels part
    val rels = mutable.Map.empty[String, String]
    withPart(zip, "xl/_rels/workbook.xml.rels") { r =>
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null)
            rels(id) = if (target.startsWith("/")) target.drop(1)
              else "xl/" + target.stripPrefix("./")
        }
      }
    }
    val sheets = mutable.ArrayBuffer.empty[(String, String)]
    withPart(zip, "xl/workbook.xml") { r =>
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          // the relationship id attribute lives in the r: namespace
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue)
          rid.flatMap(rels.get).foreach(part => sheets += ((name, part)))
        }
      }
    }
    require(sheets.nonEmpty, "workbook declares no readable sheets")
    sheets.toSeq
  }

  private def resolveSheetPart(zip: ZipFile, sheet: Option[String]): String = {
    val table = sheetTable(zip)
    sheet match {
      case None => table.head._2
      case Some(n) =>
        table.find(_._1 == n).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"no sheet named '$n'; workbook has: ${table.map(_._1).mkString(", ")}"))
    }
  }

  private def readSharedStrings(zip: ZipFile): IndexedSeq[String] = {
    if (zip.getEntry("xl/sharedStrings.xml") == null) return IndexedSeq.empty
    val out = mutable.ArrayBuffer.empty[String]
    withPart(zip, "xl/sharedStrings.xml") { r =>
      var inSi = false
      var inT = false
      // `<rPh>` phonetic runs (furigana Excel writes for East Asian
      // text) carry their own `<t>`; the cell's text excludes them.
      var inRPh = false
      val sb = new StringBuilder
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            case "rPh" => inRPh = true
            case "t" if inSi && !inRPh => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "rPh" => inRPh = false
            case "si" => inSi = false; out += sb.toString
            case _ =>
          }
        case _ =>
      }
    }
    out.toIndexedSeq
  }

  /** Stream the sheet's rows; each row is a dense array up to its last
    * populated column (callers pad to table width).
    */
  private def readSheetRows(
      zip: ZipFile,
      part: String,
      shared: IndexedSeq[String]): IndexedSeq[Array[String]] = {
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    withPart(zip, part) { r =>
      var cells: mutable.ArrayBuffer[(Int, String)] = null
      var cellCol = -1
      var cellType = ""
      var inV = false
      var inIsT = false
      var inRPh = false // phonetic run: not cell text (see readSharedStrings)
      val sb = new StringBuilder
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => cells = mutable.ArrayBuffer.empty
            case "c" if cells != null =>
              cellCol = colIndex(r.getAttributeValue(null, "r"), cells.length)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              sb.clear()
            case "v" => inV = true
            case "rPh" => inRPh = true
            case "t" if cellType == "inlineStr" && !inRPh => inIsT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV || inIsT =>
          sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "rPh" => inRPh = false
            case "t" => inIsT = false
            case "c" if cells != null && cellCol >= 0 =>
              val raw = sb.toString
              val value = cellType match {
                case "s" =>
                  val i = raw.trim.toInt
                  if (i >= 0 && i < shared.length) shared(i) else null
                case "b" => if (raw.trim == "1") "true" else "false"
                case _ => if (raw.isEmpty) null else raw // str / inlineStr / numeric
              }
              if (value != null) cells += ((cellCol, value))
              cellCol = -1; cellType = ""; sb.clear()
            case "row" if cells != null =>
              val width = if (cells.isEmpty) 0 else cells.map(_._1).max + 1
              val arr = Array.fill[String](width)(null)
              cells.foreach { case (i, v) => arr(i) = v }
              rows += arr
              cells = null
            case _ =>
          }
        case _ =>
      }
    }
    rows.toIndexedSeq
  }

  /** "AB7" → 0-based column 27; absent r attribute → next position. */
  private[sources] def colIndex(ref: String, fallback: Int): Int =
    if (ref == null) fallback
    else {
      val letters = ref.takeWhile(_.isLetter)
      if (letters.isEmpty) fallback
      else letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
    }

  private def withPart[T](zip: ZipFile, name: String)(f: javax.xml.stream.XMLStreamReader => T): T = {
    val entry = zip.getEntry(name)
    require(entry != null, s"xlsx is missing required part $name")
    val in = zip.getInputStream(entry)
    val reader = secureFactory().createXMLStreamReader(in)
    try f(reader)
    finally { reader.close(); in.close() }
  }
}

package graft.etl

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalTime}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

/** Dependency-free XLSX source (SURVEY §2.1 S5).
  *
  * Covers the reference's two Excel entry points:
  *  - `pd.read_excel(filepath)` on a statement file (etl.py:311-315) →
  *    [[firstSheet]]: first sheet's header cells and rows in sheet order,
  *    all strings — the `(header, rows)` contract of the smart-CSV and
  *    HTML sources, so `Extract` is format-agnostic.
  *  - `pd.read_excel(source, sheet_name=None, dtype=str)` + per-sheet
  *    `dropna(how='all')` + `to_csv(encoding='utf-8-sig')`
  *    (convert_model.py:56-67, the config-master exporter) →
  *    [[exportConfigCsvs]].
  *
  * XLSX is ZIP + OOXML, so `java.util.zip` + StAX (`javax.xml.stream`)
  * parse it without any external library: workbook.xml gives sheet order,
  * workbook.xml.rels maps sheets to their parts, sharedStrings.xml holds
  * the string table, styles.xml tells which numeric cells carry a date
  * format (Excel stores dates as day serials — rendered here as ISO
  * strings so the downstream `parseDateWithYear` / `try_to_date` parsers
  * consume them like any CSV date field).
  *
  * Statement files are KB-sized monthly exports, so — exactly like the
  * smart-CSV and HTML sources (Ingest.scala) — the decode runs on the
  * driver and `Extract` hands the mapped rows to [[Ingest.table]];
  * everything downstream is distributed Spark. This is NOT a path for
  * warehouse-scale data (that stays parquet).
  */
object Xlsx {

  /** One worksheet: name + dense rows (None = missing/blank cell). */
  final case class Sheet(name: String, rows: Vector[Vector[Option[String]]])

  // ------------------------------------------------------------ read

  /** OLE2 compound-file magic (D0 CF 11 E0 A1 B1 1A E1) — the container
    * of legacy BIFF `.xls`. The reference's routing accepts `.xls`
    * (etl.py:463-482) and pandas parses it via xlrd; files with this
    * magic dispatch to the dependency-free BIFF8 reader in [[Xls]], so
    * both Excel containers flow through the same [[Sheet]] contract.
    */
  private val Ole2Magic =
    Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1).map(_.toByte)

  private def isOle2(path: String): Boolean = {
    val head = {
      val in = Files.newInputStream(Paths.get(path))
      try in.readNBytes(8) finally in.close()
    }
    head.length == 8 && java.util.Arrays.equals(head, Ole2Magic)
  }

  /** All worksheets of an Excel workbook — OOXML `.xlsx` or legacy BIFF8
    * `.xls` (by magic, not extension) — in workbook order, as strings.
    */
  def readSheets(path: String): Seq[Sheet] = {
    if (isOle2(path)) return Xls.readSheets(path)
    val zip = new ZipFile(path)
    try {
      def bytes(name: String): Option[Array[Byte]] =
        Option(zip.getEntry(name)).map { e =>
          val in = zip.getInputStream(e)
          try in.readAllBytes() finally in.close()
        }
      val shared = bytes("xl/sharedStrings.xml")
        .map(parseSharedStrings).getOrElse(Vector.empty)
      val dateStyles = bytes("xl/styles.xml")
        .map(parseDateStyles).getOrElse(Set.empty)
      val rels = bytes("xl/_rels/workbook.xml.rels")
        .map(parseRels).getOrElse(Map.empty)
      val wb = bytes("xl/workbook.xml").getOrElse(
        throw new IllegalArgumentException(s"$path: no xl/workbook.xml"))
      parseWorkbookSheets(wb).map { case (name, rid) =>
        val target = rels.getOrElse(rid,
          throw new IllegalArgumentException(s"$path: no rel for $rid"))
        val part = // targets are xl-relative ("worksheets/sheet1.xml")
          if (target.startsWith("/")) target.stripPrefix("/")
          else s"xl/$target"
        val rows = bytes(part).map(parseSheetRows(_, shared, dateStyles))
          .getOrElse(Vector.empty)
        val width = if (rows.isEmpty) 0 else rows.map(_.length).max
        Sheet(name, rows.map(r => r.padTo(width, None)))
      }
    } finally zip.close()
  }

  /** `pd.read_excel(filepath)` shape: the first sheet's first row as the
    * header cells, the rest as rows; a blank cell is null.
    */
  def firstSheet(path: String): (Seq[String], Seq[Seq[String]]) = {
    val sheet = readSheets(path).headOption.getOrElse(
      throw new IllegalArgumentException(s"$path: workbook has no sheets"))
    require(sheet.rows.nonEmpty, s"$path: first sheet is empty")
    val cells = sheet.rows.map(_.map(_.orNull))
    (cells.head, cells.tail)
  }

  /** convert_model.py:56-67: read every sheet, and for each
    * (sheetName → outCsvName) mapping entry whose sheet exists, drop
    * all-empty rows and all-empty columns, then write a UTF-8-BOM CSV.
    * Returns (outCsvName, rowCount) per exported sheet; missing sheets
    * are skipped (the reference prints a warning and moves on).
    */
  def exportConfigCsvs(xlsxPath: String, outDir: String,
                       sheetMapping: Seq[(String, String)]): Seq[(String, Int)] = {
    Files.createDirectories(Paths.get(outDir))
    val byName = readSheets(xlsxPath).map(s => s.name -> s).toMap
    sheetMapping.flatMap { case (sheetName, outName) =>
      byName.get(sheetName).map { sheet =>
        // dropna(how='all'): header participates like any other row in
        // the column-emptiness scan (dtype=str read, header in row 0)
        val keptRows = sheet.rows.filter(_.exists(_.nonEmpty))
        val width = if (keptRows.isEmpty) 0 else keptRows.map(_.length).max
        val keptCols = (0 until width).filter(i =>
          keptRows.exists(r => r.lift(i).flatten.nonEmpty))
        val cells = keptRows.map(r => keptCols.map(i => r.lift(i).flatten))
        val csv = cells.map(_.map(c => csvField(c.getOrElse("")))
          .mkString(",")).mkString("", "\n", "\n")
        val out = Paths.get(outDir, outName)
        Files.write(out,
          Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            csv.getBytes(StandardCharsets.UTF_8))
        // pandas counts data rows (header excluded)
        (outName, (cells.length - 1).max(0))
      }
    }
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  // ------------------------------------------------------------ XML parts

  private def reader(bytes: Array[Byte]): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    // statement files are untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  private def attr(r: XMLStreamReader, local: String): Option[String] =
    (0 until r.getAttributeCount)
      .find(i => r.getAttributeLocalName(i) == local)
      .map(r.getAttributeValue)

  /** workbook.xml → (sheetName, relationship id) in workbook order. */
  private def parseWorkbookSheets(bytes: Array[Byte]): Vector[(String, String)] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[(String, String)]
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet")
        for (n <- attr(r, "name"); id <- attr(r, "id")) out += ((n, id))
    } finally r.close()
    out.result()
  }

  /** workbook.xml.rels → rId → target part path. */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = reader(bytes)
    val out = Map.newBuilder[String, String]
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship")
        for (id <- attr(r, "Id"); t <- attr(r, "Target")) out += (id -> t)
    } finally r.close()
    out.result()
  }

  /** sharedStrings.xml → string table. Rich-text runs (`<r><t>`) are
    * concatenated; phonetic guides (`<rPh>`) are skipped — same rendering
    * pandas/openpyxl produce.
    */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = reader(bytes)
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    var inT = false
    var phoneticDepth = 0
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "si" => sb.clear()
        case "rPh" => phoneticDepth += 1
        case "t" if phoneticDepth == 0 => inT = true
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
          if inT => sb.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "si" => out += sb.toString
        case "rPh" => phoneticDepth -= 1
        case "t" => inT = false
        case _ => ()
      }
      case _ => ()
    } finally r.close()
    out.result()
  }

  /** Builtin numFmtIds that render as dates/times (same table in OOXML
    * and legacy BIFF — the id space is shared).
    */
  private[etl] val builtinDateFmts: Set[Int] =
    (14 to 22).toSet ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)

  /** A custom number-format code renders as a date iff it contains date
    * letters outside quoted/bracketed sections — shared by the OOXML
    * styles.xml scan and the BIFF FORMAT-record scan.
    */
  private[etl] def isDateFormatCode(code: String): Boolean = {
    val bare = code.replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
    bare.exists("ymdhsYMDHS".indexOf(_) >= 0)
  }

  /** styles.xml → set of cellXf indexes (the `s` attribute on a cell)
    * whose number format is a date format — builtin date ids plus custom
    * codes containing date letters outside quoted/bracketed sections.
    */
  private def parseDateStyles(bytes: Array[Byte]): Set[Int] = {
    val r = reader(bytes)
    val custom = mutable.Map.empty[Int, String]
    val xfFmts = Vector.newBuilder[Int]
    var inCellXfs = false
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "numFmt" =>
          for (id <- attr(r, "numFmtId"); code <- attr(r, "formatCode"))
            custom(id.toInt) = code
        case "cellXfs" => inCellXfs = true
        case "xf" if inCellXfs =>
          xfFmts += attr(r, "numFmtId").map(_.toInt).getOrElse(0)
        case _ => ()
      }
      case XMLStreamConstants.END_ELEMENT
          if r.getLocalName == "cellXfs" => inCellXfs = false
      case _ => ()
    } finally r.close()
    def isDate(fmtId: Int): Boolean =
      builtinDateFmts(fmtId) || custom.get(fmtId).exists(isDateFormatCode)
    xfFmts.result().zipWithIndex.collect {
      case (fmt, i) if isDate(fmt) => i
    }.toSet
  }

  /** One worksheet part → sparse-to-dense string rows. */
  private def parseSheetRows(bytes: Array[Byte], shared: Vector[String],
                             dateStyles: Set[Int]): Vector[Vector[Option[String]]] = {
    val r = reader(bytes)
    val rows = Vector.newBuilder[Vector[Option[String]]]
    var cells = mutable.ArrayBuffer.empty[Option[String]]
    var cellCol = -1 // 0-based column of the open <c>
    var cellType = ""
    var cellStyle = 0
    var text = new StringBuilder
    var capture = false // inside <v> or inline <is><t>
    var inSheetData = false
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "sheetData" => inSheetData = true
        case "row" if inSheetData =>
          cells = mutable.ArrayBuffer.empty[Option[String]]
        case "c" if inSheetData =>
          // absent r attribute → next column after the previous cell
          cellCol = attr(r, "r").map(colIndex).getOrElse(cells.length)
          cellType = attr(r, "t").getOrElse("")
          cellStyle = attr(r, "s").map(_.toInt).getOrElse(0)
          text = new StringBuilder
        case "v" if inSheetData => capture = true
        case "t" if inSheetData && cellType == "inlineStr" => capture = true
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
          if capture => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" | "t" => capture = false
        case "c" if inSheetData && cellCol >= 0 =>
          val v = cellValue(text.toString, cellType, cellStyle, shared,
            dateStyles)
          while (cells.length < cellCol) cells += None
          if (cells.length == cellCol) cells += v else cells(cellCol) = v
          cellCol = -1
        case "row" if inSheetData => rows += cells.toVector
        case "sheetData" => inSheetData = false
        case _ => ()
      }
      case _ => ()
    } finally r.close()
    rows.result()
  }

  private def cellValue(raw: String, t: String, style: Int,
                        shared: Vector[String],
                        dateStyles: Set[Int]): Option[String] = {
    if (raw.isEmpty && t != "s") return None
    t match {
      case "s" => shared.lift(raw.trim.toInt)
      case "inlineStr" | "str" | "e" => Some(raw)
      case "b" => Some(if (raw.trim == "1") "TRUE" else "FALSE")
      case _ => // general number; date-styled serials render as ISO text
        Some(if (dateStyles(style)) serialToDateTimeString(raw.trim)
        else raw.trim)
    }
  }

  /** Excel day serial → ISO date (or "date HH:mm:ss" when a time fraction
    * is present). Epoch 1899-12-30 absorbs Excel's phantom 1900-02-29 for
    * every date ≥ 1900-03-01 — i.e. all real statement dates. BIFF's
    * 1904-mode workbooks pass `epoch1904 = true` (offset 1462 days).
    */
  private[etl] def serialToDateTimeString(raw: String,
                                          epoch1904: Boolean = false): String = {
    val serial = raw.toDouble + (if (epoch1904) 1462 else 0)
    val days = math.floor(serial).toLong
    val date = LocalDate.of(1899, 12, 30).plusDays(days)
    val secs = math.round((serial - days) * 86400)
    if (secs == 0) date.toString
    else f"$date ${LocalTime.ofSecondOfDay(secs % 86400)}"
  }

  /** "BC7" → 0-based column 54. */
  private def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  // ------------------------------------------------------------ write

  /** Minimal XLSX writer — enough OOXML for fixtures, demos, and report
    * export: shared strings for text, numFmt 14 for LocalDate cells,
    * plain numbers for numeric types, null = blank. Not a formatting
    * library; the reference never writes Excel either.
    */
  def writeSheets(path: String, sheets: Seq[(String, Seq[Seq[Any]])]): Unit = {
    val strings = mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int =
      strings.getOrElseUpdate(s, strings.size)

    def colRef(i: Int): String = {
      var n = i + 1
      val sb = new StringBuilder
      while (n > 0) {
        sb.insert(0, ('A' + (n - 1) % 26).toChar)
        n = (n - 1) / 26
      }
      sb.toString
    }
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

    def cell(ref: String, v: Any): Seq[String] = v match {
      case s: String =>
        Seq(s"""<c r="$ref" t="s"><v>${sharedIdx(s)}</v></c>""")
      case d: LocalDate =>
        val serial = java.time.temporal.ChronoUnit.DAYS.between(
          LocalDate.of(1899, 12, 30), d)
        Seq(s"""<c r="$ref" s="1"><v>$serial</v></c>""")
      case n: Double => Seq(s"""<c r="$ref"><v>$n</v></c>""")
      case n: Number => Seq(s"""<c r="$ref"><v>$n</v></c>""")
      case b: Boolean =>
        Seq(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
      case other =>
        Seq(s"""<c r="$ref" t="s"><v>${sharedIdx(other.toString)}</v></c>""")
    }

    val sheetXmls = sheets.map { case (_, rows) =>
      val body = rows.zipWithIndex.map { case (row, ri) =>
        val cs = row.zipWithIndex.flatMap { case (v, ci) =>
          val ref = s"${colRef(ci)}${ri + 1}"
          v match {
            case null | None => Nil
            case Some(x) => cell(ref, x)
            case x => cell(ref, x)
          }
        }
        s"""<row r="${ri + 1}">${cs.mkString}</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>"""
    }

    val wbSheets = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$wbSheets</sheets></workbook>"""
    val wbRels = {
      val sheetRels = sheets.indices.map(i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
      val n = sheets.size
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${sheetRels.mkString}<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/><Relationship Id="rId${n + 2}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/></Relationships>"""
    }
    val sharedXml = {
      val sis = strings.keys.map(s => s"<si><t xml:space=\"preserve\">${esc(s)}</t></si>").mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">$sis</sst>"""
    }
    // xf index 1 carries builtin date format 14 (mm-dd-yy family)
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><fonts count="1"><font/></fonts><fills count="1"><fill/></fills><borders count="1"><border/></borders><cellStyleXfs count="1"><xf/></cellStyleXfs><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>"""
    val contentTypes = {
      val overrides = sheets.indices.map(i =>
        s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>$overrides<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/><Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/></Types>"""
    }
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(path)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", wbRels)
      sheetXmls.zipWithIndex.foreach { case (xml, i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", xml)
      }
      put("xl/sharedStrings.xml", sharedXml)
      put("xl/styles.xml", styles)
    } finally zos.close()
  }
}

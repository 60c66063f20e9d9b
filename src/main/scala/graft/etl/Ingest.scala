package graft.etl

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Statement-file ingestion (SURVEY §2.1 S1-S4).
  *
  * Statements and rule tables are KB-sized files, so every reader decodes
  * its file on the driver — CSV through [[csvRows]], HTML here, Excel in
  * [[Xlsx]] — and hands a header plus string rows to [[table]], the one
  * place driver-parsed rows become a DataFrame. No Spark job runs to read
  * them; every transform downstream of the raw frame is Spark. Each file
  * lands in ONE partition with `_row_idx` stored as data — statement row
  * order is semantics-bearing (master-row fill-down, SURVEY §2.7 W1/W3).
  */
object Ingest {

  /** Row-order column added to every ingested file. */
  val RowIdx = "_row_idx"

  private[etl] def decode(path: String, encoding: String): String = {
    // errors='replace' (etl.py:133): malformed bytes → U+FFFD, never throw
    val dec = Charset.forName(encoding).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))))
      .toString
  }

  /** `\n`-split lines of a decoded file, `\r` line ends dropped. */
  private[etl] def lines(text: String): Seq[String] =
    text.split("\n", -1).toSeq.map(_.stripSuffix("\r"))

  /** Column names by pandas' header rule (the reference reads every format
    * through pandas): trimmed (etl.py:319), a blank cell is `Unnamed: i`,
    * and a repeated name gets `.1`, `.2`, … — repeats compared the way the
    * caller resolves names, and never clashing with `_row_idx`.
    */
  def columnNames(cells: Seq[String],
                  caseSensitive: Boolean): Seq[String] = {
    def key(n: String) = if (caseSensitive) n else n.toLowerCase(Locale.ROOT)
    val seen = mutable.Map(key(RowIdx) -> 1).withDefaultValue(0)
    cells.zipWithIndex.map { case (c, i) =>
      val trimmed = Option(c).map(_.trim).getOrElse("")
      var name = if (trimmed.isEmpty) s"Unnamed: $i" else trimmed
      var n = seen(key(name))
      while (n > 0) { // pandas' _dedup_names: a new name may repeat too
        seen(key(name)) = n + 1
        name = s"$name.$n"
        n = seen(key(name))
      }
      seen(key(name)) = 1
      name
    }
  }

  /** The one constructor of a DataFrame from a driver-parsed file:
    * all-string columns named by [[columnNames]], plus `_row_idx` = the
    * row's position, in a single partition (one plan branch per file; a
    * local relation would split the file, and once coalesced Spark's union
    * would merge files).
    */
  def table(spark: SparkSession, header: Seq[String],
            rows: Seq[Seq[String]]): DataFrame = {
    val names = columnNames(header,
      spark.sessionState.conf.caseSensitiveAnalysis)
    val data = rows.zipWithIndex.map { case (r, i) =>
      require(r.length == names.length,
        s"row $i has ${r.length} cells, header has ${names.length}")
      Row.fromSeq(r :+ i.toLong)
    }
    val schema = StructType(names.map(StructField(_, StringType)) :+
      StructField(RowIdx, LongType, nullable = false))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  private val csvOptions = new CSVOptions(
    Map("header" -> "true", "mode" -> "DROPMALFORMED"), false, "UTC")

  /** Header cells and rows of in-memory CSV lines, tokenized by Spark's own
    * parser settings, as `spark.read` with header and DROPMALFORMED (pandas
    * on_bad_lines='skip') reads a `Dataset[String]`: blank lines and later
    * copies of the header line are skipped, a line whose field count
    * differs from the header's is dropped, and empty fields are null.
    */
  def csvRows(lines: Seq[String]): (Seq[String], Seq[Seq[String]]) = {
    // Spark's blank-line filter trims spaces only
    val kept = lines.filter(_.exists(_ != ' '))
    kept.headOption match {
      case None => (Nil, Nil)
      case Some(first) =>
        val parser = new CsvParser(csvOptions.asParserSettings)
        val header = parser.parseLine(first).toSeq
        val rows = kept.tail.filter(_ != first)
          .flatMap(l => Option(parser.parseLine(l)))
          .filter(_.length == header.length)
          .map(_.toSeq.map(v => if (v == csvOptions.nullValue) null else v))
        (header, rows)
    }
  }

  /** Smart CSV (etl.py:129-152): scan the first 50 lines for the configured
    * header keyword, drop the preamble above it, parse the remainder as CSV
    * (malformed lines dropped). Falls back to a plain header=0 read when the
    * keyword is absent.
    */
  def smartReadCsv(spark: SparkSession, path: String, encoding: String,
                   headerKeyword: String): DataFrame = {
    val all = lines(decode(path, encoding))
    val headerIdx = all.take(51).zipWithIndex.collectFirst {
      case (l, i) if headerKeyword.nonEmpty && l.contains(headerKeyword) => i
    }
    val (header, rows) = csvRows(headerIdx.map(all.drop).getOrElse(all))
    table(spark, header, rows)
  }

  /** HTML table source (etl.py:289-304, hncb): find the `<table>` whose text
    * contains the header keyword, first row = header (newlines in header
    * cells flattened to single spaces, etl.py:301), rest = data. Minimal
    * tag-stripping parser — no HTML lib ships with Spark, and statement
    * pages are simple generated tables.
    */
  def readHtmlTable(spark: SparkSession, path: String, encoding: String,
                    headerKeyword: String): DataFrame = {
    val html = decode(path, encoding)
    val tables = """(?is)<table\b.*?</table>""".r
      .findAllIn(html).toSeq
    val target = tables.find(stripTags(_).contains(headerKeyword))
      .getOrElse(throw new IllegalArgumentException(
        s"no <table> containing '$headerKeyword' in $path"))
    val rows = """(?is)<tr\b.*?</tr>""".r.findAllIn(target).toSeq.map { tr =>
      """(?is)<t[dh]\b.*?</t[dh]>""".r.findAllIn(tr).toSeq.map(stripTags)
    }.filter(_.nonEmpty)
    require(rows.nonEmpty, s"empty table in $path")
    val header = rows.head.map(h =>
      h.replace("\n", " ").split("\\s+").filter(_.nonEmpty).mkString(" "))
    val width = header.length
    table(spark, header, rows.tail.map(_.padTo(width, "").take(width)))
  }

  private def stripTags(s: String): String =
    s.replaceAll("(?is)<(script|style)\\b.*?</\\1>", "")
      .replaceAll("(?s)<[^>]*>", "")
      .replace("&nbsp;", " ").replace("&amp;", "&")
      .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .trim

  /** Directory scan + bank routing (etl.py:463-482): keep
    * `.csv/.xlsx/.xls/.html`, skip dotfiles, route by the first matching
    * filename keyword.
    */
  def routeFiles(dataDir: String): Seq[(String, String)] = {
    val dir = new java.io.File(dataDir)
    if (!dir.isDirectory) return Nil
    dir.listFiles().toSeq.map(_.getName).sorted
      .filterNot(_.startsWith("."))
      .filter(_.matches("(?i).*\\.(csv|xlsx|xls|html)$"))
      .flatMap { name =>
        EtlConfigs.bankKeywordMap.collectFirst {
          case (kw, bankId) if name.contains(kw) =>
            (s"$dataDir/$name", bankId)
        }
      }
  }

  /** Filename → (baseYear, billMonth) (etl.py:271-282): western `202401`,
    * ROC `113年1月` (+1911). Defaults 2024/1.
    */
  def parseFilenameYearMonth(filename: String): (Int, Int) = {
    val roc = """(\d{2,3})年(\d{1,2})月""".r.findFirstMatchIn(filename)
    val western = """(20\d{2})(\d{2})""".r.findFirstMatchIn(filename)
    roc match {
      case Some(m) => (m.group(1).toInt + 1911, m.group(2).toInt)
      case None => western match {
        case Some(m) => (m.group(1).toInt, m.group(2).toInt)
        case None => (2024, 1)
      }
    }
  }
}

package graft.etl

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Statement-file ingestion (SURVEY §2.1 S1-S4).
  *
  * Statements and rule tables are KB-sized files, so every reader decodes
  * its file on the driver — CSV through [[csvFile]]/[[csvRows]], HTML
  * through [[htmlFile]], Excel through `Xlsx.firstSheet` — into a header
  * plus string rows in file order. Driver-parsed rows become a DataFrame
  * only through [[table]], so no Spark job runs to read them; every
  * transform downstream of that table is Spark.
  */
object Ingest {

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
    * and a repeated name gets `.1`, `.2`, … — repeats compared exactly.
    */
  def columnNames(cells: Seq[String]): Seq[String] = {
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    cells.zipWithIndex.map { case (c, i) =>
      val trimmed = Option(c).map(_.trim).getOrElse("")
      var name = if (trimmed.isEmpty) s"Unnamed: $i" else trimmed
      var n = seen(name)
      while (n > 0) { // pandas' _dedup_names: a new name may repeat too
        seen(name) = n + 1
        name = s"$name.$n"
        n = seen(name)
      }
      seen(name) = 1
      name
    }
  }

  /** The one constructor of a DataFrame from driver-parsed rows: all-string
    * columns named `names`, rows in the given order, as a local relation.
    * Catalyst folds a narrow Project/Filter chain over it into the relation
    * while optimizing, and a scan slices it by Spark's default.
    */
  def table(spark: SparkSession, names: Seq[String],
            rows: Seq[Seq[String]]): DataFrame = {
    val data = rows.zipWithIndex.map { case (r, i) =>
      require(r.length == names.length,
        s"row $i has ${r.length} cells, header has ${names.length}")
      Row.fromSeq(r)
    }
    spark.createDataFrame(data.asJava,
      StructType(names.map(StructField(_, StringType))))
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
  def csvFile(path: String, encoding: String,
              headerKeyword: String): (Seq[String], Seq[Seq[String]]) = {
    val all = lines(decode(path, encoding))
    val headerIdx = all.take(51).zipWithIndex.collectFirst {
      case (l, i) if headerKeyword.nonEmpty && l.contains(headerKeyword) => i
    }
    csvRows(headerIdx.map(all.drop).getOrElse(all))
  }

  /** HTML table source (etl.py:289-304, hncb): find the `<table>` whose text
    * contains the header keyword, first row = header (newlines in header
    * cells flattened to single spaces, etl.py:301), rest = data padded or
    * cut to the header's width. Minimal tag-stripping parser — no HTML lib
    * ships with Spark, and statement pages are simple generated tables.
    */
  def htmlFile(path: String, encoding: String,
               headerKeyword: String): (Seq[String], Seq[Seq[String]]) = {
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
    (header, rows.tail.map(_.padTo(width, "").take(width)))
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

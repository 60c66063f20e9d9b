package graft.etl

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.EtlConfigs.BankConfig
import graft.etl.Schema._

/** Extract stage (etl.py EP1): per-bank statement files → unified
  * transaction table.
  *
  * Each file is read, header-mapped and master-row folded on the driver,
  * where its rows already are in file order; all files then enter Spark
  * as ONE table through [[Ingest.table]], and one narrow Column pipeline
  * (SURVEY §3 EP1) runs the card extraction, bank-specific parses and
  * cleanup over every file at once. The plan does not grow with the file
  * count: no window, no union, no row-order column.
  */
object Extract {

  // ------------------------------------------------------------ X7
  /** Country-code normalize (etl.py:47-98): null/empty → 'TW'; else trim,
    * upper, first space-token, 3→2-letter map, else passthrough.
    */
  private val iso3to2 = Map(
    "TWN" -> "TW", "USA" -> "US", "JPN" -> "JP", "KOR" -> "KR",
    "HKG" -> "HK", "SGP" -> "SG", "GBR" -> "GB", "CHN" -> "CN",
    "IRL" -> "IE", "DEU" -> "DE", "FRA" -> "FR", "AUS" -> "AU",
    "VNM" -> "VN", "THA" -> "TH", "MYS" -> "MY", "IDN" -> "ID")

  def normalizeCountry(c: Column): Column = {
    val stripped = trim(c.cast("string"))
    val first = upper(split(stripped, " ").getItem(0))
    when(c.isNull || stripped === "", lit("TW"))
      .otherwise(coalesce(
        element_at(typedLit(iso3to2), first), first))
  }

  // ------------------------------------------------------------ X8
  /** Date parse with billing-year inference (etl.py:100-122): `MM/DD` gets
    * the filename year, with cross-year rollover (Jan bill + Dec txn →
    * year−1; Dec bill + Jan txn → year+1); `YYYY/MM/DD` parses directly;
    * junk → null. try_to_date keeps invalid calendar dates null under ANSI.
    */
  def parseDateWithYear(c: Column, baseYear: Int, billMonth: Int): Column =
    // billMonth is a plan-time constant: branch in Scala rather than
    // building `lit(billMonth) === 1` (a trivially-true/false Column
    // predicate that fires Spark's "trivially true equals" warning and
    // noises over real instances of that bug class)
    parseDate(c) { m =>
      billMonth match {
        case 1 =>
          when(m.cast("int") === 12, lit(baseYear - 1)).otherwise(lit(baseYear))
        case 12 =>
          when(m.cast("int") === 1, lit(baseYear + 1)).otherwise(lit(baseYear))
        case _ => lit(baseYear)
      }
    }

  /** [[parseDateWithYear]] with the filename year and month per row. The
    * month test uses `try_cast`: Catalyst may hoist it out of its `when`,
    * and under ANSI a plain cast of a non-date string would throw there.
    */
  def parseDateWithYear(c: Column, baseYear: Column,
                        billMonth: Column): Column =
    parseDate(c) { m =>
      val month = m.try_cast("int")
      when(billMonth === 1 && month === 12, baseYear - 1)
        .when(billMonth === 12 && month === 1, baseYear + 1)
        .otherwise(baseYear)
    }

  private def parseDate(c: Column)(year: Column => Column): Column = {
    val s = trim(c.cast("string"))
    val parts = split(s, "[/-]")
    val isTwo = s.rlike("^\\d{1,2}[/-]\\d{1,2}$")
    val isThree = s.rlike("^\\d{4}[/-]\\d{1,2}[/-]\\d{1,2}$")
    val m = parts.getItem(0)
    val d = parts.getItem(1)
    when(isTwo,
        try_to_date(concat_ws("-", year(m), m, d), "yyyy-M-d"))
      .when(isThree,
        try_to_date(concat_ws("-", parts.getItem(0), parts.getItem(1),
          parts.getItem(2)), "yyyy-M-d"))
      .otherwise(lit(null).cast("date"))
  }

  // ------------------------------------------------------------ S2-S5 + P1-P3
  /** Canonical columns a bank's header cells map onto (etl.py:13-29). */
  private val mappedColumns = extractOrder.filter(_ != BankName) :+
    RawCountryCurr
  /** Per-file columns: the filename's billing year and month (X8) and the
    * folded master text (W1).
    */
  private val (baseYear, billMonth, masterText) =
    ("_base_year", "_bill_month", "_master_text")

  // ------------------------------------------------------------ W1 + F2
  /** Master-row patterns (etl.py:154-203): esun/hncb statements put the
    * card number/type on "master" rows, tagged by `trigger`, followed by
    * that card's transactions.
    */
  private case class CardPatterns(trigger: String, cardNo: String,
                                  cardType: String)
  private val cardPatterns = Map(
    "esun_bank" -> CardPatterns("卡號：", "(\\d{4})（",
      "（(.*?)－?(?:正卡|附卡)）"),
    "hncb_bank" -> CardPatterns("\\*{12}", "\\*{12}(\\d{4})",
      "^(.*?)\\*{12}"))

  /** One statement file's rows in file order, mapped onto
    * [[mappedColumns]] by header index, plus the per-file columns. A master
    * row is one whose `Merchant` (`""` when null) has a trigger match, the
    * way `rlike` finds one; master rows are dropped and each other row
    * carries the latest master text above it — `""` before the file's first
    * master row, null when the file has none, which keeps its card columns
    * (the reference rewrites cards only `if mask_master.any()`).
    */
  private def statementRows(path: String, bankId: String,
                            cfg: BankConfig): Seq[Seq[String]] = {
    val (header, rows) = cfg.fileType match {
      case "html" => Ingest.htmlFile(path, cfg.encoding, cfg.headerKeyword)
      case "excel" => Xlsx.firstSheet(path) // S5 (etl.py:311-315)
      case _ => Ingest.csvFile(path, cfg.encoding, cfg.headerKeyword)
    }
    val names = Ingest.columnNames(header)
    val sources = cfg.columnsMapping.filter { case (src, dst) =>
      names.contains(src) && mappedColumns.contains(dst)
    }
    val repeated = sources.groupBy(_._2).filter(_._2.size > 1).keys
    require(repeated.isEmpty,
      s"two source columns map to ${repeated.mkString(", ")}")
    val index = sources.map { case (src, dst) => dst -> names.indexOf(src) }
      .toMap
    val mapped = rows.map(r => mappedColumns.map(index.get(_).map(r).orNull))
    val (year, month) =
      Ingest.parseFilenameYearMonth(new java.io.File(path).getName)
    val file = Seq(bankId, year.toString, month.toString)
    val merchant = mappedColumns.indexOf(Merchant)
    val trigger = cardPatterns.get(bankId).map(p => Pattern.compile(p.trigger))
    def isMaster(r: Seq[String]) = trigger.exists(
      _.matcher(Option(r(merchant)).getOrElse("")).find())
    if (!mapped.exists(isMaster)) mapped.map(_ ++ file :+ null)
    else mapped.foldLeft(("", Vector.empty[Seq[String]])) {
      case ((master, out), r) =>
        if (isMaster(r)) (Option(r(merchant)).getOrElse(master), out)
        else (master, out :+ (r ++ file :+ master))
    }._2
  }

  // ------------------------------------------------------------ pipeline
  /** Nodes 3-5 over the statement table (etl.py:154-440): card extraction
    * from the folded master text (W1, C2), the bank-specific parses
    * (Node 4, each guarded by `Bank_Name`), dates, amounts and the C1-C6
    * cleanup, in extract order (P5).
    */
  private def transform(df: DataFrame): DataFrame = {
    def is(bank: String) = col(BankName) === bank
    val isPayment = coalesce(col(Merchant), lit("")).rlike("繳款|轉帳")

    // Node 3: card extraction (W1); payment rows (繳款/轉帳) must not
    // inherit a card (C2, etl.py:186-196)
    def card(c: String, pattern: CardPatterns => String) = {
      val extracted = cardPatterns.foldLeft(lit(null).cast("string")) {
        case (acc, (bank, p)) => when(is(bank),
          nullif(regexp_extract(col(masterText), pattern(p), 1), lit("")))
          .otherwise(acc)
      }
      when(col(masterText).isNull, col(c))
        .when(isPayment, lit(null))
        .otherwise(extracted)
    }
    val carded = df.withColumns(Map(
      CardNo -> card(CardNo, _.cardNo),
      CardType -> card(CardType, _.cardType)))

    // Node 4-1: esun foreign-detail split (etl.py:206-242): `merchant<2+
    // spaces|tab>place[ MM/DD]` → fixed merchant, Consumption_Place,
    // Conversion_Date; place copied into Merchant_Location (etl.py:354-357)
    val m = trim(col(Merchant))
    val pat = "^(.*?)(?:\\s{2,}|\\t)(.*?)(?:\\s+(\\d{2}/\\d{2}))?$"
    val esunSplit = // group 2 exists iff separator
      is("esun_bank") && m.rlike("(?:\\s{2,}|\\t)")
    val place = trim(regexp_extract(m, pat, 2))
    val convDate = nullif(regexp_extract(m, pat, 3), lit(""))
    // Node 4-2: cube combined `TW / TWD` split (etl.py:244-254): location
    // part country-normalized at once; currency part only set when present
    val raw = col(RawCountryCurr)
    val parts = split(raw, " / ", 2)
    val cube = is("cube_bank") && raw.isNotNull
    val banked = carded.withColumns(Map(
      Merchant -> when(esunSplit, trim(regexp_extract(m, pat, 1)))
        .when(is("esun_bank"), m).otherwise(col(Merchant)),
      ConsumptionPlace ->
        when(esunSplit, place).otherwise(col(ConsumptionPlace)),
      ConvDate -> when(esunSplit && convDate.isNotNull, convDate)
        .otherwise(col(ConvDate)),
      Location -> when(esunSplit, place)
        .when(cube, normalizeCountry(trim(parts.getItem(0))))
        .when(is("ctbc_bank") || is("hncb_bank"),
          coalesce(col(Location), lit("TW")))
        .otherwise(col(Location)),
      Currency -> when(cube && size(parts) >= 2, trim(parts.getItem(1)))
        .when(is("ctbc_bank"), coalesce(col(Currency), lit("TWD")))
        .otherwise(col(Currency))))

    // Node 5: general cleanup (C1-C6, X8, X11)
    // C1: strip the `.0` float artifact; all null-ish renderings ('nan',
    // 'NaN', 'None', '') → SQL null. (Deliberate deviation: the reference's
    // astype(str) leaks literal 'None' strings for payment rows —
    // etl.py:193 + 388 — which we normalize to null instead.)
    val stripped = regexp_replace(col(CardNo), "\\.0$", "")
    val cleanCard = banked
      .withColumn(CardNo,
        when(stripped.isNull || stripped.isin("nan", "NaN", "None", ""),
          lit(null)).otherwise(stripped))
    val (y, mo) = (col(baseYear).cast("int"), col(billMonth).cast("int"))
    val dated = Seq(TxnDate, PostDate, ConvDate).foldLeft(cleanCard) {
      (d, c) => d.withColumn(c, parseDateWithYear(col(c), y, mo))
    }.filter(col(TxnDate).isNotNull) // F1
    val amounts = Seq(Amount, PayAmount, CurrAmount).foldLeft(dated) {
      (d, c) => d.withColumn(c, // X11: comma strip + coerce
        regexp_replace(trim(col(c)), ",", "").try_cast("double"))
    }
    val backfilled = amounts // C3
      .withColumn(PayAmount, coalesce(col(PayAmount), col(Amount)))
      .withColumn(PayCurrency, coalesce(col(PayCurrency), lit("TWD")))
      .withColumn(Location, normalizeCountry(col(Location))) // X7
    val isTw = col(Location) === "TW"
    backfilled // C5 + C6
      .withColumn(Currency,
        when(isTw && !isPayment, lit(null))
          .when(!isTw && col(Currency).isNull, lit("TWD"))
          .otherwise(col(Currency)))
      .withColumn(CurrAmount,
        when(isTw && !isPayment, lit(null)).otherwise(col(CurrAmount)))
      .select(extractOrder.map(col): _*)
  }

  /** EP1 end-to-end: scan the data directory, route each statement file to
    * its bank, read it on the driver, and run Nodes 3-5 over all files as
    * one table, rows in file order then row order (J6).
    */
  def extractAll(spark: SparkSession, dataDir: String,
                 configs: Map[String, BankConfig]): DataFrame = {
    val files = Ingest.routeFiles(dataDir).flatMap { case (path, bankId) =>
      configs.get(bankId).flatMap { cfg =>
        // dead-letter semantics (etl.py:291-315): an unreadable or
        // unmappable statement file — corrupt CSV, legacy BIFF .xls, broken
        // HTML, two source columns on one canonical column — is skipped
        // with a warning and the rest of the batch proceeds; the reference
        // returns None per failed file rather than aborting the month.
        // Ingest is the driver-side decode step, so failures surface here
        // eagerly, never later inside a distributed job.
        try Some(statementRows(path, bankId, cfg))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[extract] skipping $path: ${e.getMessage}")
            None
        }
      }
    }
    require(files.nonEmpty, s"no bank statements found in $dataDir")
    transform(Ingest.table(spark,
      mappedColumns ++ Seq(BankName, baseYear, billMonth, masterText),
      files.flatten))
  }
}

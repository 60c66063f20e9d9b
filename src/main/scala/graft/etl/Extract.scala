package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.EtlConfigs.BankConfig
import graft.etl.Schema._

/** Extract stage (etl.py EP1): per-bank statement files → unified
  * transaction table.
  *
  * Everything is Column algebra — one narrow, shuffle-free whole-stage
  * codegen pipeline per file (SURVEY §3 EP1). The only window (master-row
  * fill-down) is per-file and ordered by the ingest `_row_idx`.
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
  def parseDateWithYear(c: Column, baseYear: Int, billMonth: Int): Column = {
    val s = trim(c.cast("string"))
    val parts = split(s, "[/-]")
    val isTwo = s.rlike("^\\d{1,2}[/-]\\d{1,2}$")
    val isThree = s.rlike("^\\d{4}[/-]\\d{1,2}[/-]\\d{1,2}$")
    val m = parts.getItem(0)
    val d = parts.getItem(1)
    // billMonth is a plan-time constant: branch in Scala rather than
    // building `lit(billMonth) === 1` (a trivially-true/false Column
    // predicate that fires Spark's "trivially true equals" warning and
    // noises over real instances of that bug class)
    val year = billMonth match {
      case 1 =>
        when(m.cast("int") === 12, lit(baseYear - 1)).otherwise(lit(baseYear))
      case 12 =>
        when(m.cast("int") === 1, lit(baseYear + 1)).otherwise(lit(baseYear))
      case _ => lit(baseYear)
    }
    when(isTwo,
        try_to_date(concat_ws("-", year, m, d), "yyyy-M-d"))
      .when(isThree,
        try_to_date(concat_ws("-", parts.getItem(0), parts.getItem(1),
          parts.getItem(2)), "yyyy-M-d"))
      .otherwise(lit(null).cast("date"))
  }

  // ------------------------------------------------------------ W1 + C2
  /** Master-row card extraction (etl.py:154-203): esun/hncb statements put
    * the card number/type on "master" header rows followed by that card's
    * transactions. Tag masters by trigger regex, fill the raw master text
    * down the file order, regex-extract card no/type, clear both on payment
    * rows (繳款/轉帳 must not inherit a card, etl.py:186-196), drop masters.
    *
    * Per-file semantics: the reference only rewrites Card_No when the file
    * has at least one master row (`if mask_master.any()`) — expressed here
    * as a per-file window max over the master flag.
    */
  private case class CardPatterns(trigger: String, cardNo: String,
                                  cardType: String)
  private val cardPatterns = Map(
    "esun_bank" -> CardPatterns("卡號：", "(\\d{4})（",
      "（(.*?)－?(?:正卡|附卡)）"),
    "hncb_bank" -> CardPatterns("\\*{12}", "\\*{12}(\\d{4})",
      "^(.*?)\\*{12}"))

  def extractCardInfo(df: DataFrame, bankId: String): DataFrame =
    cardPatterns.get(bankId) match {
      case None => df
      case Some(p) if !df.columns.contains(Merchant) => df
      case Some(p) =>
        val wFill = Window.orderBy(col(Ingest.RowIdx))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wFile = Window.partitionBy() // one partition per statement file
        val isMaster = coalesce(col(Merchant), lit("")).rlike(p.trigger)
        val isPayment =
          coalesce(col(Merchant), lit("")).rlike("繳款|轉帳")
        // each window is planned once: both card columns read the temporaries
        val (masterText, hasMaster) = ("_master_text", "_has_master")
        def extracted(pat: String) =
          nullif(regexp_extract(col(masterText), pat, 1), lit(""))
        def card(c: String, pat: String) =
          when(!col(hasMaster), col(c))
            .when(isPayment, lit(null))
            .otherwise(extracted(pat))
        df
          .withColumns(Map(
            masterText -> last(when(isMaster, col(Merchant)),
              ignoreNulls = true).over(wFill),
            hasMaster -> (max(isMaster.cast("int")).over(wFile) === 1)))
          .withColumns(Map(
            CardNo -> card(CardNo, p.cardNo),
            CardType -> card(CardType, p.cardType)))
          .filter(!isMaster)
          .drop(masterText, hasMaster)
    }

  // ------------------------------------------------------------ Node 4-1
  /** esun foreign-detail split (etl.py:206-242): `merchant<2+ spaces|tab>
    * place[ MM/DD]` → fixed merchant, Consumption_Place, Conversion_Date;
    * then place copied into Merchant_Location (etl.py:354-357).
    */
  def parseEsunDetails(df: DataFrame): DataFrame = {
    if (!df.columns.contains(Merchant)) return df
    val m = trim(col(Merchant).cast("string"))
    val pat = "^(.*?)(?:\\s{2,}|\\t)(.*?)(?:\\s+(\\d{2}/\\d{2}))?$"
    val matches = m.rlike("(?:\\s{2,}|\\t)") // group 2 exists iff separator
    val g1 = trim(regexp_extract(m, pat, 1))
    val g2 = trim(regexp_extract(m, pat, 2))
    val g3 = nullif(regexp_extract(m, pat, 3), lit(""))
    // Location/place/date first — the Merchant overwrite must come LAST,
    // since every expression here reads the original Merchant column
    df
      .withColumn(ConsumptionPlace,
        when(matches, g2).otherwise(col(ConsumptionPlace)))
      .withColumn(ConvDate,
        when(matches && g3.isNotNull, g3).otherwise(col(ConvDate)))
      .withColumn(Location,
        when(matches, g2).otherwise(col(Location)))
      .withColumn(Merchant, when(matches, g1).otherwise(m))
  }

  // ------------------------------------------------------------ Node 4-2
  /** cube combined `TW / TWD` split (etl.py:244-254): location part is
    * country-normalized immediately; currency part only set when present.
    */
  def parseCubeDetails(df: DataFrame): DataFrame = {
    if (!df.columns.contains(RawCountryCurr)) return df
    val raw = col(RawCountryCurr).cast("string")
    val parts = split(raw, " / ", 2)
    df
      .withColumn(Location,
        when(raw.isNotNull, normalizeCountry(trim(parts.getItem(0))))
          .otherwise(col(Location)))
      .withColumn(Currency,
        when(raw.isNotNull && size(parts) >= 2, trim(parts.getItem(1)))
          .otherwise(col(Currency)))
      .drop(RawCountryCurr)
  }

  // ------------------------------------------------------------ pipeline
  /** Nodes 2-5 for one ingested statement file (etl.py:259-440). */
  def processBankFile(spark: SparkSession, path: String, bankId: String,
                      cfg: BankConfig): DataFrame = {
    val (baseYear, billMonth) =
      Ingest.parseFilenameYearMonth(new java.io.File(path).getName)

    // Node 1: ingest (S2/S4 by file type)
    val raw = cfg.fileType match {
      case "html" =>
        Ingest.readHtmlTable(spark, path, cfg.encoding, cfg.headerKeyword)
      case "excel" => // S5 (etl.py:311-315, pd.read_excel)
        Xlsx.readFirstSheet(spark, path)
      case _ =>
        Ingest.smartReadCsv(spark, path, cfg.encoding, cfg.headerKeyword)
    }

    // Node 2: mapped select + rename (P1), bank tag (P2), null init (P3)
    val available = cfg.columnsMapping.filter {
      case (src, _) => raw.columns.contains(src)
    }
    val mapped0 = raw.select( // quoted: a source name may hold a dot (`金額.1`)
      (available.map { case (src, dst) =>
        col(s"`${src.replace("`", "``")}`").as(dst) } :+
        col(Ingest.RowIdx)): _*)
      .withColumn(BankName, lit(bankId))
    val needed = Seq(Location, Currency, ConvDate, CardNo, CardType,
      PayAmount, PayCurrency, CurrAmount, Merchant, PostDate, TxnDate,
      Amount, ConsumptionPlace, TxnType, MobilePay, RawCountryCurr)
    val mapped = needed.foldLeft(mapped0) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("string"))
    }

    // Node 3: card extraction (W1)
    val carded = extractCardInfo(mapped, bankId)

    // Node 4: bank-specific parse
    val banked = bankId match {
      case "esun_bank" => parseEsunDetails(carded)
      case "cube_bank" => parseCubeDetails(carded)
      case "ctbc_bank" =>
        carded
          .withColumn(Location, coalesce(col(Location), lit("TW")))
          .withColumn(Currency, coalesce(col(Currency), lit("TWD")))
      case "hncb_bank" =>
        carded.withColumn(Location, coalesce(col(Location), lit("TW")))
      case _ => carded
    }
    val banked2 =
      if (banked.columns.contains(RawCountryCurr)) banked.drop(RawCountryCurr)
      else banked

    // Node 5: general cleanup (C1-C6, X8, X11)
    // C1: strip the `.0` float artifact; all null-ish renderings ('nan',
    // 'NaN', 'None', '') → SQL null. (Deliberate deviation: the reference's
    // astype(str) leaks literal 'None' strings for payment rows —
    // etl.py:193 + 388 — which we normalize to null instead.)
    val stripped = regexp_replace(col(CardNo).cast("string"), "\\.0$", "")
    val cleanCard = banked2
      .withColumn(CardNo,
        when(stripped.isNull || stripped.isin("nan", "NaN", "None", ""),
          lit(null)).otherwise(stripped))
    val dated = Seq(TxnDate, PostDate, ConvDate).foldLeft(cleanCard) {
      (d, c) => d.withColumn(c, parseDateWithYear(col(c), baseYear, billMonth))
    }.filter(col(TxnDate).isNotNull) // F1
    val amounts = Seq(Amount, PayAmount, CurrAmount).foldLeft(dated) {
      (d, c) => d.withColumn(c, // X11: comma strip + coerce
        regexp_replace(trim(col(c).cast("string")), ",", "")
          .try_cast("double"))
    }
    val backfilled = amounts // C3
      .withColumn(PayAmount, coalesce(col(PayAmount), col(Amount)))
      .withColumn(PayCurrency, coalesce(col(PayCurrency), lit("TWD")))
      .withColumn(Location, normalizeCountry(col(Location))) // X7
    val isTw = col(Location) === "TW"
    val isPayment =
      coalesce(col(Merchant).cast("string"), lit("")).rlike("繳款|轉帳")
    backfilled // C5 + C6
      .withColumn(Currency,
        when(isTw && !isPayment, lit(null))
          .when(!isTw && col(Currency).isNull, lit("TWD"))
          .otherwise(col(Currency)))
      .withColumn(CurrAmount,
        when(isTw && !isPayment, lit(null)).otherwise(col(CurrAmount)))
  }

  /** EP1 end-to-end: scan the data directory, route each statement file to
    * its bank, run the per-file pipeline, union (J6), ordered projection
    * (P5). File scans parallelize as independent plan branches.
    */
  def extractAll(spark: SparkSession, dataDir: String,
                 configs: Map[String, BankConfig]): DataFrame = {
    val frames = Ingest.routeFiles(dataDir).flatMap { case (path, bankId) =>
      configs.get(bankId).flatMap { cfg =>
        // dead-letter semantics (etl.py:291-315): an unreadable statement
        // file — corrupt CSV, legacy BIFF .xls, broken HTML — is skipped
        // with a warning and the rest of the batch proceeds; the reference
        // returns None per failed file rather than aborting the month.
        // Ingest is the driver-side decode step, so failures surface here
        // eagerly, never later inside a distributed job.
        try Some(processBankFile(spark, path, bankId, cfg))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[extract] skipping $path: ${e.getMessage}")
            None
        }
      }
    }
    require(frames.nonEmpty, s"no bank statements found in $dataDir")
    frames
      .map(_.select(extractOrder.map(col): _*))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }
}

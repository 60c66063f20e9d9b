package graft.etl

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** Config-table model + loaders (SURVEY §2.1 S8).
  *
  * All rule tables are tiny (≤ dozens of rows — configs/payment_gateway.csv
  * has 20) and user-editable. They are parsed on the driver — YAML by
  * snakeyaml, CSV by [[Ingest.csvRows]], so loading them runs no Spark job
  * and takes no session — into case classes that ride into executors
  * inside the serialized plan / UDF closures: the Spark analog of the
  * reference's in-process rule dicts; no shuffle, no join.
  */
object EtlConfigs {

  /** Per-bank ingest config (configs/banks_configs_example.yaml:12-77).
    * `columnsMapping` preserves file order (etl.py:324-329 keeps only mapped
    * source columns, renamed to canonical names).
    */
  final case class BankConfig(
      bankId: String,
      bankName: String,
      fileType: String, // "csv" | "html" | "excel"
      encoding: String,
      headerKeyword: String,
      columnsMapping: Seq[(String, String)])

  /** Card-account mapping rule (cards.csv; refine.py:121-125). Applied in
    * FILE ORDER, last match wins (refine.py:142-170). Empty fields mean
    * "don't touch that column".
    */
  final case class CardRule(
      cardType: String, // 對應卡片 → Card_Type
      cardNo: String, // 卡號 (match key; spaces stripped; '1111/2222' dual)
      mobileTag: String, // 行動支付標籤 (extra match key + assignment)
      prefix: String, // 加在消費明細摘要前方 → payment_prefix
      replaceCardNo: String) // 卡號代換 → Card_No

  /** Third-party payment rule (configs/payment_gateway.csv:1). Applied
    * priority-DESC, first match wins via the `Mobile_Payment == ''` guard
    * (refine.py:184-202).
    */
  final case class PaymentRule(
      pattern: String,
      category: String,
      prefixLabel: String,
      priority: Double)

  /** Merchant normalization rule (merchants.csv; db_to_RFManalysis.py:59).
    * Used two ways: whole-cell rewrite in refine (refine.py:228-245) and
    * hybrid lookup/regex in analytics (db_to_RFManalysis.py:105-134).
    */
  final case class MerchantRule(
      pattern: String,
      replacement: String,
      priority: Double,
      category: String,
      subCategory: String,
      rfmExclusion: Boolean)

  /** Transaction-type keyword lists (configs/transaction_types.yaml:3-37). */
  final case class TxnTypeKeywords(
      paymentKeywords: Seq[String],
      creditKeywords: Seq[String],
      feeKeywords: Seq[String]) {
    /** OR-joined regex; empty list compiles to the never-matching `(?!)`
      * (refine.py:268-270).
      */
    def pat(kws: Seq[String]): String =
      if (kws.isEmpty) "(?!)" else kws.mkString("|")
    def paymentPat: String = pat(paymentKeywords)
    def creditPat: String = pat(creditKeywords)
    def feePat: String = pat(feeKeywords)
  }

  // ------------------------------------------------------------ loaders

  /** YAML bank config (etl.py:43-45, 451). */
  def loadBankConfigs(path: String): Map[String, BankConfig] = {
    val root = new Yaml().load[java.util.Map[String, Object]](
      new java.io.InputStreamReader(
        new java.io.FileInputStream(path), "UTF-8"))
    root.asScala.collect { case (bankId, m: java.util.Map[_, _]) =>
      val cfg = m.asInstanceOf[java.util.Map[String, Object]].asScala
      val mapping = cfg.get("columns_mapping") match {
        case Some(mm: java.util.Map[_, _]) =>
          mm.asInstanceOf[java.util.LinkedHashMap[String, String]]
            .asScala.toSeq
        case _ => Seq.empty
      }
      bankId -> BankConfig(
        bankId = bankId,
        bankName = cfg.get("bank_name").map(_.toString).getOrElse(bankId),
        fileType = cfg.get("file_type").map(_.toString).getOrElse("csv"),
        encoding = cfg.get("encoding").map(_.toString).getOrElse("utf-8"),
        headerKeyword = cfg.get("header_keyword").map(_.toString)
          .getOrElse(""),
        columnsMapping = mapping)
    }.toMap
  }

  /** Transaction-type keywords YAML (refine.py:56-60). */
  def loadTxnTypeKeywords(path: String): TxnTypeKeywords = {
    if (!new java.io.File(path).exists()) return TxnTypeKeywords(Nil, Nil, Nil)
    val root = new Yaml().load[java.util.Map[String, Object]](
      new java.io.InputStreamReader(
        new java.io.FileInputStream(path), "UTF-8"))
    def list(k: String): Seq[String] = root.get(k) match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case _ => Nil
    }
    TxnTypeKeywords(list("payment_keywords"), list("credit_keywords"),
      list("fee_keywords"))
  }

  /** CSV rule-table rows by column name: the file is decoded on the driver
    * (a leading UTF-8 BOM, which other tools glue on, dropped) and
    * tokenized by [[Ingest.csvRows]]; the names follow the statements'
    * header rule, so a repeated column's first copy keeps its name.
    */
  private def readCsvRows(path: String): Seq[Map[String, String]] = {
    val (header, rows) = Ingest.csvRows(
      Ingest.lines(Ingest.decode(path, "UTF-8").stripPrefix("\uFEFF")))
    val names = Ingest.columnNames(header)
    rows.map(r => names.zip(r.map(Option(_).getOrElse(""))).toMap)
  }

  private def num(s: String, default: Double = 999.0): Double =
    try s.trim.toDouble catch { case _: Throwable => default }

  /** cards.csv in FILE ORDER — order is semantics-bearing (last match wins,
    * refine.py:142). All fields trimmed (refine.py:133).
    */
  def loadCardRules(path: String): Seq[CardRule] =
    if (!new java.io.File(path).exists()) Nil
    else readCsvRows(path).map { m =>
      CardRule(
        cardType = m.getOrElse("對應卡片", "").trim,
        cardNo = m.getOrElse("卡號", "").trim,
        mobileTag = m.getOrElse("行動支付標籤", "").trim,
        prefix = m.getOrElse("加在消費明細摘要前方", "").trim,
        replaceCardNo = m.getOrElse("卡號代換", "").trim)
    }.filter(_.cardNo.replace(" ", "").nonEmpty) // refine.py:144

  /** payment_gateway.csv sorted priority-DESC (refine.py:68-72). Stable sort
    * keeps file order among equal priorities, like pandas sort_values.
    */
  def loadPaymentRules(path: String): Seq[PaymentRule] =
    if (!new java.io.File(path).exists()) Nil
    else readCsvRows(path).map { m =>
      PaymentRule(
        pattern = m.getOrElse("Pattern", ""),
        category = m.getOrElse("Category", ""),
        prefixLabel = m.getOrElse("Prefix_Label", ""),
        priority = num(m.getOrElse("Priority", "")))
    }.filter(_.pattern.nonEmpty)
      .sortBy(-_.priority)(Ordering.Double.TotalOrdering)

  /** merchants.csv sorted priority-DESC, blank patterns dropped
    * (refine.py:94-105, db_to_RFManalysis.py:57-99).
    */
  def loadMerchantRules(path: String): Seq[MerchantRule] =
    if (!new java.io.File(path).exists()) Nil
    else readCsvRows(path).map { m =>
      MerchantRule(
        pattern = m.getOrElse("Pattern", ""),
        replacement = m.getOrElse("Replacement", ""),
        priority = num(m.getOrElse("Priority", "")),
        category = m.getOrElse("Category", ""),
        subCategory = m.getOrElse("Sub_Category", ""),
        rfmExclusion = m.getOrElse("RFM_Exclusion", "")
          .trim.toLowerCase == "true") // db_to_RFManalysis.py:82
    }.filter(_.pattern.trim.nonEmpty)
      .sortBy(-_.priority)(Ordering.Double.TotalOrdering)

  /** Filename keyword → bank id routing table (etl.py:453-459). */
  val bankKeywordMap: Seq[(String, String)] = Seq(
    "玉山" -> "esun_bank",
    "國泰" -> "cube_bank", "國泰世華" -> "cube_bank",
    "中信" -> "ctbc_bank", "中國信託" -> "ctbc_bank",
    "華南" -> "hncb_bank",
    "永豐" -> "sinopac_bank", "DAWAY" -> "sinopac_bank")
}

package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CacheScope

/** End-to-end pipeline orchestrator — the Spark equivalent of running
  * `etl.py && refine.py && load_to_db.py && db_to_*.py` in sequence.
  *
  * Stage boundaries that the reference materializes as CSV/SQLite files
  * stay LAZY here (one Catalyst plan from statement file to RFM output)
  * unless the caller asks for the intermediate artifacts.
  */
object Pipeline {

  final case class Configs(
      banks: Map[String, EtlConfigs.BankConfig],
      cards: Seq[EtlConfigs.CardRule],
      payments: Seq[EtlConfigs.PaymentRule],
      merchants: Seq[EtlConfigs.MerchantRule],
      keywords: EtlConfigs.TxnTypeKeywords)

  /** Load every config/rule table from a reference-layout config dir
    * (banks_config.yaml, cards.csv, payment_gateway.csv, merchants.csv,
    * transaction_types.yaml). Missing rule files degrade to empty rule
    * lists, mirroring the reference's defensive fallbacks (refine.py:62-91).
    */
  def loadConfigs(spark: SparkSession, configDir: String): Configs = {
    def p(f: String) = s"$configDir/$f"
    Configs(
      banks =
        if (new java.io.File(p("banks_config.yaml")).exists())
          EtlConfigs.loadBankConfigs(p("banks_config.yaml"))
        else EtlConfigs.loadBankConfigs(p("banks_configs_example.yaml")),
      cards = EtlConfigs.loadCardRules(p("cards.csv")),
      payments = EtlConfigs.loadPaymentRules(p("payment_gateway.csv")),
      merchants = EtlConfigs.loadMerchantRules(p("merchants.csv")),
      keywords = EtlConfigs.loadTxnTypeKeywords(p("transaction_types.yaml")))
  }

  /** Session money representation (SURVEY §1.3): `spark.graft.money=double`
    * (default — reference float64 fidelity, every oracle hash unchanged) or
    * `decimal` (exact fixed-point DECIMAL(18,2) — the production posture
    * for a finance engine; additions never drift). Any other value fails
    * fast rather than silently running in the wrong mode.
    */
  def moneyType(spark: SparkSession): org.apache.spark.sql.types.DataType =
    spark.conf.getOption("spark.graft.money").getOrElse("double") match {
      case "double" => org.apache.spark.sql.types.DoubleType
      case "decimal" => Schema.MoneyDecimal
      case other => throw new IllegalArgumentException(
        s"spark.graft.money must be 'double' or 'decimal', got '$other'")
    }

  /** Extract + refine: statement files → refined transactions (EP1 + EP2,
    * one lazy plan).
    */
  def extractRefine(spark: SparkSession, dataDir: String,
                    cfg: Configs): DataFrame =
    Refine.refine(
      Extract.extractAll(spark, dataDir, cfg.banks),
      cfg.cards, cfg.payments, cfg.merchants, cfg.keywords,
      moneyType(spark))

  /** Full run: extract → refine → load `all_transactions` → the three RFM
    * analyses, written under `outDir` as parquet. Returns the loaded row
    * count (K4). The analyses' caches are released before it returns.
    */
  def run(spark: SparkSession, dataDir: String, configDir: String,
          outDir: String): Long = {
    val cfg = loadConfigs(spark, configDir)
    Load.toWarehouseShape(extractRefine(spark, dataDir, cfg))
      .write.mode("overwrite").parquet(s"$outDir/all_transactions")
    val txns = spark.read.parquet(s"$outDir/all_transactions")
    CacheScope {
      Analyze.merchantRfm(txns, cfg.merchants, cfg.payments)
        .write.mode("overwrite").parquet(s"$outDir/rfm_merchant")
      Analyze.paymentRfm(txns, cfg.payments)
        .write.mode("overwrite").parquet(s"$outDir/rfm_payment")
      Analyze.cardRfm(txns)
        .write.mode("overwrite").parquet(s"$outDir/rfm_card")
    }
    txns.count()
  }
}

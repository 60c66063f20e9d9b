package graft.etl

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.etl.EtlConfigs.{MerchantRule, PaymentRule}
import graft.functions.OracleSafe.dsum
import graft.operators.Rfm

/** Analytics stage (EP3): merchant / payment / card RFM over
  * `all_transactions`, reference semantics end-to-end.
  *
  * Each analysis keeps what is its own — the merchant normalizer, payment
  * tagging and its segment ladder, the bank-fee/blacklist filters, card's
  * trailing-365-day window, the reference's segment labels and the sorts —
  * and takes the R/F/M aggregate, ranks, dual window and the merchant and
  * card ladders from [[graft.operators.Rfm]].
  *
  * Plan shape per analysis (SURVEY §3 EP3): column-pruned scan → (UDF)
  * normalize → filters → two groupBy branches → range-partitioned pct-rank
  * operators over each group table → left join → segment ladder → sort.
  * The analysis-date query is the only job run while building. Merchant
  * persists its normalized input, which that query fills, so the UDF runs
  * once; payment and card re-read their cheap scan. Rule tables ride in
  * closures.
  */
object Analyze {

  /** Non-consumption exclusion regex (F3; db_to_RFManalysis.py:23). */
  val ExcludeTypeKeywords = "繳款|折抵|各項費用|手續費|年費|利息"

  private def notBankFee: Column =
    !coalesce(col("transaction_type"), lit("")).rlike(ExcludeTypeKeywords)

  // ------------------------------------------------------------ J4
  /** Hybrid merchant normalizer (db_to_RFManalysis.py:105-134): strip the
    * longest matching payment prefix → exact lookup on the stripped name
    * (keyed by rule Replacement, first writer wins like dict setdefault) →
    * priority-desc regex scan, first search() hit wins → else keep the name
    * with Category 'Unknown'.
    *
    * A Scala UDF (returns a 4-field struct): the rules are user-editable
    * data, the exact-lookup fast path is part of the semantics
    * (SURVEY §4), and patterns compile once per executor. Rules ride in the
    * closure — no shuffle, no join.
    */
  def hybridNormalizeUdf(rules: Seq[MerchantRule],
                         prefixes: Seq[String]): UserDefinedFunction = {
    val sortedPrefixes = prefixes.filter(_.nonEmpty).sortBy(-_.length)
    val lookup: Map[String, MerchantRule] =
      rules.foldLeft(Map.empty[String, MerchantRule]) { (m, r) =>
        val k = r.replacement.trim
        if (m.contains(k)) m else m + (k -> r) // first (highest prio) wins
      }
    val patterns = rules.map(r => (
      Pattern.compile(r.pattern,
        Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE), r))
    udf((raw: String) => {
      if (raw == null) ("Unknown", "Unknown", "", false)
      else {
        val stripped0 = raw.trim
        val afterPrefix = sortedPrefixes.find(stripped0.startsWith) match {
          case Some(p) => stripped0.substring(p.length)
          case None => stripped0
        }
        val name = afterPrefix.trim
        lookup.get(name) match {
          case Some(r) => (name, r.category, r.subCategory, r.rfmExclusion)
          case None =>
            patterns.find(_._1.matcher(name).find()) match {
              case Some((_, r)) =>
                (r.replacement, r.category, r.subCategory, r.rfmExclusion)
              case None =>
                (if (name.nonEmpty) name else raw, "Unknown", "", false)
            }
        }
      }
    })
  }

  /** Prefix_Label list for prefix stripping (db_to_RFManalysis.py:29-46):
    * ALL rules' labels, longest-first sort happens in the UDF.
    */
  def paymentPrefixes(rules: Seq[PaymentRule]): Seq[String] =
    rules.map(_.prefixLabel.trim).filter(_.nonEmpty)

  /** Attach clean_merchant_name / Category / Sub_Category / RFM_Exclusion
    * (db_to_RFManalysis.py:193-201, J7 as struct expansion).
    */
  def normalizeMerchants(txns: DataFrame, merchantRules: Seq[MerchantRule],
                         prefixes: Seq[String]): DataFrame = {
    val f = hybridNormalizeUdf(merchantRules, prefixes)
    txns.withColumn("_m", f(col("merchant_name")))
      .withColumn("clean_merchant_name", col("_m._1"))
      .withColumn("Category", col("_m._2"))
      .withColumn("Sub_Category", col("_m._3"))
      .withColumn("RFM_Exclusion", col("_m._4"))
      .drop("_m")
  }

  // ------------------------------------------------------------ merchant
  /** Merchant RFM (db_to_RFManalysis.py:162-281). Output: one row per
    * clean merchant with life_/short_ R/F/M + ranks, Category/Sub_Category,
    * reference segment labels, sorted life_monetary desc.
    */
  def merchantRfm(txns: DataFrame, merchantRules: Seq[MerchantRule],
                  paymentRules: Seq[PaymentRule]): DataFrame = {
    val normalized = normalizeMerchants(
      txns.select("transaction_id", "transaction_date", "merchant_name",
        "payment_amount", "transaction_type"),
      merchantRules, paymentPrefixes(paymentRules))
    // persisted: the analysis date and both windows read it, and the
    // normalizer UDF would otherwise run once per reader
    val filtered = CacheScope.persist(
      normalized.filter(!col("RFM_Exclusion") && notBankFee))
    // Category/Sub_Category per group: 'first' in file order in pandas; we
    // take max() — deterministic under parallelism, identical whenever a
    // clean name maps to one rule (the designed case)
    val joined = Rfm.dualWindow(filtered, Seq("clean_merchant_name"),
      "transaction_date", "transaction_id", "payment_amount",
      lifeAggs = Seq(max(col("Category")).as("Category"),
        max(col("Sub_Category")).as("Sub_Category")))
    joined
      .withColumn("segment", Rfm.merchantSegment(Seq("核心商家 (Core)",
        "流失高價值 (Churned VIP)", "潛力新星 (Rising Star)",
        "一般活躍 (Active)", "沉睡商家 (Dormant)")))
      .orderBy(col("life_monetary").desc)
  }

  /** Unknown-merchant diagnostic (A6; db_to_RFManalysis.py:210-229):
    * top-10 unknown merchants by count, plus the unknown rate.
    */
  def unknownMerchantReport(txns: DataFrame,
                            merchantRules: Seq[MerchantRule],
                            paymentRules: Seq[PaymentRule]): DataFrame = {
    val normalized = normalizeMerchants(
      txns.select("transaction_id", "transaction_date", "merchant_name",
        "payment_amount", "transaction_type"),
      merchantRules, paymentPrefixes(paymentRules))
    normalized.filter(!col("RFM_Exclusion") && notBankFee)
      .filter(col("Category") === "Unknown")
      .groupBy(col("clean_merchant_name"))
      .agg(count(lit(1)).as("n_txns"),
        dsum(col("payment_amount")).as("total_amount"))
      .orderBy(col("n_txns").desc, col("clean_merchant_name"))
      .limit(10)
  }

  // ------------------------------------------------------------ payment
  /** Payment-method derivation (J5; db_to_Payment_RFM.py:71-84): longest
    * matching wallet prefix (Priority >= 20 rules only) → its Category,
    * else 實體卡/其他. Pure Column `when` chain over the prefix list.
    */
  def paymentMethod(merchant: Column, rules: Seq[PaymentRule]): Column = {
    val wallets = rules.filter(_.priority >= 20)
      .map(r => (r.prefixLabel.trim, r.category.trim))
      .filter(p => p._1.nonEmpty && p._1.toLowerCase != "nan")
      .sortBy(-_._1.length)
    val name = trim(merchant)
    wallets.foldRight(lit("實體卡/其他"): Column) { case ((p, c), acc) =>
      when(name.startsWith(p), lit(c)).otherwise(acc)
    }
  }

  /** Payment RFM (db_to_Payment_RFM.py:107-179): wallet usage analysis.
    * Keeps the RFM merchant blacklist IN (only bank fees are excluded,
    * db_to_Payment_RFM.py:130-132), f_rank >= 0.7 drives the segment,
    * sorted life_frequency desc.
    */
  def paymentRfm(txns: DataFrame, paymentRules: Seq[PaymentRule]): DataFrame = {
    val tagged = txns.select("transaction_id", "transaction_date",
        "merchant_name", "payment_amount", "transaction_type")
      .withColumn("Payment_Method",
        paymentMethod(col("merchant_name"), paymentRules))
      .filter(notBankFee)
    val joined = Rfm.dualWindow(tagged, Seq("Payment_Method"),
      "transaction_date", "transaction_id", "payment_amount")
    val highFreq = col("life_f_rank") >= 0.7
    val active = col("short_frequency") > 0
    joined
      .withColumn("segment",
        when(highFreq && active, "主力支付 (Main Wallet)")
          .when(highFreq && !active, "已棄用支付 (Abandoned)")
          .when(!highFreq && active, "輔助支付 (Backup)")
          .otherwise("冷門支付 (Rare)"))
      .orderBy(col("life_frequency").desc)
  }

  /** Payment-method distribution diagnostic (A5;
    * db_to_Payment_RFM.py:126-127): top-10 value counts.
    */
  def paymentMethodDistribution(txns: DataFrame,
                                paymentRules: Seq[PaymentRule]): DataFrame =
    txns.select("merchant_name")
      .withColumn("Payment_Method",
        paymentMethod(col("merchant_name"), paymentRules))
      .groupBy("Payment_Method")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("Payment_Method"))
      .limit(10)

  // ------------------------------------------------------------ card
  /** Card RFM (db_to_card_RFM.py:76-153): per (bank_name, card_name)
    * portfolio check over the trailing 365 days. No r_rank (reference
    * computes f/m ranks only), 180-day dormancy gate, 0.5 rank thresholds,
    * integer avg_ticket, sorted monetary desc.
    */
  def cardRfm(txns: DataFrame): DataFrame = {
    val clean = txns.select("transaction_id", "transaction_date",
        "payment_amount", "transaction_type", "bank_name", "card_name")
      .filter(notBankFee &&
        col("card_name").isNotNull && col("card_name") =!= "")
    val analysisDate = Rfm.analysisDate(clean, "transaction_date")
    val windowed = Rfm.since(clean, "transaction_date", analysisDate,
      1 + Rfm.ShortDays) // latest − 365d
    val ranked = Rfm.ranks(
      Rfm.metrics(windowed, Seq("bank_name", "card_name"), "transaction_date",
        "transaction_id", "payment_amount", analysisDate),
      recency = false)
    ranked
      .withColumn("segment", Rfm.cardSegment(Seq(
        "❄️ 冷凍/沉睡卡 (Dormant)", "👑 主力攻擊手 (Main Driver)",
        "🎯 狙擊手 (Sniper)", "🔄 後勤補給 (Utility)",
        "📉 低效冗餘 (Inefficient)")))
      .withColumn("avg_ticket", Rfm.avgTicket)
      .orderBy(col("monetary").desc)
  }
}

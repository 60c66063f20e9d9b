package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheEntries

import graft.etl._

/** End-to-end ETL parity tests over reference-shaped fixtures
  * (FIXTURES.md §1-§3): extract quirks per bank, refine rule disciplines,
  * classification cascade, load hashing, RFM analytics.
  */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-etl").toString
    ExampleData.write(d)
    d
  }
  private lazy val cfg = Pipeline.loadConfigs(spark, s"$dir/configs")
  private lazy val extracted =
    Extract.extractAll(spark, s"$dir/data", cfg.banks).cache()
  private lazy val refined = Refine.refine(extracted, cfg.cards,
    cfg.payments, cfg.merchants, cfg.keywords).cache()

  private def rows(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r =>
      cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  // ------------------------------------------------------------ extract

  test("extract: header anchor skips preamble, master rows dropped") {
    // 5 esun data rows (1 master dropped, 1 junk-date dropped → 4) +
    // 3 cube + 2 ctbc + 3 hncb (1 master dropped → 2) + 2 sinopac xlsx
    assert(extracted.count() == 4 + 3 + 2 + 2 + 2)
  }

  test("extract: an unreadable statement file dead-letters (skip + warn), " +
    "the rest of the batch survives") {
    // fresh fixture dir + one TRUNCATED OLE2 file routed to the xlsx
    // bank: the reference returns None for the failed file and continues
    // (etl.py:311-315); extractAll must match, not abort the month
    val d2 = Files.createTempDirectory("graft-etl-dl").toString
    ExampleData.write(d2)
    val junk = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1)
      .map(_.toByte) ++ Array.fill(64)(0.toByte)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d2/data/永豐銀行_corrupt_202401.xls"), junk)
    val cfg2 = Pipeline.loadConfigs(spark, s"$d2/configs")
    val got = Extract.extractAll(spark, s"$d2/data", cfg2.banks)
    assert(got.count() == extracted.count()) // good files all intact
    // so is a file whose two source columns map to one canonical column
    val esun = cfg2.banks("esun_bank")
    val twoOnOne = cfg2.banks.updated("esun_bank", esun.copy(columnsMapping =
      esun.columnsMapping :+ ("外幣金額" -> Schema.Amount)))
    assert(Extract.extractAll(spark, s"$d2/data", twoOnOne).count() ==
      extracted.count() - 4)
  }

  test("extract: legacy BIFF .xls statement ingests end-to-end (S5)") {
    // the reference's file regex accepts .xls (etl.py:467) and its excel
    // path is the same pd.read_excel (etl.py:311-316); a real BIFF8
    // workbook routed to the excel bank must extract like its .xlsx twin
    val d3 = Files.createTempDirectory("graft-etl-xls").toString
    ExampleData.write(d3)
    graft.etl.Xls.writeFirstSheet(s"$d3/data/永豐銀行_legacy_202402.xls",
      "明細", Seq(
        Seq("交易日期", "入帳日期", "卡號末四碼", "交易摘要", "臺幣金額"),
        Seq(java.time.LocalDate.of(2024, 2, 5),
          java.time.LocalDate.of(2024, 2, 6), "8888", "老字號麵店", 180)))
    val cfg3 = Pipeline.loadConfigs(spark, s"$d3/configs")
    val got = Extract.extractAll(spark, s"$d3/data", cfg3.banks)
    assert(got.count() == extracted.count() + 1)
    val noodle = rows(got.filter(col(Schema.Merchant) === "老字號麵店")).head
    assert(noodle(Schema.TxnDate).toString == "2024-02-05")
    assert(noodle(Schema.CardNo) == "8888")
    assert(noodle(Schema.PayAmount) == 180.0)
    assert(noodle("Bank_Name") == "sinopac_bank")
  }

  test("extract: sinopac xlsx ingest (S5) — date serials + shared strings") {
    val sp = rows(extracted.filter(col("Bank_Name") === "sinopac_bank"))
    assert(sp.size == 2)
    val shop = sp.find(_(Schema.Merchant) == "永豐超市").get
    // date-styled serial cell decodes to a real date (not a day number)
    assert(shop(Schema.TxnDate).toString == "2024-01-12")
    assert(shop(Schema.CardNo) == "7777")
    assert(shop(Schema.PayAmount) == 350.0) // C3 backfill from 臺幣金額
  }

  test("extract: ROC filename year + cross-year rollover (X8)") {
    val esun = rows(extracted.filter(col("Bank_Name") === "esun_bank"))
    val dates = esun.map(_("Transaction_Date").toString).sorted
    assert(dates.contains("2024-01-05")) // 01/05 under 113年1月 → 2024
    assert(dates.contains("2023-12-28")) // Dec txn on Jan bill → year−1
  }

  test("extract: master-row card fill-down; payment rows don't inherit") {
    val esun = rows(extracted.filter(col("Bank_Name") === "esun_bank"))
    val grocery = esun.find(_("Merchant") == "全聯福利中心").get
    assert(grocery(Schema.CardNo) == "4444")
    assert(grocery(Schema.CardType) == "玉山Unicard")
    val payment = esun.find(_("Merchant").toString.contains("繳款")).get
    assert(payment(Schema.CardNo) == null) // C2
    val hncb = rows(extracted.filter(col("Bank_Name") === "hncb_bank"))
    val coffee = hncb.find(_("Merchant") == "咖啡店").get
    assert(coffee(Schema.CardNo) == "9876")
    assert(coffee(Schema.CardType) == "華南經典卡")
  }

  test("extract: the master-row fill-down resets at every file") {
    // the second file's first row comes before its first master row: it
    // gets no card — neither the first file's last card nor its own raw one
    val d = Files.createTempDirectory("graft-etl-masters")
    def put(name: String, body: String*) = Files.write(d.resolve(name),
      ("交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額" +: body)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    put("玉山202401.csv",
      "01/05,01/06,,卡號：1111-2222-3333-4444（玉山Unicard－正卡）,,",
      "01/06,01/07,,全聯福利中心,,500")
    put("玉山202402.csv",
      "02/01,02/02,5555,早餐店,,80",
      "02/02,02/03,,卡號：9999-8888-7777-6666（玉山Pi卡－正卡）,,",
      "02/03,02/04,,書局,,300")
    val got = Extract.extractAll(spark, d.toString, cfg.banks)
      .select(Schema.Merchant, Schema.CardNo, Schema.CardType).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("全聯福利中心", "4444", "玉山Unicard"),
      ("早餐店", null, null), ("書局", "6666", "玉山Pi卡")))
  }

  test("extract: one plan for any file count, no Window or Union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Union, Window}
    val one = Files.createTempDirectory("graft-etl-one")
    Files.copy(Paths.get(s"$dir/data/玉山113年1月帳單.csv"),
      one.resolve("玉山113年1月帳單.csv"))
    def nodes(data: String) = {
      val qe = Extract.extractAll(spark, data, cfg.banks).queryExecution
      assert(qe.optimizedPlan.collect {
        case p @ (_: Window | _: Union) => p }.isEmpty, data)
      (qe.analyzed.collect { case p => p }.size,
        qe.optimizedPlan.collect { case p => p }.size)
    }
    assert(nodes(one.toString) == nodes(s"$dir/data"))
  }

  test("extract: esun foreign split fills place/location/conversion date") {
    val steam = rows(extracted).find(
      _("Merchant").toString.startsWith("STEAMGAMES")).get
    assert(steam(Schema.Merchant) == "STEAMGAMES.COM")
    assert(steam(Schema.ConsumptionPlace) == "JPN TOKYO")
    assert(steam(Schema.Location) == "JP") // X7: first token, 3→2
    assert(steam(Schema.ConvDate).toString == "2023-12-28")
    assert(steam(Schema.CurrAmount) == 35.5)
  }

  test("extract: cube combined location/currency split + domestic scrub") {
    val cube = rows(extracted.filter(col("Bank_Name") === "cube_bank"))
    val dept = cube.find(_("Merchant") == "百貨公司").get
    assert(dept(Schema.Location) == "TW")
    assert(dept(Schema.Currency) == null) // C5 domestic scrub
    val amazon = cube.find(_("Merchant") == "AMAZON MARKETPLACE").get
    assert(amazon(Schema.Location) == "JP")
    assert(amazon(Schema.Currency) == "JPY")
  }

  test("extract: ctbc Big5 decode + TW/TWD defaults") {
    val ctbc = rows(extracted.filter(col("Bank_Name") === "ctbc_bank"))
    assert(ctbc.size == 2)
    assert(ctbc.exists(_("Merchant") == "LINE PAY－好食餐廳忠孝店"))
    assert(ctbc.forall(_(Schema.Location) == "TW"))
  }

  test("extract: payment amount backfilled from TWD amount (C3)") {
    val grocery = rows(extracted).find(_("Merchant") == "全聯福利中心").get
    assert(grocery(Schema.PayAmount) == 500.0)
    assert(grocery(Schema.PayCurrency) == "TWD")
  }

  // ------------------------------------------------------------ refine

  test("refine: card mapping overwrites card type; dual-number replace") {
    val r = rows(refined)
    val grocery = r.find(_(Schema.Merchant) == "全聯福利中心").get
    assert(grocery(Schema.CardType) == "玉山Unicard")
    val dept = r.find(_(Schema.Merchant).toString.contains("百貨公司")).get
    assert(dept(Schema.CardNo) == "9999") // 卡號代換 on 1111/2222
    val unmapped = r.find(_(Schema.Merchant) == "新商店").get
    assert(unmapped(Schema.CardNo) == "3333") // C7 repair takes front half
  }

  test("refine: third-party tagging + merchant rewrite + prefix merge") {
    val line = rows(refined).find(
      _(Schema.Merchant).toString.contains("好食餐廳")).get
    // J3 tagged Line Pay, rewrite collapsed to 好食餐廳, C10 prefixed
    assert(line(Schema.MobilePay) == "Line Pay")
    assert(line(Schema.Merchant) == "LinePay－好食餐廳")
  }

  test("refine: classification cascade (§2.6)") {
    val r = rows(refined)
    def typeOf(m: String) =
      r.find(_(Schema.Merchant).toString.contains(m)).get(Schema.TxnType)
    assert(typeOf("網路銀行繳款") == "繳款")
    assert(typeOf("轉帳繳款") == "繳款")
    assert(typeOf("e point") == "折抵") // credit beats refund (−100)
    assert(typeOf("全聯福利中心") == "交易")
    assert(typeOf("神祕咖啡店") == "交易")
    // esun foreign row: TWD == TWD & location JP → cross-border + C8 sync
    val steam = r.find(_(Schema.Merchant) == "Steam").get
    assert(steam(Schema.TxnType) == "台幣跨境交易")
    assert(steam(Schema.CurrAmount) == steam(Schema.PayAmount))
    // cube foreign row: JPY ≠ TWD → 一般國外交易
    val amazon = r.find(_(Schema.Merchant) == "AMAZON MARKETPLACE").get
    assert(amazon(Schema.TxnType) == "一般國外交易")
  }

  test("refine: payment rows cleared of card/mobile metadata (C9)") {
    val pay = rows(refined).find(
      _(Schema.Merchant).toString == "網路銀行繳款").get
    assert(pay(Schema.CardType) == "")
    assert(pay(Schema.MobilePay) == "")
  }

  test("refine: e.Point extraction negates the cash amount (X15)") {
    val ep = rows(refined).find(
      _(Schema.Merchant).toString.contains("e point")).get
    assert(ep(Schema.PayAmount) == -100.0)
    assert(ep(Schema.PayCurrency) == "TWD")
  }

  // ------------------------------------------------------------ load

  test("load: surrogate ids are deterministic and unique here") {
    val shaped = Load.toWarehouseShape(refined)
    assert(shaped.select("transaction_id").distinct().count()
      == shaped.count())
    val again = Load.toWarehouseShape(refined)
    assert(shaped.select("transaction_id").except(
      again.select("transaction_id")).count() == 0)
  }

  // ------------------------------------------------------------ analyze

  private lazy val txns = Load.toWarehouseShape(refined).cache()

  test("analyze: merchant RFM uses hybrid normalize + exclusions") {
    val rfm = rows(Analyze.merchantRfm(txns, cfg.merchants, cfg.payments))
    val names = rfm.map(_("clean_merchant_name"))
    assert(names.contains("全聯福利中心"))
    assert(names.contains("好食餐廳")) // prefix stripped before lookup
    assert(!names.contains("百貨公司")) // RFM_Exclusion=True
    assert(!names.exists(_.toString.contains("繳款"))) // F3 type filter
    val grocery = rfm.find(_("clean_merchant_name") == "全聯福利中心").get
    assert(grocery("Category") == "Grocery")
    assert(grocery("life_frequency") == 1L)
  }

  test("analyze: payment RFM groups by wallet category") {
    val rfm = rows(Analyze.paymentRfm(txns, cfg.payments))
    val methods = rfm.map(_("Payment_Method")).toSet
    assert(methods.contains("Line Pay")) // LinePay－ prefix, prio 25
    assert(methods.contains("實體卡/其他"))
    assert(!methods.contains("綠界科技")) // prio 15 < 20 threshold
  }

  test("analyze: card RFM filters unknown cards, labels segments") {
    val rfm = rows(Analyze.cardRfm(txns))
    assert(rfm.nonEmpty)
    assert(rfm.forall(_("card_name").toString.nonEmpty))
    assert(rfm.forall(r => Seq("❄️ 冷凍/沉睡卡 (Dormant)",
      "👑 主力攻擊手 (Main Driver)", "🎯 狙擊手 (Sniper)",
      "🔄 後勤補給 (Utility)", "📉 低效冗餘 (Inefficient)")
      .contains(r("segment").toString)))
    assert(rfm.forall(r => r("avg_ticket").isInstanceOf[Long]))
  }

  test("analyze: diagnostics — payment distribution and unknown merchants") {
    val dist = rows(Analyze.paymentMethodDistribution(txns, cfg.payments))
    assert(dist.map(_("Payment_Method")).contains("實體卡/其他"))
    assert(dist.map(_("n").asInstanceOf[Long]).sum == txns.count())
    val unknown = rows(Analyze.unknownMerchantReport(txns, cfg.merchants,
      cfg.payments))
    // 加油站 has no merchant rule → Unknown; ruled merchants must not appear
    assert(unknown.exists(_("clean_merchant_name") == "加油站"))
    assert(!unknown.exists(_("clean_merchant_name") == "全聯福利中心"))
  }

  test("analyze: an empty qualifying set gives an empty table with the " +
    "usual columns") {
    def cols(df: DataFrame) =
      df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    val none = txns.limit(0)
    val noCardNames = txns.withColumn("card_name", lit(""))
    CacheScope {
      for ((name, full, empty) <- Seq(
          ("merchant",
            Analyze.merchantRfm(txns, cfg.merchants, cfg.payments),
            Analyze.merchantRfm(none, cfg.merchants, cfg.payments)),
          ("payment", Analyze.paymentRfm(txns, cfg.payments),
            Analyze.paymentRfm(none, cfg.payments)),
          ("card", Analyze.cardRfm(txns), Analyze.cardRfm(none)),
          ("card without card names", Analyze.cardRfm(txns),
            Analyze.cardRfm(noCardNames)))) {
        assert(empty.count() == 0, name)
        assert(cols(empty) == cols(full), name)
      }
    }
  }

  test("load: csv export round-trips with a UTF-8 BOM (K1)") {
    val out = Files.createTempDirectory("graft-csv").toString + "/report.csv"
    Load.writeCsv(Analyze.cardRfm(txns), out, bom = true)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes.take(3).sameElements(
      Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
    // stage-interop: Spark reads its own export back (minus BOM col quirk)
    val back = Load.readStageCsv(spark, out)
    assert(back.count() == Analyze.cardRfm(txns).count())
  }

  test("pipeline: full run writes all four outputs") {
    val out = Files.createTempDirectory("graft-out").toString
    val n = Pipeline.run(spark, s"$dir/data", s"$dir/configs", out)
    assert(n == extracted.count())
    for (t <- Seq("all_transactions", "rfm_merchant", "rfm_payment",
        "rfm_card"))
      assert(spark.read.parquet(s"$out/$t").count() > 0, t)
  }

  test("pipeline: run caches no frame beyond the analyses' own") {
    // fresh fixtures, so none of this spec's own caches can match a plan
    val d = Files.createTempDirectory("graft-etl-nocache").toString
    ExampleData.write(d)
    val out = Files.createTempDirectory("graft-out-nocache").toString
    val before = CacheEntries.count(spark)
    Pipeline.run(spark, s"$d/data", s"$d/configs", out)
    // the analyses' own caches are scoped to the run, so none outlive it
    assert(CacheEntries.count(spark) == before)
  }

  test("pipeline: rfm tables keep their column names, order and types") {
    val out = Files.createTempDirectory("graft-out-contract").toString
    Pipeline.run(spark, s"$dir/data", s"$dir/configs", out)
    def schema(t: String): Seq[(String, String)] =
      spark.read.parquet(s"$out/$t").schema.fields.toSeq
        .map(f => f.name -> f.dataType.simpleString)
    def metrics(p: String) = Seq(s"${p}recency_days" -> "bigint",
      s"${p}frequency" -> "bigint", s"${p}monetary" -> "double")
    def ranks(p: String) = Seq(s"${p}r_rank" -> "double",
      s"${p}f_rank" -> "double", s"${p}m_rank" -> "double")
    val short = metrics("short_") ++ ranks("short_")
    assert(schema("rfm_merchant") == Seq("clean_merchant_name" -> "string") ++
      metrics("life_") ++ Seq("Category" -> "string",
        "Sub_Category" -> "string") ++ ranks("life_") ++ short ++
      Seq("segment" -> "string"))
    assert(schema("rfm_payment") == Seq("Payment_Method" -> "string") ++
      metrics("life_") ++ ranks("life_") ++ short ++
      Seq("segment" -> "string"))
    assert(schema("rfm_card") == Seq("bank_name" -> "string",
      "card_name" -> "string") ++ metrics("") ++ Seq("f_rank" -> "double",
      "m_rank" -> "double", "segment" -> "string", "avg_ticket" -> "bigint"))
  }

  // ------------------------------------------------- decimal money mode

  test("refine: decimal money mode yields DECIMAL(18,2) columns whose " +
      "values match the double mode (§1.3 additive variant)") {
    import org.apache.spark.sql.types.DecimalType
    val dec = Refine.refine(extracted, cfg.cards, cfg.payments,
      cfg.merchants, cfg.keywords, Schema.MoneyDecimal)
    for (c <- Schema.floatCols)
      assert(dec.schema(c).dataType == DecimalType(18, 2), c)
    // same rows, and every money value equal after rounding the double
    // side to cents (the fixtures' amounts are all <= 2-dp, so rounding
    // is exact and the two modes must agree everywhere)
    val key = Seq(Schema.TxnDate, Schema.CardNo, Schema.Merchant)
    def shaped(df: DataFrame) = df.select(
      (key.map(col) ++ Schema.floatCols.map(c =>
        round(col(c).cast("double"), 2).as(c))): _*)
    assert(shaped(dec).exceptAll(shaped(refined)).count() == 0)
    assert(shaped(refined).exceptAll(shaped(dec)).count() == 0)
  }

  test("decimal money mode sums exactly where doubles drift") {
    // 0.1 + 0.2 - 0.3 != 0 in float64; in DECIMAL(18,2) it is 0 exactly.
    // Feed the amounts through canonicalize (the tolerant string->money
    // parse) in both modes and compare the aggregate drift.
    val raw = Seq("0.10", "0.20", "-0.30").toDF(Schema.PayAmount)
    def total(money: org.apache.spark.sql.types.DataType): BigDecimal =
      BigDecimal(Refine.canonicalize(raw, money)
        .agg(sum(col(Schema.PayAmount)).cast("decimal(38,18)"))
        .head().getDecimal(0))
    assert(total(Schema.MoneyDecimal) == BigDecimal(0))
    // ...and the double mode, summed at full precision, shows the drift
    // this mode exists to eliminate (documents WHY, not just THAT)
    val doubleDrift = Seq(0.10, 0.20, -0.30).sum
    assert(doubleDrift != 0.0)
  }

  test("pipeline: spark.graft.money=decimal threads through run() and " +
      "rejects unknown modes") {
    spark.conf.set("spark.graft.money", "decimal")
    try {
      assert(Pipeline.moneyType(spark) == Schema.MoneyDecimal)
      val out = Files.createTempDirectory("graft-out-dec").toString
      Pipeline.run(spark, s"$dir/data", s"$dir/configs", out)
      val txns = spark.read.parquet(s"$out/all_transactions")
      import org.apache.spark.sql.types.DecimalType
      for (c <- Seq("currency_amount", "payment_amount"))
        assert(txns.schema(c).dataType == DecimalType(18, 2), c)
      spark.conf.set("spark.graft.money", "florins")
      intercept[IllegalArgumentException](Pipeline.moneyType(spark))
    } finally spark.conf.unset("spark.graft.money")
  }
}

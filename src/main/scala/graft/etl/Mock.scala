package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Schema._

/** Mock / anonymized-example generation (generate_mock.py; SURVEY §2.11
  * O5-O6): stratified "interesting" sampling plus an anonymization engine
  * that keeps formats real but fakes values. All distributed — sampling is
  * per-keyword filter + seeded shuffle + limit; masking is pure Column
  * work; only the tiny card map round-trips the driver.
  */
object Mock {

  /** Showcase keywords (generate_mock.py:33-37). */
  val InterestingKeywords: Seq[String] = Seq(
    "連加", "Line", "統一超商", "全家", "UBER", "NETFLIX",
    "Steam", "蝦皮", "foodpanda", "繳款")

  /** O5: smart sampling (generate_mock.py:46-67) — up to 2 rows per
    * keyword hit, random top-up to `n`, dedup. Seeded `rand` keeps runs
    * reproducible (the reference's implicit numpy state, made explicit).
    */
  def smartSample(df: DataFrame, n: Int = 30, seed: Long = 42L,
                  keywords: Seq[String] = InterestingKeywords): DataFrame = {
    val merchant = coalesce(col(Merchant).cast("string"), lit(""))
    val hits = keywords.zipWithIndex.map { case (kw, i) =>
      df.filter(merchant.contains(kw))
        .orderBy(rand(seed + i)).limit(2)
    }
    val keyword = hits.reduceOption(_.unionByName(_))
      .getOrElse(df.limit(0)).dropDuplicates()
    val have = keyword.count().toInt
    val topUp =
      if (have >= n) df.limit(0)
      else df.orderBy(rand(seed - 1)).limit(n - have)
    keyword.unionByName(topUp).dropDuplicates()
  }

  /** O6-A: date shift — translate all dates so the latest transaction
    * lands on `targetMaxDate`, preserving relative gaps
    * (generate_mock.py:78-94). One driver round-trip for the max.
    */
  def shiftDates(df: DataFrame,
                 targetMaxDate: String = "2023-12-25"): DataFrame = {
    val maxDate = df.agg(max(to_date(col(TxnDate))).as("d")).head().getDate(0)
    if (maxDate == null) return df
    val delta = java.time.temporal.ChronoUnit.DAYS.between(
      maxDate.toLocalDate, java.time.LocalDate.parse(targetMaxDate)).toInt
    Seq(TxnDate, PostDate, ConvDate).foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(c,
        date_format(date_add(to_date(col(c)), delta), "yyyy-MM-dd"))
    }
  }

  /** O6-B: amount noise — ±5% uniform perturbation, integer-preserving
    * (columns whose values are all whole numbers stay whole,
    * generate_mock.py:98-115). Seeded per column.
    */
  def perturbAmounts(df: DataFrame, seed: Long = 42L,
                     cols: Seq[String] = Seq(Amount, CurrAmount, PayAmount))
      : DataFrame =
    cols.filter(df.columns.contains).zipWithIndex.foldLeft(df) {
      case (d, (c, i)) =>
        val v = coalesce(col(c).cast("double"), lit(0.0))
        val noise = lit(0.95) + rand(seed + i) * lit(0.1)
        val isIntegerCol = min(v % 1 === 0).over(Window.partitionBy())
        d.withColumn(c,
          when(isIntegerCol, round(v * noise, 0).cast("long").cast("double"))
            .otherwise(round(v * noise, 2)))
    }

  /** O6-C: card masking (generate_mock.py:118-148) — every distinct real
    * card maps to `****-****-****-<fake suffix>`; caller-specified suffix
    * overrides, auto-numbered otherwise (1000, 2000, …). Returns the map
    * for config sanitization (J8 applies it via a tiny `when` chain).
    */
  def maskCards(df: DataFrame,
                customMap: Map[String, String] = Map.empty,
                autoStart: Int = 1000)
      : (DataFrame, Map[String, String]) = {
    if (!df.columns.contains(CardNo)) return (df, Map.empty)
    val real = df.select(col(CardNo)).na.drop().distinct()
      .collect().map(_.getString(0)).sorted // deterministic auto-numbering
    var counter = 0
    val fakeMap = real.map { r =>
      val suffix = r.trim.takeRight(4)
      val target = customMap.getOrElse(suffix, {
        counter += 1
        (autoStart * counter).toString
      })
      r -> s"****-****-****-$target"
    }.toMap
    val masked = fakeMap.foldRight(col(CardNo)) { case ((from, to), acc) =>
      when(col(CardNo) === from, lit(to)).otherwise(acc)
    }
    (df.withColumn(CardNo, masked), fakeMap)
  }

  /** Config sanitization (generate_mock.py's generate_dummy_configs):
    * rewrite the card-mapping rule table so it matches the MASKED data —
    * each rule's card number maps through the fake map (full value, else
    * last-4 suffix of a masked value), keeping dual-number keys coherent.
    * Rules whose cards vanished from the sample are dropped.
    */
  def sanitizeCardRules(rules: Seq[EtlConfigs.CardRule],
                        fakeMap: Map[String, String])
      : Seq[EtlConfigs.CardRule] = {
    val bySuffix = fakeMap.map { case (real, fake) =>
      real.trim.takeRight(4) -> fake
    }
    def remap(cardNo: String): Option[String] = {
      val parts = cardNo.split("/").map(_.trim)
      val mapped = parts.map { p =>
        fakeMap.get(p).orElse(bySuffix.get(p.takeRight(4)))
          .map(_.takeRight(4))
      }
      if (mapped.exists(_.isEmpty)) None
      else Some(mapped.flatten.mkString("/"))
    }
    rules.flatMap(r => remap(r.cardNo).map(m => r.copy(cardNo = m)))
  }

  /** Full golden-pair generation (generate_mock.py:291-334): sample →
    * anonymize → the anonymized raw frame, ready to run through
    * `Refine.refine` for the matching refined example.
    */
  def generateExamplePair(df: DataFrame, n: Int = 30, seed: Long = 42L)
      : (DataFrame, Map[String, String]) = {
    val sampled = smartSample(df, n, seed)
    val shifted = shiftDates(sampled)
    val noisy = perturbAmounts(shifted, seed)
    maskCards(noisy)
  }

  /** README raw-vs-refined comparison table (generate_mock.py:338-352):
    * the first `n` rows of the masked raw frame next to their refined
    * twins as a GitHub-markdown table — raw merchant truncated to 15
    * chars, refined merchant/type/amount alongside. Rows align by position
    * (the reference's pandas frames align by index). Driver-side by design:
    * this is n-row README tooling, same class as the Xlsx config export.
    */
  def readmeComparisonTable(raw: DataFrame, refined: DataFrame,
                            n: Int = 5): String = {
    def firstN(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).limit(n).collect()
    def str(v: Any): String = Option(v).map(_.toString).getOrElse("")
    val rawRows = firstN(raw, Seq(Schema.Merchant))
    val refRows = firstN(refined,
      Seq(Schema.Merchant, Schema.TxnType, Schema.PayAmount))
    val header = Seq(
      "| 原始商家 (Raw) | 清洗後 (Refined) | 交易類型 | 金額 |",
      "| :--- | :--- | :--- | ---: |")
    val lines = rawRows.zip(refRows).map { case (r, f) =>
      s"| `${str(r.get(0)).take(15)}...` | `${str(f.get(0))}` | " +
        s"${str(f.get(1))} | ${str(f.get(2))} |"
    }
    (header ++ lines).mkString("\n")
  }
}

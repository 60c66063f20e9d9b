package graft.operators

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe.dsum
import graft.functions.PandasRank

/** RFM (recency / frequency / monetary) analytics — the one home of the
  * reference's RFM recipe, shared by the pipeline's three analyses
  * (`graft.etl.Analyze`) and the q06/q07 oracle queries.
  *
  * Semantics from the reference pipeline, re-keyed for arbitrary tables:
  *   - aggregation: db_to_RFManalysis.py:136-156 (merchant),
  *     db_to_card_RFM.py:26-53 (card) — recency = days between analysis date
  *     and max(date); frequency = distinct txn ids; monetary = sum(amount);
  *   - ranks: pandas pct-rank, r descending / f,m ascending
  *     (db_to_RFManalysis.py:153-155); card ranks f/m only
  *     (db_to_card_RFM.py:47-48);
  *   - dual-window left join + fills (db_to_RFManalysis.py:245-255):
  *     short-window misses get frequency/monetary/ranks 0, recency 9999;
  *   - segment ladders: db_to_RFManalysis.py:258-268 (merchant: m_rank 0.8,
  *     short activity), db_to_card_RFM.py:55-74 (card: 180-day dormancy,
  *     0.5 rank thresholds).
  *
  * Scale notes: the groupBy is a standard two-phase hash aggregate (partial
  * map-side combine → final), so the shuffle carries group cardinality, not
  * fact rows. Ranks run *after* aggregation over the group table — one
  * range-partitioned sort per rank over |groups| rows, no single-partition
  * window. `countDistinct` plans as expand + two-phase agg; fine here
  * because the distinct key is co-grouped.
  */
object Rfm {

  /** The dual window's short window in days (SHORT_TERM_DAYS,
    * db_to_RFManalysis.py:245).
    */
  val ShortDays = 365

  /** `analysis_date = max(dateCol) + 1 day` — one driver round-trip, exactly
    * like the reference's `.max()` (db_to_RFManalysis.py:236). The action is
    * a column-pruned scan + max; cheap even at 100 TB (parquet stats help).
    * Null when `dateCol` holds no date (an empty input): recencies are then
    * null and [[since]] keeps no row, so an analysis of nothing is an empty
    * table with its usual columns.
    */
  def analysisDate(df: DataFrame, dateCol: String): Date =
    Option(df.agg(max(to_date(col(dateCol)))).head().getDate(0))
      .map(d => Date.valueOf(d.toLocalDate.plusDays(1))).orNull

  /** The rows dated on or after `analysisDate − days`. */
  def since(df: DataFrame, dateCol: String, analysisDate: Date,
            days: Int): DataFrame = {
    val cutoff = Option(analysisDate)
      .map(d => Date.valueOf(d.toLocalDate.minusDays(days))).orNull
    df.filter(to_date(col(dateCol)) >= lit(cutoff))
  }

  /** Per-group R/F/M: `{prefix}recency_days` (long), `{prefix}frequency`,
    * `{prefix}monetary`, then `extraAggs` as given.
    */
  def metrics(df: DataFrame, keys: Seq[String], dateCol: String,
              idCol: String, amountCol: String, analysisDate: Date,
              prefix: String = "",
              extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = Seq(
      datediff(lit(analysisDate), max(to_date(col(dateCol))))
        .cast("long").as(s"${prefix}recency_days"),
      countDistinct(col(idCol)).as(s"${prefix}frequency"),
      dsum(col(amountCol)).as(s"${prefix}monetary")) ++ extraAggs
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Pandas pct-ranks of [[metrics]]' columns, appended as
    * `{prefix}r_rank/f_rank/m_rank`; `recency = false` ranks f and m only.
    *
    * Ranks use `PandasRank.pctRankScalableAll`: one lazy range-partitioned
    * pct-rank operator per metric, so building the ranks runs no Spark job
    * and no single-partition window is planned at any group count (cards
    * or merchants — hundreds of millions at 100 TB). Bit-identical to the
    * window form (same integer rank arithmetic and fp division order,
    * oracle-proven via q05/q06/q07).
    */
  def ranks(metrics: DataFrame, prefix: String = "",
            recency: Boolean = true): DataFrame = {
    val r = Seq((s"${prefix}recency_days", s"${prefix}r_rank", false))
    val fm = Seq((s"${prefix}frequency", s"${prefix}f_rank", true),
      (s"${prefix}monetary", s"${prefix}m_rank", true))
    PandasRank.pctRankScalableAll(metrics, (if (recency) r else Nil) ++ fm)
  }

  /** One RFM aggregate with pandas-pct ranks: [[metrics]] then [[ranks]]. */
  def aggregate(df: DataFrame, keys: Seq[String], dateCol: String,
                idCol: String, amountCol: String, analysisDate: Date,
                prefix: String = ""): DataFrame =
    ranks(metrics(df, keys, dateCol, idCol, amountCol, analysisDate, prefix),
      prefix)

  /** Lifetime + short-window ([[ShortDays]]) RFM, left-joined on the group
    * keys with the reference's fill discipline. `lifeAggs` ride along on
    * the lifetime side. The analysis date and both windows read `df`, so
    * a caller whose input is costly to recompute persists it first (the
    * pipeline's merchant analysis does, for its normalizer UDF; a cached
    * plain scan would only add AQE's cache-materializing job). The join
    * inputs are post-aggregation group tables — at cluster scale Catalyst
    * broadcast-joins the short side (always <= lifetime side).
    */
  def dualWindow(df: DataFrame, keys: Seq[String], dateCol: String,
                 idCol: String, amountCol: String,
                 lifeAggs: Seq[Column] = Nil): DataFrame = {
    val ad = analysisDate(df, dateCol)
    val life = ranks(metrics(df, keys, dateCol, idCol, amountCol, ad,
      "life_", lifeAggs), "life_")
    val short = aggregate(since(df, dateCol, ad, ShortDays),
      keys, dateCol, idCol, amountCol, ad, "short_")
    life.join(short, keys, "left")
      .na.fill(0, Seq("short_frequency", "short_monetary",
        "short_r_rank", "short_f_rank", "short_m_rank"))
      .na.fill(9999, Seq("short_recency_days"))
  }

  /** Merchant-style segment ladder (db_to_RFManalysis.py:258-268), with
    * `labels` for Core, Churned VIP, Rising Star, Active and Dormant, in
    * that order. First-match-wins `when` chain == the reference's if/elif
    * ladder.
    */
  def merchantSegment(labels: Seq[String]): Column = {
    val Seq(core, churnedVip, risingStar, activeLabel, dormant) = labels
    val highValue = col("life_m_rank") >= 0.8
    val active = col("short_frequency") > 0
    when(highValue && active, core)
      .when(highValue && !active, churnedVip)
      .when(!highValue && active && col("short_m_rank") >= 0.8, risingStar)
      .when(active, activeLabel)
      .otherwise(dormant)
  }

  /** Card-style segment ladder (db_to_card_RFM.py:55-74), with `labels` for
    * Dormant, Main Driver, Sniper, Utility and Inefficient, in that order.
    */
  def cardSegment(labels: Seq[String]): Column = {
    val Seq(dormant, mainDriver, sniper, utility, inefficient) = labels
    val highFreq = col("f_rank") >= 0.5
    val highMoney = col("m_rank") >= 0.5
    when(col("recency_days") > 180, dormant)
      .when(highFreq && highMoney, mainDriver)
      .when(!highFreq && highMoney, sniper)
      .when(highFreq && !highMoney, utility)
      .otherwise(inefficient)
  }

  /** `avg_ticket = int(monetary / frequency)` — truncation toward zero via
    * int cast, matching pandas `.astype(int)` (db_to_card_RFM.py:146).
    */
  def avgTicket: Column =
    (col("monetary") / col("frequency")).cast("long")
}

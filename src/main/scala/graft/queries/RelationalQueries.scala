package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OracleSafe.{davg, dsum}
import graft.functions.PandasRank
import graft.functions.PandasRank.pctRank
import graft.operators.{Classify, Rfm, RuleEngine}

/** Relational operator coverage (SURVEY.md §2.1-§2.11) as declared queries
  * over the driver test tables, each paired with DuckDB oracle SQL.
  *
  * Numeric discipline for hash-exact oracle parity: sums go through exact
  * decimal accumulation rendered as double (OracleSafe), pass-through
  * doubles are untouched, ratios keep the identical arithmetic shape on
  * both sides. Every query ends in a deterministic ORDER BY.
  */
object RelationalQueries {

  // shared decimal-sum SQL fragment (mirrors OracleSafe.dsum/davg)
  private def sqlDsum(e: String) =
    s"CAST(SUM(CAST(($e) AS DECIMAL(28,6))) AS DOUBLE)"
  private def sqlDavg(e: String) =
    s"${sqlDsum(e)} / CAST(COUNT($e) AS DOUBLE)"

  // ---------------------------------------------------------------- q01
  // TPC-H Q1 shape: filter → groupBy → multi-agg (SURVEY §2.8 A1, §2.4 F6).
  private def q01(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  // Projection + predicate pushdown + top-n (§2.1 S7, §2.11 O1/O4). The
  // filter and 3-column read reach the parquet scan (PushedFilters /
  // ReadSchema) — the plan a 100 TB scan needs.
  private def q02(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(to_date(col("o_orderdate")) >= lit("1998-01-01").cast("date") &&
        col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  private val q02Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
      |  AND o_orderstatus = 'O'
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q03
  // Multi-way join + agg (§2.9 J1/J6 analog). nation/region are broadcast
  // by Catalyst (tiny dims); only the orders⋈customer equi-join shuffles.
  private def q03(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("r_name"), col("n_name"))

  private val q03Sql =
    s"""SELECT r_name, n_name,
       |  ${sqlDsum("o_totalprice")} AS revenue,
       |  COUNT(*) AS n_orders,
       |  COUNT(DISTINCT o_custkey) AS n_customers
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q04
  // First-match-wins classification cascade (§2.6; refine.py:258-364
  // semantics re-keyed onto orders) + per-class aggregate.
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val cls = Classify.cascade(Seq(
      (upper(col("o_orderpriority")).contains("URGENT") &&
        col("o_orderstatus") === "F") -> "urgent_filled",
      (upper(col("o_orderpriority")).contains("URGENT") ||
        upper(col("o_orderpriority")).contains("HIGH")) -> "priority",
      (col("o_totalprice") < 5000.0) -> "micro",
      (col("o_totalprice") < 50000.0) -> "small",
      (col("o_orderstatus") === "O") -> "open"),
      default = "regular")
    Tables.orders(s, dir)
      .withColumn("order_class", cls)
      .groupBy(col("order_class"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("order_class"))
  }

  private val q04Sql =
    s"""WITH classified AS (
       |  SELECT o_totalprice,
       |    CASE
       |      WHEN upper(o_orderpriority) LIKE '%URGENT%'
       |        AND o_orderstatus = 'F' THEN 'urgent_filled'
       |      WHEN upper(o_orderpriority) LIKE '%URGENT%'
       |        OR upper(o_orderpriority) LIKE '%HIGH%' THEN 'priority'
       |      WHEN o_totalprice < 5000.0 THEN 'micro'
       |      WHEN o_totalprice < 50000.0 THEN 'small'
       |      WHEN o_orderstatus = 'O' THEN 'open'
       |      ELSE 'regular'
       |    END AS order_class
       |  FROM orders)
       |SELECT order_class, COUNT(*) AS n,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM classified
       |GROUP BY order_class
       |ORDER BY order_class""".stripMargin

  // ---------------------------------------------------------------- q05
  // pandas pct-rank semantics (§2.7 W2). The two GLOBAL ranks take the
  // range-partitioned pct-rank operator the RFM analyses use; the
  // per-segment rank keeps the window form (partitions parallelize it
  // naturally).
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    PandasRank.pctRankScalableAll(base, Seq(
        ("c_acctbal", "bal_pct", true), ("c_acctbal", "bal_pct_desc", false)))
      .withColumn("bal_pct_seg",
        pctRank(col("c_acctbal"), ascending = true,
          partitionBy = Seq(col("c_mktsegment"))))
      .orderBy(col("c_custkey"))
  }

  private val q05Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  CAST(2 * RANK() OVER (ORDER BY c_acctbal ASC) - 1
      |    + COUNT(*) OVER (PARTITION BY c_acctbal) AS DOUBLE) / 2.0
      |    / CAST(COUNT(*) OVER () AS DOUBLE) AS bal_pct,
      |  CAST(2 * RANK() OVER (ORDER BY c_acctbal DESC) - 1
      |    + COUNT(*) OVER (PARTITION BY c_acctbal) AS DOUBLE) / 2.0
      |    / CAST(COUNT(*) OVER () AS DOUBLE) AS bal_pct_desc,
      |  CAST(2 * RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC) - 1
      |    + COUNT(*) OVER (PARTITION BY c_mktsegment, c_acctbal) AS DOUBLE) / 2.0
      |    / CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS bal_pct_seg
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  // Card-style RFM (§2.8 A3/A4/A7, §2.7 W2, §2.10 X16): exclusion filter →
  // groupBy customer → R/F/M → pandas ranks → segment ladder → avg_ticket.
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "P")
    val ad = Rfm.analysisDate(base, "o_orderdate")
    Rfm.aggregate(base, Seq("o_custkey"), "o_orderdate", "o_orderkey",
        "o_totalprice", ad)
      .withColumn("segment", Rfm.cardSegment(Seq("Dormant", "Main Driver",
        "Sniper", "Utility", "Inefficient")))
      .withColumn("avg_ticket", Rfm.avgTicket)
      .orderBy(col("monetary").desc, col("o_custkey").asc)
  }

  private val q06Sql =
    s"""WITH base AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
       |         o_totalprice
       |  FROM orders WHERE o_orderstatus <> 'P'),
       |ad AS (SELECT MAX(d) + 1 AS analysis_date FROM base),
       |agg AS (
       |  SELECT o_custkey,
       |    (SELECT analysis_date FROM ad) - MAX(d) AS recency_days,
       |    COUNT(DISTINCT o_orderkey) AS frequency,
       |    ${sqlDsum("o_totalprice")} AS monetary
       |  FROM base GROUP BY o_custkey),
       |ranked AS (
       |  SELECT *,
       |    CAST(2 * RANK() OVER (ORDER BY recency_days DESC) - 1
       |      + COUNT(*) OVER (PARTITION BY recency_days) AS DOUBLE) / 2.0
       |      / CAST(COUNT(*) OVER () AS DOUBLE) AS r_rank,
       |    CAST(2 * RANK() OVER (ORDER BY frequency ASC) - 1
       |      + COUNT(*) OVER (PARTITION BY frequency) AS DOUBLE) / 2.0
       |      / CAST(COUNT(*) OVER () AS DOUBLE) AS f_rank,
       |    CAST(2 * RANK() OVER (ORDER BY monetary ASC) - 1
       |      + COUNT(*) OVER (PARTITION BY monetary) AS DOUBLE) / 2.0
       |      / CAST(COUNT(*) OVER () AS DOUBLE) AS m_rank
       |  FROM agg)
       |SELECT o_custkey, recency_days, frequency, monetary, r_rank, f_rank,
       |  m_rank,
       |  CASE
       |    WHEN recency_days > 180 THEN 'Dormant'
       |    WHEN f_rank >= 0.5 AND m_rank >= 0.5 THEN 'Main Driver'
       |    WHEN NOT (f_rank >= 0.5) AND m_rank >= 0.5 THEN 'Sniper'
       |    WHEN f_rank >= 0.5 AND NOT (m_rank >= 0.5) THEN 'Utility'
       |    ELSE 'Inefficient'
       |  END AS segment,
       |  CAST(TRUNC(monetary / frequency) AS BIGINT) AS avg_ticket
       |FROM ranked
       |ORDER BY monetary DESC, o_custkey ASC""".stripMargin

  // ---------------------------------------------------------------- q07
  // Dual-window RFM + left join + fill discipline (§2.9 J1) + merchant
  // segment ladder (db_to_RFManalysis.py:245-268).
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "P")
    Rfm.dualWindow(base, Seq("o_custkey"), "o_orderdate", "o_orderkey",
        "o_totalprice")
      .withColumn("segment", Rfm.merchantSegment(Seq("Core", "Churned VIP",
        "Rising Star", "Active", "Dormant")))
      .orderBy(col("life_monetary").desc, col("o_custkey").asc)
  }

  private val q07Sql = {
    def ranks(p: String) =
      s"""    CAST(2 * RANK() OVER (ORDER BY ${p}recency_days DESC) - 1
         |      + COUNT(*) OVER (PARTITION BY ${p}recency_days) AS DOUBLE) / 2.0
         |      / CAST(COUNT(*) OVER () AS DOUBLE) AS ${p}r_rank,
         |    CAST(2 * RANK() OVER (ORDER BY ${p}frequency ASC) - 1
         |      + COUNT(*) OVER (PARTITION BY ${p}frequency) AS DOUBLE) / 2.0
         |      / CAST(COUNT(*) OVER () AS DOUBLE) AS ${p}f_rank,
         |    CAST(2 * RANK() OVER (ORDER BY ${p}monetary ASC) - 1
         |      + COUNT(*) OVER (PARTITION BY ${p}monetary) AS DOUBLE) / 2.0
         |      / CAST(COUNT(*) OVER () AS DOUBLE) AS ${p}m_rank""".stripMargin
    s"""WITH base AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
       |         o_totalprice
       |  FROM orders WHERE o_orderstatus <> 'P'),
       |ad AS (SELECT MAX(d) + 1 AS analysis_date FROM base),
       |life_agg AS (
       |  SELECT o_custkey,
       |    (SELECT analysis_date FROM ad) - MAX(d) AS life_recency_days,
       |    COUNT(DISTINCT o_orderkey) AS life_frequency,
       |    ${sqlDsum("o_totalprice")} AS life_monetary
       |  FROM base GROUP BY o_custkey),
       |life AS (SELECT *,
       |${ranks("life_")}
       |  FROM life_agg),
       |short_base AS (
       |  SELECT * FROM base
       |  WHERE d >= (SELECT analysis_date FROM ad) - 365),
       |short_agg AS (
       |  SELECT o_custkey,
       |    (SELECT analysis_date FROM ad) - MAX(d) AS short_recency_days,
       |    COUNT(DISTINCT o_orderkey) AS short_frequency,
       |    ${sqlDsum("o_totalprice")} AS short_monetary
       |  FROM short_base GROUP BY o_custkey),
       |short AS (SELECT *,
       |${ranks("short_")}
       |  FROM short_agg),
       |joined AS (
       |  SELECT life.*,
       |    COALESCE(short.short_recency_days, 9999) AS short_recency_days,
       |    COALESCE(short.short_frequency, 0) AS short_frequency,
       |    COALESCE(short.short_monetary, 0) AS short_monetary,
       |    COALESCE(short.short_r_rank, 0) AS short_r_rank,
       |    COALESCE(short.short_f_rank, 0) AS short_f_rank,
       |    COALESCE(short.short_m_rank, 0) AS short_m_rank
       |  FROM life LEFT JOIN short USING (o_custkey))
       |SELECT *,
       |  CASE
       |    WHEN life_m_rank >= 0.8 AND short_frequency > 0 THEN 'Core'
       |    WHEN life_m_rank >= 0.8 AND NOT (short_frequency > 0)
       |      THEN 'Churned VIP'
       |    WHEN NOT (life_m_rank >= 0.8) AND short_frequency > 0
       |      AND short_m_rank >= 0.8 THEN 'Rising Star'
       |    WHEN short_frequency > 0 THEN 'Active'
       |    ELSE 'Dormant'
       |  END AS segment
       |FROM joined
       |ORDER BY life_monetary DESC, o_custkey ASC""".stripMargin
  }

  // ---------------------------------------------------------------- q08
  // Group fill-down / ffill (§2.7 W1): carry the last signup value forward
  // within each user's event stream, in stable (ts, event_id) order.
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("signup_value",
        when(col("event_type") === "signup", col("value")))
      .withColumn("filled_value",
        // -1 sentinel for "no signup yet" keeps the output null-free —
        // hash-compare across engines is only byte-stable without NULLs
        coalesce(last(col("signup_value"), ignoreNulls = true).over(w),
          lit(-1.0)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("filled_value"))
      .orderBy(col("event_id"))
  }

  private val q08Sql =
    """SELECT event_id, user_id, event_type,
      |  COALESCE(
      |    LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    -1.0) AS filled_value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q09
  // MD5 surrogate key (§2.10 X13; load_to_db.py:26-43). Hash input uses
  // only int/string columns so the rendering is engine-independent.
  private def q09(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus"))).as("txn_id"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q09Sql =
    """SELECT l_orderkey, l_linenumber,
      |  md5(concat_ws('|', l_orderkey, l_linenumber, l_returnflag,
      |      l_linestatus)) AS txn_id
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q10
  // Regex extraction + date functions (§2.10 X2/X8-X10).
  private def q10(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int")
          .as("k_value"),
        to_date(col("ts_utc")).as("day"),
        datediff(to_date(col("ts_utc")), lit("2024-01-01").cast("date"))
          .as("days_since"),
        date_add(to_date(col("ts_utc")), 7).as("next_week"))
      .orderBy(col("event_id"))

  private val q10Sql =
    """SELECT event_id,
      |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k_value,
      |  CAST(ts AS DATE) AS day,
      |  CAST(ts AS DATE) - DATE '2024-01-01' AS days_since,
      |  CAST(ts AS DATE) + 7 AS next_week
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q11
  // Time-bucketed aggregation (batch twin of the streaming windowed agg):
  // tumbling 1-hour windows per event_type.
  private def q11(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts_utc")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  private val q11Sql =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events
       |GROUP BY date_trunc('hour', ts), event_type
       |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q12
  // Sessionization: 30-minute-gap session ids via lag + running sum — the
  // window-function shape of streaming session windows, batch-exact.
  private def q12(s: SparkSession, dir: String): DataFrame = {
    // order by the millisecond stamp (not raw ts) so the sort key is exactly
    // the oracle's epoch_ms ordering; integer DIV keeps the int64 exact
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("ms", expr("ts DIV 1000000"))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(wOrd))
      .withColumn("new_session",
        when(col("gap_ms").isNull || col("gap_ms") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q12Sql =
    """WITH stamped AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |gapped AS (
      |  SELECT *, ms - LAG(ms, 1) OVER
      |    (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS gap_ms
      |  FROM stamped),
      |flagged AS (
      |  SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms > 1800000
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM gapped),
      |sessions AS (
      |  -- CAST: DuckDB window-sums INTEGER into HUGEINT, which lands in
      |  -- pandas as float64; Spark emits int64. The driver hash-compares
      |  -- rendered values, so 2 vs 2.0 is a mismatch — pin to BIGINT.
      |  SELECT *, CAST(SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ms) AS start_ms, MAX(ms) AS end_ms
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q13
  // Top-k diagnostic (§2.8 A5/A6): filter → groupBy → agg → sort → limit.
  private def q13(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("spend"))
      .orderBy(col("spend").desc, col("user_id").asc)
      .limit(10)

  private val q13Sql =
    s"""SELECT user_id, COUNT(*) AS n_purchases,
       |  ${sqlDsum("value")} AS spend
       |FROM events
       |WHERE event_type = 'purchase'
       |GROUP BY user_id
       |ORDER BY spend DESC, user_id ASC
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q14
  // Rule-table application (§2.9 J2/J3, refine.py semantics): sequential
  // whole-cell rewrite fold (later rules see earlier replacements) plus a
  // first-match-wins category tag, then aggregate.
  private val rewriteRules = Seq(
    RuleEngine.Rule("ECONOMY", "budget tier"),
    RuleEngine.Rule("budget tier", "value tier"), // sees rule 1's output
    RuleEngine.Rule("PROMO", "promo tier"),
    RuleEngine.Rule("LARGE|MEDIUM", "bulk tier"))
  private val categoryRules = Seq(
    RuleEngine.Rule("STANDARD", "std"),
    RuleEngine.Rule("tier", "tiered"),
    RuleEngine.Rule("SMALL", "small"))

  private def q14(s: SparkSession, dir: String): DataFrame = {
    val rewritten =
      RuleEngine.sequentialRewrite(col("p_type"), rewriteRules)
    Tables.part(s, dir)
      .withColumn("p_class", rewritten)
      .withColumn("p_category",
        RuleEngine.firstMatchWins(col("p_class"), categoryRules, lit("other")))
      .groupBy(col("p_class"), col("p_category"))
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("total_price"))
      .orderBy(col("p_class"), col("p_category"))
  }

  private val q14Sql = {
    // mirror the fold as nested CASE chains built from the same rule lists
    val rewritten = rewriteRules.foldLeft("p_type") { (acc, r) =>
      s"(CASE WHEN regexp_matches($acc, '${r.pattern}') " +
        s"THEN '${r.value}' ELSE $acc END)"
    }
    val category = categoryRules.foldRight("'other'") { (r, acc) =>
      s"(CASE WHEN regexp_matches(p_class, '${r.pattern}') " +
        s"THEN '${r.value}' ELSE $acc END)"
    }
    s"""WITH rewritten AS (
       |  SELECT $rewritten AS p_class, p_retailprice FROM part),
       |tagged AS (
       |  SELECT p_class, $category AS p_category, p_retailprice
       |  FROM rewritten)
       |SELECT p_class, p_category, COUNT(*) AS n,
       |  ${sqlDsum("p_retailprice")} AS total_price
       |FROM tagged
       |GROUP BY p_class, p_category
       |ORDER BY p_class, p_category""".stripMargin
  }

  // ---------------------------------------------------------------- q15
  // Country-code normalize (§2.10 X7; etl.py:47-98) over inputs synthesized
  // deterministically from c_custkey: null/empty → TW, first space-token,
  // upper, 3→2-letter map, else passthrough.
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val raw = elt(pmod(col("c_custkey"), lit(7)) + 1,
      lit("JPN TOKYO"), lit("TWN"), lit("usa"), lit(""),
      lit(null).cast("string"), lit("DE BERLIN"), lit("SGP  X"))
    Tables.customer(s, dir)
      .withColumn("norm",
        graft.etl.Extract.normalizeCountry(raw))
      .groupBy("norm").agg(count(lit(1)).as("n"))
      .orderBy("norm")
  }

  private val q15Sql =
    """WITH raw AS (
      |  SELECT CASE (c_custkey % 7)
      |    WHEN 0 THEN 'JPN TOKYO' WHEN 1 THEN 'TWN' WHEN 2 THEN 'usa'
      |    WHEN 3 THEN '' WHEN 4 THEN NULL WHEN 5 THEN 'DE BERLIN'
      |    ELSE 'SGP  X' END AS x
      |  FROM customer),
      |norm AS (
      |  SELECT CASE
      |    WHEN x IS NULL OR trim(x) = '' THEN 'TW'
      |    ELSE CASE split_part(upper(trim(x)), ' ', 1)
      |      WHEN 'TWN' THEN 'TW' WHEN 'USA' THEN 'US' WHEN 'JPN' THEN 'JP'
      |      WHEN 'KOR' THEN 'KR' WHEN 'HKG' THEN 'HK' WHEN 'SGP' THEN 'SG'
      |      WHEN 'GBR' THEN 'GB' WHEN 'CHN' THEN 'CN' WHEN 'IRL' THEN 'IE'
      |      WHEN 'DEU' THEN 'DE' WHEN 'FRA' THEN 'FR' WHEN 'AUS' THEN 'AU'
      |      WHEN 'VNM' THEN 'VN' WHEN 'THA' THEN 'TH' WHEN 'MYS' THEN 'MY'
      |      WHEN 'IDN' THEN 'ID'
      |      ELSE split_part(upper(trim(x)), ' ', 1) END
      |  END AS norm
      |  FROM raw)
      |SELECT norm, COUNT(*) AS n FROM norm
      |GROUP BY norm ORDER BY norm""".stripMargin

  // ---------------------------------------------------------------- q16
  // Billing-year date inference (§2.10 X8; etl.py:100-122) on MM/DD /
  // YYYY/MM/DD / junk strings synthesized from o_orderdate. Base year 1995,
  // bill month 1 → December transactions roll back to 1994. Sentinel date
  // keeps the output NULL-free for the hash compare.
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val raw = elt(pmod(col("o_orderkey"), lit(4)) + 1,
      date_format(d, "MM/dd"), date_format(d, "yyyy/MM/dd"),
      lit("junk"), lit(""))
    Tables.orders(s, dir)
      .withColumn("parsed", coalesce(
        graft.etl.Extract.parseDateWithYear(raw, 1995, 1),
        lit("1900-01-01").cast("date")))
      .select(col("o_orderkey"), col("parsed"))
      .orderBy("o_orderkey")
  }

  private val q16Sql =
    """WITH raw AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
      |    CASE (o_orderkey % 4)
      |      WHEN 0 THEN strftime(CAST(o_orderdate AS DATE), '%m/%d')
      |      WHEN 1 THEN strftime(CAST(o_orderdate AS DATE), '%Y/%m/%d')
      |      WHEN 2 THEN 'junk' ELSE '' END AS x
      |  FROM orders)
      |SELECT o_orderkey, COALESCE(CASE
      |    WHEN regexp_matches(x, '^\d{1,2}/\d{1,2}$') THEN
      |      -- TRY_CAST: 02/29 against the non-leap base year must be NULL
      |      TRY_CAST(printf('%04d-%02d-%02d',
      |        CASE WHEN month(d) = 12 THEN 1994 ELSE 1995 END,
      |        month(d), day(d)) AS DATE)
      |    WHEN regexp_matches(x, '^\d{4}/\d{1,2}/\d{1,2}$') THEN d
      |    ELSE NULL END, DATE '1900-01-01') AS parsed
      |FROM raw
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q17
  // Longest-prefix strip (§2.9 J4 step 1; db_to_RFManalysis.py:44-46,
  // 114-119): 'LinePay－' must win over its own prefix 'Line'.
  private val stripPrefixes = Seq("LinePay－", "Line", "JKOPAY－")
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val raw = elt(pmod(col("c_custkey"), lit(4)) + 1,
      concat(lit("LinePay－STORE_"), col("c_custkey")),
      concat(lit("LineX_"), col("c_custkey")),
      concat(lit("JKOPAY－SHOP_"), col("c_custkey")),
      concat(lit("PLAIN_"), col("c_custkey")))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.operators.RuleEngine.stripLongestPrefix(raw, stripPrefixes)
          .as("stripped"))
      .orderBy("c_custkey")
  }

  private val q17Sql =
    """WITH raw AS (
      |  SELECT c_custkey, CASE (c_custkey % 4)
      |    WHEN 0 THEN 'LinePay－STORE_' || c_custkey
      |    WHEN 1 THEN 'LineX_' || c_custkey
      |    WHEN 2 THEN 'JKOPAY－SHOP_' || c_custkey
      |    ELSE 'PLAIN_' || c_custkey END AS x
      |  FROM customer)
      |SELECT c_custkey, trim(CASE
      |    WHEN starts_with(x, 'LinePay－') THEN substr(x, length('LinePay－') + 1)
      |    WHEN starts_with(x, 'JKOPAY－') THEN substr(x, length('JKOPAY－') + 1)
      |    WHEN starts_with(x, 'Line') THEN substr(x, 5)
      |    ELSE x END) AS stripped
      |FROM raw
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q18
  // Last-match-wins rule mapping (§2.9 J2; refine.py:139-170): file-order
  // rules where later matches overwrite earlier ones.
  private val j2Rules = Seq(
    RuleEngine.Rule("A", "first"),
    RuleEngine.Rule("F", "second"),
    RuleEngine.Rule("O", "third"))
  private def q18(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("status_class",
        RuleEngine.lastMatchWins(
          concat(col("l_returnflag"), col("l_linestatus")), j2Rules,
          lit("unmatched")))
      .groupBy("status_class")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy("status_class")

  private val q18Sql =
    s"""WITH mapped AS (
       |  SELECT l_quantity, CASE
       |      WHEN regexp_matches(l_returnflag || l_linestatus, 'O')
       |        THEN 'third'
       |      WHEN regexp_matches(l_returnflag || l_linestatus, 'F')
       |        THEN 'second'
       |      WHEN regexp_matches(l_returnflag || l_linestatus, 'A')
       |        THEN 'first'
       |      ELSE 'unmatched' END AS status_class
       |  FROM lineitem)
       |SELECT status_class, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS qty
       |FROM mapped GROUP BY status_class ORDER BY status_class""".stripMargin

  // --------------------------------------------------------------- q112
  // Decimal money mode (SURVEY §1.3, Schema.MoneyDecimal): the same
  // pricing-summary aggregation computed in exact fixed-point. Each price
  // is cast to DECIMAL(12,2) (driver prices are exactly 2-dp, so the cast
  // never rounds and Spark/DuckDB rounding modes cannot diverge); the sum
  // is exact integer-cents arithmetic in BOTH engines, so the oracle match
  // proves bit-exact decimal semantics end-to-end — no dsum/float-ordering
  // tolerance needed, unlike every double-mode aggregate. The three money
  // outputs are emitted as CANONICAL STRINGS on both engines: the driver's
  // compare hashes RENDERED values, and DuckDB's decimal->pandas path
  // degrades DECIMAL(38,2) to float64 (399.00 -> "399.0") while Spark's
  // parquet decimal renders "399.00" — a one-cell rendered mismatch even
  // when every value is numerically identical (round-8 verdict). Casting
  // the FINAL sums to string (Spark .cast("string"), DuckDB CAST AS
  // VARCHAR — both keep the scale-2 form "399.00") removes the rendering
  // asymmetry while the arithmetic underneath stays exact DECIMAL, so the
  // gate still proves bit-exact fixed-point semantics end-to-end.
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val money = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 2)
    val out = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 2)
    Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").cast(money).as("p"),
        col("l_tax").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(12, 2)).as("t"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("p")).cast(out).cast("string").as("sum_price"),
        max(col("p")).cast(out).cast("string").as("max_price"),
        sum(col("t")).cast(out).cast("string").as("sum_tax"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q112Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
      |    AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
      |  CAST(CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2)))
      |    AS DECIMAL(38,2)) AS VARCHAR) AS max_price,
      |  CAST(CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(38,2))
      |    AS VARCHAR) AS sum_tax,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------- q114
  // Decimal money mode on the PIPELINE PATH (SURVEY §1.3): unlike q112
  // (a lineitem aggregate), this runs the actual ETL data path the mode
  // advertises — `spark.graft.money=decimal` resolved through
  // Pipeline.moneyType, Refine.canonicalize's tolerant string→money parse
  // (trim / 'nan'→null / ''→null), then Load.toWarehouseShape (md5
  // surrogate id over the DECIMAL rendering + snake_case rename) — over
  // driver `orders` rows re-keyed onto the statement schema. The oracle
  // rebuilds every step in DuckDB decimal arithmetic; money outputs are
  // rendered as canonical strings on both sides (q112 lesson: the
  // driver's DuckDB→pandas leg degrades DECIMAL to float64, breaking the
  // rendered hash on trailing-zero cents).
  //
  // Noise injection exercises the tolerant parse exactly where the
  // reference does (refine.py:388-400): every 97th order's
  // Currency_Amount is the literal 'nan', every 101st Payment_Amount is
  // '', every 89th Merchant is ' nan ' (→ empty-string null discipline),
  // and all inputs carry surrounding whitespace for the trim path.
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.{Load, Pipeline, Refine, Schema}
    val prev = s.conf.getOption("spark.graft.money")
    s.conf.set("spark.graft.money", "decimal")
    try {
      val money = Pipeline.moneyType(s) // DECIMAL(18,2) via the config path
      val cents = org.apache.spark.sql.types.DataTypes
        .createDecimalType(12, 2)
      val price = col("o_totalprice").cast(cents).cast("string")
      val raw = Tables.orders(s, dir).select(
        concat(lit("  "), col("o_orderdate").cast("date").cast("string"),
          lit(" ")).as(Schema.TxnDate),
        when(col("o_orderkey") % 89 === 0, lit(" nan "))
          .otherwise(concat(lit(" Shop#"),
            (col("o_custkey") % 211).cast("string"))).as(Schema.Merchant),
        concat(lit("C#"), (col("o_custkey") % 1000).cast("string"))
          .as(Schema.CardNo),
        when(col("o_orderkey") % 97 === 0, lit("nan")).otherwise(price)
          .as(Schema.CurrAmount),
        when(col("o_orderkey") % 101 === 0, lit("")).otherwise(price)
          .as(Schema.PayAmount),
        col("o_orderpriority").as(Schema.TxnType))
      val shaped = Load.toWarehouseShape(Refine.canonicalize(raw, money))
      shaped.groupBy(col("transaction_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("payment_amount"))
            .cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(38, 2)).cast("string").as("sum_pay"),
          count(when(col("currency_amount").isNull, lit(1))).as("n_nan"),
          count(when(col("merchant_name") === "", lit(1)))
            .as("n_blank_merchant"),
          min(col("transaction_id")).as("min_id"))
        .orderBy(col("transaction_type"))
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.graft.money", v)
        case None => s.conf.unset("spark.graft.money")
      }
    }
  }

  private val q114Sql =
    """WITH raw AS (
      |  SELECT
      |    '  ' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || ' '
      |      AS d_raw,
      |    CASE WHEN o_orderkey % 89 = 0 THEN ' nan '
      |         ELSE ' Shop#' || CAST(o_custkey % 211 AS VARCHAR)
      |         END AS m_raw,
      |    'C#' || CAST(o_custkey % 1000 AS VARCHAR) AS c_raw,
      |    CASE WHEN o_orderkey % 97 = 0 THEN 'nan'
      |         ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
      |         END AS curr_raw,
      |    CASE WHEN o_orderkey % 101 = 0 THEN ''
      |         ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
      |         END AS pay_raw,
      |    o_orderpriority AS t_raw
      |  FROM orders),
      |canon AS (
      |  SELECT
      |    TRIM(d_raw) AS transaction_date,
      |    CASE WHEN LOWER(TRIM(m_raw)) = 'nan' THEN ''
      |         ELSE TRIM(m_raw) END AS merchant_name,
      |    TRIM(c_raw) AS card_no,
      |    TRY_CAST(curr_raw AS DECIMAL(18,2)) AS currency_amount,
      |    TRY_CAST(pay_raw AS DECIMAL(18,2)) AS payment_amount,
      |    TRIM(t_raw) AS transaction_type
      |  FROM raw),
      |shaped AS (
      |  SELECT *,
      |    md5(COALESCE(TRIM(transaction_date), '')
      |      || COALESCE(TRIM(merchant_name), '')
      |      || COALESCE(TRIM(card_no), '')
      |      || COALESCE(TRIM(CAST(payment_amount AS VARCHAR)), '')
      |      || COALESCE(TRIM(transaction_type), '')) AS transaction_id
      |  FROM canon)
      |SELECT transaction_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(payment_amount) AS DECIMAL(38,2)) AS VARCHAR)
      |    AS sum_pay,
      |  COUNT(CASE WHEN currency_amount IS NULL THEN 1 END) AS n_nan,
      |  COUNT(CASE WHEN merchant_name = '' THEN 1 END) AS n_blank_merchant,
      |  MIN(transaction_id) AS min_id
      |FROM shaped
      |GROUP BY transaction_type
      |ORDER BY transaction_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_decimal_money" -> (q112 _),
    "q114_money_pipeline" -> (q114 _),
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_pushdown_topn" -> (q02 _),
    "q03_join_revenue_nation" -> (q03 _),
    "q04_classify_cascade" -> (q04 _),
    "q05_pct_rank" -> (q05 _),
    "q06_rfm_card_style" -> (q06 _),
    "q07_rfm_dual_window" -> (q07 _),
    "q08_group_ffill" -> (q08 _),
    "q09_md5_surrogate_ids" -> (q09 _),
    "q10_regex_date_extract" -> (q10 _),
    "q11_events_hourly" -> (q11 _),
    "q12_sessionize" -> (q12 _),
    "q13_topk_users" -> (q13 _),
    "q14_rule_rewrite" -> (q14 _),
    "q15_country_normalize" -> (q15 _),
    "q16_billing_year_dates" -> (q16 _),
    "q17_prefix_strip" -> (q17 _),
    "q18_last_match_mapping" -> (q18 _))

  val oracleSql: Map[String, String] = Map(
    "q112_decimal_money" -> q112Sql,
    "q114_money_pipeline" -> q114Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown_topn" -> q02Sql,
    "q03_join_revenue_nation" -> q03Sql,
    "q04_classify_cascade" -> q04Sql,
    "q05_pct_rank" -> q05Sql,
    "q06_rfm_card_style" -> q06Sql,
    "q07_rfm_dual_window" -> q07Sql,
    "q08_group_ffill" -> q08Sql,
    "q09_md5_surrogate_ids" -> q09Sql,
    "q10_regex_date_extract" -> q10Sql,
    "q11_events_hourly" -> q11Sql,
    "q12_sessionize" -> q12Sql,
    "q13_topk_users" -> q13Sql,
    "q14_rule_rewrite" -> q14Sql,
    "q15_country_normalize" -> q15Sql,
    "q16_billing_year_dates" -> q16Sql,
    "q17_prefix_strip" -> q17Sql,
    "q18_last_match_mapping" -> q18Sql)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** SQL-surface completions: unpivot (wide→long), higher-order array
  * lambdas, correlated EXISTS / scalar subqueries, explicit grouping
  * sets, JSON extraction, RANGE-frame windows, and the scalar string
  * battery.
  *
  * Scale notes: every query here is either a pure projection (q52, q57,
  * q59), a single-shuffle aggregate (q53, q56), one window pass (q58),
  * or a join Catalyst derives from a subquery (q54/q55 — EXISTS becomes
  * a left-semi hash join, NOT EXISTS a left-anti, the scalar subquery a
  * one-row broadcast). Nothing materializes on the driver.
  */
object ExtendedQueries {

  private def dsumSql(e: String) =
    s"CAST(SUM(CAST(($e) AS DECIMAL(28,6))) AS DOUBLE)"

  // ---------------------------------------------------------------- q52
  // Unpivot / melt — the inverse of q40's pivot. Wide numeric columns
  // become (key, metric, value) rows via Dataset.unpivot, a zero-shuffle
  // Expand (each input row emits one row per value column, executor-side).
  private def q52(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  private val q52Sql =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |  l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
      |  l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount',
      |  l_discount FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  // ---------------------------------------------------------------- q53
  // Higher-order array lambdas over per-group collected arrays:
  // filter / aggregate run INSIDE codegen on the executor — no explode,
  // no UDF. The decimal-accumulating aggregate lambda keeps the sum
  // bit-identical to DuckDB's exact list_sum over decimals.
  private def q53(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_totalprice"))).as("arr"))
      .select(
        col("o_custkey"),
        size(col("arr")).as("n"),
        size(expr("filter(arr, x -> x > 100000.0D)")).as("n_big"),
        expr("""aggregate(arr, CAST(0 AS DECIMAL(28,6)),
                (acc, x) -> CAST(acc + CAST(x AS DECIMAL(28,6))
                            AS DECIMAL(28,6)),
                acc -> CAST(acc AS DOUBLE))""").as("total"))
      .orderBy(col("o_custkey"))

  private val q53Sql =
    """WITH l AS (
      |  SELECT o_custkey, list_sort(list(o_totalprice)) AS arr
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, len(arr) AS n,
      |  len(list_filter(arr, x -> x > 100000)) AS n_big,
      |  CAST(list_sum(list_transform(arr,
      |    x -> CAST(x AS DECIMAL(28,6)))) AS DOUBLE) AS total
      |FROM l ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q54
  // Correlated EXISTS / NOT EXISTS — written as SQL subqueries; Catalyst
  // decorrelates them into a left-semi and a left-anti hash join (no
  // per-row re-execution). Same text runs on both engines.
  private val q54Sql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  private def q54(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(q54Sql)
  }

  // ---------------------------------------------------------------- q55
  // Scalar subquery: the global mean rides to every task as a one-row
  // broadcast (SubqueryExec), not a driver-side collect in user code.
  // Decimal-sum / count division keeps the threshold bit-identical.
  private val q55Sql =
    s"""SELECT o_orderkey, o_totalprice FROM orders
       |WHERE o_totalprice > (
       |  SELECT ${dsumSql("o_totalprice")} / COUNT(*) FROM orders) * 1.5
       |ORDER BY o_orderkey""".stripMargin

  private def q55(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(q55Sql)
  }

  // ---------------------------------------------------------------- q56
  // Explicit grouping sets via the Dataset.groupingSets API (Spark 4):
  // (priority, status), (priority), () — like cube/rollup, the expansion
  // happens inside one partial aggregation; the table is scanned once.
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"))
      .orderBy(col("priority"), col("status"))
  }

  private val q56Sql =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COALESCE(o_orderstatus, 'ALL') AS status, COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderpriority), ())
      |ORDER BY priority, status""".stripMargin

  // ---------------------------------------------------------------- q57
  // JSON extraction: a deterministic JSON string column is parsed two
  // ways — path extraction (get_json_object) and full schema parse
  // (from_json → struct field). Both stay inside codegen; at 100 TB this
  // is the semi-structured-log scan pattern (parse once, prune fields).
  private def q57(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(concat(
        lit("{\"k\":"), col("o_orderkey").cast("string"),
        lit(",\"p\":\""), col("o_orderpriority"), lit("\"}")).as("j"))
      .select(
        get_json_object(col("j"), "$.k").cast("bigint").as("k"),
        get_json_object(col("j"), "$.p").as("p"),
        from_json(col("j"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, p STRING"))
          .getField("p").as("p2"))
      .orderBy(col("k"))

  private val q57Sql =
    """WITH js AS (
      |  SELECT concat('{"k":', o_orderkey, ',"p":"', o_orderpriority,
      |    '"}') AS j
      |  FROM orders)
      |SELECT CAST(json_extract(j, '$.k') AS BIGINT) AS k,
      |  json_extract_string(j, '$.p') AS p,
      |  json_extract_string(j, '$.p') AS p2
      |FROM js ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q58
  // RANGE-frame window: per customer, spend over the trailing 30 days —
  // a value-based frame (peers included by day distance, not row count).
  // One shuffle on the partition key, one sort, bounded frame state.
  private def q58(s: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ in the parquet; the session TZ is
    // pinned UTC, so the NTZ->TZ cast matches DuckDB's epoch_ms exactly.
    val day =
      expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
    val w = Window.partitionBy(col("o_custkey")).orderBy(day)
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(28,6)")).over(w)
          .cast("double").as("spend30"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q58Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)//86400000
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS spend30
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q59
  // Scalar string battery: levenshtein, translate, lpad, repeat,
  // substring, reverse — all codegen'd built-ins, zero shuffles. The
  // functions a rule-matching / normalization pipeline leans on.
  private def q59(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), reverse(col("c_name"))).as("lev"),
        lpad(col("c_name"), 25, "*").as("pad"),
        translate(col("c_name"), "#", "-").as("tr"),
        repeat(substring(col("c_name"), 1, 3), 2).as("rep"))
      .orderBy(col("c_custkey"))

  private val q59Sql =
    """SELECT c_custkey,
      |  levenshtein(c_name, reverse(c_name)) AS lev,
      |  lpad(c_name, 25, '*') AS pad,
      |  translate(c_name, '#', '-') AS tr,
      |  repeat(substr(c_name, 1, 3), 2) AS rep
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q60
  // Snapshot merge / upsert: a delta batch overwrites matching keys in
  // the previous snapshot (SCD-1 keep-latest). One shuffle on the key;
  // the incremental form of the reference's full-overwrite load.
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val prev = o.filter(col("o_orderkey") % 3 =!= 0)
      .withColumn("version", lit(1))
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("version", lit(2))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    graft.operators.Snapshot
      .mergeSnapshot(prev, delta, Seq("o_orderkey"), "version")
      .select(col("o_orderkey"), col("version"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q60Sql =
    """WITH prev AS (
      |  SELECT o_orderkey, 1 AS version, o_totalprice
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |delta AS (
      |  SELECT o_orderkey, 2 AS version, o_totalprice + 1000.0
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |u AS (SELECT * FROM prev UNION ALL SELECT * FROM delta),
      |r AS (SELECT *, ROW_NUMBER() OVER (
      |  PARTITION BY o_orderkey ORDER BY version DESC) AS rn FROM u)
      |SELECT o_orderkey, version, o_totalprice
      |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q61
  // Data profiling: per-column counts/nulls/distincts/min/max in ONE
  // aggregation over ONE scan (the multi-distinct Expand replicates rows,
  // never rescans), melted to one row per column executor-side.
  private def q61(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
      Tables.orders(s, dir),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))

  private val q61Sql = {
    def block(c: String, num: Boolean) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  ${if (num) s"CAST(MIN($c) AS DOUBLE)" else "-1.0"} AS min_num,
         |  ${if (num) s"CAST(MAX($c) AS DOUBLE)" else "-1.0"} AS max_num
         |FROM orders""".stripMargin
    s"""${block("o_custkey", num = true)}
       |UNION ALL
       |${block("o_orderstatus", num = false)}
       |UNION ALL
       |${block("o_totalprice", num = true)}
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------- q62
  // Statistical aggregates from EXACT decimal moments: mean, stddev and
  // corr derived from decimal sums (Sx, Sxx, Sxy …) cast to double only
  // at the end. The built-in corr/stddev would drift across engines (and
  // across PARTITION ORDERS — their float merge is order-sensitive);
  // exact moments are associative, so the result is bit-stable under any
  // parallelism. DECIMAL(28,6) operands keep products within both
  // engines' 38-digit limit.
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(28,6)")
    val y = col("l_extendedprice").cast("decimal(28,6)")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_qty"),
        round(sqrt(
          (col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
              / col("n")) / (col("n") - 1)), 6).as("sd_qty"),
        round(
          (col("n") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  private val q62Sql =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
      |    SUM(CAST(l_quantity AS DECIMAL(28,6))
      |      * CAST(l_quantity AS DECIMAL(28,6))) AS sxx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(28,6))
      |      * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy,
      |    SUM(CAST(l_quantity AS DECIMAL(28,6))
      |      * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(CAST(sx AS DOUBLE) / n, 6) AS mean_qty,
      |  round(sqrt((CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6)
      |    AS sd_qty,
      |  round((n * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(n * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q63
  // Calendar battery: month/quarter truncation, month end, day-of-year,
  // ISO week and ISO day-of-week — pure codegen'd projections; the
  // date-dimension derivations a reporting rollup partitions by.
  private def q63(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        to_date(date_trunc("quarter", col("o_orderdate"))).as("q_start"),
        last_day(col("o_orderdate")).as("month_end"),
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("woy"),
        (weekday(col("o_orderdate")) + 1).as("dow_iso"))
      .orderBy(col("o_orderkey"))

  private val q63Sql =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
      |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
      |  dayofyear(o_orderdate) AS doy,
      |  weekofyear(o_orderdate) AS woy,
      |  isodow(o_orderdate) AS dow_iso
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q64
  // Incremental distinct via sketch union: per-shard HLL sketches (here
  // sharded by orderkey parity) union into a global estimate WITHOUT
  // rescanning the shards — the daily-corpus-stats pattern: persist
  // sketch bytes per day, merge on demand. The oracle pins the exact
  // count and the within-tolerance boolean; shard-merge drift past 5%
  // fails the gate.
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.lineitem(s, dir)
      .withColumn("shard", col("l_orderkey") % 2)
      .groupBy(col("shard"))
      .agg(graft.operators.Sketches.distinctSketch(col("l_orderkey"))
        .as("sk"))
    val merged = shards.agg(
      count(lit(1)).as("n_shards"),
      graft.operators.Sketches.mergeDistinct(col("sk")).as("est"))
    val exact = Tables.lineitem(s, dir)
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    merged.crossJoin(exact)
      .select(
        col("n_shards"), col("exact_distinct"),
        (abs(col("est").cast("double")
            - col("exact_distinct").cast("double"))
          <= col("exact_distinct").cast("double") * 0.05).as("hll_ok"))
  }

  private val q64Sql =
    """SELECT 2 AS n_shards,
      |  COUNT(DISTINCT l_orderkey) AS exact_distinct,
      |  TRUE AS hll_ok
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q65
  // Built-in session windows: `session_window(ts, gap)` merges events
  // whose [ts, ts+gap) windows overlap — the same operator Structured
  // Streaming uses for stateful session aggregation, here in batch.
  // Boundary semantics differ from q12's lag-islands: a gap of EXACTLY
  // the timeout starts a NEW session (strict overlap), so the oracle's
  // island test is `>=`, not `>`. Session end = last event + gap.
  private def q65(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ms", expr("ts DIV 1000000"))
      .groupBy(col("user_id"),
        session_window(timestamp_millis(col("ms")), "30 minutes")
          .as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_ms"))

  private val q65Sql =
    """WITH stamped AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |gapped AS (
      |  SELECT *, ms - LAG(ms, 1) OVER
      |    (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS gap_ms
      |  FROM stamped),
      |flagged AS (
      |  SELECT *, CASE WHEN gap_ms IS NULL OR gap_ms >= 1800000
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM gapped),
      |sessions AS (
      |  SELECT *, CAST(SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(ms) AS start_ms,
      |  MAX(ms) + 1800000 AS end_ms, COUNT(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, start_ms""".stripMargin

  // ---------------------------------------------------------------- q66
  // Map-typed columns: build a map per event, explode back to
  // (key, value) rows — the attribute-bag round trip. Map construction
  // and the Generate both run executor-side inside codegen; the oracle
  // rebuilds the same rows relationally (maps are an encoding choice,
  // not a semantic one — which is exactly what the gate proves).
  private def q66(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        explode(map(
          lit("type"), col("event_type"),
          lit("uid"), col("user_id").cast("string"))))
      .select(col("event_id"), col("key"), col("value"))
      .orderBy(col("event_id"), col("key"))

  private val q66Sql =
    """SELECT event_id, 'type' AS key, event_type AS value FROM events
      |UNION ALL
      |SELECT event_id, 'uid', CAST(user_id AS VARCHAR) FROM events
      |ORDER BY event_id, key""".stripMargin

  // ---------------------------------------------------------------- q67
  // Per-group equi-depth histogram: quartiles of price WITHIN each
  // return flag via ntile over a total order (price, orderkey,
  // linenumber — unique, so bucket assignment is deterministic). The
  // window partitions by flag, so buckets compute in parallel across
  // groups; a GLOBAL ntile would funnel into one partition — at scale,
  // global equi-depth boundaries come from approx_percentile instead.
  private def q67(s: SparkSession, dir: String): DataFrame = {
    // adaptive on the input's row count: l_returnflag has THREE distinct
    // values, so the plain window caps parallelism at 3 tasks no matter
    // the cluster (the ×100 soak measured 68 s, p = 1.14, all in 3
    // single-task sorts). Above the threshold, the range-partitioned
    // grouped ntile (PandasRank.groupedNtileScalable) assigns the same
    // buckets with parallelism = shuffle partitions; both strategies are
    // exact and hash-proven against the same oracle.
    // the UNIFIED size-routed operator (operators.Histograms.equiDepth):
    // window ntile ≤ 2^20 rows, range-partitioned exact grouped ntile to
    // 2^26, sketch-boundary form above — strategy pick from parquet
    // FOOTER counts (Tables.rowCount), so it costs no scan. Test scales
    // stay on the exact arms (hash-pinned oracle); the sketch arm is
    // tolerance-gated in HistogramsSpec, the q77 discipline.
    graft.operators.Histograms.equiDepth(
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice"),
            col("l_orderkey"), col("l_linenumber")),
        Seq("l_returnflag"), "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), k = 4,
        knownCount = Some(Tables.rowCount(s, dir, "lineitem")))
      .withColumnRenamed("bucket", "quartile")
      .orderBy(col("l_returnflag"), col("quartile"))
  }

  private val q67Sql =
    """WITH t AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ntile(4) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |      AS quartile
      |  FROM lineitem)
      |SELECT l_returnflag, quartile, COUNT(*) AS n,
      |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      |FROM t GROUP BY l_returnflag, quartile
      |ORDER BY l_returnflag, quartile""".stripMargin

  // ---------------------------------------------------------------- q68
  // Conditional aggregation: count_if / filtered decimal sum — the
  // one-pass alternative to filter-then-join-back. Maps to DuckDB's
  // FILTER clause; both fold into a single hash aggregate.
  private def q68(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count_if(l_quantity > 25)").as("n_big"),
        coalesce(sum(when(col("l_quantity") > 25,
            col("l_extendedprice").cast("decimal(28,6)"))), lit(0))
          .cast("double").as("rev_big"))
      .orderBy(col("l_returnflag"))

  private val q68Sql =
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
      |  CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
      |    FILTER (WHERE l_quantity > 25), 0) AS DOUBLE) AS rev_big
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q69
  // Array set algebra over per-group collected sets: membership,
  // cardinality, and intersection size — emitted as SCALARS (array
  // outputs are kept out of the gate: set-function result order is
  // implementation-defined, so arrays are sorted or reduced before
  // they ever leave the query).
  private def q69(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(array_sort(collect_set(col("o_orderstatus"))).as("st"))
      .select(
        col("o_custkey"),
        size(col("st")).as("n_status"),
        array_contains(col("st"), "F").as("has_f"),
        size(array_intersect(col("st"),
          array(lit("O"), lit("F")))).as("n_common"))
      .orderBy(col("o_custkey"))

  private val q69Sql =
    """WITH t AS (
      |  SELECT o_custkey, list_sort(list(DISTINCT o_orderstatus)) AS st
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, len(st) AS n_status,
      |  list_contains(st, 'F') AS has_f,
      |  len(list_intersect(st, ['O','F'])) AS n_common
      |FROM t ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q70
  // Multi-match regex extraction: all matches as an array, consumed as
  // count + first/last (ANSI mode: try_element_at, not element_at — an
  // empty match list must yield NULL→'', not an INVALID_ARRAY_INDEX
  // error). Codegen'd projection, zero shuffles.
  private def q70(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        coalesce(try_element_at(col("ws"), lit(1)), lit(""))
          .as("first_w"),
        coalesce(try_element_at(col("ws"), lit(-1)), lit(""))
          .as("last_w"))
      .orderBy(col("doc_id"))

  private val q70Sql =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z]+')) AS n_words,
      |  COALESCE(regexp_extract_all(text, '[a-z]+')[1], '') AS first_w,
      |  COALESCE(regexp_extract_all(text, '[a-z]+')[-1], '') AS last_w
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q71
  // Discrete percentiles (WITHIN GROUP ordered-set aggregate): returns
  // an ACTUAL data value (first with cume_dist >= p) — no interpolation,
  // so the result is hash-exact across engines by definition.
  private def q71(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
          .as("p50"))
      .orderBy(col("l_returnflag"))

  private val q71Sql =
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.25) AS p25,
      |  quantile_disc(l_extendedprice, 0.5) AS p50
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q72
  // Bitwise aggregates (AND/OR/XOR fold): associative+commutative, so
  // partial aggregation and any merge order give identical results —
  // the bitmask-rollup primitive.
  private def q72(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bit_and(l_orderkey)").as("band"),
        expr("bit_or(l_orderkey)").as("bor"),
        expr("bit_xor(l_orderkey)").as("bxor"))
      .orderBy(col("l_returnflag"))

  private val q72Sql =
    """SELECT l_returnflag,
      |  bit_and(l_orderkey) AS band, bit_or(l_orderkey) AS bor,
      |  bit_xor(l_orderkey) AS bxor
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q74
  // Frame-value window functions: first/last/nth over the FULL partition
  // frame (unbounded both ways — last_value with the default frame is
  // the running-last trap both engines share). One sort per key.
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_p"),
        last(col("o_totalprice")).over(w).as("last_p"),
        coalesce(nth_value(col("o_totalprice"), 2).over(w), lit(-1.0))
          .as("second_p"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q74Sql =
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_totalprice) OVER w AS first_p,
      |  last_value(o_totalprice) OVER w AS last_p,
      |  COALESCE(nth_value(o_totalprice, 2) OVER w, -1.0) AS second_p
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q75
  // Equi-width histogram via width_bucket — the complement of q67's
  // equi-depth: bucket bounds are CONSTANTS, so assignment is a pure
  // projection (no window, no sort) and the histogram is one hash
  // aggregate. The oracle spells out the same arithmetic.
  private def q75(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(expr("width_bucket(o_totalprice, 0D, 500000D, 10)")
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  private val q75Sql =
    """SELECT CASE WHEN o_totalprice < 0 THEN 0
      |  WHEN o_totalprice >= 500000 THEN 11
      |  ELSE 1 + CAST(FLOOR(o_totalprice / 50000) AS BIGINT) END
      |  AS bucket,
      |  COUNT(*) AS n
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q76
  // String aggregation (listagg/string_agg): per-group sorted distinct
  // values joined into one string — collect_set + array_sort +
  // array_join keeps the result deterministic under any partitioning.
  private def q76(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
        .as("statuses"))
      .orderBy(col("o_custkey"))

  private val q76Sql =
    """SELECT o_custkey,
      |  string_agg(o_orderstatus, ',' ORDER BY o_orderstatus)
      |    AS statuses
      |FROM (SELECT DISTINCT o_custkey, o_orderstatus FROM orders)
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q77
  // Scale-safe equi-depth histogram — q67's cluster-shaped twin. q67's
  // per-group ntile is exact but funnels each group through ONE window
  // task (3 return flags → 3 cores, regardless of cluster size). Here
  // the quartile BOUNDARIES come from percentile_approx (fixed-size GK
  // sketches, map-side combinable, one cheap agg on a 2-column scan),
  // the 3-row boundary table broadcasts, and bucket assignment is a pure
  // codegen'd projection feeding a hash agg — every stage parallelizes
  // with the data, nothing depends on group count. Oracle discipline
  // follows q50: the exact columns (flag, bucket grid, group totals)
  // hash-match DuckDB; the sketch-dependent bucket share is emitted as a
  // boolean gate (each bucket holds 25% ± 1% of its group) that the
  // oracle pins to TRUE, so boundary drift past tolerance fails the row.
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(expr(
        "percentile_approx(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)")
        .as("bs"))
    val counts = li.join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        when(col("l_extendedprice") <= col("bs").getItem(0), 1)
          .when(col("l_extendedprice") <= col("bs").getItem(1), 2)
          .when(col("l_extendedprice") <= col("bs").getItem(2), 3)
          .otherwise(4).as("bucket"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    // grid join keeps all 4 buckets per flag even if a sketch boundary
    // collapsed one to empty — row count stays deterministic
    val totals = counts.groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("total"))
    totals
      .select(col("l_returnflag"), col("total"),
        explode(array((1 to 4).map(lit): _*)).as("bucket"))
      .join(counts, Seq("l_returnflag", "bucket"), "left")
      .select(col("l_returnflag"), col("bucket"), col("total"),
        (abs(coalesce(col("n"), lit(0L)).cast("double")
            / col("total").cast("double") - 0.25) <= 0.01).as("depth_ok"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  private val q77Sql =
    """WITH t AS (
      |  SELECT l_returnflag, COUNT(*) AS total
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, bucket, total, TRUE AS depth_ok
      |FROM t CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS bucket) b
      |ORDER BY l_returnflag, bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q52_unpivot" -> (q52 _),
    "q53_higher_order" -> (q53 _),
    "q54_exists_subquery" -> (q54 _),
    "q55_scalar_subquery" -> (q55 _),
    "q56_grouping_sets" -> (q56 _),
    "q57_json_extract" -> (q57 _),
    "q58_range_frame" -> (q58 _),
    "q59_string_funcs" -> (q59 _),
    "q60_snapshot_merge" -> (q60 _),
    "q61_profile" -> (q61 _),
    "q62_stats_moments" -> (q62 _),
    "q63_calendar" -> (q63 _),
    "q64_sketch_union" -> (q64 _),
    "q65_session_window" -> (q65 _),
    "q66_map_ops" -> (q66 _),
    "q67_equidepth_hist" -> (q67 _),
    "q68_conditional_agg" -> (q68 _),
    "q69_array_setops" -> (q69 _),
    "q70_regex_extract_all" -> (q70 _),
    "q71_percentile_disc" -> (q71 _),
    "q72_bitwise_agg" -> (q72 _),
    "q74_frame_values" -> (q74 _),
    "q75_equiwidth_hist" -> (q75 _),
    "q76_string_agg" -> (q76 _),
    "q77_equidepth_approx" -> (q77 _))

  val oracleSql: Map[String, String] = Map(
    "q52_unpivot" -> q52Sql,
    "q53_higher_order" -> q53Sql,
    "q54_exists_subquery" -> q54Sql,
    "q55_scalar_subquery" -> q55Sql,
    "q56_grouping_sets" -> q56Sql,
    "q57_json_extract" -> q57Sql,
    "q58_range_frame" -> q58Sql,
    "q59_string_funcs" -> q59Sql,
    "q60_snapshot_merge" -> q60Sql,
    "q61_profile" -> q61Sql,
    "q62_stats_moments" -> q62Sql,
    "q63_calendar" -> q63Sql,
    "q64_sketch_union" -> q64Sql,
    "q65_session_window" -> q65Sql,
    "q66_map_ops" -> q66Sql,
    "q67_equidepth_hist" -> q67Sql,
    "q68_conditional_agg" -> q68Sql,
    "q69_array_setops" -> q69Sql,
    "q70_regex_extract_all" -> q70Sql,
    "q71_percentile_disc" -> q71Sql,
    "q72_bitwise_agg" -> q72Sql,
    "q74_frame_values" -> q74Sql,
    "q75_equiwidth_hist" -> q75Sql,
    "q76_string_agg" -> q76Sql,
    "q77_equidepth_approx" -> q77Sql)
}

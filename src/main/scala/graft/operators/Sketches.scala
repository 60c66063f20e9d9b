package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate, mergeable aggregates for 100 TB-scale profiling, where
  * exact forms stop being an option:
  *
  *   - distinct counts: exact COUNT(DISTINCT) shuffles every distinct
  *     value; the HLL sketch is O(kB) per group, mergeable across
  *     partitions AND across materialized runs (store the sketch bytes,
  *     union later — incremental corpus stats without a rescan);
  *   - quantiles: exact `percentile` buffers every value per group;
  *     `approx_percentile` (t-digest) holds bounded state at a declared
  *     accuracy;
  *   - frequencies: `count_min_sketch` gives biased-upward counts of any
  *     item in fixed memory (eps/confidence chosen at call site).
  *
  * All are Spark built-ins (codegen'd / imperative aggs) — this module is
  * the engine's stable surface for them, plus the sketch-merge idioms the
  * raw functions make awkward. Exactness trade-offs are spec-tested
  * against the exact forms (SketchSpec).
  */
object Sketches {

  /** HLL++ approximate distinct count (relative error ~`relativeSD`). */
  def approxDistinct(c: Column, relativeSD: Double = 0.02): Column =
    approx_count_distinct(c, relativeSD)

  /** Apache DataSketches HLL sketch bytes for `c` — store these per
    * partition/day/shard, then [[mergeDistinct]] them later: distinct
    * counts compose without touching the raw data again.
    */
  def distinctSketch(c: Column, lgK: Int = 12): Column =
    hll_sketch_agg(c, lit(lgK))

  /** Union previously-built HLL sketches and estimate the combined
    * distinct count.
    */
  def mergeDistinct(sketchCol: Column): Column =
    hll_sketch_estimate(hll_union_agg(sketchCol))

  /** t-digest approximate percentiles; `accuracy` trades memory for
    * rank error (~1/accuracy).
    */
  def approxQuantiles(c: Column, percentiles: Seq[Double],
                      accuracy: Int = 10000): Column =
    percentile_approx(c,
      array(percentiles.map(lit): _*), lit(accuracy))

  /** Count-min sketch bytes over `c` (read back with
    * `org.apache.spark.util.sketch.CountMinSketch.readFrom`). Estimates
    * are >= the true count and <= true + eps·N at the given confidence.
    */
  def countMin(c: Column, eps: Double = 0.001,
               confidence: Double = 0.99, seed: Int = 42): Column =
    count_min_sketch(c, lit(eps), lit(confidence), lit(seed))

  /** Engine-portable, ORACLE-REPLAYABLE HyperLogLog distinct estimate.
    *
    * [[approxDistinct]] (Spark's HLL++) is the production default, but
    * its sketch bytes are engine-private: no other system can rebuild or
    * audit them. This form pins every step to cross-engine-deterministic
    * primitives, so DuckDB (or any SQL engine) replays the IDENTICAL
    * estimate from the same rows:
    *
    *   - hash: the repo's md5-60-bit idiom (q137 lineage) over the value
    *     cast to string — bit-identical in the JVM, Spark SQL, DuckDB;
    *   - bucket: top p bits (`h DIV 2^(60-p)`); remainder w: low 60-p;
    *   - rank: rho = (60-p) − len(bin(w)) + 1 — `bin()` length is the
    *     EXACT integer floor(log2)+1 in both engines (no float log);
    *   - register sum: harmonic terms 2^-rho are summed as EXACT
    *     integers 2^(Q+1-rho) (Q = 60-p; max m·2^(Q+1) = 2^61 at p=12,
    *     inside long) — integer addition is order-independent, so the
    *     estimate cannot drift with partition count or merge order, the
    *     way a double sum would;
    *   - estimate: alpha_m · m² · 2^(Q+1) / S, one double expression of
    *     exact inputs, identical literal shape in the SQL oracle.
    *
    * Raw HLL only (no small/large-range correction): corrections need
    * `ln`, whose cross-engine rounding is not pinned — callers in the
    * linear-counting regime get `buckets_hit` and can correct downstream.
    * Registers are max-merged, so partial aggregation runs map-side and
    * per-group state is at most m rows into the first shuffle — the
    * approx_count_distinct shape, auditable.
    */
  def deterministicHll(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, p: Int = 12): DataFrame =
    hllEstimateFromRegisters(
      hllRegisters(df, groupCols, valueCol, p), groupCols, p)

  /** [[deterministicHll]] fused with the EXACT per-group distinct count,
    * in one pass over `df`. An estimate-vs-truth gate written as two
    * branches (`countDistinct` + the sketch) scans and shuffles the
    * input TWICE and joins the halves; but both answers are functions of
    * the same distinct `(group…, value)` set — `max(rho)` is
    * dedup-invariant, and the exact count is just that set's size per
    * group. So: distinct once, then count each bucket's distinct values
    * alongside its register (`n_exact = Σ per-bucket counts`). One scan,
    * three exchanges (value-distinct → bucket → group), no join. Values
    * must be non-NULL (as in [[hllRegisters]] — NULL hashes to a NULL
    * bucket; `countDistinct` would instead skip it).
    *
    * Output: groupCols…, n_exact, buckets_hit, s_int, hll_estimate —
    * bit-identical to joining [[deterministicHll]] with the exact
    * `countDistinct` (SketchSpec pins the parity).
    */
  def deterministicHllWithExact(df: DataFrame, groupCols: Seq[String],
                                valueCol: String, p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1 << p
    val q = 60 - p
    val gs = groupCols.map(col)
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15),
      16, 10).cast("long")
    // NULL values are excluded (r17, the r16 advice item): countDistinct
    // skips NULLs, so the fused form must too for the "bit-identical to
    // the two-branch join" claim to hold on NULL-containing inputs —
    // previously the distinct kept a null row and count(lit(1)) counted
    // its bucket
    val buckets = df.select(gs :+ col(valueCol).as(valueCol): _*)
      .filter(col(valueCol).isNotNull)
      .distinct()
      .select(gs :+ h.as("_h"): _*)
      .selectExpr(groupCols ++ Seq(
        s"_h DIV ${1L << q} AS bucket",
        s"CASE WHEN _h % ${1L << q} = 0 THEN ${q + 1} " +
          s"ELSE ${q + 1} - length(bin(_h % ${1L << q})) END AS rho"): _*)
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max(col("rho")).as("reg"), count(lit(1)).as("_nv"))
    val sPresent = sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${q + 1} - reg)"))
    val alphaTimesM2 = s"(CAST(0.7213 AS DOUBLE) / " +
      s"(CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / $m)) * $m * $m"
    buckets.groupBy(gs: _*)
      .agg(sum(col("_nv")).as("n_exact"),
        count(lit(1)).cast("long").as("buckets_hit"),
        sPresent.as("_sp"))
      .withColumn("s_int",
        col("_sp") + (lit(m.toLong) - col("buckets_hit")) *
          lit(1L << (q + 1)))
      .withColumn("hll_estimate", round(
        expr(s"$alphaTimesM2 * ${1L << (q + 1)} / CAST(s_int AS DOUBLE)"),
        3))
      .drop("_sp")
  }

  /** The register table of [[deterministicHll]] — one `(group…, bucket,
    * reg)` row per hit bucket, at most m per group. Registers MAX-MERGE:
    * `union → groupBy(group, bucket) → max(reg)` folds any two register
    * tables (shards, days, micro-batches) into the table a single pass
    * over the union would have produced — the mergeability that makes
    * the sketch a store format, not just a query
    * ([[graft.streaming.StreamingPipeline.hllStatsStream]]).
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String],
                   valueCol: String, p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val q = 60 - p
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15),
      16, 10).cast("long")
    val gs = groupCols.map(col)
    // integer DIV for the bucket: h < 2^60 exceeds double-exact range,
    // so Column./ (double division) would corrupt high buckets
    df.select(gs :+ h.as("_h"): _*)
      .selectExpr(groupCols ++ Seq(
        s"_h DIV ${1L << q} AS bucket",
        s"CASE WHEN _h % ${1L << q} = 0 THEN ${q + 1} " +
          s"ELSE ${q + 1} - length(bin(_h % ${1L << q})) END AS rho"): _*)
      .groupBy(gs :+ col("bucket"): _*)
      .agg(max(col("rho")).as("reg"))
  }

  /** The estimate head of [[deterministicHll]], over an (optionally
    * merged) register table. */
  def hllEstimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
                               p: Int = 12): DataFrame = {
    val m = 1 << p
    val q = 60 - p
    val gs = groupCols.map(col)
    // exact-integer harmonic sum: present buckets contribute 2^(Q+1-reg),
    // absent buckets (register 0) contribute 2^(Q+1) each
    val sPresent = sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${q + 1} - reg)"))
    // every literal cast to DOUBLE: bare decimal literals parse as
    // DECIMAL in both Spark and DuckDB, with engine-specific scale
    // arithmetic — the cast pins both engines to the same IEEE ops
    val alphaTimesM2 = s"(CAST(0.7213 AS DOUBLE) / " +
      s"(CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / $m)) * $m * $m"
    regs.groupBy(gs: _*)
      .agg(count(lit(1)).cast("long").as("buckets_hit"),
        sPresent.as("_sp"))
      .withColumn("s_int",
        col("_sp") + (lit(m.toLong) - col("buckets_hit")) *
          lit(1L << (q + 1)))
      .withColumn("hll_estimate", round(
        expr(s"$alphaTimesM2 * ${1L << (q + 1)} / CAST(s_int AS DOUBLE)"),
        3))
      .drop("_sp")
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** pandas `Series.rank(pct=True, method='average')` semantics on Spark.
  *
  * The reference engine ranks RFM metrics with pandas' default rank
  * (reference: db_to_RFManalysis.py:153-155, db_to_Payment_RFM.py:101-103,
  * db_to_card_RFM.py:47-48). That is NOT SQL `percent_rank()`:
  *
  *   - ties receive the *average* of the row numbers they span, not the
  *     minimum rank;
  *   - the divisor is n, not n-1, so results are in (0, 1].
  *
  * For a value v with `rank` = number of rows strictly before the tie group
  * plus one (SQL RANK()) and `ties` = size of the tie group:
  *
  *   avg_rank = rank + (ties - 1) / 2 = (2*rank - 1 + ties) / 2
  *   pct      = avg_rank / n
  *
  * Expressed purely with window built-ins so it stays inside whole-stage
  * codegen; no UDF, no extra shuffle beyond the single sort the rank needs.
  * The arithmetic shape `(2*rank - 1 + ties) / 2 / n` is kept identical in
  * the DuckDB oracle SQL so the double results are bit-identical.
  */
object PandasRank {

  /** Percentile rank of `value` over the whole frame (optionally per
    * partition), ascending or descending, pandas-average semantics.
    *
    * At scale, a global rank implies a single-direction sort; Spark plans a
    * range-partitioned sort + window, which parallelizes — but prefer ranking
    * *after* aggregation (group cardinality, not fact cardinality), exactly
    * as the reference ranks post-RFM aggregates.
    */
  def pctRank(value: Column, ascending: Boolean = true,
              partitionBy: Seq[Column] = Seq.empty): Column = {
    // pandas excludes NaN from ranking: null inputs rank to null and do not
    // count toward n. NULLS LAST keeps non-null ranks unshifted in either
    // direction; count(value) is the non-null n.
    val ordered = if (ascending) value.asc_nulls_last else value.desc_nulls_last
    val wOrd  = Window.partitionBy(partitionBy: _*).orderBy(ordered)
    val wTies = Window.partitionBy(partitionBy :+ value: _*)
    val wAll  = Window.partitionBy(partitionBy: _*)
    when(value.isNull, lit(null).cast("double")).otherwise(
      (lit(2) * rank().over(wOrd) - lit(1) + count(lit(1)).over(wTies))
        .cast("double") / lit(2.0) / count(value).over(wAll).cast("double"))
  }

  /** Fully distributed pandas-pct-rank LOOKUP TABLE (valueCol → outCol),
    * one row per distinct non-null value — no single-partition window
    * anywhere, exact to the bit vs [[pctRank]]. None ⇔ no non-null value.
    *
    * The distinct-value table is RANGE partitioned and sorted within
    * partitions (equal values land in one partition, so tie groups never
    * straddle boundaries), the per-partition totals round-trip the driver
    * (one long per partition), and a per-partition prefix sum assigns
    * global ranks. RDD mapPartitionsWithIndex is the honest tool for the
    * prefix-sum — a genuinely imperative per-partition pass.
    */
  private def pctRankTable(df: org.apache.spark.sql.DataFrame,
                           valueCol: String, outCol: String,
                           ascending: Boolean)
      : Option[org.apache.spark.sql.DataFrame] = {
    val spark = df.sparkSession
    val ordered = if (ascending) col(valueCol).asc else col(valueCol).desc
    val parts = spark.sessionState.conf.numShufflePartitions
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(valueCol).agg(count(lit(1)).as("_cnt"))
      .repartitionByRange(parts, ordered)
      .sortWithinPartitions(ordered)
      .cache()
    val partSums = counts.select(col("_cnt")).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator((pid, it.map(_.getLong(0)).sum))
      }.collect().sortBy(_._1).map(_._2)
    if (partSums.isEmpty) return None
    val offsets = partSums.scanLeft(0L)(_ + _)
    val total = offsets.last
    val rankedRdd = counts.rdd.mapPartitionsWithIndex { (pid, it) =>
      var before = offsets(pid)
      it.map { row =>
        val cnt = row.getLong(1)
        // same integer form and fp order as pctRank: (2*rank-1+ties)/2/n
        val pct = (2 * before + cnt + 1).toDouble / 2.0 / total.toDouble
        before += cnt
        org.apache.spark.sql.Row(row.get(0), pct)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      counts.schema.fields.head,
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.DoubleType)))
    // Materialize the lookup table NOW (eager localCheckpoint): the prefix
    // sums are only valid against the exact partitioning the cached counts
    // produced, so the table must be computed while that cache is live; the
    // truncated lineage then lets the counts cache be released immediately
    // instead of pinning the block manager for the session. Checkpoint
    // blocks are ContextCleaner-freed when the table is GC'd, unlike a
    // CacheManager entry.
    val table = spark.createDataFrame(rankedRdd, schema)
      .localCheckpoint(eager = true)
    counts.unpersist(blocking = false)
    Some(table)
  }

  /** Multi-column pandas pct-rank with an ADAPTIVE physical strategy,
    * preserving `df`'s column order with the rank columns appended in
    * triple order — a drop-in for a chain of `withColumn(out,
    * pctRank(...))` calls.
    *
    * Strategy choice is the rank analog of Spark's broadcast-join
    * threshold: the input is cached and counted once; at or below
    * `autoThreshold` rows (default 2^17) every rank is a single-partition
    * window sort — milliseconds of work, zero extra jobs, exactly what a
    * bounded group table wants. Above it, each rank becomes a
    * range-partitioned prefix-sum LOOKUP TABLE derived from the same
    * cached input and joined back exactly once (deriving each table from
    * the previous rank's join instead would make rank k's groupBy
    * recompute ranks 1..k-1's joins — measured 7× on the RFM bench
    * queries). A null value ranks to null and does not count toward n
    * (pandas NaN semantics) on both sides. Both strategies are
    * bit-identical: same integer rank arithmetic, same fp division
    * order, both hash-proven against the same oracle SQL (q05/q06/q07;
    * PandasRankSpec forces each side of the threshold).
    */
  def pctRankScalableAll(df: org.apache.spark.sql.DataFrame,
                         specs: Seq[(String, String, Boolean)],
                         autoThreshold: Long = 1L << 17)
      : org.apache.spark.sql.DataFrame = {
    val base = df.cache()
    val n = base.count() // materializes the cache; one cheap job
    val out =
      if (n <= autoThreshold)
        specs.foldLeft(base) { case (acc, (v, o, asc)) =>
          acc.withColumn(o, pctRank(col(v), ascending = asc))
        }
      else
        specs.foldLeft(base) { case (acc, (v, o, asc)) =>
          pctRankTable(base, v, o, ascending = asc) match {
            // left join: null values never match the (null-free) lookup
            // table, so they keep a null rank instead of vanishing
            case Some(table) => acc.join(table, Seq(v), "left")
            case None => acc.withColumn(o, lit(null).cast("double"))
          }
        }
    // The cache exists so the k rank-table derivations (and the count) scan
    // the input once, not k+1 times. The tables are eagerly checkpointed in
    // pctRankTable, so nothing derived still needs the cache; release it
    // here rather than pinning it for the session (the final consumption
    // recomputes the input once — the cost it would have paid uncached).
    base.unpersist(blocking = false)
    out.select((df.columns ++ specs.map(_._2)).map(col).toIndexedSeq: _*)
  }

  /** Grouped ntile with NO single-task per-group sort — the scale path
    * for equi-depth bucketing over LOW-cardinality group keys, where
    * `Window.partitionBy(group)` degenerates to one task per group
    * (q67's 3 return-flags put 20 M rows per task at the ×100 soak, 68 s
    * and climbing superlinearly; cluster size is irrelevant because the
    * parallelism ceiling IS the group count).
    *
    * Same recipe as [[pctRankTable]], generalized to composite order +
    * grouping: range-repartition on (group ++ order) — a global sort in
    * which one group spans MANY partitions — then per-(partition, group)
    * row counts round-trip the driver (≤ partitions × groups longs), a
    * prefix sum turns them into starting offsets, and a second
    * imperative per-partition pass assigns each row its within-group
    * row_number and closed-form ntile bucket. Two linear jobs, no
    * quadratic anything, parallelism = partitions regardless of group
    * count.
    *
    * Semantics match `ntile(k) OVER (PARTITION BY group ORDER BY order)`
    * exactly — same first-(n mod k)-buckets-get-the-extra-row fill —
    * PROVIDED (group ++ order) is a deterministic total order (unique
    * composite key), the same requirement any reproducible distributed
    * row_number has. Driver state is partitions × groups counters, so
    * keep it for group counts ≪ row counts (a high-cardinality group key
    * doesn't need this — the plain window already parallelizes by group).
    */
  def groupedNtileScalable(df: org.apache.spark.sql.DataFrame,
                           groupCols: Seq[String],
                           orderCols: Seq[String], k: Int,
                           outCol: String)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k >= 1")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val keys = (groupCols ++ orderCols).map(col)
    // localCheckpoint, NOT cache: the offsets computed below are only
    // valid against this exact physical partitioning. A cached block
    // lost to executor failure would silently RECOMPUTE
    // repartitionByRange, whose sampled range boundaries are not
    // guaranteed identical — rows would get wrong row_numbers with no
    // error. Truncating the lineage makes block loss fail the job
    // loudly instead (and frees us from unpersist bookkeeping: the
    // blocks are ContextCleaner-freed when `sorted` is GC'd).
    val sorted = df.repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .localCheckpoint(eager = true)
    val gIdx = groupCols.map(c => df.columns.indexOf(c))
    def gKey(row: org.apache.spark.sql.Row): Seq[Any] = gIdx.map(row.get)
    // job 1: per-(partition, group) counts — tiny driver round-trip
    val counts = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
      it.foreach(r => m.updateWith(gKey(r))(c => Some(c.getOrElse(0L) + 1)))
      m.iterator.map { case (g, c) => (pid, g, c) }
    }.collect()
    val totals = counts.groupBy(_._2).map { case (g, cs) =>
      g -> cs.map(_._3).sum
    }
    // offset of (pid, g) = rows of g in partitions before pid
    val offsets = counts.groupBy(_._2).iterator.flatMap { case (g, cs) =>
      val sortedCs = cs.sortBy(_._1)
      sortedCs.zip(sortedCs.scanLeft(0L)(_ + _._3))
        .map { case ((pid, _, _), off) => (pid, g) -> off }
    }.toMap
    // job 2: assign row_number + closed-form ntile per row
    val kL = k.toLong
    val outRdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val cur = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      it.map { row =>
        val g = gKey(row)
        val rn = cur.getOrElse(g, offsets.getOrElse((pid, g), 0L)) + 1
        cur(g) = rn
        val n = totals(g)
        val base = n / kL; val rem = n % kL
        val bucket =
          if (rn <= rem * (base + 1)) (rn - 1) / (base + 1) + 1
          else rem + (rn - 1 - rem * (base + 1)) / math.max(base, 1L) + 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bucket.toInt)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.IntegerType))
    // eager checkpoint decouples the output from `sorted`'s blocks
    // (pctRankTable's pattern) so they can be reclaimed independently
    spark.createDataFrame(outRdd, schema).localCheckpoint(eager = true)
  }
}

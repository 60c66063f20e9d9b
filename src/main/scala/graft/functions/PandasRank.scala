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
    * Without `partitionBy` the `count(value) OVER ()` divisor plans a
    * single-partition window; whole-frame ranks at scale take
    * [[pctRankScalableAll]]. Either way, prefer ranking *after* aggregation
    * (group cardinality, not fact cardinality), exactly as the reference
    * ranks post-RFM aggregates.
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

  /** Multi-column pandas pct-rank over the whole frame: `df`'s columns
    * with one rank column per `(value, out, ascending)` spec appended in
    * spec order — a drop-in for a chain of `withColumn(out, pctRank(...))`
    * calls, bit-identical to it, with no single-partition window.
    *
    * Each spec is one lazy [[graft.plans.PctRank.PctRankPlan]] node (range
    * exchange + sort on the value, one streaming pass), folded over `df`'s
    * analyzed plan: building the result runs no Spark job, and Catalyst
    * plans the ranks together with whatever consumes them. A null value
    * ranks to null and does not count toward n (pandas NaN semantics).
    * Each `value` must name exactly one column and each `out` none.
    */
  def pctRankScalableAll(df: org.apache.spark.sql.DataFrame,
                         specs: Seq[(String, String, Boolean)])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import graft.plans.PctRank.PctRankPlan
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val resolver = spark.sessionState.conf.resolver
    val plan = specs.foldLeft(df.queryExecution.analyzed) {
      case (child, (v, o, asc)) =>
        val value = child.output.filter(a => resolver(a.name, v)) match {
          case Seq(a) => a
          case found => throw new IllegalArgumentException(
            s"rank input $v matches ${found.size} columns, not one")
        }
        require(!child.output.exists(a => resolver(a.name, o)),
          s"rank output $o already names a column")
        PctRankPlan(child, value, asc,
          AttributeReference(o, org.apache.spark.sql.types.DoubleType)())
    }
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark, plan)
  }

  /** Grouped ntile with NO single-task per-group sort — the scale path
    * for equi-depth bucketing over LOW-cardinality group keys, where
    * `Window.partitionBy(group)` degenerates to one task per group
    * (q67's 3 return-flags put 20 M rows per task at the ×100 soak, 68 s
    * and climbing superlinearly; cluster size is irrelevant because the
    * parallelism ceiling IS the group count).
    *
    * Range-repartition on (group ++ order) — a global sort in
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
    // so they can be reclaimed independently
    spark.createDataFrame(outRdd, schema).localCheckpoint(eager = true)
  }
}

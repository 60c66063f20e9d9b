package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Descending, GenericInternalRow, JoinedRow, NullsLast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator pandas pct-rank (`Series.rank(pct=True)`, average ties,
  * divisor n = non-null count): custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, the [[AsOfJoin]] pattern.
  *
  * The window form ([[graft.functions.PandasRank.pctRank]]) needs a global
  * `count(value) OVER ()`, which plans a single-partition WindowExec. This
  * operator instead requires its input range-partitioned on the value, so
  * tie groups never straddle partitions and every partition is ranked in
  * parallel. Partition offsets need each partition's non-null count; that
  * one small job reads the exchange output before anything is sorted, and
  * runs when the plan executes (where Spark's own `RangePartitioner`
  * samples), never while a DataFrame is built. The ranking pass then sorts
  * each partition with `SortExec`'s sorter and ranks it in one stream.
  *
  * Per row: `(2*before + ties + 1) / 2 / n` with `before` the non-null rows
  * ahead of the tie group — the window form's `(2*rank - 1 + ties)/2/n` in
  * the same integer arithmetic and fp division order, so results are
  * bit-identical. Null values sort last, rank to null and do not count
  * toward n. Tie groups live in `ExternalAppendOnlyUnsafeRowArray` under
  * the `spark.sql.windowExec.buffer.*` thresholds, so they spill the way
  * WindowExec does.
  */
object PctRank {

  /** Logical node: `child.output :+ out`. Created already resolved from an
    * analyzed child; `out` is constructor-held so its exprId stays stable
    * across tree copies.
    */
  final case class PctRankPlan(child: LogicalPlan, value: Attribute,
                               ascending: Boolean, out: Attribute)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output :+ out
    override def producedAttributes: AttributeSet = AttributeSet(out)
    override protected def withNewChildInternal(
        newChild: LogicalPlan): PctRankPlan = copy(child = newChild)
  }

  /** Planner strategy — register once per session via
    * [[GraftExtensions.register]] (experimental.extraStrategies).
    */
  object PctRankStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PctRankPlan(child, value, asc, out) =>
        PctRankExec(planLater(child), value, asc, out) :: Nil
      case _ => Nil
    }
  }

  final case class PctRankExec(child: SparkPlan, value: Attribute,
                               ascending: Boolean, out: Attribute)
      extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output :+ out

    private def order: Seq[SortOrder] = SortOrder(value,
      if (ascending) Ascending else Descending, NullsLast, Seq.empty) :: Nil

    // EnsureRequirements plans a range exchange on the value (or none when
    // the input already satisfies it); the sort happens in doExecute
    override def requiredChildDistribution: Seq[Distribution] =
      OrderedDistribution(order) :: Nil

    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = order

    override protected def withNewChildInternal(
        newChild: SparkPlan): PctRankExec = copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val rows = child.execute()
      val idx = child.output.indexWhere(_.exprId == value.exprId)
      // both jobs read this one RDD, so the counts describe exactly the
      // partitions the second pass ranks
      val counts = rows.mapPartitions { it =>
        var n = 0L
        it.foreach(r => if (!r.isNullAt(idx)) n += 1)
        Iterator.single(n)
      }.collect()
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = offsets.last
      val sort = SortExec(order, global = false, child)
      val ranker = new Ranker(idx, value.dataType, output,
        conf.windowExecBufferInMemoryThreshold,
        conf.windowExecBufferSpillThreshold,
        conf.windowExecBufferSpillSizeThreshold)
      rows.mapPartitionsWithIndex { (pid, it) =>
        val sorted = sort.createSorter()
          .sort(it.asInstanceOf[Iterator[UnsafeRow]])
        ranker.rank(sorted.asInstanceOf[Iterator[UnsafeRow]], offsets(pid), n)
      }
    }
  }

  /** The per-partition pass, shipped to tasks: input rows sorted on the
    * value at `idx`, nulls last, as the `UnsafeRow`s a sorter emits.
    */
  private final class Ranker(idx: Int,
                             valueType: org.apache.spark.sql.types.DataType,
                             output: Seq[Attribute], inMemoryRows: Int,
                             spillRows: Int, spillBytes: Long)
      extends Serializable {

    /** Rank `rows` given `before` non-null rows in earlier partitions and
      * `n` non-null rows in all, buffering one tie group at a time.
      */
    def rank(rows: Iterator[UnsafeRow], before: Long,
             n: Long): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        // WindowExec's thresholds, in its argument order: rows in memory,
        // bytes, rows to spill, bytes
        private val ties = new ExternalAppendOnlyUnsafeRowArray(
          inMemoryRows, spillBytes, spillRows, spillBytes)
        private val ord = TypeUtils.getInterpretedOrdering(valueType)
        private val proj = UnsafeProjection.create(output, output)
        private val joined = new JoinedRow
        private val pct = new GenericInternalRow(1)
        private var ahead = before
        private var pending: UnsafeRow = null // first row of the next group
        private var group: Iterator[UnsafeRow] = Iterator.empty

        override def hasNext: Boolean = group.hasNext || advance()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          proj(joined(group.next(), pct))
        }

        private def advance(): Boolean = {
          ties.clear()
          val first =
            if (pending != null) pending
            else if (rows.hasNext) rows.next().copy()
            else return false
          pending = null
          if (first.isNullAt(idx)) {
            // nulls sort last: this row and every later one ranks to null
            pct.setNullAt(0)
            group = Iterator.single(first) ++ rows
            return true
          }
          val key = first.get(idx, valueType)
          ties.add(first)
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            if (!r.isNullAt(idx) &&
                ord.compare(r.get(idx, valueType), key) == 0) ties.add(r)
            else pending = r.copy()
          }
          val t = ties.length
          // the window form's integer form and fp order: (2*rank-1+ties)/2/n
          pct.update(0, (2 * ahead + t + 1).toDouble / 2.0 / n.toDouble)
          ahead += t
          group = ties.generateIterator()
          true
        }
      }
  }
}

package graft

/** Whole-surface plan health: every SparkEntry query is planned and
  * scanned for the one unambiguous 100 TB red flag — a SHUFFLED
  * cartesian product (`CartesianProductExec`). One-row broadcast totals
  * legitimately plan as `BroadcastNestedLoopJoin` (q93/q98/q101 style)
  * and are allowed; a CartesianProduct means a non-broadcast side
  * crossed a non-trivial side and would melt at scale.
  *
  * This is the sweep companion to SurfacePlanSpec's targeted pins: new
  * queries get this check for free the moment they register.
  */
class PlanHealthSpec extends SparkSpec {

  test("no registered query plans a shuffled cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"shuffled cartesian in: ${offenders.mkString(", ")}")
  }

  test("every registered query has oracle SQL or is explicitly exempt") {
    // the driver records a weaker rows-only check for queries without
    // oracle SQL — keep that set EMPTY so every claimed operator stays
    // inside the hash-compare gate
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  // Queries allowed to plan an unpartitioned (single-partition) WindowExec,
  // each because the window input is BOUNDED, never fact-scale:
  //   q84/q86/q100 — mixture planning: windows over the per-domain table
  //         (#domains rows, ~20);
  //   q87/q88 — vocabulary: cumulative coverage over the top-k survivors of
  //         a TakeOrderedAndProject (k rows by construction);
  //   q126 — hybrid retrieval: each ranker's rank window runs over the
  //         top-50 survivors of a TakeOrderedAndProject (50 rows by
  //         construction — the q87 shape, twice).
  // Whole-frame pandas pct-ranks (q05–q07) take the range-partitioned
  // PctRankExec, so they are checked like everything else.
  private val windowExempt = Set("q84_mixture_plan", "q86_mixture_sample",
    "q87_vocabulary", "q88_curate_corpus", "q100_mixture_temperature",
    "q126_rrf_hybrid")

  test("no query outside the bounded-input exemption list plans an " +
    "unpartitioned WindowExec") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def hasGlobalWindow(p: SparkPlan): Boolean = {
      var hit = false
      p.foreach {
        case a: AdaptiveSparkPlanExec => hit ||= hasGlobalWindow(a.inputPlan)
        case w: WindowExec if w.partitionSpec.isEmpty => hit = true
        case other => hit ||= other.subqueries.exists(hasGlobalWindow)
      }
      hit
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !windowExempt(name) &&
        hasGlobalWindow(fn(spark, sf).queryExecution.executedPlan) => name
    }
    assert(offenders.isEmpty,
      s"fact-scale single-partition window in: ${offenders.mkString(", ")}")
  }
}

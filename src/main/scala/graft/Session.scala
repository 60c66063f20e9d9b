package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a Spark session: bench, verify, smoke, explain,
  * the tools and the test suite all run the conf below.
  */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core.
    *
    * AQE's initial partition count is left unset, so it falls back to
    * `spark.sql.shuffle.partitions`: the r13 interleaved A/B (SCALE.md
    * s131) measured a wide initial count statistically identical to the
    * fixed one on the one stage ever suspected of partition saturation.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the query surface generates several hundred codegen stages; at
      // the default 100-entry LRU a sweep evicts them before it loops back
      // to them (see graft.Bench's timing discipline)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Let AQE re-plan (coalesce/skew-split) the materialization of
      // persisted frames. Spark's default pins cached-plan output
      // partitioning for consumers that rely on co-partitioning; none of
      // our operators do (every join after a persist re-shuffles or
      // broadcasts), so the pin only forces model-scale cached frames to
      // keep shuffle-width partition counts — every downstream action
      // then relaunches that many tasks per pass. Scale-adaptive by
      // construction: AQE sizes the cached output to its advisory bytes
      // whatever the cluster width. Measured (interleaved same-JVM
      // minima): q147 2.21→1.39, q98 1.21→0.80, q136 2.49→1.74,
      // q117 1.90→1.20, q120 1.05→0.76, q111 2.95→2.48; q126/q28 within
      // +0.1, rest neutral.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

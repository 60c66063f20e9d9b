package org.apache.spark.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Analyze, Extract, Load, Pipeline, Refine}

/** Timed driver of one benchmark run: set-up, one cold pipeline run, then
  * warm runs in a closed loop (one driver thread, next run after the last
  * one returns) until the time budget is spent. It drives only the
  * program's public entry points and writes a JSON result for `run.py`.
  *
  * Usage: BenchMain <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  *        <setups> <resultJson>
  *
  * Untraced runs time whole pipeline runs with no listener attached.
  * Traced runs alternate warm runs without and with the listeners and
  * spans (at least untraced, traced, untraced), report the difference of
  * their medians as tracing overhead, and derive the per-layer metrics
  * from the traced ones.
  */
object BenchMain {

  final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: Recorder,
                  val input: String, val out: String) {
    val configDir = s"$input/configs"
    val dataDir = s"$input/data"
    /** Per-run values that are not span durations. */
    val extras = mutable.Map.empty[String, Double]
  }

  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------ the chain

  /** One pipeline run: the calls `Pipeline.run` makes, each in its span.
    * `statement_archive` starts from the statement files, `stage_bulk`
    * from the inter-stage CSV with configs loaded at set-up.
    */
  def pipeline(c: Ctx, workload: String, setupCfg: Pipeline.Configs): Unit = {
    val t = c.tracer
    val spark = c.spark
    t.span("pipeline") {
      val (cfg, raw) = workload match {
        case "statement_archive" =>
          val cfg = t.span("configs")(Pipeline.loadConfigs(spark, c.configDir))
          (cfg, t.span("extract")(Extract.extractAll(spark, c.dataDir, cfg.banks)))
        case "stage_bulk" =>
          (setupCfg, t.span("load.read")(
            Load.readStageCsv(spark, s"${c.dataDir}/result_all_banks.csv")))
      }
      val refined = t.span("refine")(Refine.refine(raw, cfg.cards,
        cfg.payments, cfg.merchants, cfg.keywords, Pipeline.moneyType(spark)))
      val txns = t.span("load") {
        val shaped = t.span("load.call")(Load.toWarehouseShape(refined))
        val planMs = plannedMs(c) {
          t.span("load.write")(shaped.write.mode("overwrite")
            .parquet(s"${c.out}/all_transactions"))
        }
        c.extras("load.plan_s") = planMs / 1e3
        t.span("load.reread")(spark.read.parquet(s"${c.out}/all_transactions"))
      }
      analyze(c, "merchant")(Analyze.merchantRfm(txns, cfg.merchants, cfg.payments))
      analyze(c, "payment")(Analyze.paymentRfm(txns, cfg.payments))
      analyze(c, "card")(Analyze.cardRfm(txns))
    }
  }

  private def analyze(c: Ctx, name: String)(call: => DataFrame): Unit = {
    val t = c.tracer
    val before = if (t.enabled) t.storedBytes() else 0L
    t.span(s"analyze.$name") {
      val df = t.span(s"analyze.$name.call")(call)
      t.span(s"analyze.$name.write")(
        df.write.mode("overwrite").parquet(s"${c.out}/rfm_$name"))
    }
    if (t.enabled)
      c.extras(s"analyze.$name.cached_bytes_left") = (t.storedBytes() - before).toDouble
  }

  /** Planning time of the queries `body` runs, from the recorder; 0 when
    * untraced. The bus is drained on both sides so only `body` counts.
    */
  private def plannedMs(c: Ctx)(body: => Unit): Double =
    if (!c.tracer.enabled) { body; 0.0 }
    else {
      c.tracer.drain()
      c.rec.plans.clear()
      body
      c.tracer.drain()
      c.rec.plans.asScala.map(_.doubleValue).sum
    }

  // ------------------------------------------------------------ metrics

  /** Per-layer metrics of one traced run `run`. */
  def layerMetrics(c: Ctx, run: Int): Map[String, Double] = {
    val spans = c.tracer.spans.filter(_.run == run).toSeq
    val jobs = c.rec.jobs.asScala.values.toSeq
    /** Top-most spans of a layer, and the ids of all its spans. Span
      * names are dotted paths, so a layer's descendants share its prefix.
      */
    def layer(name: String): (Seq[Span], Set[Int]) = {
      val all = spans.filter(s => s.name == name || s.name.startsWith(name + "."))
      val ids = all.map(_.id).toSet
      (all.filterNot(s => ids.contains(s.parent)), ids)
    }
    def dur(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e3
    def jobsIn(ids: Set[Int]) = jobs.filter(j => ids.contains(j.span))
    def driverS(tops: Seq[Span], js: Seq[JobRec]): Double = tops.map { s =>
      s.dur - Tracer.covered(js.map(j => (j.start.toDouble, j.end.toDouble)), s.start, s.end)
    }.sum / 1e3
    def sum(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum

    val m = mutable.LinkedHashMap.empty[String, Double]
    for (name <- Seq("configs", "extract")) {
      val (tops, ids) = layer(name)
      val js = jobsIn(ids)
      m(s"$name.call_s") = tops.map(_.dur).sum / 1e3
      m(s"$name.jobs") = js.size
      if (name == "extract") m("extract.driver_s") = driverS(tops, js)
    }
    m("refine.call_s") = dur("refine")
    val (loadTops, loadIds) = layer("load")
    val loadJobs = jobsIn(loadIds)
    val planS = c.extras.getOrElse("load.plan_s", 0.0)
    m("load.call_s") = dur("load.read") + dur("load.call")
    m("load.plan_s") = planS
    m("load.exec_s") = dur("load.write") - planS
    m("load.driver_s") = driverS(loadTops, loadJobs)
    m("load.jobs") = loadJobs.size
    m("load.tasks") = sum(loadJobs)(_.tasks.toDouble)
    m("load.task_run_s") = sum(loadJobs)(_.runMs / 1e3)
    m("load.task_cpu_s") = sum(loadJobs)(_.cpuNs / 1e9)
    m("load.bytes_written") = sum(loadJobs)(_.outputBytes.toDouble)
    m("load.files_written") = c.extras.getOrElse("load.files_written", 0.0)
    for (a <- Seq("merchant", "payment", "card")) {
      val p = s"analyze.$a"
      val (_, ids) = layer(p)
      val js = jobsIn(ids)
      val callIds = layer(s"$p.call")._2
      m(s"$p.call_s") = dur(s"$p.call")
      m(s"$p.call_jobs") = jobsIn(callIds).size
      m(s"$p.exec_s") = dur(s"$p.write")
      m(s"$p.jobs") = js.size
      m(s"$p.task_run_s") = sum(js)(_.runMs / 1e3)
      m(s"$p.shuffle_bytes") = sum(js)(_.shuffleBytes.toDouble)
      m(s"$p.cached_bytes_left") = c.extras.getOrElse(s"$p.cached_bytes_left", 0.0)
    }
    val root = spans.find(_.name == "pipeline").get
    m("trace.warm_s") = root.dur / 1e3
    m("trace.unattributed_s") = Tracer.selfTimes(spans)(root.id) / 1e3
    m.toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Let lazy JVM work finish between timed runs: collect garbage, then
    * wait (at most 3 s) until the JIT compilers have been idle for 100 ms,
    * so background compilation of the last run's code does not compete
    * with the next run for the four cores.
    */
  private def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var before = jit.getTotalCompilationTime
    var idle = false
    while (!idle && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = now - before <= 5
      before = now
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  private def partFiles(dir: String): Double =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .toDouble

  // ------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val Array(workload, input, out, secondsStr, traceStr, setupsStr, resultPath) = args
    val seconds = secondsStr.toDouble
    val trace = traceStr == "1"
    val setups = setupsStr.toInt
    require(Set("statement_archive", "stage_bulk")(workload), s"unknown workload $workload")
    val localDir = s"$out/spark-local"

    // set-up: session start + config load, `setups` times; the last stays
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var cfg: Pipeline.Configs = null
    for (i <- 1 to setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(localDir)
      cfg = Pipeline.loadConfigs(spark, s"$input/configs")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val rec = new Recorder
    val c = new Ctx(spark, new Tracer(spark), rec, input, out)

    var attempted = 0
    var failed = 0
    // (wall s, per-layer metrics) of each traced warm run
    val tracedRuns = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val errors = mutable.ArrayBuffer.empty[String]
    /** One pipeline run; wall seconds, or None when it threw. */
    def once(traced: Boolean): Option[Double] = {
      attempted += 1
      c.tracer.enabled = traced
      c.tracer.run = attempted
      c.extras.clear()
      if (traced) {
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      val t0 = System.nanoTime()
      val result =
        try {
          pipeline(c, workload, cfg)
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) =>
            failed += 1
            errors += s"run $attempted: ${e.getClass.getName}: ${e.getMessage}"
            e.printStackTrace()
            None
        }
      if (traced) {
        c.tracer.drain()
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
        c.extras("load.files_written") = partFiles(s"$out/all_transactions")
        result.foreach(s => tracedRuns += ((s, layerMetrics(c, attempted))))
      }
      c.tracer.enabled = false
      result
    }

    val cold = once(traced = false)
    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Double]
    var last = cold.getOrElse(0.0)
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    // traced: untraced, traced, untraced at least, so a steady warm-up
    // trend cancels out of the tracing overhead
    val minRuns = if (trace) 3 else 1
    var k = 0
    while (k < minRuns || elapsed + last <= seconds) {
      // every warm run starts from the same state: no cached plans or
      // blocks carried over, garbage collected, JIT idle (untimed)
      spark.catalog.clearCache()
      quiesce()
      val traced = trace && k % 2 == 1
      once(traced).foreach { s =>
        last = s
        if (!traced) warm += s
      }
      k += 1
    }

    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("workload", workload)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("errors", errors.asJava)
    result.put("setup_samples_s", setupS.map(Double.box).asJava)
    result.put("cold_s", cold.map(Double.box).orNull)
    result.put("warm_samples_s", warm.map(Double.box).asJava)
    result.put("measured_s", elapsed)
    result.put("peak_rss_mb", peakRssMb())
    if (trace) {
      val perRun = tracedRuns.map(_._2).toSeq
      val names = perRun.headOption.map(_.keys.toSeq).getOrElse(Nil)
      val layers = new java.util.LinkedHashMap[String, Any]()
      names.sorted.foreach(n => layers.put(n, median(perRun.map(_(n)))))
      layers.put("trace.overhead_s",
        median(tracedRuns.map(_._1).toSeq) - median(warm.toSeq))
      result.put("per_layer", layers)
      result.put("traced_samples_s", tracedRuns.map(x => Double.box(x._1)).asJava)
      val selfs = Tracer.selfTimes(c.tracer.spans.toSeq)
      result.put("spans", c.tracer.spans.map { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
        m.put("run", s.run); m.put("start_ms", s.start); m.put("end_ms", s.end)
        m.put("self_ms", selfs(s.id))
        m
      }.asJava)
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(resultPath), result)
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge

/** The query runner. Prints ONE JSON line (total, per-query seconds and
  * per-query counters) and also writes the same line to BENCH_SELF.json so a
  * truncated log capture can never lose the headline numbers; appends it to
  * BENCH_HISTORY.jsonl and writes each query's per-stage profile to
  * PROFILE.json, both next to BENCH_SELF.json.
  *
  * Per query: one unbilled warm run with a listener attached, whose counters
  * (jobs, build jobs, stages, tasks, executor time, bytes) are the
  * deterministic regression signal; then best-of-`SPARK_GRAFT_REPS` timed
  * runs with no listener on the bus, whose minimum is the wall-clock outcome.
  *
  * Timing discipline: Spark's whole-stage-codegen class cache is a static
  * 100-entry LRU (`spark.sql.codegen.cache.maxEntries`). 74 queries generate
  * several hundred codegen stages, so a single global warm pass does NOT keep
  * early-alphabet queries warm — by the time the timed pass loops back to
  * q18/q25 their compiled classes were evicted and they repay the full Janino
  * compile (measured: q25 14.9s evicted vs ~1s warm). We therefore (a) raise
  * the cache so all stages fit (graft.Session), and (b) warm each query
  * immediately before timing it, dropping DataFrame caches in between so
  * the timed run redoes all real data work (scan/shuffle/join) and only
  * compiled code carries over — compilation is a one-time cost per plan
  * shape on a real cluster, not per-run work, so billing it would measure
  * the JVM, not the engine.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (tables, default sf0.1),
  * `SPARK_GRAFT_REPS` (timed runs per query, default 2), `SPARK_GRAFT_ONLY`
  * (comma-separated name substrings; `SPARK_GRAFT_ONLY=q07` profiles one
  * query) and `SPARK_GRAFT_BENCH_OUT` (the line's file).
  */
object Bench {

  /** One completed stage of a profiled run: a row of PROFILE.json. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         runMs: Long, cpuMs: Long, inputBytes: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         shuffleRecords: Long, spillBytes: Long)

  /** Counters of one profiled run. `buildJobs` are the jobs submitted
    * before the query function returned its DataFrame.
    *
    * Shuffle records, not bytes, are the line's shuffle counter: a range
    * exchange seeds its bound sample with the RDD id, which depends on
    * the session's history, so the same plan writes the same records but
    * a few more or fewer compressed bytes (q06 at sf0.01: 306,439 and
    * 306,423 bytes in two invocations). PROFILE.json keeps the bytes.
    */
  final case class Profile(jobs: Int, buildJobs: Int, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def shuffleRecords: Long = stages.map(_.shuffleRecords).sum
  }

  /** The listener of one profiled run: job submit times, completed stages. */
  private[graft] final class Recorder extends SparkListener {
    val jobTimes = new ConcurrentLinkedQueue[Long]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobTimes.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for {
        a <- si.submissionTime; b <- si.completionTime
      } yield b - a).getOrElse(-1L)
      def metric(f: TaskMetrics => Long) = Option(si.taskMetrics).map(f).getOrElse(0L)
      stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        wall, metric(_.executorRunTime), metric(_.executorCpuTime) / 1000000L,
        metric(_.inputMetrics.bytesRead),
        metric(_.shuffleReadMetrics.totalBytesRead),
        metric(_.shuffleWriteMetrics.bytesWritten),
        metric(_.shuffleWriteMetrics.recordsWritten),
        metric(_.diskBytesSpilled)))
    }
  }

  /** Runs `fn` to a count once with a [[Recorder]] on the bus, and takes
    * it off the bus before returning, so no other run is observed. The bus
    * is drained on both sides: a listener also receives events that were
    * posted before it was added but not yet delivered (a previous run's
    * last stage, seen as a stray extra stage in 3 of 162 queries).
    */
  private[graft] def profile(spark: SparkSession, sfDir: String,
                             fn: (SparkSession, String) => DataFrame): Profile = {
    val rec = new Recorder
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(rec)
    val buildEnd =
      try {
        val df = fn(spark, sfDir)
        val t = System.currentTimeMillis()
        df.count()
        t
      } finally {
        PlanBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(rec)
      }
    // a build job completes before `fn` returns, so it was submitted at
    // least a millisecond before `buildEnd`; the count's jobs only after
    val jobTimes = rec.jobTimes.asScala.toSeq
    Profile(jobTimes.size, jobTimes.count(_ < buildEnd),
      rec.stages.asScala.toSeq.sortBy(_.id))
  }

  /** Seconds of one run of `fn` to a count. */
  private[graft] def timed(spark: SparkSession, sfDir: String,
                           fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** The family of each query: the object that registers it. */
  private[graft] def familyOf(name: String): String =
    SparkEntry.families.collectFirst { case (f, qs) if qs.contains(name) => f }
      .getOrElse(throw new NoSuchElementException(s"no such query: $name"))

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so a tab or CR in a message or in oracle SQL
    * cannot break a reader's `json.load`.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def proc1(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  private def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")

  private def profileJson(p: Profile): String = {
    def sum(f: Stage => Long) = p.stages.map(f).sum
    val rows = p.stages.map(s => obj(Seq("id" -> s.id,
      "name" -> jsonString(s.name), "tasks" -> s.tasks, "wall_ms" -> s.wallMs,
      "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs, "input_bytes" -> s.inputBytes,
      "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "shuffle_records" -> s.shuffleRecords, "spill_bytes" -> s.spillBytes)))
    obj(Seq("jobs" -> p.jobs, "build_jobs" -> p.buildJobs,
      "stages" -> p.stages.size, "tasks" -> p.tasks,
      "run_ms" -> sum(_.runMs), "cpu_ms" -> sum(_.cpuMs),
      "input_bytes" -> sum(_.inputBytes),
      "shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle_records" -> p.shuffleRecords, "spill_bytes" -> sum(_.spillBytes),
      "stage_rows" -> rows.mkString("[", ",", "]")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    // warm-up: JVM/codegen/scheduler init shouldn't bill the first query.
    // Tables.events (not raw parquet read) — the loader normalizes `ts` to
    // long nanos regardless of the on-disk timestamp encoding.
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, n)
        df.count()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $n failed: $e")
      }
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val loadStart = proc1("/proc/loadavg")
    var errors = List.empty[(String, String)]
    // local-iteration / scale-study aid: comma-separated name substrings.
    // Absent (the driver's case) → every registered query runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }

    val results = queryList.map { case (name, fn) =>
      // unbilled warm run: compiles this query's generated code while the
      // raised codegen cache guarantees it survives until the timed runs,
      // and records its counters
      val prof = try Some(profile(spark, sfDir, fn)) catch { case _: Throwable => None }
      spark.catalog.clearCache()
      // best-of-N timed runs (caches dropped between runs)
      val times = (1 to reps).flatMap { _ =>
        val dt =
          try Some(timed(spark, sfDir, fn)) catch {
            case e: Throwable =>
              // a swallowed failure must be visible in the metric line —
              // a silently-timed aborted job reads as a (fast) success
              if (!errors.exists(_._1 == name))
                errors ::= name -> e.toString.take(200)
              e.printStackTrace(System.err)
              None
          }
        spark.catalog.clearCache()
        dt
      }
      (name, times, prof)
    }
    val loadEnd = proc1("/proc/loadavg")
    val uptime = proc1("/proc/uptime")
    val mins = results.map { case (k, ts, _) =>
      k -> (if (ts.nonEmpty) ts.min else Double.NaN)
    }
    val qs = obj(mins)
    // ALL timed draws per query (not just the min): tools/bench_diff.py
    // reads two runs' draw intervals as their noise envelope
    val drawsJson = obj(results.map { case (k, ts, _) => k -> ts.mkString("[", ",", "]") })
    val errJson = obj(errors.reverse.map { case (k, v) => k -> jsonString(v) })
    val total = mins.map(_._2).filterNot(_.isNaN).sum
    // per-family minima rollup — the attributable round-over-round unit
    val famJson = obj(mins.filterNot(_._2.isNaN)
      .groupBy { case (n, _) => familyOf(n) }.toSeq.sortBy(_._1)
      .map { case (f, qs2) =>
        f -> obj(Seq("total" -> qs2.map(_._2).sum, "n" -> qs2.size))
      })
    val profiled = results.collect { case (k, _, Some(p)) => k -> p }
    val countersJson = obj(profiled.map { case (k, p) =>
      k -> obj(Seq("jobs" -> p.jobs, "build_jobs" -> p.buildJobs,
        "stages" -> p.stages.size, "tasks" -> p.tasks,
        "shuffle_records" -> p.shuffleRecords))
    })
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"families":$famJson,"draws":$drawsJson,"errors":$errJson,"sf":${jsonString(sfDir)},"loadavg_start":${jsonString(loadStart)},"loadavg_end":${jsonString(loadEnd)},"uptime":${jsonString(uptime)},"counters":$countersJson}"""
    println(line)
    // self-contained artifact: the driver's tail-capture truncated r2's JSON;
    // this file always holds the complete line. The run history (append-only,
    // what tools/bench_diff.py diffs) and the profile sit next to it, never
    // at a bare cwd-relative path.
    def write(p: Path, text: String, mode: StandardOpenOption): Unit =
      Files.write(p, text.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, mode)
    try {
      val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json"))
        .toAbsolutePath
      Files.createDirectories(out.getParent)
      write(out, line + "\n", StandardOpenOption.TRUNCATE_EXISTING)
      write(out.resolveSibling("BENCH_HISTORY.jsonl"), line + "\n",
        StandardOpenOption.APPEND)
      write(out.resolveSibling("PROFILE.json"),
        s"""{"sf":${jsonString(sfDir)},"queries":{\n""" +
          profiled.map { case (k, p) => s"${jsonString(k)}:${profileJson(p)}" }
            .mkString(",\n") + "\n}}\n",
        StandardOpenOption.TRUNCATE_EXISTING)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write the bench artifacts: $e")
    }
    spark.stop()
  }
}

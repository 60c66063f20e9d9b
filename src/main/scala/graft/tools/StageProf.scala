package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}

import graft.Session

/** The per-query profiler: per-STAGE wall/task breakdown for one
  * named SparkEntry query — answers "where do the seconds actually go"
  * (scan task? shuffle? how many tasks per stage? scheduler gaps?) when
  * the total alone can't distinguish data-plane cost from job-count
  * overhead. One warm pass (unbilled), then a timed pass with a listener
  * capturing every stage's duration, task count, and the executor-run
  * sum (wall minus run-sum ≈ scheduling/serialization overhead).
  *
  * Usage: runMain graft.tools.StageProf <query> [sfDir] [reps]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session.local(Session.cpus)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: codegen + file listing
    spark.catalog.clearCache()

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  runMs: Long, inBytes: Long, shRead: Long, shWrite: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    var jobs = 0
    var jobMs = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {
          a <- si.submissionTime; b <- si.completionTime
        } yield b - a).getOrElse(-1L)
        val m = si.taskMetrics
        stages += St(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, wall,
          if (m == null) -1L else m.executorRunTime,
          if (m == null) -1L else m.inputMetrics.bytesRead,
          if (m == null) -1L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) -1L else m.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1; jobStart(e.jobId) = e.time
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach(t0 => jobMs += e.time - t0)
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { r =>
      stages.clear(); jobs = 0; jobMs = 0
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // drain the (async) listener bus so the last stages are recorded
      Thread.sleep(300)
      println(f"[stageprof] $name rep$r total=$dt%.3fs jobs=$jobs " +
        f"jobWall=${jobMs / 1e3}%.3fs stages=${stages.size} " +
        f"stageWallSum=${stages.map(_.wallMs).sum / 1e3}%.3fs")
      stages.sortBy(-_.wallMs).take(25).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.wallMs}%6dms run=${s.runMs}%6dms " +
          f"tasks=${s.tasks}%3d in=${s.inBytes / 1024}%8dKB " +
          f"shR=${s.shRead / 1024}%7dKB shW=${s.shWrite / 1024}%7dKB  ${s.name.take(70)}")
      }
    }
    spark.stop()
  }
}

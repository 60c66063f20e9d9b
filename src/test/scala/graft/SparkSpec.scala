package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its result with the Spark jobs it started and
    * the bytes its tasks spilled. The listener bus delivers events in
    * order, so a marker job on each side bounds the window exactly.
    */
  protected def observe[T](body: => T): (T, Int, Long) = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val spills = new ConcurrentLinkedQueue[(Int, Long)]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        jobs.add((e.jobId, Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          spills.add((stageJob.getOrDefault(e.stageId, -1),
            m.memoryBytesSpilled)))
    }
    def marker(tag: String): Int = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      var id: Option[Int] = None
      while (id.isEmpty && System.nanoTime() < deadline) {
        id = jobs.toArray(Array.empty[(Int, String)])
          .collectFirst { case (j, `tag`) => j }
        if (id.isEmpty) Thread.sleep(10)
      }
      id.getOrElse(fail(s"marker job $tag never reached the listener"))
    }
    sc.addSparkListener(listener)
    try {
      val from = marker("observe-start")
      val result = body
      val to = marker("observe-end")
      val inside = (j: Int) => j > from && j < to
      val ids = jobs.toArray(Array.empty[(Int, String)]).map(_._1)
      val spilled = spills.toArray(Array.empty[(Int, Long)])
        .collect { case (j, b) if inside(j) => b }.sum
      (result, ids.count(inside), spilled)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}

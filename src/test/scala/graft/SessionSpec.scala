package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The test session is the one every entry point runs (graft.Session). */
class SessionSpec extends SparkSpec {

  test("the test session carries the shared conf") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // With AQE coalescing on, this is the initial partition count of every
    // exchange; unset, it must fall back to the shuffle partitions
    assert(spark.sessionState.conf.numShufflePartitions == 4)
  }

  test("no Spark session is built outside graft.Session") {
    val builder = "SparkSession" + ".builder"
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    def sources(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val all = sources("src/main") ++ sources("src/test")
    assert(all.contains(factory))
    val offenders = all.filter(p => p != factory &&
      new String(Files.readAllBytes(p), "UTF-8").contains(builder))
    assert(offenders.isEmpty, s"build sessions through graft.Session: $offenders")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.{AnalyticsQueries, CurationQueries, ExtendedQueries, MultimodalQueries, RelationalQueries, ScaleQueries, StreamingQueries, TextQueries, VectorQueries, WebQueries, WindowSetQueries}

/** `Bench` is the one query runner: its warm run's counters, its timed
  * runs' empty bus, its query families, and the source guards that keep
  * profiling in one place.
  */
class BenchSpec extends SparkSpec {

  private val q06 = SparkEntry.queries("q06_rfm_card_style")

  /** `Bench.Recorder`s on the session's listener bus right now. */
  private def recordersOnBus(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].asScala
      .count(_.isInstanceOf[Bench.Recorder])
  }

  test("the warm-run profile counts the same jobs, stages, tasks and " +
    "shuffle records twice") {
    val a = Bench.profile(spark, sf, q06)
    spark.catalog.clearCache()
    val b = Bench.profile(spark, sf, q06)
    spark.catalog.clearCache()
    assert(a.jobs > 0 && a.stages.nonEmpty && a.tasks > 0)
    assert(a.shuffleRecords > 0)
    assert((a.jobs, a.stages.size, a.tasks, a.shuffleRecords) ==
      (b.jobs, b.stages.size, b.tasks, b.shuffleRecords))
    assert(a.buildJobs <= a.jobs && b.buildJobs <= b.jobs)
  }

  test("a timed run has no profile listener on the bus") {
    var during = -1
    Bench.profile(spark, sf, (s, d) => { during = recordersOnBus(); q06(s, d) })
    spark.catalog.clearCache()
    // the probe sees the profile's own listener, so it can see one
    assert(during == 1)
    assert(recordersOnBus() == 0)
    var timed = -1
    assert(Bench.timed(spark, sf,
      (s, d) => { timed = recordersOnBus(); q06(s, d) }) > 0)
    spark.catalog.clearCache()
    assert(timed == 0)
  }

  test("every query gets exactly one family: the object that registers it") {
    val registering = Seq(
      "relational" -> RelationalQueries.queries,
      "text" -> TextQueries.queries,
      "vector" -> VectorQueries.queries,
      "scale" -> ScaleQueries.queries,
      "analytics" -> AnalyticsQueries.queries,
      "windowset" -> WindowSetQueries.queries,
      "extended" -> ExtendedQueries.queries,
      "curation" -> CurationQueries.queries,
      "multimodal" -> MultimodalQueries.queries,
      "streaming" -> StreamingQueries.queries,
      "web" -> WebQueries.queries)
    val names = registering.flatMap(_._2.keys)
    assert(names.size == names.distinct.size,
      s"registered twice: ${names.diff(names.distinct)}")
    assert(names.toSet == SparkEntry.queries.keySet)
    for ((family, qs) <- registering; name <- qs.keys)
      assert(Bench.familyOf(name) == family, name)
    // the queries the old number-keyed sets filed under "relational"
    val misfiled = Seq("q146", "q149", "q150", "q162", "q163", "q147",
      "q151", "q156", "q157", "q158", "q152", "q153", "q154", "q159")
    misfiled.foreach { q =>
      val name = names.find(_.startsWith(q + "_")).getOrElse(fail(q))
      assert(Bench.familyOf(name) != "relational", name)
    }
  }

  test("profiling lives in Bench: one listener, no BENCH_* reads, four env names") {
    def sources(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val main = sources("src/main")
    val bench = Paths.get("src/main/scala/graft/Bench.scala")
    val soak = Paths.get("src/main/scala/graft/tools/Soak.scala")
    assert(main.contains(bench) && main.contains(soak))

    val listener = ("""\b(?:extends|with|new)\s+(?:[\w.]+\.)?""" +
      """(?:SparkListener|SparkListenerInterface|QueryExecutionListener|""" +
      """StreamingQueryListener)\b""").r
    val listening = main.filter(p => listener.findFirstIn(text(p)).nonEmpty)
    assert(listening == Seq(bench), s"listeners belong in Bench.scala: $listening")

    // the artifacts Bench writes are the only BENCH_* names, and no line
    // naming one reads a file; the mined prior-time scan fails both
    val benchName = """BENCH_[\w.*\\]*""".r
    val written = Set("BENCH_SELF.json", "BENCH_HISTORY.jsonl", "BENCH_OUT")
    val read = """readAllBytes|readString|readAllLines|Files\.lines|Files\.list|Source\.from|listFiles|newDirectoryStream|InputStream|Reader""".r
    def benchReads(src: String): Seq[String] = src.linesIterator.filter { l =>
      val names = benchName.findAllIn(l).map(_.stripSuffix(".")).toSeq
      names.exists(!written(_)) || (names.nonEmpty && read.findFirstIn(l).nonEmpty)
    }.toSeq
    assert(benchReads(
      """.filter(p => p.getFileName.toString.matches("BENCH_.*\\.json"))""" +
        "\nval t = Files.readAllBytes(Paths.get(\"BENCH_SELF.json\"))").size == 2)
    val readers = main.map(p => p -> benchReads(text(p))).filter(_._2.nonEmpty)
    assert(readers.isEmpty, s"src/main reads bench artifacts: $readers")

    val deleted = Seq("PREFLIGHT_LOAD", "PREFLIGHT_WAIT", "OUTLIER_FACTOR",
      "OUTLIER_REPS", "SWEEPS", "SWEEP_DRIFT", "BENCH_HISTORY")
      .map("SPARK_GRAFT_" + _)
    val knobs = main.filter(p => deleted.exists(text(p).contains))
    assert(knobs.isEmpty, s"deleted knobs are back: $knobs")

    val envRead = """sys\.env(?:\.get|\.getOrElse|\.contains)?\(\s*"(SPARK_GRAFT_\w+)"""".r
    def envNames(p: Path) = envRead.findAllMatchIn(text(p)).map(_.group(1)).toSet
    assert(envNames(bench) == Set("SF_DIR", "REPS", "ONLY", "BENCH_OUT")
      .map("SPARK_GRAFT_" + _))
    assert(envNames(soak) == Set("SF_DIR", "ONLY", "FORCE", "WARM")
      .map("SPARK_GRAFT_" + _))
  }
}

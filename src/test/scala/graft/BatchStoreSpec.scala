package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.StreamingPipeline

/** The streaming state-store layer: one layout module, numeric version
  * order, bounded version stores, store writes that do not depend on
  * what `onBatch` consumed, and loud failure on a legacy layout.
  */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def dirNames(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted.toSeq

  test("no state-dir layout code outside BatchStore") {
    val home = Paths.get("src/main/scala/graft/streaming/BatchStore.scala")
    val walk = Files.walk(Paths.get("src/main"))
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val needles = Seq("batchDirsBefore", "%05d", "deleteRecursively")
    // self-check: the scan sees the layout code where it belongs
    assert(sources.contains(home) && text(home).contains("%05d"))
    val offenders = for {
      p <- sources if p != home
      n <- needles if text(p).contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty,
      s"state-dir names, listings and deletes belong in BatchStore: $offenders")
  }

  test("latestSnapshot orders versions numerically and ignores " +
    "non-version dirs") {
    val dir = Files.createTempDirectory("graft-latest").toString
    Seq(99999L).toDF("k").write.parquet(s"$dir/v99999")
    Seq(100000L).toDF("k").write.parquet(s"$dir/v100000")
    new File(dir, "v_tmp").mkdirs() // not a version: no parquet inside
    val latest = StreamingPipeline.latestSnapshot(spark, dir).get
    assert(latest.as[Long].collect().toSeq == Seq(100000L))
  }

  test("the mixture inventory and the unigram LM keep {prior, new} " +
    "versions") {
    import graft.functions.TextAnalysis
    val mixDir = Files.createTempDirectory("graft-mix-keep").toString
    val lmDir = Files.createTempDirectory("graft-lm-keep").toString
    (0 until 3).foreach { b =>
      val docs = Seq((b.toLong, "web", s"a b t$b"))
        .toDF("doc_id", "source", "text")
      StreamingPipeline.mixturePlanBatch(docs, b.toLong, "source",
        TextAnalysis.tokenCount(col("text")), mixDir) { (plan, _) =>
        plan.collect(); ()
      }
      StreamingPipeline.unigramCeBatch(docs, b.toLong, "doc_id", "text",
        lmDir, addK = 1.0) { (scored, _) => scored.collect(); () }
    }
    assert(dirNames(mixDir) == Seq("v00001", "v00002"),
      s"mixture store: ${dirNames(mixDir)}")
    assert(dirNames(lmDir) == Seq("v00001", "v00002"),
      s"LM store: ${dirNames(lmDir)}")
    // pruning never loses history: the latest version covers all batches
    val lm = StreamingPipeline.unigramLmSnapshot(spark, lmDir).get
      .as[(String, Long)].collect().toMap
    assert(lm == Map("a" -> 3L, "b" -> 3L, "t0" -> 1L, "t1" -> 1L,
      "t2" -> 1L))
    val web = spark.read.parquet(s"$mixDir/v00002")
      .select("n_docs").as[Long].collect().toSeq
    assert(web == Seq(3L))
  }

  test("an onBatch that reads only part of the scores still stores every " +
    "benchmark row (decontam snapshot and Bloom words)") {
    import graft.operators.Curation
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    val snapDir = Files.createTempDirectory("graft-decontam-lim").toString
    def decontam(rows: Seq[(Long, Seq[Float], Boolean)], b: Long): Unit =
      StreamingPipeline.decontamBatch(
        rows.toDF("vec_id", "embedding", "is_bench"), b, "is_bench", cents,
        0.9, snapDir, "vec_id", "embedding") { (scored, _) =>
        scored.limit(1).collect(); ()
      }
    // batch 0 seeds a prior, so batch 1 takes the with-prior path; in
    // batch 1 the train rows come first, so a limit(1) action can stop
    // before it ever reads the benchmark rows
    decontam(Seq((100L, Seq(1.0f, 0.0f, 0.0f), true)), 0L)
    decontam(Seq((1L, Seq(0.99f, 0.01f, 0.0f), false),
      (2L, Seq(0.98f, 0.02f, 0.0f), false),
      (101L, Seq(0.0f, 1.0f, 0.0f), true),
      (102L, Seq(0.0f, 1.0f, 1.0f), true)), 1L)
    assert(dirNames(snapDir).contains("v00001"), dirNames(snapDir))
    assert(spark.read.parquet(s"$snapDir/v00001").select("bench_id")
      .as[Long].collect().toSet == Set(100L, 101L, 102L))

    val storeDir = Files.createTempDirectory("graft-bloom-lim").toString
    val m = 1 << 14
    val bench0 = "the quick brown fox jumps over the lazy dog"
    val bench1 = "other benchmark sentence with different gram content"
    def bloom(rows: Seq[(Long, String, Boolean)], b: Long): Unit =
      StreamingPipeline.bloomDecontamBatch(
        rows.toDF("doc_id", "text", "is_bench"), b, "is_bench", storeDir,
        4, m, 3, 0.05, "doc_id", "text") { (scored, _) =>
        scored.limit(1).collect(); ()
      }
    bloom(Seq((100L, bench0, true)), 0L)
    bloom(Seq((1L, "some train text that is long enough", false),
      (2L, "more train text of no special interest", false),
      (101L, bench1, true)), 1L)
    assert(dirNames(storeDir).contains("v00001"), dirNames(storeDir))
    val words = spark.read.parquet(s"$storeDir/v00001")
      .select("w", "bits").as[(Int, Long)].collect().toSeq
    val want = Curation.bloomContaminationBits(
      Seq((100L, bench0), (101L, bench1)).toDF("doc_id", "text"),
      "text", n = 4, mBits = m, k = 3)
    assert(Curation.bloomBitsFromWordRows(words, m).toSeq == want.toSeq)
  }

  test("a minhash state dir in the legacy split layout fails loudly") {
    val stateDir = Files.createTempDirectory("graft-mh-legacy").toString
    Seq(1L).toDF("id").write.parquet(s"$stateDir/bands/b00000")
    def run(): Unit =
      StreamingPipeline.minHashDedupBatch(
        Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text"), 0L,
        "doc_id", "text", stateDir, n = 3, threshold = 0.4,
        numHashes = 64, bands = 32) { (em, _) => em.collect(); () }
    val e = intercept[IllegalStateException](run())
    assert(e.getMessage.contains(s"$stateDir/bands"), e.getMessage)
    assert(!new File(stateDir, "store/b00000").exists(),
      "the failed batch must not start a new store")
  }
}

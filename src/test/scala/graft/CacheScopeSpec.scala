package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.storage.StorageLevel

import graft.etl.{Analyze, ExampleData, Load, Pipeline}
import graft.multimodal.{Codecs, ImageHash}
import graft.multimodal.Multimodal.{Image, MediaRow}
import graft.operators.{Curation, Dedup, Similarity}

/** [[CacheScope]]: a scope releases exactly the caches persisted inside
  * it, on success and on throw; outside any scope they stay.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta alpha beta gamma delta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"),
    (3L, "spark spark spark spark spark spark spark spark"),
    (4L, "one two three four five six seven eight nine ten"),
    (5L, "alpha beta gamma delta alpha beta gamma delta"),
    (6L, "a b c d e f g h"), (7L, "a b c d e f g x"), (8L, "x"), (9L, "")
  ).toDF("doc_id", "text")

  private lazy val target =
    Seq((100L, "alpha beta alpha beta")).toDF("doc_id", "text")

  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)), (3L, Seq(0.0f, 0.0f, 1.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  // 20 ids over 8 codes: exact copies plus 1-bit neighbours
  private lazy val fps = (0 until 20)
    .map(i => (i.toLong, 0xF0F0F0F0L ^ (1L << (i % 8))))
    .toDF("id", "fp")

  private def gradient(id: Long, w: Int, h: Int): Image = Image(id, w, h, 3,
    Array.tabulate(w * h * 3)(i => ((i / 3 % w) * 255 / w + id).toByte))

  private lazy val media = (1L to 4L)
    .map(i => MediaRow(i, "image",
      Codecs.BmpCodec.encode(gradient(i % 2, 32, 24)), "bmp"))
    .toDS()

  private lazy val captions = Seq(
    (1L, "a shared caption about the same thing"),
    (2L, "a shared caption about the same thing"),
    (3L, "entirely unrelated words describing another subject"),
    (4L, "a shared caption about the same thing")).toDF("id", "caption")

  private lazy val etlDir: String = {
    val d = Files.createTempDirectory("graft-cachescope").toString
    ExampleData.write(d)
    d
  }
  private lazy val cfg = Pipeline.loadConfigs(spark, s"$etlDir/configs")
  private lazy val txns: DataFrame = {
    val out = s"$etlDir/all_transactions"
    Load.toWarehouseShape(Pipeline.extractRefine(spark, s"$etlDir/data", cfg))
      .write.parquet(out)
    spark.read.parquet(out)
  }

  /** One operator whose returned plan reads a cache it persisted.
    * `checkpoints`: its plan also holds `localCheckpoint` RDDs, which are
    * not cache entries and outlive any scope until garbage-collected.
    * `persists = false`: an operator that must persist nothing at all,
    * inside or outside a scope (its input is too cheap to cache).
    */
  private case class Op(name: String, checkpoints: Boolean,
                        build: () => DataFrame, persists: Boolean = true)

  private val ops = Seq(
    Op("Curation.topTfidfTerm", false,
      () => Curation.topTfidfTerm(docs, "doc_id", "text")),
    Op("Curation.unigramCrossEntropy", false,
      () => Curation.unigramCrossEntropy(docs, "doc_id", "text")),
    Op("Curation.bigramCrossEntropy", false,
      () => Curation.bigramCrossEntropy(docs, "doc_id", "text")),
    Op("Curation.dsirImportance", false,
      () => Curation.dsirImportance(docs, target, "doc_id", "text")),
    Op("Dedup.jaccardSimilarityJoin", false,
      () => Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.3)),
    Op("Dedup.containmentJoin", false,
      () => Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.3)),
    Op("Dedup.minHashLsh", false,
      () => Dedup.minHashLsh(docs, "doc_id", "text", 3, 0.3)),
    Op("Dedup.hammingDedupCorpus", true,
      () => Dedup.hammingDedupCorpus(fps, "id", "fp", maxHamming = 2)),
    Op("Similarity.semDedup", false,
      () => Similarity.semDedup(vecs,
        Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0)), threshold = 0.9)),
    Op("ImageHash.jointDedup", true,
      () => ImageHash.jointDedup(media, captions, "id", "caption",
        maxImageHamming = 6, maxTextHamming = 12)),
    Op("Analyze.merchantRfm", false,
      () => Analyze.merchantRfm(txns, cfg.merchants, cfg.payments)),
    Op("Analyze.paymentRfm", false,
      () => Analyze.paymentRfm(txns, cfg.payments), persists = false),
    Op("Analyze.cardRfm", false, () => Analyze.cardRfm(txns),
      persists = false))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  for (op <- ops)
    test(s"${op.name}: a scope releases its caches, on success and on " +
      "throw, and returns the plain rows") {
      // CacheManager is keyed by plan: start from no entries, so the
      // operator's persists cannot land on an entry left by another test
      spark.catalog.clearCache()
      val entries = CacheEntries.count(spark)
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      // persisted RDDs that were not there before; the ContextCleaner may
      // meanwhile reclaim older ones, so only new ones count
      def leftBehind() = spark.sparkContext.getPersistentRDDs.collect {
        case (id, rdd)
            if !rdds(id) && !(op.checkpoints && rdd.isCheckpointed) => id
      }
      val scoped = CacheScope(rows(op.build()))
      assert(CacheEntries.count(spark) == entries && leftBehind().isEmpty,
        "the scope left a cache behind")
      intercept[IllegalStateException] {
        CacheScope {
          op.build().count()
          throw new IllegalStateException("boom")
        }
      }
      assert(CacheEntries.count(spark) == entries && leftBehind().isEmpty,
        "the scope left a cache behind on throw")
      // outside any scope the operator's cache stays, as before
      val plain = rows(op.build())
      if (op.persists)
        assert(CacheEntries.count(spark) > entries && leftBehind().nonEmpty,
          "the operator persisted nothing, so the checks above prove nothing")
      else
        assert(CacheEntries.count(spark) == entries && leftBehind().isEmpty,
          "an operator that should persist nothing left a cache behind")
      spark.catalog.clearCache()
      assert(scoped.nonEmpty && scoped == plain)
    }

  test("a nested scope releases only its own frames") {
    spark.catalog.clearCache()
    val base = CacheEntries.count(spark)
    CacheScope {
      Curation.topTfidfTerm(docs, "doc_id", "text")
      val outer = CacheEntries.count(spark)
      assert(outer > base)
      CacheScope {
        Curation.unigramCrossEntropy(docs, "doc_id", "text")
        assert(CacheEntries.count(spark) > outer)
      }
      assert(CacheEntries.count(spark) == outer)
    }
    assert(CacheEntries.count(spark) == base)
  }

  test("outside any scope persist is a plain persist at the given level") {
    spark.catalog.clearCache()
    val df = docs.select($"doc_id" * 2)
    assert(CacheScope.persist(df) eq df)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val onDisk = docs.select($"doc_id" * 3)
    CacheScope(assert(CacheScope.persist(onDisk, StorageLevel.DISK_ONLY)
      .storageLevel == StorageLevel.DISK_ONLY))
    assert(onDisk.storageLevel == StorageLevel.NONE)
    assert(CacheEntries.count(spark) == 1)
    spark.catalog.clearCache()
  }

  /** Public `def`s whose parameter lists mention `StorageLevel`. A `def`
    * is public unless `private`/`protected` precede it on its line.
    */
  private def publicStorageDefs(src: String): Seq[String] =
    """\bdef\s+(\w+)""".r.findAllMatchIn(src).filter { m =>
      val lineStart = src.lastIndexOf('\n', m.start) + 1
      val modifiers = src.substring(lineStart, m.start)
      var i = m.end
      var depth = 0
      while (i < src.length && (depth > 0 || src(i).isWhitespace ||
          src(i) == '(' || src(i) == '[')) {
        if (src(i) == '(' || src(i) == '[') depth += 1
        if (src(i) == ')' || src(i) == ']') depth -= 1
        i += 1
      }
      !modifiers.contains("private") && !modifiers.contains("protected") &&
        src.substring(m.end, i).contains("StorageLevel")
    }.map(_.group(1)).toSeq

  test("src/main grows no *Scoped twin and no public StorageLevel knob") {
    assert(publicStorageDefs(
      "def f(a: Int,\n  level: StorageLevel = X)(g: Int): Unit") == Seq("f"))
    assert(publicStorageDefs(
      "private[graft] def g[T](l: StorageLevel): T\ndef h(): Unit") == Nil)
    val walk = Files.walk(Paths.get("src/main"))
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    val offenders = sources.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      ("""\bdef\s+\w+Scoped\b""".r.findAllIn(src) ++
        publicStorageDefs(src)).map(d => s"$p: $d")
    }
    assert(offenders.isEmpty, "bound cache lifetimes with graft.CacheScope " +
      s"and keep storage levels internal: $offenders")
  }
}

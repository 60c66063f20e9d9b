package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Splits}

class SplitsSpec extends SparkSpec {
  import spark.implicits._

  test("fold assignment is deterministic and partition-independent") {
    val ids = spark.range(0, 2000).toDF("k")
    val a = Splits.assignFolds(ids, "k", 10)
      .select("k", "fold").as[(Long, Long)].collect().toMap
    val b = Splits.assignFolds(ids.repartition(13), "k", 10)
      .select("k", "fold").as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.toSet.subsetOf((0L until 10L).toSet))
    // roughly balanced: no fold under half or over double the fair share
    val sizes = a.values.groupBy(identity).map(_._2.size)
    assert(sizes.min > 100 && sizes.max < 400, s"unbalanced: $sizes")
  }

  test("grouped split never leaks a key across folds") {
    val ev = Tables.events(spark, sf)
    val folded = Splits.assignFolds(ev, "user_id", 5)
    val leaky = folded.groupBy("user_id")
      .agg(countDistinct(col("fold")).as("nf"))
      .filter(col("nf") > 1).count()
    assert(leaky == 0)
  }

  private def planes(n: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(r.nextGaussian()))
  }

  test("bucketed cosine near-dup is a subset of exact with high recall") {
    // the driver embeddings have no true near-dups at a high threshold,
    // so plant them: a deterministically perturbed copy of each vector
    // (cosine ≈ 0.999 to its original)
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val copies = base
      .withColumn("vec_id", col("vec_id") + 1000)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> x * (1.0f + float(0.03 * sin(i + vec_id))))"))
    val corpus = base.unionByName(copies)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val exact = Similarity.cosineNearDupPairs(corpus, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val tables = (0 until 6).map(t => planes(6, dim, seed = 100 + t))
    val bucketed = Similarity
      .cosineNearDupPairsBucketed(corpus, 0.95, tables)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact)) // never a false positive
    assert(exact.size >= 300) // every planted pair is present
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall (${bucketed.size}/${exact.size})")

    // auto geometry (corpus-sized bits + recall-sized tables) keeps the
    // same contract: subset of exact, recall >= its 0.8 design target
    val auto = Similarity.cosineNearDupPairsAuto(corpus, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.subsetOf(exact))
    val autoRecall = auto.size.toDouble / exact.size
    assert(autoRecall >= 0.8,
      s"auto recall $autoRecall (${auto.size}/${exact.size})")
  }

  test("routed entry picks exact below exactMaxVectors, bucketed above") {
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val copies = base
      .withColumn("vec_id", col("vec_id") + 1000)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> x * (1.0f + float(0.03 * sin(i + vec_id))))"))
    val corpus = base.unionByName(copies)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim")
        .as[(Long, Long, Double)].collect().toSet
    // routed: exact arm below the bound (output == exact all-pairs),
    // bucketed arm above it (subset of exact, never a false positive)
    val exact = pairs(Similarity.cosineNearDupPairs(corpus, 0.95))
    val routedExact = pairs(Similarity
      .cosineNearDupPairsRouted(corpus, 0.95, exactMaxVectors = 1L << 20))
    assert(routedExact == exact)
    val routedBucketed = pairs(Similarity
      .cosineNearDupPairsRouted(corpus, 0.95, exactMaxVectors = 0L,
        targetRecall = 0.99))
    assert(routedBucketed.subsetOf(exact))
    assert(routedBucketed.size.toDouble / exact.size >= 0.9,
      s"routed recall ${routedBucketed.size}/${exact.size}")
  }

  test("signature-prefiltered near-dup is pair-identical to the bucketed " +
    "form on the same plane tables (planted dups far inside the 2-sigma " +
    "Hamming cut), staged == single-shot, never a false positive") {
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val copies = base
      .withColumn("vec_id", col("vec_id") + 1000)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> x * (1.0f + float(0.03 * sin(i + vec_id))))"))
    val corpus = base.unionByName(copies)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val tables = (0 until 6).map(t => planes(6, dim, seed = 100 + t))
    val sigPlanes = planes(256, dim, seed = 999)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim")
        .as[(Long, Long, Double)].collect().toSet
    val bucketed = pairs(Similarity
      .cosineNearDupPairsBucketed(corpus, 0.95, tables))
    val sig = pairs(Similarity.cosineNearDupPairsSig(corpus, 0.95,
      tables, sigPlanes, stageTables = tables.size))
    // a planted pair at ~0.999 sits ~20 sigma under the Hamming cut, so
    // the prefilter drops nothing here: same candidates, same verify
    assert(sig == bucketed, s"sig != bucketed: ${sig.size} vs " +
      s"${bucketed.size}")
    val sigStaged = pairs(Similarity.cosineNearDupPairsSig(corpus, 0.95,
      tables, sigPlanes, stageTables = 2))
    assert(sigStaged == sig, "staged sig != single-shot sig")
    // exact verify after the prefilter: every emitted sim clears the
    // threshold (no Hamming-estimated sims leak into the output)
    assert(sig.forall(_._3 >= 0.95))
    val exact = pairs(Similarity.cosineNearDupPairs(corpus, 0.95))
    assert(sig.subsetOf(exact))
  }

  test("auto near-dup refuses above routeThreshold, routing to semDedup") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    // below the guard: runs fine
    Similarity.cosineNearDupPairsAuto(emb, 0.9, routeThreshold = 100L)
      .count()
    // above it: a loud, message-bearing refusal (not an OOM three hours
    // into a cluster run) that names the linear alternative
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairsAuto(emb, 0.9, routeThreshold = 99L)
    }
    assert(ex.getMessage.contains("semDedup"), ex.getMessage)
    assert(ex.getMessage.contains("routeThreshold"), ex.getMessage)
  }

  test("auto near-dup on an empty corpus returns an empty pair frame") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 0)
    val out = Similarity.cosineNearDupPairsAuto(emb, 0.9)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "sim"))
    assert(out.count() == 0)
  }

  test("corpusShuffle: (shard, pos) is a bijection with contiguous " +
    "per-shard positions, pseudo-random order, partition-independent") {
    import spark.implicits._
    val ids = spark.range(0, 5000).selectExpr("id AS doc_id")
    val got = Splits.corpusShuffle(ids, "doc_id", shards = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 5000)
    // per shard: positions are exactly 0..n_s-1 (contiguous, no dup)
    for ((s, rows) <- got.groupBy(_._2)) {
      val ps = rows.map(_._3).sorted
      assert(ps.toSeq == (0L until rows.length).toSeq, s"shard $s")
    }
    // pseudo-random: within a shard, position order must not equal id
    // order (the point of hashing); astronomically unlikely by chance
    val firstShard = got.filter(_._2 == got.head._2)
    val byPos = firstShard.sortBy(_._3).map(_._1).toSeq
    assert(byPos != byPos.sorted, "training order degenerated to id order")
    // partition-independence: same assignment at any input partitioning
    val again = Splits.corpusShuffle(ids.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect().toSet
    assert(again == got.toSet)
  }

  test("corpusShuffle with requireUniqueIds fails loudly on duplicate " +
    "ids instead of emitting a partitioning-dependent order") {
    val dup = spark.range(0, 100).selectExpr("(id % 50) AS doc_id")
    val e = intercept[IllegalArgumentException] {
      Splits.corpusShuffle(dup, "doc_id", 4, requireUniqueIds = true)
    }
    assert(e.getMessage.contains("not unique"))
    // unique ids pass the check and produce the same assignment as the
    // unchecked path
    val ids = spark.range(0, 100).selectExpr("id AS doc_id")
    val checked = Splits
      .corpusShuffle(ids, "doc_id", 4, requireUniqueIds = true)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect().toSet
    val unchecked = Splits.corpusShuffle(ids, "doc_id", 4)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect().toSet
    assert(checked == unchecked)
  }
}

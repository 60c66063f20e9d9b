package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine of identical vectors is 1, orthogonal 0, opposite -1") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), Seq(-1.0f, -2.0f),
      Seq(2.0f, -1.0f))).toDF("a", "b", "c", "d")
    val Seq(ab, ac, ad) = df.select(
      VectorFunctions.cosine(col("a"), col("b")),
      VectorFunctions.cosine(col("a"), col("c")),
      VectorFunctions.cosine(col("a"), col("d")))
      .as[(Double, Double, Double)].head().productIterator.toSeq
      .map(_.asInstanceOf[Double])
    assert(math.abs(ab - 1.0) < 1e-12)
    assert(math.abs(ac + 1.0) < 1e-12)
    assert(math.abs(ad) < 1e-12)
  }

  test("side-hoisted norms are BIT-identical to inline cosine (r16: " +
    "near-dup sims must not move when the norm fold leaves the pair loop)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val hoisted = Similarity.cosineNearDupPairs(emb, threshold = -2.0)
      .select(col("id_a"), col("id_b"), col("sim"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val inline = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
    assert(hoisted.exceptAll(inline).isEmpty &&
      inline.exceptAll(hoisted).isEmpty,
      "hoisted-norm sims diverge from inline cosine")
  }

  test("brute-force knn ranks by cosine desc with id tie-break") {
    val got = Similarity.bruteForceKnn(
        vecs.filter(col("vec_id") === 0), vecs, k = 2)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L)) // 1 closest; 2 and 3 tie at 0 → lower id
  }

  test("lsh knn returns a subset ranking consistent with brute force") {
    val planes = Seq(Seq(0.3, -0.2, 0.9), Seq(-0.5, 0.8, 0.1),
      Seq(0.7, 0.6, -0.4))
    val got = Similarity.lshKnn(
        vecs.filter(col("vec_id") === 0), vecs, k = 3, planes)
      .select("neighbor_id").as[Long].collect().toSet
    val exact = Similarity.bruteForceKnn(
        vecs.filter(col("vec_id") === 0), vecs, k = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.subsetOf(exact))
  }

  test("multi-table lsh recall dominates single-table on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // 4-bit buckets: these embeddings' top-5 neighbors sit at ~60-70°
    // angles, so per-bit collision ≈ 0.65 → ~18%/table, ~55% with 4 tables
    def planes(seed: Long) = {
      val r = new scala.util.Random(seed)
      Seq.fill(4)(Seq.fill(64)(r.nextGaussian()))
    }
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(tables: Seq[Seq[Seq[Double]]]) = {
      val got = Similarity.lshKnnMultiTable(queries, emb, k = 5, tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val one = recall(Seq(planes(1)))
    val four = recall(Seq(planes(1), planes(2), planes(3), planes(4)))
    assert(four >= one) // more tables never lose candidates
    assert(four > 0.25, s"4-table recall $four implausibly low")
  }

  test("ivf knn assigns cells and finds the nearest same-cell vector") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    val got = Similarity.ivfKnn(
        vecs.filter(col("vec_id") === 0), vecs, k = 1, centroids)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L)) // 0 and 1 share the x-axis cell
  }

  test("kmeansFit recovers planted cluster centers deterministically") {
    // 3 well-separated 4-dim clusters, 40 points each, deterministic
    // jitter from a seeded generator
    val centers = Seq(Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0))
    val r = new scala.util.Random(5)
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield (ci * 40L + i,
      c.map(x => (x + 0.3 * r.nextGaussian()).toFloat))
    val df = pts.toDF("vec_id", "embedding")
    def fit(d: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansFit(d, k = 3, iters = 5)
    val fitted = fit(df)
    // every true center has a fitted centroid within jitter distance
    centers.foreach { c =>
      val best = fitted.map(f =>
        math.sqrt(c.zip(f).map { case (a, b) => (a - b) * (a - b) }.sum))
        .min
      assert(best < 0.5, s"no fitted centroid near $c (best $best)")
    }
    // bit-identical refit under a different partitioning (the quantized
    // update + deterministic init close both nondeterminism sources)
    assert(fitted == fit(df.repartition(17)))
    // trained centroids beat the axis-misaligned seed cells for IVF:
    // nprobe=1 recall@5 against brute force is perfect on separated data
    val queries = df.filter(col("vec_id") % 40 === 0)
    val exact = Similarity.bruteForceKnn(queries, df, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(queries, df, k = 5, fitted)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == exact, "trained IVF at nprobe=1 must match brute force " +
      "on well-separated clusters")
  }

  test("kmeansFit clamps k to the input size instead of failing") {
    // ADVICE r4: k > |input| used to throw IndexOutOfBounds via the
    // empty-cell fallback; now the model clamps to the available vectors
    val tiny = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val m = Similarity.kmeansFit(tiny, k = 5, iters = 3)
    assert(m.size == 2)
    assert(Similarity.kmeansFit(tiny.limit(0), k = 3, iters = 2).isEmpty)
  }

  test("kmeans|| seeds are deterministic, spread across modes on skewed " +
    "data, and IVF recall does not regress") {
    // skew: 140 points in one dense mode, 8 + 8 in two far small modes —
    // a content-blind draw puts ~all seeds in the dense mode
    val r = new scala.util.Random(11)
    val dense = (0 until 140).map(i =>
      (i.toLong, Seq(0.0, 0.0, 0.0, 0.0).map(x =>
        (x + 0.2 * r.nextGaussian()).toFloat)))
    val farA = (0 until 8).map(i =>
      (1000L + i, Seq(50.0, 0.0, 0.0, 0.0).map(x =>
        (x + 0.2 * r.nextGaussian()).toFloat)))
    val farB = (0 until 8).map(i =>
      (2000L + i, Seq(0.0, 50.0, 0.0, 0.0).map(x =>
        (x + 0.2 * r.nextGaussian()).toFloat)))
    val df = (dense ++ farA ++ farB).toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansParallelSeeds(df, k = 3)
    assert(seeds.size == 3)
    // deterministic under a different partitioning
    assert(seeds == Similarity.kmeansParallelSeeds(df.repartition(13), k = 3))
    // each mode attracts at least one seed (the balance property min-md5
    // seeding lacks: P(all-md5-seeds in dense mode) = (140/156)^3 ≈ 72%)
    val modes = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(50.0, 0.0, 0.0, 0.0),
      Seq(0.0, 50.0, 0.0, 0.0))
    modes.foreach { m =>
      val best = seeds.map(s =>
        math.sqrt(m.zip(s).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(best < 5.0, s"no seed near mode $m (best $best)")
    }
  }

  test("multi-probe ivf recovers neighbors from adjacent cells") {
    // query sits in cell A; its true 2nd neighbor lands in cell B —
    // nprobe=1 misses it, nprobe=2 probes B and recovers it
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val data = Seq(
      (0L, Seq(0.9f, 0.35f, 0.0f)), // query: cell A, leaning toward B
      (1L, Seq(1.0f, 0.0f, 0.0f)), // cell A
      (2L, Seq(0.6f, 0.75f, 0.0f)) // cell B, cosine-close to the query
    ).toDF("vec_id", "embedding")
    def neighbors(np: Int) = Similarity.ivfKnn(
        data.filter(col("vec_id") === 0), data, k = 2, centroids,
        nprobe = np)
      .select("neighbor_id").as[Long].collect().toSet
    assert(neighbors(1) == Set(1L))
    assert(neighbors(2) == Set(1L, 2L))
  }

  test("semDedup flags within-cell near-dups with min-id canonical") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    // cell 1: {0, 1} with cos(0,1) ≈ 0.994; cell 2: {2, 3, 4} mutually
    // orthogonal — no dup relation clears the threshold there
    val got = Similarity.semDedup(vecs, centroids, threshold = 0.9)
      .orderBy("vec_id")
      .select("vec_id", "cell", "dup_of", "kept")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(got.filter(_._4).map(_._1) == Seq(0L, 2L, 3L, 4L))
    assert(got(1)._3.contains(0L)) // 1 duplicates 0 (the min-id copy)
    assert(got(0)._2 == got(1)._2) // dup pair shares a cell
  }

  test("semDedup keeps exactly one copy of a mutual-dup group") {
    val trio = Seq(
      (7L, Seq(1.0f, 0.0f, 0.0f)),
      (8L, Seq(0.99f, 0.01f, 0.0f)),
      (9L, Seq(0.98f, 0.02f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(trio,
        Seq(Seq(1.0, 0.0, 0.0)), threshold = 0.99)
      .orderBy("vec_id")
      .select("vec_id", "dup_of", "kept")
      .as[(Long, Option[Long], Boolean)].collect().toSeq
    // all three mutually clear 0.99 → 7 survives; 8 and 9 both point at 7
    assert(got == Seq((7L, None, true), (8L, Some(7L), false),
      (9L, Some(7L), false)))
  }

  test("ivfCellStats reports exact counts and quantized-mean distances") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    val got = Similarity.ivfCellStats(vecs, centroids)
      .orderBy("cell")
      .select("cell", "n_vecs", "mean_d2", "min_d2", "max_d2")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got.map(g => (g._1, g._2)) == Seq((1L, 2L), (2L, 3L)))
    // cell 1: d2 ∈ {0, 0.02} → mean 0.01; quantization error < 2^-20
    assert(math.abs(got.head._3 - 0.01) < 1e-5)
    assert(got.head._4 == 0.0 && math.abs(got.head._5 - 0.02) < 1e-9)
    // partitioning-invariant: same result from a different layout
    val re = Similarity.ivfCellStats(vecs.repartition(7), centroids)
      .orderBy("cell")
      .select("cell", "n_vecs", "mean_d2", "min_d2", "max_d2")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(re == got)
  }

  test("adaptive IVF probing: recall >= fixed nprobe at equal (here " +
    "smaller) candidate budget under cell imbalance") {
    val centroids = Seq(Seq(10.0, 0.0), Seq(-10.0, 0.0),
      Seq(0.0, 10.0), Seq(0.0, -10.0))
    val r = new scala.util.Random(11)
    def jitter = (r.nextDouble() * 0.2 - 0.1).toFloat
    // HOT cell 1: 60 vectors; cells 2-4: 4 each (the imbalance q99 shows)
    val hot = (0 until 60).map(i =>
      (i.toLong, Seq(10.0f + jitter, jitter)))
    val small = for {
      (cIdx, base) <- Seq(100L -> Seq(-10.0f, 0.0f),
        200L -> Seq(0.0f, 10.0f), 300L -> Seq(0.0f, -10.0f))
      j <- 0 until 4
    } yield (cIdx + j, Seq(base.head + jitter, base(1) + jitter))
    val corpus = (hot ++ small).toDF("vec_id", "embedding")
    // query 1000 lands in the hot cell; 1001 among the small cells
    val queries = Seq(
      (1000L, Seq(9.5f, 0.3f)),
      (1001L, Seq(-4.0f, 1.0f))).toDF("vec_id", "embedding")
    val cellCounts = Similarity.ivfCellStats(corpus, centroids)
      .select("cell", "n_vecs").as[(Long, Long)].collect().toMap
    assert(cellCounts(1L) == 60L && cellCounts(2L) == 4L)
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = neighborSets(
      Similarity.bruteForceKnn(queries, corpus, k = 6))
    def recall(got: Map[Long, Set[Long]]) =
      got.map { case (q, s) => (s & truth(q)).size }.sum.toDouble /
        truth.values.map(_.size).sum
    // fixed nprobe=1: q1000 examines the 60-vec hot cell, q1001 only its
    // 4-vec nearest cell -> 64 candidates total, starved recall on q1001
    val fixed1 = neighborSets(Similarity.ivfKnn(queries, corpus, k = 6,
      centroids, nprobe = 1))
    // fixed nprobe=2: 64 + 8 = 72 candidates total, full recall
    val fixed2 = neighborSets(Similarity.ivfKnn(queries, corpus, k = 6,
      centroids, nprobe = 2))
    // adaptive budget=8: q1000 stops after the hot cell (60 >= 8);
    // q1001 probes its two nearest 4-vec cells (4 < 8, then 8 >= 8)
    // -> 68 candidates total: FEWER than fixed-2, yet same full recall,
    // and strictly better than fixed-1 at near-equal cost
    val adaptive = neighborSets(Similarity.ivfKnnAdaptive(queries, corpus,
      k = 6, centroids, cellCounts, candidateBudget = 8L))
    assert(recall(fixed1) < 1.0)
    assert(recall(fixed2) == 1.0)
    assert(recall(adaptive) == 1.0)
    assert(recall(adaptive) >= recall(fixed1))
    assert(adaptive == truth)
  }

  test("ivfCellStats mean survives huge distances (no long wrap)") {
    // d2 = (1e6)² = 1e12 per row → quantized ≈ 1.05e18; 20 rows sum to
    // ~2.1e19 > Long.MaxValue — a long accumulator wraps negative
    val big = (0 until 20).map(i => (i.toLong, Seq(1e6.toFloat, 0f)))
      .toDF("vec_id", "embedding")
    val (n, mean) = Similarity.ivfCellStats(big, Seq(Seq(0.0, 0.0)))
      .select("n_vecs", "mean_d2").as[(Long, Double)].head()
    assert(n == 20L)
    assert(mean > 0.0 && math.abs(mean / 1e12 - 1.0) < 1e-6,
      s"mean_d2 wrapped or drifted: $mean")
  }

  test("kmeans|| never returns duplicate seeds") {
    // zero-weight candidates make the greedy products w·d² vanish; the
    // argmax must then still pick among UNCHOSEN candidates only
    val r = new scala.util.Random(7)
    val dense = (0 until 60).map(i =>
      (i.toLong, Seq(0.0, 0.0).map(x => (x + 0.05 * r.nextGaussian()).toFloat)))
    val far = (0 until 3).map(i => (500L + i, Seq(40.0f + i, 40.0f)))
    val df = (dense ++ far).toDF("vec_id", "embedding")
    for (k <- Seq(2, 4, 6, 8)) {
      val seeds = Similarity.kmeansParallelSeeds(df, k = k, iters = 4)
      assert(seeds.size == seeds.distinct.size,
        s"k=$k returned duplicate centroids")
    }
  }

  test("pqEncode picks the nearest sub-centroid per subspace (first " +
    "argmin on ties)") {
    // dim=4, m=2 -> dsub=2; codebook per subspace: [0,0] and [1,1]
    val cb = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    val df = Seq(
      (0L, Seq(0.9f, 0.9f, 0.1f, 0.1f)), // near [1,1] then [0,0] -> (2,1)
      (1L, Seq(0.0f, 0.0f, 1.0f, 1.0f)), // exact    -> (1,2)
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f))  // tie both -> first argmin (1,1)
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(df, cb)
      .orderBy("vec_id").select("codes").as[Seq[Long]].collect().toSeq
    assert(got == Seq(Seq(2L, 1L), Seq(1L, 2L), Seq(1L, 1L)))
  }

  test("ivfPqKnn with a lossless codebook reproduces the exact L2 " +
    "ranking (ADC == true distance when codes decode exactly)") {
    val corpus = Seq(
      (10L, Seq(0.0f, 0.0f)),
      (11L, Seq(1.0f, 1.0f)),
      (12L, Seq(4.0f, 5.0f))).toDF("vec_id", "embedding")
    val queries = Seq((99L, Seq(0.2f, 0.1f))).toDF("vec_id", "embedding")
    // m=2, dsub=1; every coordinate in the corpus AND the query is a
    // sub-centroid, so quantization is exact for the corpus side
    val cb = Seq(Seq(Seq(0.0), Seq(1.0), Seq(4.0)),
      Seq(Seq(0.0), Seq(1.0), Seq(5.0)))
    val got = Similarity.ivfPqKnn(queries, corpus, k = 3,
        centroids = Seq(Seq(0.0, 0.0)), codebooks = cb)
      .orderBy("rank")
      .select("neighbor_id", "adist").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L))
    // ADC = exact squared L2 of the float32-rounded inputs
    val q = Seq(0.2f.toDouble, 0.1f.toDouble)
    def d2(v: Seq[Double]) =
      math.pow(q.head - v.head, 2) + math.pow(q(1) - v(1), 2)
    val want = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(4.0, 5.0))
      .map(v => math.rint(d2(v) * 1e6) / 1e6)
    got.map(_._2).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"adist $g != exact $w")
    }
  }

  test("pqTrain is deterministic and ivfPqKnn+rerank recovers exact-L2 " +
    "neighbors on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    val cb2 = Similarity.pqTrain(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    assert(cb == cb2, "pqTrain not reproducible")
    assert(cb.size == 8 && cb.forall(_.forall(_.size == 8)))
    val queries = emb.filter(col("vec_id") < 20)
    // exact L2 truth, computed driver-side (test-scale corpus)
    val all = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = all.filter(_._1 < 20).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (cid, cv) => (l2(qv, cv), cid) }
        .sorted.take(5).map(_._2).toSet
    }.toMap
    val oneCell = Seq(Seq.fill(64)(0.0)) // isolate PQ error from cell loss
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }
        .sum.toDouble / truth.values.map(_.size).sum
    }
    val adc = recall(Similarity.ivfPqKnn(queries, emb, k = 5,
      oneCell, cb))
    // Default shortlist (200). Measured curve on exactly this data/config
    // (tools/PqSweep, iters=2 ksub=16): rerank@5 = 0.65 / 0.85 / 0.97 at
    // shortlist 50 / 100 / 200; ADC@5 ~0.24 regardless of training depth.
    // Shortlist depth, not codebook quality, is what buys recall here.
    val reranked = recall(Similarity.ivfPqKnnRerank(queries, emb, k = 5,
      oneCell, cb))
    assert(reranked >= adc, "exact re-rank must not lose recall")
    assert(reranked > 0.8, s"rerank recall $reranked implausibly low")
    assert(adc > 0.2, s"raw ADC recall $adc implausibly low")
  }

  test("prototypicalityPrune drops exactly ceil(dropFrac·n_cell) closest " +
    "vectors per cell, partition-independently") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.queries.VectorQueries.centroidsForProfiling
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.prototypicalityPrune(df, cents, dropFrac = 0.3)
        .select("vec_id", "cell", "proto_rank", "n_cell", "kept")
        .as[(Long, Long, Int, Long, Boolean)].collect().toSeq
    val got = run(emb)
    // totality: one row per vector
    assert(got.size == emb.count())
    // per cell: dropped = ranks 1..ceil(0.3 n), kept = the rest
    got.groupBy(_._2).foreach { case (cell, rows) =>
      val n = rows.head._4
      assert(rows.forall(_._4 == n))
      val cut = math.ceil(0.3 * n).toLong
      rows.foreach { r =>
        assert(r._5 == (r._3 > cut), s"cell $cell row $r cut=$cut")
      }
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq)
    }
    assert(run(emb.repartition(7)).toSet == got.toSet)
  }

  test("semanticContamination flags exactly the same-cell pairs over " +
    "threshold, with min-id attribution") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 600)
    val cents = graft.queries.VectorQueries.centroidsForProfiling
    val bench = emb.filter(col("vec_id") % 20 === 0)
    val train = emb.filter(col("vec_id") % 20 =!= 0)
    val thr = 0.3
    val got = Similarity.semanticContamination(train, bench, cents, thr)
      .select("vec_id", "contaminated_by", "n_hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // brute-force truth, driver-side: same-cell cosine >= thr
    val all = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cell(v: Seq[Double]) = {
      val d = cents.map(c =>
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      d.indexOf(d.min)
    }
    val cells = all.map { case (id, v) => id -> cell(v) }.toMap
    val want = all.filter(_._1 % 20 != 0).flatMap { case (id, v) =>
      val hits = all.filter { case (bid, bv) =>
        bid % 20 == 0 && cells(bid) == cells(id) &&
          math.rint(dot(v, bv) / (math.sqrt(dot(v, v)) *
            math.sqrt(dot(bv, bv))) * 1e6) / 1e6 >= thr
      }
      if (hits.isEmpty) None
      else Some(id -> ((id, hits.map(_._1).min, hits.size.toLong)))
    }.toMap
    assert(got.keySet == want.keySet,
      s"flag set diverges: ${got.keySet.diff(want.keySet).take(5)} / " +
        s"${want.keySet.diff(got.keySet).take(5)}")
    want.foreach { case (id, w) =>
      assert(got(id)._2 == w._2 && got(id)._3 == w._3, s"doc $id")
    }
    assert(got.nonEmpty, "threshold too high to exercise the operator")
  }

  test("semanticContaminationAgainst a parquet-round-tripped frozen " +
    "snapshot == the direct two-sided form") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 600)
    val cents = graft.queries.VectorQueries.centroidsForProfiling
    val bench = emb.filter(col("vec_id") % 20 === 0)
    val train = emb.filter(col("vec_id") % 20 =!= 0)
    val direct = Similarity.semanticContamination(train, bench, cents, 0.3)
      .collect().map(_.toSeq).toSet
    // the deployment path: snapshot written once, re-read, probed
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    Similarity.benchmarkSnapshot(bench, cents)
      .write.mode("overwrite").parquet(s"$dir/bench")
    val snap = spark.read.parquet(s"$dir/bench")
    val got = Similarity.semanticContaminationAgainst(train, snap, cents,
        0.3).collect().map(_.toSeq).toSet
    assert(got == direct,
      s"frozen-snapshot probe diverges: ${got.size} vs ${direct.size}")
  }

  test("ivfPqKnn's topK-aggregate ranking == the window rank-filter " +
    "formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.queries.VectorQueries.centroidsForProfiling
    val cbs = graft.queries.VectorQueries.codebooksForProfiling
    val q = emb.filter(col("vec_id") < 50)
    val got = Similarity.ivfPqKnn(q, emb, 10, cents, cbs)
      .as[(Long, Int, Long, Double)].collect().toSet
    // reference: explicit window rank over the same scored candidates
    val scored = Similarity.ivfPqParts(q, emb, cents, cbs)._2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val win = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adist"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == win, s"agg/window diverge: ${got.diff(win).take(5)} / " +
      s"${win.diff(got).take(5)}")
    assert(got.nonEmpty)
  }

  test("pqTrain's trainSampleMax cap is deterministic across partitionings " +
    "and equals training on the hash-prefix sample directly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cap = 256
    val capped = Similarity.pqTrain(emb, dim = 64, m = 4, ksub = 8,
      iters = 2, trainSampleMax = cap)
    // partitioning must not change the model: the sample is a global
    // hash-ordered prefix, not a per-partition artifact
    val repart = Similarity.pqTrain(emb.repartition(7), dim = 64, m = 4,
      ksub = 8, iters = 2, trainSampleMax = cap)
    assert(capped == repart, "capped pqTrain depends on partitioning")
    // the cap means exactly "train on the first `cap` ids in xxhash64
    // order": training on that subset uncapped gives the same codebooks
    val prefix = emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(cap)
    val direct = Similarity.pqTrain(prefix, dim = 64, m = 4, ksub = 8,
      iters = 2, trainSampleMax = 0)
    assert(capped == direct, "cap != hash-prefix subset training")
    // a cap >= N is a no-op: identical to full-corpus training
    val n = emb.count().toInt
    val wide = Similarity.pqTrain(emb, dim = 64, m = 4, ksub = 8,
      iters = 2, trainSampleMax = n + 1)
    val full = Similarity.pqTrain(emb, dim = 64, m = 4, ksub = 8,
      iters = 2, trainSampleMax = 0)
    assert(wide == full, "cap >= N must equal uncapped training")
  }

  test("clusterQuotaBalance caps each cell deterministically, " +
    "accounting for every row") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val many = spark.range(0, 60).select(col("id").as("vec_id"),
      array(when(col("id") % 3 === 0, lit(1.0f)).otherwise(lit(0.0f)),
        when(col("id") % 3 === 0, lit(0.0f)).otherwise(lit(1.0f)),
        lit(0.0f)).as("embedding"))
    val out = Similarity.clusterQuotaBalance(many, centroids, quota = 5)
    val rows = out.collect()
    assert(rows.length == 60, "every input row must be emitted")
    // per cell: exactly min(quota, cell_n) kept, ranks a permutation
    val byCell = rows.groupBy(_.getAs[Long]("cell"))
    assert(byCell.keySet == Set(1L, 2L))
    for ((_, rs) <- byCell) {
      val n = rs.length
      assert(rs.forall(_.getAs[Long]("cell_n") == n))
      assert(rs.count(_.getAs[Boolean]("kept")) == math.min(5, n))
      assert(rs.map(_.getAs[Int]("cell_rank")).sorted.toSeq ==
        (1 to n).toSeq)
    }
    // the draw is partition-order invariant: same kept set at any layout
    def keptSet(parts: Int) = Similarity.clusterQuotaBalance(
        many.repartition(parts), centroids, quota = 5)
      .filter(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(keptSet(1) == keptSet(13))
  }
}

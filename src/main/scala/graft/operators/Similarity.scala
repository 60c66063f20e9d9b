package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; O(|Q| x |C|) — the
  * correctness oracle). Scale paths:
  *   - [[lshKnn]]: random-hyperplane LSH buckets both sides, joins on
  *     bucket id, ranks within candidates — turns the cross join into an
  *     equi-join whose shuffle carries bucket ids;
  *   - [[ivfKnn]]: IVF-style coarse quantization — assign every vector to
  *     its nearest of `nCentroids` seed centroids, probe only matching
  *     cells.
  * Both are recall<1 by construction; the exact top-k remains the baseline
  * for tests.
  */
object Similarity {

  /** Byte ceiling for broadcasting a batch/increment side into a dedup
    * join (the [[semDedupAgainst]] r17 map-side-store form): the smaller
    * of 256 MB and an eighth of the driver heap — a MEASURED-size gate
    * (optimizer stats), mirroring Curation's broadcast-vocabulary
    * ceiling, so a backfill-sized batch falls back to the shuffle join
    * instead of OOMing the driver.
    */
  private val BroadcastBatchMaxBytes: Long =
    math.min(256L << 20, Runtime.getRuntime.maxMemory() / 8)

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ranked by similarity desc with id as the
    * deterministic tie-break. Broadcast the query side when it is small —
    * at cluster scale that makes this a map-only pass over the corpus.
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    broadcastQueries: Boolean = true): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("_qn"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    // widen: a small corpus file scans as one split, serializing the
    // |Q|x|C| dot products on one core; see Partitioning.widen
    val c = Partitioning.widen(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("_cn"))
    rankTopKBySim(
      q.join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", simHoisted), k)
  }

  /** Bounded top-k ranking of a scored candidate stream, as an AGGREGATE
    * rather than a rank window (the [[graft.plans.AggExpressions]]
    * rationale): every KNN tail shares this. The window form sorts each
    * map task's full candidate slice before WindowGroupLimit can cap it
    * — at the ×1000 probes the per-task sort of tens of millions of
    * candidates was the dominant stage; the aggregate keeps a k-element
    * heap per query per task (O(candidates·log k), no sort) and shuffles
    * only tasks × queries × k rows. Output is IDENTICAL: (sim desc,
    * neighbor_id asc) is a total order, so the k best do not depend on
    * how they are found (TopKAggSpec + SimilaritySpec pin agg == window).
    */
  /** Cosine from side-hoisted norms: `dot(qv,cv) / (_qn * _cn)` with
    * `_qn`/`_cn` = `norm(v)` computed ONCE per query/corpus row on the
    * join sides — the same expression tree as `cosine(qv, cv)` (which is
    * dot / (sqrt(selfdot) * sqrt(selfdot))), so values are bit-identical,
    * but the per-CANDIDATE work drops from three vector folds to one.
    */
  private def simHoisted: Column =
    round(dot(col("qv"), col("cv")) / (col("_qn") * col("_cn")), 6)

  private def rankTopKBySim(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.AggExpressions
        .topKByScore(col("sim"), col("neighbor_id"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("sim"))

  /** Embedding-cosine near-duplicate pairs (the vector-space member of the
    * dedup family): all (a < b) pairs with cosine >= threshold. Exact
    * all-pairs baseline; the scale path buckets both sides with
    * [[graft.functions.VectorFunctions.rhpBucket]] first (same shape as
    * [[lshKnn]]) so candidates come from an equi-join.
    */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val wdf = Partitioning.widen(df)
    // norms hoisted to the sides — one vector fold per pair instead of
    // three; bit-identical (see semDedupAgainst)
    val a = wdf.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("_na"))
    val b = wdf.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("_nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(
        dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Random-hyperplane LSH ANN: vectors sharing a `planes.length`-bit
    * bucket in ANY of the hash tables are candidates; rank within the
    * deduplicated candidate set. Multiple independent tables
    * (`tables.size` > 1) are the standard recall lever — a true neighbor
    * only needs to collide once. Deterministic given the plane sets.
    */
  def lshKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             planes: Seq[Seq[Double]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    lshKnnMultiTable(queries, corpus, k, Seq(planes), idCol, vecCol)

  /** Multi-table variant of [[lshKnn]]: one (table, bucket) pair per hash
    * table, candidates via an equi-join on both, deduplicated before the
    * cosine ranking so each candidate is scored once.
    */
  def lshKnnMultiTable(queries: DataFrame, corpus: DataFrame, k: Int,
                       tables: Seq[Seq[Seq[Double]]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // one-kernel bucket assignment (plan size O(1) in tables×bits — the
    // r16 q149 lesson: per-plane Column trees cost seconds of ANALYSIS
    // at real table counts); posexplode's pos IS the table index
    def bucketed(df: DataFrame, id: String, vec: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
        norm(col(vecCol)).as(n),
        posexplode(graft.plans.RhpExpressions.rhpBuckets(
          col(vecCol).cast("array<double>"), tables)))
        .select(col(id), col(vec), col(n), col("pos").as("t"),
          col("col").as("b"))
    val q = bucketed(queries, "query_id", "qv", "_qn")
    val c = bucketed(Partitioning.widen(corpus), "neighbor_id", "cv", "_cn")
    rankTopKBySim(
      q.join(c, Seq("t", "b"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "qv", "_qn", "neighbor_id", "cv", "_cn")
        .dropDuplicates("query_id", "neighbor_id")
        .withColumn("sim", simHoisted), k)
  }

  /** Scale path for [[cosineNearDupPairs]]: multi-table random-hyperplane
    * bucketing on both sides, candidates from an equi-join on
    * (table, bucket), exact cosine check on the candidate set. Same
    * contract as MinHash-LSH text dedup: may only MISS pairs (recall
    * rises with table count), never emits a false positive — every
    * output pair truly clears `threshold`.
    */
  def cosineNearDupPairsBucketed(df: DataFrame, threshold: Double,
                                 tables: Seq[Seq[Seq[Double]]],
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame = {
    val wdf = Partitioning.widen(df)
    // one-kernel bucket assignment — O(1) plan size in tables×bits (the
    // r16 q149 lesson; see lshKnnMultiTable)
    // norms hoisted to the sides (bit-identical; see semDedupAgainst):
    // +8 bytes per row through the (t, b) exchange buys the in-flight
    // verify dropping from three vector folds per candidate to one
    def bucketed(id: String, vec: String, n: String) =
      wdf.select(col(idCol).as(id), col(vecCol).as(vec),
        norm(col(vecCol)).as(n),
        posexplode(graft.plans.RhpExpressions.rhpBuckets(
          col(vecCol).cast("array<double>"), tables)))
        .select(col(id), col(vec), col(n),
          col("pos").as("t"), col("col").as("b"))
    // cosine verify IN-FLIGHT, before any pair-level exchange: candidate
    // pairs materialize inside the (t, b) join partitions, and a failed
    // candidate dies right there — only TRUE pairs reach the dedup
    // shuffle. A pair colliding in k tables re-computes its cosine k
    // times, but k is small and the alternative (dedup first) shuffles
    // every failed candidate with both vectors attached — the ×100 soak
    // measured that as a multi-GB exchange.
    bucketed("id_a", "va", "_na")
      .join(bucketed("id_b", "vb", "_nb"), Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(
        dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Signature-prefiltered near-dup pairs — the heavy-corpus arm of
    * [[cosineNearDupPairsAuto]]. Same candidate generation as
    * [[cosineNearDupPairsBucketed]] (multi-table RHP buckets, equi-join
    * on (table, bucket)), but the candidate exchange carries a PACKED
    * `sigPlanes.size`-bit RHP signature instead of the vector, and the
    * in-flight check is a Hamming-distance prefilter on that signature
    * instead of the full cosine:
    *
    *  - exchange bytes per row drop from the vector (d·4 B) to
    *    8·ceil(bits/64) B — ~6× lighter at d=64/256 bits, which is what
    *    made the ×1000 soak's staged 18 GB scratch a single-shot ~8 GB;
    *  - per-candidate work drops from a d-dim float dot to xor+popcount
    *    over ceil(bits/64) longs;
    *  - survivors (prefilter pass rate ~1e-5 for non-pairs at 256 bits)
    *    are deduplicated ACROSS tables and exact-cosine-verified once
    *    per pair, via two broadcast-the-survivors map passes over the
    *    vector table — so false positives remain impossible.
    *
    * The prefilter can only MISS a true pair when its Hamming distance
    * exceeds the cut; the cut sits 4σ above the Binomial(bits, θ/π)
    * mean of a pair AT the threshold (miss probability ~3e-5, falling
    * further for pairs above it) — documented slack inside the bucket
    * geometry's own recall budget, same may-only-miss contract.
    *
    * `stageTables` bounds peak scratch: the plane tables run in batches
    * of `stageTables`, each batch's survivor ids materialized on disk and
    * its shuffle files GC-nudged off scratch before the next batch, so the
    * in-flight exchange is `stageTables / tables` of the single-shot one
    * (which filled the ×1000 soak's scratch, SCALE.md s33). Total bytes are
    * unchanged and the output equals the single-shot form's; pass
    * `tables.size` to run single-shot.
    */
  def cosineNearDupPairsSig(df: DataFrame, threshold: Double,
                            tables: Seq[Seq[Seq[Double]]],
                            sigPlanes: Seq[Seq[Double]],
                            stageTables: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    require(stageTables >= 1, s"stageTables must be >= 1, got $stageTables")
    val sigBits = sigPlanes.size
    val mq = math.acos(threshold) / math.Pi
    // a TIGHT 2σ cut, not a generous one: the cut must separate TRUE
    // pairs (Hamming mean sigBits·θ/π) from the NEAR-threshold pair
    // band below them, whose mass in a self-similar corpus is orders
    // of magnitude larger than the true-pair set — a 4σ cut at
    // θ=0.7/256 bits admitted the cosine-0.35+ band at the ×1000 soak
    // (tens of millions of survivors per stage, OOM). At 2σ the
    // admitted band tightens to ~cos((cut/bits)·π) and the per-pair
    // miss probability AT the threshold is Φ(−2) = [[SigKeep]]'s
    // complement (~2.3%, falling fast above the threshold) — which
    // [[cosineNearDupPairsAuto]] COMPENSATES by sizing the table count
    // for targetRecall / SigKeep, so the net contract still holds.
    val cut = math.min(sigBits.toDouble,
      sigBits * mq + 2.0 * math.sqrt(sigBits * mq * (1.0 - mq)))
    val vecs = Partitioning.widen(df)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    def coded(planeBatch: Seq[Seq[Seq[Double]]], tOff: Int,
              id: String, sig: String) = vecs
      .select(col("id").as(id),
        graft.plans.RhpExpressions.rhpPack(col("v"), sigPlanes).as(sig),
        posexplode(graft.plans.RhpExpressions.rhpBuckets(
          col("v"), planeBatch)))
      .select(col(id), col(sig), (col("pos") + lit(tOff)).as("t"),
        col("col").as("b"))
    def cands(planeBatch: Seq[Seq[Seq[Double]]], tOff: Int) =
      coded(planeBatch, tOff, "id_a", "sa")
        .join(coded(planeBatch, tOff, "id_b", "sb"), Seq("t", "b"))
        .filter(col("id_a") < col("id_b"))
        // Hamming prefilter IN-FLIGHT: failed candidates die inside the
        // join partitions, like the bucketed form's in-flight cosine
        .filter(aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x) <= lit(cut))
        .select(col("id_a"), col("id_b"))
    val batches = tables.grouped(stageTables).toSeq
    val survivors =
      if (batches.size <= 1) cands(tables, 0).dropDuplicates("id_a", "id_b")
      else {
        var off = 0
        val parts = batches.map { planeBatch =>
          // DISK_ONLY + count, NOT localCheckpoint: near-threshold-heavy
          // corpora produce tens of millions of survivors per batch,
          // and localCheckpoint materializes them DESERIALIZED in the
          // MemoryStore (observed OOM at the ×1000 soak under the 8 GB
          // default heap). Serialized disk blocks stream through a
          // bounded buffer; the batch still materializes eagerly
          // (sequential stages, bounded concurrent exchange) and the
          // blocks pin the batch's shuffle from re-execution.
          val p = CacheScope.persist(
            cands(planeBatch, off).dropDuplicates("id_a", "id_b"),
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
          p.count()
          off += planeBatch.size
          // nudge the ContextCleaner: shuffle files are deleted only
          // when the driver GCs the dereferenced RDDs, and Spark's own
          // periodic GC is 30 min apart
          System.gc()
          p
        }
        parts.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
      }
    // exact verify, once per surviving pair. Plain equi-joins, no
    // forced broadcast: AQE turns them into broadcast joins when the
    // runtime survivor set is small (the common case), and falls back
    // to a shuffle join when a near-threshold-heavy corpus makes it
    // large — a forced broadcast of the ×1000 soak's survivor band
    // blew the driver heap.
    val withA = survivors
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        norm(col("v")).as("_na")), "id_a")
    withA
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        norm(col("v")).as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[cosineNearDupPairsBucketed]] with the table geometry chosen FROM
    * the corpus size — the piece that makes RHP bucketing a real scale
    * path. Fixed bucket bits mean bucket population ∝ N and candidate
    * pairs ∝ N²/2^bits (the ×100 soak measured exactly that curve), so:
    *
    *  - `bits` grows with log₂(N / targetBucket): expected bucket
    *    population stays ~targetBucket at every corpus size, candidates
    *    stay ~O(N · targetBucket · tables);
    *  - `tables` grows to hold recall: a pair at exactly `threshold`
    *    collides in one table with p^bits (p = 1 − θ/π, the
    *    random-hyperplane collision probability), so
    *    tables = ln(1−recall) / ln(1−p^bits) keeps
    *    P(any collision) ≥ recall for every pair AT the threshold —
    *    pairs above it are strictly more likely to collide.
    *
    * Plane sets are seeded deterministically — same corpus, same output.
    * Like the fixed-geometry form it may only MISS pairs, never emits a
    * false positive.
    *
    * Two contract guards (both from the ×100 soak, SCALE.md s33):
    *   - above `routeThreshold` vectors the call REFUSES (require):
    *     RHP pair emission measured ~N^1.37, and at corpus scale the
    *     linear path is [[semDedup]] — see the in-body comment;
    *   - when the table count the recall formula asks for exceeds
    *     `maxTables`, the clamp is logged with the ACHIEVED recall
    *     estimate 1−(1−p^bits)^maxTables instead of silently
    *     under-delivering the `targetRecall` contract.
    */
  def cosineNearDupPairsAuto(df: DataFrame, threshold: Double,
                             targetRecall: Double = 0.8,
                             targetBucket: Int = 256,
                             maxTables: Int = 48,
                             seed: Long = 7L,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             routeThreshold: Long = 1L << 23,
                             knownCount: Option[Long] = None,
                             stageTables: Int = 12): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val nRaw = knownCount.getOrElse(df.count())
    if (nRaw == 0L)
      // empty corpus: the dim probe below would head() a no-row frame;
      // an empty pair list is the only correct answer, return it typed
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id_a",
            df.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("id_b",
            df.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("sim",
            org.apache.spark.sql.types.DoubleType))))
    // ROUTE GUARD (same shape as PandasRank's count-once strategy pick,
    // here as a hard stop): RHP pair emission is the one measured
    // superlinear method in SCALE.md (N^1.37 at threshold 0.7) — at
    // corpus scale the linear recipe is SemDeDup (cell-confined
    // candidates), not an all-pairs list, whose SIZE is itself
    // superlinear in a self-similar corpus. Refusing loudly beats
    // filling the cluster's scratch disks; callers that truly want
    // pairs at scale pick the geometry (and own the cost) via
    // cosineNearDupPairsBucketed.
    require(nRaw <= routeThreshold,
      s"cosineNearDupPairsAuto: corpus has $nRaw vectors > " +
        s"routeThreshold=$routeThreshold. RHP pair emission grows ~N^1.4 " +
        "(SCALE.md s33); at this scale use Similarity.semDedup " +
        "(cell-confined, linear) for dedup semantics, or call " +
        "cosineNearDupPairsBucketed with explicit plane tables to " +
        "accept the pair-join cost.")
    val n = nRaw.max(1L)
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val p = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(b: Int): Long = {
      val pAll = math.pow(p, b)
      math.max(1L, math.ceil(
        math.log1p(-targetRecall) / math.log1p(-pAll)).toLong)
    }
    // geometry: bits keep expected bucket ~targetBucket at every n;
    // tables come from the recall formula AT those bits. When the
    // wanted table count exceeds `maxTables` (p^bits shrinks
    // exponentially in bits, and bits grew with log n — the r8/r15
    // ×1000 clamp), the recall contract is held by GRANTING the tables
    // on the signature arm instead of clamping: a table there costs
    // ~96 B/row in the exchange instead of the vector, so the old
    // vector-exchange table budget no longer applies. Only past the
    // sig arm's own 4×-higher ceiling does the announced clamp remain
    // (unreachable below the 2²³ route guard at practical thresholds).
    val bits = math.max(4,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt)
    val tablesWanted = tablesFor(bits)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val rnd = new scala.util.Random(seed)
    // route: below both gates, the plain bucketed join (vector in the
    // exchange, exact cosine in-flight) — strictly faster at small n
    // and oracle-pinned pair-identical, q149's test-scale path,
    // unchanged. Otherwise the signature-prefiltered form: the
    // exchange carries a 256-bit packed signature instead of the
    // vector (~6× lighter) and candidates cost xor+popcount instead of
    // a float dot — which is what lets the recall contract KEEP the
    // table count the formula asks for instead of clamping it (the
    // r8/r15 ×1000 announced-recall clamp, now closed).
    val estShuffleBytes = nRaw * tablesWanted * (dim.toLong * 4 + 48)
    if (tablesWanted <= maxTables &&
        estShuffleBytes <= StagedShuffleMinBytes) {
      val planeSets = Seq.fill(tablesWanted.toInt)(
        Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
      cosineNearDupPairsBucketed(df, threshold, planeSets, idCol, vecCol)
    } else {
      // the sig prefilter misses a pair AT the threshold with
      // probability 1 − SigKeep (its 2σ cut); compensate by sizing the
      // bucket geometry for targetRecall / SigKeep so the NET recall
      // still meets the contract
      val targetEff = math.min(0.9999, targetRecall / SigKeep)
      val wantedEff = {
        val pAll = math.pow(p, bits)
        math.max(1L, math.ceil(
          math.log1p(-targetEff) / math.log1p(-pAll)).toLong)
      }
      val tables = math.min(SigMaxTables.toLong, wantedEff).toInt
      if (wantedEff > SigMaxTables) {
        val achieved = SigKeep *
          (1.0 - math.pow(1.0 - math.pow(p, bits), tables.toDouble))
        log.warn(f"cosineNearDupPairsAuto: table budget capped at " +
          f"$SigMaxTables (geometry wants $wantedEff for net recall " +
          f"$targetRecall%.2f at threshold $threshold%.2f, n=$n). " +
          f"Estimated net recall AT the threshold is $achieved%.2f. " +
          f"Lower targetRecall to make the contract explicit.")
      } else {
        // warn-level on purpose: the grant EXCEEDS the caller's
        // maxTables budget (on the cheaper sig exchange), and the
        // recall-contract geometry must be visible in default logs —
        // the announced-not-silent rule the r8 clamp established
        log.warn(f"cosineNearDupPairsAuto: signature arm, $tables " +
          f"tables × $bits bits (recall sized at $targetEff%.4f = " +
          f"$targetRecall%.2f / SigKeep to absorb the prefilter's 2σ " +
          f"miss) — net recall AT the threshold holds by construction.")
      }
      val planeSets = Seq.fill(tables)(
        Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
      val sigPlanes = Seq.fill(SigBits)(Seq.fill(dim)(rnd.nextGaussian()))
      // same 4 GiB gate as the vector form, on the SIG exchange: a
      // single-shot 13.6 GB/side sig join at the ×1000 soak OOM'd the
      // 8 GB default heap (32 concurrent tasks sharing the execution
      // pool) — batching bounds the per-stage exchange AND the
      // per-batch survivor materialization, a heap discipline as much
      // as a scratch-disk one
      val estSigBytes = nRaw * tables.toLong * (8L * (SigBits / 64) + 64)
      val stage = if (estSigBytes <= StagedShuffleMinBytes) tables
                  else stageTables
      cosineNearDupPairsSig(df, threshold, planeSets, sigPlanes, stage,
        idCol, vecCol)
    }
  }

  /** Probability that a true pair AT the threshold survives the sig
    * arm's 2σ Hamming cut: Φ(2) ≈ 0.9772. The bucket geometry divides
    * its recall target by this, so the prefilter's miss is paid for in
    * tables, not silently subtracted from the contract.
    */
  private val SigKeep = 0.9772

  /** Table ceiling for the signature arm — 4× the vector-exchange
    * default budget; at sig-exchange row cost this is still lighter
    * than 48 vector tables, and below the 2²³ route guard the recall
    * formula never asks for more at practical thresholds.
    */
  private val SigMaxTables = 192

  /** Signature width for the prefiltered arm: 256 bits = 4 longs.
    * σ of the Binomial Hamming estimate is ≤ 8 bits, so a 4σ cut
    * separates pairs at a 0.7 threshold (mean ~65) from random pairs
    * (mean 128) by >3σ on both sides.
    */
  private val SigBits = 256

  /** Per-side (t, b)-exchange volume above which [[cosineNearDupPairsAuto]]
    * stages the signature arm (4 GiB — well under any healthy
    * scratch pool, well above anything a test-scale corpus produces).
    */
  private val StagedShuffleMinBytes = 4L << 30

  /** DEFAULT route for embedding near-dup pairs — the measured-route
    * pattern of [[graft.multimodal.ImageHash.jointDedup]] applied to the
    * one operator family SCALE.md flags as superlinear (s33, exact pair
    * emission ~N^1.37): probe the corpus size ONCE, then
    *
    *   - `n <= exactMaxVectors`: the exact all-pairs arm
    *     ([[cosineNearDupPairs]]) — oracle-grade, quadratic, and at small
    *     n genuinely cheaper than building `tables` plane projections per
    *     vector;
    *   - above it: the size-adaptive RHP-bucketed arm
    *     ([[cosineNearDupPairsAuto]]) — candidates from a (table, bucket)
    *     equi-join, exact cosine verify IN-FLIGHT, geometry (bits,
    *     tables) derived from (n, threshold, targetRecall). May only MISS
    *     pairs (by at most the stated recall), never emits a false
    *     positive; the `routeThreshold` hard stop still refuses
    *     corpus-scale pair LISTS and names [[semDedup]] as the linear
    *     recipe.
    *
    * The size probe is one `count()` over the id column — the same
    * count-once strategy pick as PandasRank; the count is passed through
    * so the bucketed arm never re-counts.
    */
  def cosineNearDupPairsRouted(df: DataFrame, threshold: Double,
                               exactMaxVectors: Long = 1L << 13,
                               targetRecall: Double = 0.8,
                               targetBucket: Int = 256,
                               maxTables: Int = 48,
                               seed: Long = 7L,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               routeThreshold: Long = 1L << 23,
                               stageTables: Int = 12): DataFrame = {
    val n = df.count()
    if (n <= exactMaxVectors) cosineNearDupPairs(df, threshold, idCol, vecCol)
    else cosineNearDupPairsAuto(df, threshold, targetRecall, targetBucket,
      maxTables, seed, idCol, vecCol, routeThreshold, knownCount = Some(n),
      stageTables = stageTables)
  }

  /** Semantic (embedding-space) dedup — the SemDeDup recipe (Abbas et
    * al., 2023): coarse-cluster the corpus, then search for near-
    * duplicates ONLY within each cluster, keeping one canonical copy per
    * duplicate relation. Returns every vector with its cell, the id of
    * the canonical copy it duplicates (`dup_of`, null for survivors) and
    * a `kept` flag.
    *
    * Semantics: x is a duplicate iff some SAME-CELL y with a smaller id
    * has cosine(x, y) >= threshold; `dup_of` is the smallest such y —
    * a deterministic, iteration-free canonical choice (the published
    * recipe keeps one arbitrary member per group; min-id makes that
    * reproducible).
    *
    * Scale: the quadratic candidate step is confined to a cell — exactly
    * the published design, where cluster count grows with the corpus so
    * the expected cell size (and the per-cell pair count) stays bounded.
    * The join is an equi-join on cell id: the shuffle carries (cell, id,
    * vector), never cross-cell pairs, and the dup rollup is a partial-
    * aggregatable groupBy-min.
    */
  def semDedup(df: DataFrame, centroids: Seq[Seq[Double]],
               threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    // PERSISTED: the assignment feeds both sides of the cell join AND the
    // final survivor join — without it the corpus scans (and the k×dim
    // distance transform runs) three times. Lifetime: [[graft.CacheScope]].
    val assigned = CacheScope.persist(assignCells(df, centroids, idCol, vecCol))
    semDedupAgainst(assigned.limit(0), assigned, threshold)
  }

  /** Nearest-centroid cell assignment — the shared first stage of
    * [[semDedup]], [[semDedupIncrement]], and the streaming twin's state
    * store: one row (vec_id, v, cell) per input vector. One map pass;
    * the argmin runs over a typedLit centroid array (codegen-safe, the
    * q32 shape).
    */
  private[graft] def assignCells(df: DataFrame,
                                 centroids: Seq[Seq[Double]],
                                 idCol: String,
                                 vecCol: String): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    Partitioning.widen(df)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("v"), centroids))
  }

  /** Cluster-quota corpus balancing — the diversity rebalance step of
    * the SemDeDup/DataComp-style curation recipe: assign every document
    * to its nearest embedding centroid ([[assignCells]], one map pass),
    * then cap each cell at `quota` with the repo's deterministic draw
    * (md5-of-id order — [[Curation.quotaSample]]'s construction, so the
    * kept set is reproducible across runs, partitionings, and engines).
    * Over-represented modes (boilerplate clusters, template farms) are
    * trimmed to the cap while rare clusters survive whole.
    *
    * Emits EVERY row with its verdict — (vec_id, cell, cell_n,
    * cell_rank, kept) — because at corpus scale knowing what mass each
    * cell lost is what makes the quota tunable (the q137 drop-accounting
    * argument). Scale: one codegen'd assignment pass, then a single
    * hash-shuffle on cell for the per-cell sort; cells are bounded by
    * |centroids|, so skew is the centroid layout's responsibility (pick
    * k-means‖ centroids, not a degenerate handful). The keep-only
    * deployment form (`.filter(col("kept"))`, or a direct
    * `cell_rank <= quota` filter) lets Spark plan the two-phase
    * WindowGroupLimit instead, shuffling at most quota rows per cell per
    * input partition.
    */
  def clusterQuotaBalance(vecs: DataFrame, centroids: Seq[Seq[Double]],
                          quota: Int, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val wOrd = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val wAll = Window.partitionBy(col("cell"))
    assignCells(vecs, centroids, idCol, vecCol)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .withColumn("cell_n", count(lit(1)).over(wAll))
      .withColumn("cell_rank", row_number().over(wOrd))
      .withColumn("kept", col("cell_rank") <= quota)
  }

  /** SemDeDup for an INCREMENT: scores `batch` against an accumulated
    * assignment snapshot `prior` (rows of (vec_id, v, cell) as produced
    * by earlier assignments — the state a continuously-maintained dedup
    * store holds) plus the batch itself. Batch row x is a duplicate iff
    * some same-cell y — already in the snapshot, or in the batch with a
    * smaller id — has cosine >= threshold; `dup_of` is the smallest such
    * id. The daily-increment form of [[semDedup]], and the per-batch
    * body of [[graft.streaming.StreamingPipeline.semDedupStream]].
    *
    * PARITY CONTRACT: when ids are non-decreasing across increments
    * (arrival order IS canonicality — the natural ingest-sequence id),
    * the union of increment outputs is EXACTLY the batch [[semDedup]]
    * over the full corpus: every smaller id a later duplicate could
    * point at has, by monotonicity, already arrived. With out-of-order
    * ids the increment still dedups against everything seen so far, but
    * an early row can't be re-marked when a smaller near-identical id
    * arrives later (first-seen wins — the streaming trade).
    *
    * Scale: the snapshot side should be PARTITIONED BY CELL (the
    * streaming shell's store is); then a micro-batch touching c cells
    * reads only those partitions, and the equi-join on cell shuffles
    * the batch, not the corpus.
    */
  def semDedupIncrement(prior: DataFrame, batch: DataFrame,
                        centroids: Seq[Seq[Double]], threshold: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    // PERSISTED: the batch assignment feeds the candidate union, the
    // probe side, and the final survivor join — uncached, the batch
    // scans (and the k×dim distance transform runs) three times.
    // Lifetime: [[graft.CacheScope]]; the streaming shell owns its own
    // persist/unpersist per micro-batch.
    val assigned =
      CacheScope.persist(assignCells(batch, centroids, idCol, vecCol))
    semDedupAgainst(prior, assigned, threshold)
  }

  /** Shared dedup tail: `assigned` (the batch, already cell-assigned)
    * against `prior` ∪ `assigned` with the id_a < id_b guard and min-id
    * canonical rollup. `prior` columns may arrive in any order/width
    * (parquet partition discovery reads `cell` back as int, last).
    */
  private[graft] def semDedupAgainst(prior: DataFrame, assigned: DataFrame,
                                     threshold: Double): DataFrame = {
    // norms HOISTED to the join sides (the simHoisted rationale): cosine
    // recomputes both self-dots per candidate PAIR; sqrt(dot(v,v)) once
    // per row and dot/( _na*_nb ) per pair is the same expression tree
    // per value — bit-identical — at one vector fold per candidate
    // instead of three
    def sideA(df: DataFrame) = df.select(col("cell").cast("long"),
      col("vec_id").as("id_a"), col("v").as("va"),
      norm(col("v")).as("_na"))
    val cand = sideA(prior).union(sideA(assigned))
    val b = assigned.select(col("cell").cast("long"),
      col("vec_id").as("id_b"), col("v").as("vb"),
      norm(col("v")).as("_nb"))
    // r17: the batch/increment side is the BOUNDED one — when its
    // measured size clears the broadcast ceiling, broadcast it into both
    // the cell join and the survivor join so the accumulated store side
    // (prior, inside cand) never shuffles — the map-side-store principle
    // the digest/band stores already follow. Gated on optimizer stats: a
    // materialized cached batch reports real bytes; an unmaterialized
    // corpus-scale frame estimates huge and falls back to the shuffle
    // join (same results either way — only the join strategy moves).
    val bcastBatch = assigned.queryExecution.optimizedPlan.stats
      .sizeInBytes <= BroadcastBatchMaxBytes
    val paired =
      if (bcastBatch) cand.join(broadcast(b), Seq("cell"))
      else b.join(cand, Seq("cell"))
    val dups = paired
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(
        dot(col("va"), col("vb")) / (col("_na") * col("_nb")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"))
      .select(col("id_b").as("vec_id"), col("dup_of"))
    val dupsSide = if (bcastBatch) broadcast(dups) else dups
    assigned.join(dupsSide, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** IVF cell-balance diagnostic: per-cell population and distance
    * spread for a centroid model. The operational complement to
    * [[kmeansParallelSeeds]] — imbalanced cells mean unbounded probe
    * fan-out at query time, and this is the query that shows it.
    *
    * Determinism: n_vecs is exact; min/max of doubles pick an existing
    * value (no accumulation); the MEAN of squared distances sums
    * fixed-point longs (×2^20 — the q91 quantization), so the result is
    * bit-identical under any partitioning. One map pass + one hash
    * aggregation; only k rows come back.
    */
  def ivfCellStats(df: DataFrame, centroids: Seq[Seq[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    Partitioning.widen(df)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("_d2",
        graft.plans.CentroidExpressions.minCentroidDist(col("v"), centroids))
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("v"), centroids))
      .groupBy(col("cell"))
      // decimal(38,0) accumulator: the per-row quantized d2 can reach
      // ~1e18 (d2 ~1e12 × 2^20), so a long sum would wrap silently after
      // ~10 rows at that magnitude; 38 digits cover ~1e19 rows of it
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("_d2") * lit(1048576.0)).cast("decimal(38,0)"))
          .as("_qs"),
        round(min(col("_d2")), 6).as("min_d2"),
        round(max(col("_d2")), 6).as("max_d2"))
      .withColumn("mean_d2", round(
        col("_qs").cast("double") / col("n_vecs") / lit(1048576.0), 6))
      .select(col("cell"), col("n_vecs"), col("mean_d2"),
        col("min_d2"), col("max_d2"))
  }

  /** Prototypicality pruning (SSL-prototypes / D4 — Sorscher et al.
    * 2022, Abbas et al. 2024): per cluster, rank vectors by closeness
    * to their centroid and DROP the most prototypical `dropFrac` — the
    * cluster-center mass is the most redundant training signal, and
    * pruning it beats random pruning at equal token budget. Emits one
    * row per vector: (vec_id, cell, d2, proto_rank, n_cell, kept) —
    * rank 1 = most prototypical; kept = rank > ceil(dropFrac · n_cell).
    * Ranks use the 6-dp-rounded distance (id tie-break), so the keep
    * set is engine- and partitioning-independent.
    *
    * Scale: one shuffle on cell for the two same-partitioning windows.
    * Deployment sizes k with the corpus (D4 uses ~11k clusters; k ∝ √N
    * is common), so per-cell window slices stay corpus/k-bounded — with
    * a handful of demo cells this would be a q90-style corpus-wide sort
    * hazard, with real k it is not. The per-cell rank could also run as
    * the range-partitioned prefix-sum rank (PandasRank) if a single
    * cluster outgrows a task.
    */
  def prototypicalityPrune(df: DataFrame, centroids: Seq[Seq[Double]],
                           dropFrac: Double,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(dropFrac >= 0.0 && dropFrac < 1.0, "dropFrac in [0, 1)")
    val assigned = Partitioning.widen(df)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id"),
        graft.plans.CentroidExpressions.nearestCentroid(col("v"), centroids)
          .as("cell"),
        round(graft.plans.CentroidExpressions
          .minCentroidDist(col("v"), centroids), 6).as("d2"))
    val byCell = Window.partitionBy(col("cell"))
    val rankW = byCell.orderBy(col("d2").asc, col("vec_id").asc)
    assigned
      .withColumn("proto_rank", row_number().over(rankW))
      .withColumn("n_cell", count(lit(1)).over(byCell))
      .withColumn("kept",
        col("proto_rank") > ceil(lit(dropFrac) * col("n_cell")))
  }

  /** Semantic benchmark decontamination — the embedding-space complement
    * of n-gram decontamination ([[graft.operators.Curation]]'s
    * contamination report): flag every train vector whose cosine to ANY
    * benchmark vector in its IVF cell reaches `threshold` (paraphrased
    * or re-tokenized test leakage that shares no 4-gram). Emits one row
    * per CONTAMINATED train vector: (vec_id, cell, contaminated_by =
    * lowest matching benchmark id, n_hits, max_sim).
    *
    * Cell confinement is the [[semDedup]] recall trade stated in its
    * contract: candidates are same-cell only, so recall < 1 by
    * construction and rises with coarser cells / multi-probe. Scale: the
    * benchmark side is benchmark-sized (broadcast — benchmarks are
    * thousands of rows, not corpora); the train side never shuffles, and
    * candidate work is |train| × |bench| / k — LINEAR in the corpus as
    * long as the benchmark is fixed-size. A benchmark that grows with
    * the corpus makes the scan quadratic by the caller's own choice
    * (the q128 gate's ×100 soak measured exactly that, bench = N/20 →
    * p = 1.56; the fixed-bench s128 soak row is linear), so a
    * corpus-sized bench logs a loud warning.
    */
  def semanticContamination(train: DataFrame, bench: DataFrame,
                            centroids: Seq[Seq[Double]],
                            threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val nBench = bench.count()
    if (nBench > (1L << 20))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semanticContamination: benchmark side has $nBench rows — " +
          "candidate work is |train| x |bench| / cells, so a " +
          "corpus-sized benchmark makes this scan quadratic. " +
          "Benchmarks are fixed-size by nature; check the inputs.")
    def assign(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
        .withColumn("cell",
          graft.plans.CentroidExpressions.nearestCentroid(col(v), centroids))
    val t = assign(Partitioning.widen(train), "vec_id", "tv")
    val b = assign(bench, "bench_id", "bv")
    probeContamination(t, b, threshold)
  }

  /** Builds a FROZEN benchmark snapshot for semantic decontamination:
    * one (bench_id, cell, bv) row per benchmark vector, cells assigned
    * once against `centroids`. This is the [[graft.operators.Curation]]
    * frozen-LM pattern (`unigramLm` → `unigramCrossEntropyAgainst`)
    * applied to decontamination — the deployment shape: benchmarks are
    * trained/blessed ONCE and written out (parquet), then months of
    * incoming crawl batches are scored against the same snapshot with
    * [[semanticContaminationAgainst]]. A fixed snapshot is also what
    * keeps the scan LINEAR in the corpus: the q128 full-op soak is
    * super-linear only because its benchmark side grows with the corpus
    * by construction (SCALE.md s128).
    */
  def benchmarkSnapshot(bench: DataFrame, centroids: Seq[Seq[Double]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    bench.select(col(idCol).as("bench_id"),
        col(vecCol).cast("array<double>").as("bv"))
      .withColumn("cell", graft.plans.CentroidExpressions
        .nearestCentroid(col("bv"), centroids))
      .select(col("bench_id"), col("cell"), col("bv"))
  }

  /** [[semanticContamination]] against a FROZEN [[benchmarkSnapshot]]:
    * train cells are assigned with the SAME `centroids` the snapshot was
    * built with (a mismatched model silently probes wrong cells — the
    * caller owns that pairing, same contract as
    * `unigramCrossEntropyAgainst`'s LM). The snapshot side is broadcast
    * (benchmark-sized); the train side never shuffles before the
    * per-vector rollup — a map-side probe, linear in the corpus no
    * matter how the corpus grows.
    */
  def semanticContaminationAgainst(train: DataFrame, snapshot: DataFrame,
                                   centroids: Seq[Seq[Double]],
                                   threshold: Double,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding")
      : DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val t = Partitioning.widen(train)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("tv"))
      .withColumn("cell", graft.plans.CentroidExpressions
        .nearestCentroid(col("tv"), centroids))
    probeContamination(t, snapshot, threshold)
  }

  /** Shared probe tail of the two decontamination forms: broadcast the
    * benchmark side, equi-join on cell, cosine verify in-flight, roll up
    * per train vector.
    */
  private def probeContamination(t: DataFrame, b: DataFrame,
                                 threshold: Double): DataFrame =
    // norms hoisted to the sides (one vector fold per candidate instead
    // of three; bit-identical — see semDedupAgainst). The broadcast
    // grows by 8 bytes per benchmark row.
    t.withColumn("_tn", norm(col("tv")))
      .join(broadcast(b.withColumn("_bn", norm(col("bv")))), Seq("cell"))
      .withColumn("sim", round(
        dot(col("tv"), col("bv")) / (col("_tn") * col("_bn")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(col("bench_id")).as("contaminated_by"),
        count(lit(1)).as("n_hits"),
        max(col("sim")).as("max_sim"))

  /** Deterministic distributed k-means for IVF centroid training.
    *
    * Two sources of nondeterminism plague distributed k-means, and both
    * are closed here: (a) INIT — [[kmeansParallelSeeds]] (deterministic
    * md5-keyed k-means||) by default, or caller-supplied `seeds`; (b) the
    * centroid
    * UPDATE — means run through [[Vectors.centroids]]' fixed-point
    * quantization, so every iteration's centroids are bit-identical under
    * any partitioning. Result: the trained model is a pure function of
    * (data, k, iters) — refitting on a different cluster layout yields
    * the same cells, which is what makes an IVF index reproducible.
    *
    * Scale: each iteration is one map pass (assign: argmin over a
    * typedLit centroid array — same codegen-safe shape as [[ivfKnn]])
    * plus one hash aggregation; only k×dim doubles return to the driver
    * per iteration (the model parameters — they must reach the driver to
    * become the next broadcast literal). Empty cells keep their previous
    * centroid. Runs a FIXED iteration count — no convergence probe, so
    * the job count is known upfront.
    */
  /** md5-uniform draw in [0, 1): first 60 bits of md5(id + ":" + round) as
    * a fraction — the q94/q86 construction, so the "random" inclusion test
    * replays identically on any engine and any partitioning.
    */
  private def md5Uniform(id: org.apache.spark.sql.Column, round: Int) =
    conv(substring(md5(concat(id.cast("string"), lit(s":$round"))), 1, 15),
      16, 10).cast("double") / lit(1.152921504606846976e18)

  /** Deterministic k-means|| seeding (the scalable k-means++ init —
    * Bahmani et al., VLDB 2012 — with every random draw replaced by an
    * md5-keyed deterministic one).
    *
    * Why not plain min-md5 seeds: a content-free draw is quality-blind —
    * on skewed data most seeds land in the dominant mode, cells start
    * unbalanced, and IVF probe fan-out at query time pays for it forever.
    * k-means|| oversamples candidates proportional to their CURRENT
    * squared distance from the chosen set (far regions get seeds), which
    * is what bounds cell imbalance at 100 TB.
    *
    * Determinism: the per-point inclusion test compares the Bahmani
    * probability l·d²(x,C)/φ against an md5(id:round) uniform — a pure
    * function of (data, k, l, rounds) under any partitioning. The final
    * reduction of the ~l·rounds candidates to k seeds is the GREEDY
    * weighted k-means++ (argmax of weight·d² instead of sampling by it) —
    * deterministic, and the candidate table is k-scale so it runs on the
    * driver.
    *
    * Scale: each round is one map pass (distances against a broadcast
    * candidate literal) + a one-row cost aggregate + a filtered collect of
    * ~l new candidates (k-scale, never data-scale). The weighting pass is
    * one more map + groupBy-count.
    */
  def kmeansParallelSeeds(df: DataFrame, k: Int, iters: Int = 3,
                          oversample: Int = -1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 1, "k >= 1, iters >= 1")
    val l = if (oversample > 0) oversample else 2 * k
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // first seed: the min-md5(id) point (deterministic "uniform" pick)
    val first = base
      .withColumn("_h", md5(col("id").cast("string")))
      .orderBy(col("_h").asc, col("id").asc)
      .limit(1)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    if (first.isEmpty) return Seq.empty
    var cand: Seq[Seq[Double]] = first
    var r = 0
    var exhausted = false
    while (r < iters && !exhausted) {
      val ctLit = typedLit(cand.map(_.toSeq))
      val d2 = base
        .withColumn("_d2", array_min(transform(ctLit, ct => l2sq(col("v"), ct))))
      val costRow = d2.agg(sum(col("_d2"))).head()
      val cost = if (costRow.isNullAt(0)) 0.0 else costRow.getDouble(0)
      if (cost <= 0.0) exhausted = true // every point already a candidate
      else {
        val newSeeds = d2
          .filter(md5Uniform(col("id"), r) <
            least(lit(1.0), lit(l.toDouble) * col("_d2") / lit(cost)))
          .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
        cand = (cand ++ newSeeds).distinct
      }
      r += 1
    }
    if (cand.size <= k) return cand
    // weight candidates by their attracted point count (one map pass)
    val weights = base
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("v"), cand))
      .groupBy(col("cell")).agg(count(lit(1)).as("w"))
      .collect().map(row => row.getLong(0).toInt - 1 -> row.getLong(1)).toMap
    val w = cand.indices.map(i => weights.getOrElse(i, 0L).toDouble)
    // greedy weighted k-means++ down to k (driver-side, candidates are
    // k-scale): start from the heaviest candidate, then repeatedly take
    // the candidate maximizing weight × d²(candidate, chosen) — ties
    // break on the lower index, so the reduction is deterministic
    def l2sqLocal(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      w.indices.maxBy(i => (w(i), -i.toDouble)))
    val chosenSet = scala.collection.mutable.BitSet(chosen.head)
    val minD2 = scala.collection.mutable.ArrayBuffer.tabulate(cand.size)(
      i => l2sqLocal(cand(i), cand(chosen.head)))
    while (chosen.size < k) {
      // only unchosen candidates are eligible: when every remaining
      // product w·d² is 0 (e.g. zero-weight candidates), an unrestricted
      // argmax would re-select index 0 and emit duplicate centroids
      val next = cand.indices.filterNot(chosenSet)
        .maxBy(i => (w(i) * minD2(i), w(i), -i.toDouble))
      chosen += next
      chosenSet += next
      cand.indices.foreach { i =>
        minD2(i) = math.min(minD2(i), l2sqLocal(cand(i), cand(next)))
      }
    }
    chosen.map(cand).toSeq
  }

  def kmeansFit(df: DataFrame, k: Int, iters: Int = 5,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                seeds: Option[Seq[Seq[Double]]] = None): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    var centroids: Seq[Seq[Double]] =
      seeds.getOrElse(kmeansParallelSeeds(df, k, idCol = idCol,
        vecCol = vecCol))
    // fewer input vectors than k: clamp and return the shorter model
    // rather than indexing past the seed list in the empty-cell fallback
    val kEff = math.min(k, centroids.size)
    if (kEff == 0) return Seq.empty
    centroids = centroids.take(kEff)
    var it = 0
    while (it < iters) {
      val assigned = base
        .withColumn("cell",
          graft.plans.CentroidExpressions.nearestCentroid(col("v"),
            centroids))
        .select(col("cell"), col("v"))
      val updated = Vectors.centroids(assigned, Seq("cell"), "v")
        .select(col("cell"), col("centroid")).collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toSeq).toMap
      centroids = (1 to kEff).map(c => updated.getOrElse(c, centroids(c - 1)))
      it += 1
    }
    centroids
  }

  /** IVF-style ANN: nearest-centroid cell assignment for the corpus;
    * queries probe their `nprobe` nearest cells (multi-probe — recall
    * rises with nprobe at the cost of proportionally more candidates).
    * Candidates come from one equi-join on cell id.
    */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             centroids: Seq[Seq[Double]],
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             nprobe: Int = 1): DataFrame = {
    // argmin via array_min + array_position (first occurrence breaks ties
    // deterministically). Two plan-health rules learned the hard way:
    // (a) NOT a fold of nested when(struct,...) — that duplicates the
    // distance subtrees exponentially; (b) centroids ride as ONE
    // typedLit(array<array<double>>) literal + transform, not 16×64
    // inlined lit() leaves — those bloat the generated code past JIT/
    // janino limits and drop the whole projection to interpreted eval.
    require(nprobe >= 1 && nprobe <= centroids.size, "nprobe in [1, cells]")
    val ctLit = typedLit(centroids.map(_.toSeq))
    def withDists(df: DataFrame, vec: String): DataFrame =
      df.withColumn("_dists", transform(ctLit, ct => l2sq(col(vec), ct)))
    // corpus: single nearest cell, ONE fused native pass (first-argmin,
    // 1-based — parity with the HOF argmin pinned in CodegenKernelSpec)
    val c = Partitioning.widen(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("_cn"))
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("cv"),
          centroids))
    // queries: the nprobe nearest cells — sort (dist, idx) structs so the
    // tie-break matches array_position's first-occurrence rule
    val q = withDists(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"), norm(col(vecCol)).as("_qn")), "qv")
      .withColumn("cell",
        explode(transform(
          slice(array_sort(transform(
            sequence(lit(1), lit(centroids.size)),
            i => struct(element_at(col("_dists"), i).as("dist"),
              i.as("idx")))), 1, nprobe),
          s => s.getField("idx").cast("long"))))
      .drop("_dists")
    // broadcast the probe side: queries × nprobe rows vs the corpus — a
    // shuffle join here hashes a handful of distinct cell ids into very
    // few post-shuffle partitions (the ×100 soak measured a 45 s stage
    // with TWO tasks); broadcasting keeps the corpus in place and the
    // per-candidate kernel running at full scan parallelism.
    rankTopKBySim(
      broadcast(q).join(c, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", simHoisted), k)
  }

  /** IVF top-k with ADAPTIVE per-query probing: instead of a fixed
    * nprobe, each query probes its distance-ordered cells until the
    * CUMULATIVE CELL POPULATION clears `candidateBudget` (the first cell
    * is always probed). This is what [[ivfCellStats]] (q99) is for:
    * under cell imbalance a fixed nprobe spends the candidate budget
    * where the index is dense, not where the query needs it — a query
    * whose nearest cells are small examines almost nothing (recall
    * floor), one that lands in a hot cell drags the whole fleet's cost
    * up (latency ceiling). Probing to constant MASS equalizes per-query
    * cost and lifts recall exactly where fixed-nprobe starves
    * (SimilaritySpec: recall ≥ fixed-nprobe at equal total candidates).
    *
    * `cellCounts` is the (cell → n_vecs) map from [[ivfCellStats]] —
    * k rows, model-scale, a driver-side constant riding into the plan
    * as one literal array (the centroid-literal rule: one typedLit, not
    * k inlined leaves).
    *
    * Scale: identical shuffle structure to [[ivfKnn]] — the probe-set
    * choice is per-row Column arithmetic over a k-length array; the
    * join stays an equi-join on cell.
    */
  def ivfKnnAdaptive(queries: DataFrame, corpus: DataFrame, k: Int,
                     centroids: Seq[Seq[Double]],
                     cellCounts: Map[Long, Long],
                     candidateBudget: Long,
                     maxProbe: Int = Int.MaxValue,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(candidateBudget >= 1, "candidateBudget must be >= 1")
    val probeCap = math.min(maxProbe.toLong, centroids.size.toLong).toInt
    require(probeCap >= 1, "maxProbe must be >= 1")
    val ctLit = typedLit(centroids.map(_.toSeq))
    val counts = typedLit(
      (1 to centroids.size).map(i => cellCounts.getOrElse(i.toLong, 0L)))
    def withDists(df: DataFrame, vec: String): DataFrame =
      df.withColumn("_dists", transform(ctLit, ct => l2sq(col(vec), ct)))
    val c = Partitioning.widen(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("_cn"))
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("cv"),
          centroids))
    // distance-ordered cells, folded left-to-right: take while the
    // running population is still under budget (first cell always in)
    val sortedCells = slice(array_sort(transform(
      sequence(lit(1), lit(centroids.size)),
      i => struct(element_at(col("_dists"), i).as("dist"),
        i.as("idx")))), 1, probeCap)
    val probed = aggregate(sortedCells,
      struct(lit(0L).as("cnt"), array().cast("array<long>").as("cells")),
      (acc, s) => when(acc.getField("cnt") < candidateBudget,
        struct(
          (acc.getField("cnt") +
            element_at(counts, s.getField("idx"))).as("cnt"),
          concat(acc.getField("cells"),
            array(s.getField("idx").cast("long"))).as("cells")))
        .otherwise(acc))
    val q = withDists(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"), norm(col(vecCol)).as("_qn")), "qv")
      .withColumn("cell", explode(probed.getField("cells")))
      .drop("_dists")
    // broadcast the probe side: queries × nprobe rows vs the corpus — a
    // shuffle join here hashes a handful of distinct cell ids into very
    // few post-shuffle partitions (the ×100 soak measured a 45 s stage
    // with TWO tasks); broadcasting keeps the corpus in place and the
    // per-candidate kernel running at full scan parallelism.
    rankTopKBySim(
      broadcast(q).join(c, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", simHoisted), k)
  }

  // ------------------------------------------------------- product quant

  /** Product-quantization codebooks (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): one
    * k-means model per contiguous `dim/m` subspace, `ksub` sub-centroids
    * each. Training reuses [[kmeansFit]] (deterministic kmeans&#124;&#124;
    * seeding), so the model is reproducible across runs and partitionings.
    *
    * Scale: each subspace fit keeps only model-scale state on the driver
    * (k × dim/m doubles), and training is CAPPED at `trainSampleMax`
    * vectors by default — codebook quality tracks the distribution, not
    * the row count (FAISS trains PQ on ~100k–1M vectors regardless of
    * index size), so fitting on the full corpus buys nothing and makes
    * training cost grow with the index. The sample is a deterministic
    * hash-order prefix (`xxhash64(id)` asc, id asc tie-break), so the
    * model is independent of partitioning, row order, AND corpus growth
    * beyond the cap is absorbed as long as the hash prefix is stable.
    * Pass `trainSampleMax = 0` to force full-corpus training (the old
    * behavior — only sensible for small corpora / oracle replay).
    */
  def pqTrain(df: DataFrame, dim: Int, m: Int, ksub: Int, iters: Int = 5,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              trainSampleMax: Int = 1 << 20): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, "dim must divide evenly into m subspaces")
    require(trainSampleMax >= 0, "trainSampleMax must be >= 0 (0 = uncapped)")
    val dsub = dim / m
    // One shared sample for every subspace fit: a global hash-ordered
    // prefix (TakeOrdered — per-partition top-n, no full sort/shuffle),
    // persisted so the m × iters k-means scans hit the bounded sample,
    // not the corpus.
    val base =
      if (trainSampleMax == 0) df
      else df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(trainSampleMax)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until m).map { j =>
        val sub = base.select(col(idCol).as("id"),
          slice(col(vecCol).cast("array<double>"), j * dsub + 1, dsub)
            .as("sub"))
        kmeansFit(sub, ksub, iters, idCol = "id", vecCol = "sub")
      }
    } finally if (trainSampleMax != 0) base.unpersist()
  }

  /** PQ codes for one vector column: per subspace, the 1-based index of
    * the nearest sub-centroid (first argmin — `array_position` tie-break,
    * the same rule as IVF cell assignment). The codebook rides as ONE
    * `typedLit` literal (the q32 centroid-literal rule).
    */
  private def pqCodesCol(v: Column,
                         codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val dsub = codebooks.head.head.size
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq)))
    transform(sequence(lit(1), lit(m)), j => {
      val sub = slice(v, (j - lit(1)) * lit(dsub) + lit(1), lit(dsub))
      val dists = transform(element_at(cbLit, j), cb => l2sq(sub, cb))
      array_position(dists, array_min(dists))
    })
  }

  /** Per-query ADC lookup table: `lut[j][t]` = squared L2 distance from
    * the query's j-th subvector to sub-centroid t — the m × ksub table
    * that prices every corpus code WITHOUT touching corpus vectors.
    */
  private def pqLutCol(v: Column,
                       codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val dsub = codebooks.head.head.size
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq)))
    transform(sequence(lit(1), lit(m)), j => {
      val sub = slice(v, (j - lit(1)) * lit(dsub) + lit(1), lit(dsub))
      transform(element_at(cbLit, j), cb => l2sq(sub, cb))
    })
  }

  /** Encode a corpus to PQ codes: (id, codes array&lt;long&gt; of length m).
    * At ksub <= 256 each code is a byte of information — a 64-dim float
    * corpus (256 B/vector) becomes m bytes/vector for candidate scoring,
    * with full vectors fetched only for final re-rank. THAT is the 100 TB
    * lever: the ANN candidate scan reads the codes table, not the
    * embeddings table.
    */
  def pqEncode(df: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol),
      pqCodesCol(col(vecCol).cast("array<double>"), codebooks).as("codes"))

  /** IVF-PQ ANN (FAISS IVFADC with `by_residual=false`): corpus vectors
    * are assigned to their nearest coarse cell AND quantized to PQ codes
    * in the same scan; queries probe their `nprobe` nearest cells carrying
    * an m × ksub ADC lookup table; candidates join on cell id and are
    * ranked by asymmetric distance `sum_j lut[j][code_j]` (asc, id-asc
    * tie-break). Codes are cell-independent (no residual coupling), so
    * the LUT is built once per query, not once per (query, cell).
    *
    * Scale: the join shuffle carries (cell, id, m longs) for the corpus
    * side — the full vectors never leave their scan. Recall < 1 by
    * construction twice over (cell pruning + quantized distances);
    * [[bruteForceKnn]] stays the exact baseline, and a re-rank pass over
    * the ADC shortlist (join top-R back to full vectors) recovers exact
    * ordering at O(R) vector reads per query.
    */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               centroids: Seq[Seq[Double]],
               codebooks: Seq[Seq[Seq[Double]]],
               nprobe: Int = 1,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val scored = ivfPqParts(queries, corpus, centroids, codebooks, nprobe,
      idCol, vecCol)._2
    // Bounded top-k AGGREGATE, not a rank window: the window form sorts
    // every query's full candidate slice (O(candidates log candidates)
    // per task) and shuffles it to a per-query partition; the aggregate
    // keeps a k-element heap per query per task (O(candidates log k)),
    // map-side-combines, and shuffles only tasks × queries × k rows.
    // Output identical — (adist asc, neighbor_id asc) is a total order,
    // so "the k best" does not depend on how they are found (TopKAggSpec
    // pins agg == window on random data; SimilaritySpec pins this path).
    // ×1000 probe (tools.Q105Prof): the agg form cut the post-scan cost,
    // and the remaining wall is the LINEAR candidate-scan kernel.
    val ranked = scored.groupBy(col("query_id"))
      .agg(graft.plans.AggExpressions
        .topKByScore(-col("adist"), col("neighbor_id"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")))
    ranked.select(col("query_id"), (col("pos") + 1).as("rank"),
      col("col.id").as("neighbor_id"), (-col("col.score")).as("adist"))
  }

  /** The two internal stages of [[ivfPqKnn]], exposed for stage bisection:
    * `_1` = the encoded corpus (cell, neighbor_id, codes), `_2` = the
    * ADC-scored candidate stream (query_id, neighbor_id, adist) BEFORE
    * any top-k — callers that want a bounded top-k without a window sort
    * can aggregate `_2` with [[graft.plans.AggExpressions.topKByScore]].
    */
  def ivfPqParts(queries: DataFrame, corpus: DataFrame,
                 centroids: Seq[Seq[Double]],
                 codebooks: Seq[Seq[Seq[Double]]],
                 nprobe: Int = 1,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(nprobe >= 1 && nprobe <= centroids.size, "nprobe in [1, cells]")
    val m = codebooks.size
    val ctLit = typedLit(centroids.map(_.toSeq))
    def withDists(df: DataFrame, vec: String): DataFrame =
      df.withColumn("_dists", transform(ctLit, ct => l2sq(col(vec), ct)))
    // corpus encode: cell + PQ codes in two fused native passes — the
    // per-corpus-row hot path (and, via the pushed-down isnotnull(cell)
    // join filter, per-row once more; the HOF form re-ran the k×dim
    // transform interpreted at every one of those call sites)
    val c = Partitioning.widen(corpus)
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cell",
        graft.plans.CentroidExpressions.nearestCentroid(col("cv"),
          centroids))
      .withColumn("codes",
        graft.plans.CentroidExpressions.pqCodes(col("cv"), codebooks))
      .select(col("cell"), col("neighbor_id"), col("codes"))
    val q = withDists(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")), "qv")
      .withColumn("cell",
        explode(transform(
          slice(array_sort(transform(
            sequence(lit(1), lit(centroids.size)),
            i => struct(element_at(col("_dists"), i).as("dist"),
              i.as("idx")))), 1, nprobe),
          s => s.getField("idx").cast("long"))))
      .withColumn("lut", pqLutCol(col("qv"), codebooks))
      .select(col("cell"), col("query_id"), col("lut"))
    // broadcast the probe side: queries × nprobe rows vs the corpus — a
    // shuffle join here hashes a handful of distinct cell ids into very
    // few post-shuffle partitions (the ×100 soak measured a 45 s stage
    // with TWO tasks); broadcasting keeps the corpus in place and the
    // per-candidate kernel running at full scan parallelism.
    val scored = broadcast(q).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(
        graft.plans.CentroidExpressions.pqAdc(col("lut"), col("codes")), 6))
      .select(col("query_id"), col("neighbor_id"), col("adist"))
    (c, scored)
  }

  /** IVF-PQ with an exact re-rank tail (FAISS's standard recipe): take
    * the ADC top-`shortlist` per query, fetch ONLY those full vectors
    * (an equi-join on neighbor id — |Q| × shortlist rows, not the
    * corpus), and re-rank by exact squared L2 (asc, id-asc tie-break).
    * Quantization error then affects WHICH `shortlist` candidates are
    * priced, never their final order — recall@k climbs toward exact as
    * `shortlist/k` grows while the per-query full-vector reads stay
    * O(shortlist).
    *
    * Default `shortlist = 200`: measured on the driver sf0.001 embeddings
    * (6400 × 64-dim, m=8), recall@5 vs shortlist is the dominant curve and
    * training depth is not — rerank@5 = 0.65/0.85/0.97 at shortlist
    * 50/100/200 with (iters=2, ksub=16), and deeper training moves it only
    * to 0.76/0.92/1.0 (iters=8, ksub=32). ADC@5 stays 0.17-0.26 throughout:
    * an m=8 code on 64 dims cannot rank the true top-5 first, it can only
    * keep them inside a few-hundred-deep shortlist — so buy recall with
    * shortlist depth (O(shortlist) exact reads/query), not with codebook
    * training (which cannot fix an 8-byte code's resolution).
    */
  def ivfPqKnnRerank(queries: DataFrame, corpus: DataFrame, k: Int,
                     centroids: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]],
                     nprobe: Int = 1, shortlist: Int = 200,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val short = ivfPqKnn(queries, corpus, shortlist, centroids, codebooks,
        nprobe, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    // Rank on the UNROUNDED exact distance (true "exact re-rank"); the
    // repo-wide 6-dp rounding applies only to the emitted column.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_d").asc, col("neighbor_id").asc)
    short.join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
      .withColumn("_d", l2sq(col("_qv"), col("_cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("_d"), 6).as("dist"))
  }
}

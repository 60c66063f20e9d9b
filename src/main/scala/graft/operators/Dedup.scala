package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.functions.TextAnalysis

/** Corpus deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: exact dedup is one hash-shuffle on a 32-char digest (not
  * the document body). Near-dup never does all-pairs at scale — MinHash
  * banding turns O(n^2) similarity into a groupBy on band buckets, then an
  * exact Jaccard check on the (tiny) candidate set. The brute-force variants
  * exist as correctness baselines for tests/oracles at small n.
  */
object Dedup {

  /** Exact dedup on document content: one surviving (min) id per distinct
    * text hash, plus the duplicate count. Shuffles 32-byte digests, never
    * the document bodies.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word-n-gram shingle set per document (set semantics — the
    * Jaccard universe). Tokenizes into a column first so the shingle
    * lambda reads a bound array instead of re-splitting the text per
    * element (see TextAnalysis.shingles scaladoc).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("id"),
        array_sort(array_distinct(
          TextAnalysis.shinglesOfTokens(col("_toks"), n))).as("shingles"))

  /** [[shingleSets]] with each shingle collapsed to its xxhash64 — the
    * representation every downstream join/cache/shuffle should use at
    * scale: 8 bytes per shingle instead of a 3-word string, fixed-width
    * compares in the intersect walk, cheap columnar caching. Jaccard on
    * hashed sets equals Jaccard on string sets absent 64-bit collisions
    * (P ≈ |universe|²/2⁶⁵ — negligible for any real corpus).
    *
    * Computed by the native [[graft.plans.HashedWordShingles]] expression
    * (one linear pass, single-call codegen) rather than the equivalent
    * transform/xxhash64 lambda tree: Catalyst copies generator inputs into
    * pushed-down filters, and a copied lambda tree re-split the text per
    * element in interpreted mode (q79's explode stage: 10s → 0.3s).
    */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.plans.SetExpressions.hashedWordShingles(col(textCol), n)
        .as("shingles"))

  private def widen(df: DataFrame): DataFrame = Partitioning.widen(df)

  /** Exact n-gram Jaccard similarity for every id pair above `threshold`.
    * All-pairs (O(n^2)) — the correctness baseline; use [[minHashLsh]] when
    * n is large.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val s = shingleSets(df, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sz", size(col("shingles")))
    val a = s.select(col("id").as("id_a"), col("shingles").as("sh_a"),
      col("sz").as("sz_a"))
    val b = s.select(col("id").as("id_b"), col("shingles").as("sh_b"),
      col("sz").as("sz_b"))
    // size-bound prune: J >= t forces t*|A| <= |B| and t*|B| <= |A|.
    // Tested in the VERIFY's own functional form — max achievable J for
    // these sizes is min/(szA+szB-min) (at inter = min), and double
    // division is monotone in both operands, so this compare can never
    // disagree with the downstream jaccard filter the way independent
    // products (sz_a >= sz_b*t) can at 1-ulp boundaries
    a.join(b, col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          (col("sz_a") + col("sz_b") -
            least(col("sz_a"), col("sz_b"))).cast("double") >= threshold)
      .withColumn("inter",
        graft.plans.SetExpressions.sortedIntersectCount(
          col("sh_a"), col("sh_b")).cast("double"))
      // |A ∪ B| = |A| + |B| − |A ∩ B|: no need to materialize the union
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard near-dup pairs via a prefix-filtered set-similarity join
    * (PPJoin-style) — same output as [[jaccardPairs]], but never all-pairs.
    *
    * If J(A,B) >= t then |A∩B| >= ceil(t*|A|), and two sorted sets with
    * intersection >= k must share an element within their first
    * (size − k + 1) elements. So each document only indexes that prefix of
    * its sorted shingle set; candidate pairs come from a groupBy-style
    * equi-join on prefix shingles (shuffle carries (shingle, id, size) —
    * not documents), then one exact intersect per surviving candidate.
    * At 100 TB this is the difference between O(n²) and ~O(n·avg_bucket).
    */
  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double,
                            prefixDfThreshold: Long = 8192L): DataFrame = {
    // cache: the shingle plan feeds the frequency agg, the prefix
    // self-join, AND two verify rejoins — without it, tokenization
    // recomputes 5x per query. Hashed (long) shingles: the prefix index,
    // cache, and intersect all move 8-byte values. Lifetime:
    // [[graft.CacheScope]].
    val s = CacheScope.persist(hashedShingleSets(widen(df), idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sz", size(col("shingles"))))
    // +1 slack on the textbook sz − ceil(t·sz) + 1: ceil(sz*t) can land
    // one high OR one low of the true integer bound when the product
    // rounds across an integer (100*0.07 = 7.000…001), and the verify
    // here is the two-sided jaccard compare, not k/sz — one extra prefix
    // element makes recall robust to every 1-ulp case at the cost of a
    // sliver of extra (exactly-verified) candidates
    val prefLen =
      (col("sz") - ceil(col("sz") * threshold) + 2).cast("int")
    // Canonical order = ASCENDING corpus document frequency (PPJoin as
    // published — Xiao et al., WWW'08 §3: the prefix bound holds under any
    // fixed total order, but only the rare-tokens-first order keeps prefix
    // buckets small). Ordering by raw hash value treats a shingle shared
    // by half the corpus the same as a unique one; the ×100 scale soak
    // showed what that costs: candidate pairs for common-phrase shingles
    // grow ∝ df², and a corpus with Zipfian shingle frequencies spilled
    // the candidate shuffle to disk exhaustion. With df-ascending prefixes
    // the frequent shingles sit at the END of every document's canonical
    // order and never enter a prefix unless the document is nearly all
    // common phrases — candidates stay ~O(n·avg_rare_bucket).
    // Cost: one extra linear shuffle pair (tok-count agg + tok join) and a
    // per-document window (partitioned by id — thousands of rows max per
    // doc, no skew), all on 8-byte hashes.
    //
    // ADAPTIVE below 8192 docs (a counted size threshold):
    // the arrays are already hash-sorted, so the hash-order prefix is a
    // free slice, and the worst CONCEIVABLE candidate set at the
    // threshold (every pair shares a prefix token) is n²/2 ≈ 3.4e7 —
    // bounded and join-sized, where above it frequency skew makes the
    // hash-order worst case unbounded. Both orders emit IDENTICAL pairs
    // (any total order is correct; only candidate counts move), so the
    // switch is invisible to every oracle.
    val pref =
      if (s.count() <= prefixDfThreshold)
        s.select(col("id"), col("sz"),
          posexplode(slice(col("shingles"), lit(1), prefLen)))
          .withColumnRenamed("col", "tok")
      else {
        val freq = s.select(explode(col("shingles")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
        val byRarity = Window.partitionBy(col("id"))
          .orderBy(col("df"), col("tok"))
        s.select(col("id"), col("sz"), explode(col("shingles")).as("tok"))
          .join(freq, "tok")
          .withColumn("pos", row_number().over(byRarity) - 1)
          .filter(col("pos") < prefLen)
          .select(col("id"), col("sz"), col("pos"), col("tok"))
      }
    // positional refinement (PPJoin): a shared prefix token at 0-based
    // positions (i, j) caps the overlap at 1 + min(szA−i−1, szB−j−1).
    // Both this cap and the size prune are tested in the VERIFY's own
    // functional form — f(o) = o/(szA+szB−o) is monotone in o under
    // IEEE division, so f(cap) < t (or f(min sz) < t) exactly implies
    // no achievable overlap passes the downstream jaccard filter; the
    // textbook product forms (posCap >= (szA+szB)·t/(1+t), szA >=
    // szB·t) round independently of the verify and can disagree with
    // it by 1 ulp at exact-threshold boundaries.
    val posCap = lit(1) + least(
      col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1)
    def maxJ(o: org.apache.spark.sql.Column) =
      o.cast("double") /
        (col("a.sz") + col("b.sz") - o).cast("double") >= threshold
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          maxJ(least(col("a.sz"), col("b.sz"))) &&
          maxJ(posCap))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = s.select(col("id"), col("shingles"), col("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter",
        graft.plans.SetExpressions.sortedLongIntersectCount(
          col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(a→b) = |S(a)∩S(b)| / |S(a)|
    * over distinct word-n-gram shingle sets — the quote/subset detector
    * Jaccard structurally misses (a paragraph fully quoted inside a much
    * longer document has high containment but low Jaccard, because the
    * union is dominated by the longer side). Emits ORDERED pairs (a, b)
    * with a ≠ b and C(a→b) ≥ `threshold` — (a,b) and (b,a) are different
    * claims with different denominators.
    *
    * Shape: shingles travel as 8-byte xxhash64 values; candidates come
    * from one equi-join on shared shingles with |S(a)∩S(b)| as a COUNT
    * aggregate (shingle sets are distinct, so each shared shingle
    * contributes exactly one joined row — no verify rejoin needed).
    *
    * Scale: candidate mass is Σ_gram df(gram)² — the Zipf hazard the
    * Jaccard join's df-ascending prefix filter exists for. Containment
    * admits no symmetric size filter (the contained side can be tiny),
    * so this exact form is the CORRECTNESS BASELINE and the
    * bounded-input path only: above `routeThreshold` documents the call
    * REFUSES (require) and names [[containmentJoin]] — the
    * candidate-verified scale form with identical output. The refusal
    * bar is the same n²/2 worst-case-candidate argument as
    * [[jaccardSimilarityJoin]]'s 8192-doc adaptive threshold: below it
    * even every-pair-collides is join-sized; above it Zipfian shingle
    * frequencies make Σdf² unbounded relative to the corpus.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       routeThreshold: Long = 1L << 13): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    // limit-bounded probe, not df.count(): the guard must not pay a
    // full-corpus scan to refuse a huge corpus (or tax every small call
    // with an unbounded job) — counting routeThreshold+1 rows decides
    // the same predicate at O(routeThreshold) cost
    val cap = math.min(routeThreshold, Int.MaxValue - 1L).toInt
    val nDocs = df.limit(cap + 1).count()
    require(nDocs <= routeThreshold,
      s"containmentPairs: corpus exceeds " +
        s"routeThreshold=$routeThreshold documents. The exact form joins ALL " +
        "shared shingle occurrences (candidate mass ~ sum df(gram)^2 — " +
        "unbounded under Zipfian shingle frequencies; the pre-fix q25 " +
        "failure mode). At this scale use Dedup.containmentJoin (prefix-" +
        "filtered candidates, identical output), and collapse exact " +
        "duplicates first (dedupCorpus recipe) if the corpus is replica-" +
        "heavy.")
    val s = hashedShingleSets(widen(df), idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sz", size(col("shingles")))
    val toks = s.select(col("id"), explode(col("shingles")).as("tok"))
    val inter = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter.join(s.select(col("id").as("id_a"), col("sz")), "id_a")
      .withColumn("containment",
        col("inter").cast("double") / col("sz").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** [[containmentPairs]] at corpus scale: identical output (exact
    * containment, 100% recall), candidates from an ASYMMETRIC prefix
    * filter instead of the all-shared-shingles join.
    *
    * Prefix bound (one-sided PPJoin, Xiao et al. WWW'08 §3 adapted to
    * containment): C(a→b) ≥ t forces |S(a)∩S(b)| ≥ ⌈t·|S(a)|⌉, and a set
    * whose intersection with ANYTHING is ≥ k must expose an intersection
    * element within its first |S(a)|−k+1 elements under any fixed total
    * order. So only the CONTAINED side indexes a prefix; the container
    * side indexes all its shingles (its overlap bound t·|S(a)| says
    * nothing about |S(b)|, so no symmetric prefix exists — the structural
    * difference from the Jaccard join). One size filter survives:
    * overlap ≤ |S(b)| forces |S(b)| ≥ t·|S(a)|.
    *
    * Canonical order = df-ascending (rare shingles first), so candidate
    * mass is Σ_gram df_prefix(gram)·df(gram) with frequent shingles
    * pushed out of every prefix — the same Zipf protection the ×100 soak
    * forced on [[jaccardSimilarityJoin]]. Candidates are then verified
    * with ONE codegen'd sorted-set intersect per pair on the cached
    * hashed arrays.
    *
    * Why not [[minHashLsh]] banding for candidates: banding recall is a
    * function of JACCARD (p ≈ J^rows per band), and the pairs this
    * operator exists for — a small quote inside a much larger document —
    * have high containment but arbitrarily LOW Jaccard (J =
    * t·|a|/(|a|+|b|−t·|a|) → 0 as |b| grows), exactly where banding goes
    * blind. Size-partitioned banding (LSH Ensemble, Zhu et al. VLDB'16)
    * repairs that approximately; the prefix filter needs no partitioning
    * and is lossless.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    // cache: feeds the df agg, the prefix/full indexes, and the verify
    // rejoins — five consumers of one tokenize+shingle pass
    val s = CacheScope.persist(hashedShingleSets(widen(df), idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sz", size(col("shingles"))))
    // k_min = smallest integer overlap passing the VERIFY compare
    // (inter/sz >= t as doubles). ceil(sz*t) alone is off by one when
    // the product rounds across an integer (100*0.07 = 7.000…001 →
    // ceil 8, but 7/100 >= 0.07 passes), which would shorten the prefix
    // and silently drop boundary pairs the exact baseline keeps — so
    // the candidate k0±1 window is re-tested with the verify's own
    // division, making prefix recall bit-consistent with the filter.
    val k0 = ceil(col("sz") * threshold)
    def passes(k: org.apache.spark.sql.Column) =
      k.cast("double") / col("sz").cast("double") >= threshold
    val kMin = when(passes(k0 - 1), k0 - 1)
      .when(passes(k0), k0)
      .otherwise(k0 + 1)
    val prefLen = (col("sz") - kMin + 1).cast("int")
    val freq = s.select(explode(col("shingles")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // per-document window: partitioned by id, bounded by shingles/doc —
    // no corpus-sized partition. ONLY the contained-side prefix pays the
    // df join + rank window; the container-side index is the raw explode
    // (it indexes every token, so canonical order is irrelevant to it —
    // routing it through the ranked subtree would both double that
    // subtree's work, since Spark shares no plan subtrees across join
    // sides, and drag a corpus-tokens × df shuffle into the probe side:
    // measured 349 s at ×100 before the split, ~linear after).
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("tok"))
    // EVERY join side below is corpus-derived (token index, shingle-set
    // frame, df table — all grow with the corpus), so every join is
    // hinted sort-merge: Catalyst's static size estimate of an
    // exploded+filtered cached subtree undershoots by orders of
    // magnitude and planned all four as BroadcastHashJoin — fine at
    // ×10, an executor OOM building a multi-GB hashed relation at ×100
    // (the r9 model-table lesson mirrored: derived-frame estimates
    // can't be trusted in either direction at scale; corpus-sized
    // sides must be pinned to shuffle just as model-sized ones must be
    // pinned to broadcast).
    val pref = s.select(col("id"), col("sz"), prefLen.as("prefLen"),
        explode(col("shingles")).as("tok"))
      .join(freq.hint("merge"), "tok")
      .withColumn("pos", row_number().over(byRarity) - 1)
      .filter(col("pos") < col("prefLen"))
      .select(col("id"), col("sz"), col("tok"))
    val full = s.select(col("id"), col("sz"),
      explode(col("shingles")).as("tok"))
    // size filter in the VERIFY's own form (overlap <= |S(b)|, so a pair
    // can pass only if szB/szA >= t as doubles — double division is
    // monotone in the numerator, so this is exact, unlike szB >= szA*t
    // whose product rounds independently of the verify compare)
    val cand = pref.hint("merge").as("a")
      .join(full.hint("merge").as("b"),
        col("a.tok") === col("b.tok") && col("a.id") =!= col("b.id") &&
          col("b.sz").cast("double") / col("a.sz").cast("double") >=
            threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = s.select(col("id"), col("shingles"), col("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a"),
        col("sz").as("sz_a")).hint("merge"), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b"))
        .hint("merge"), "id_b")
      .withColumn("inter",
        graft.plans.SetExpressions.sortedLongIntersectCount(
          col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("containment", col("inter") / col("sz_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    *
    * `numHashes` hashes split into `bands` bands; documents sharing any
    * band hash become candidates (banded signature groupBy — the scale
    * path: shuffle carries (bandHash, id), not documents). Candidates are
    * then exact-checked so output pairs all truly exceed `threshold`
    * (LSH may only *miss* pairs, never emit false positives).
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String, n: Int,
                 threshold: Double, numHashes: Int = 64,
                 bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the banded self-join reads this twice
    val s = CacheScope.persist(hashedShingleSets(widen(df), idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sig",
        graft.plans.SetExpressions.minHashLongs(col("shingles"), numHashes)))
    // Banded rows CARRY the shingle array, and the exact Jaccard verify
    // runs IN-FLIGHT inside the (band, bh) join partitions — a candidate
    // that fails the threshold dies where it was born and never reaches
    // another exchange. The alternative (shuffle bare (band, bh, id)
    // triples, then re-join the arrays per candidate pair) moves
    // candidates × |array| bytes through TWO pair-level shuffles; the
    // ×100 scale soak OOM'd there, because sub-threshold document
    // FAMILIES (replicas sharing ~25% of shingles — boilerplate, in real
    // corpora) collide in some band with p ≈ J² per band and family
    // candidates grow quadratically with family size. In-flight, the
    // banded shuffle is N × bands array-bearing rows — linear in the
    // corpus with a bands× constant, spill-friendly, no pair-level array
    // movement at all; false candidates cost one codegen'd sorted-merge
    // intersect each and nothing else. A pair colliding in k bands
    // re-verifies k times (k ≤ bands, k = 1 + Binom(bands−1, J^r) in
    // expectation — small for everything that matters); the trailing
    // dropDuplicates sees only TRUE pairs.
    val banded = s.select(col("id"), col("shingles"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * (numHashes / bands) + 1,
            numHashes / bands)).as("bh"))
      }: _*)).as("bb"))
      .select(col("id"), col("shingles"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .withColumn("inter",
        graft.plans.SetExpressions.sortedLongIntersectCount(
          col("a.shingles"), col("b.shingles")).cast("double"))
      .withColumn("jaccard",
        col("inter") /
          (size(col("a.shingles")) + size(col("b.shingles")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over near-dup pairs: every document gets the
    * minimum doc id of its duplicate cluster. Min-label propagation with a
    * POINTER JUMP each round: after the neighbor-min step computes
    * l'(v) = min label over v's closed neighborhood, a self-join shortcuts
    * l''(v) = l'(l'(v)) — chains halve every round, so convergence is
    * O(log diameter) rounds instead of O(diameter) (the large-star/
    * small-star recipe's doubling, applied to the label table: every label
    * value is itself a node id of the same component, so the composed
    * label stays in-component and monotone). Labels seed at the 1-hop min
    * (one groupBy off the raw edges — no join), which is already the
    * fixpoint for dense quasi-clique dedup graphs, and convergence is
    * probed before each jump so the final round costs one aggregate. Each
    * live round is one join + groupBy-min + one id-table self-join; the
    * driver only reads a one-row aggregate per round.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    // undirected edge list, including self-loops so isolated ids survive.
    // No distinct(): pairs are unique with id_a < id_b, so the reversed
    // direction and the self-loops introduce no duplicates — and min-agg
    // label propagation is duplicate-tolerant regardless. Skipping it
    // removes a full edge-list shuffle.
    // Both directions come from ONE scan of `pairs` (explode of the two
    // orientations), not a self-union: `pairs` is typically an expensive
    // lazy near-dup join, and a union's branches each recompute it — the
    // ×100 soak measured the corpus-dedup funnel at almost exactly 2× its
    // pair-join cost before this (81.8 s vs 41.4 s for the join alone).
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .union(ids.select(col("id").as("src"), col("id").as("dst")))
      .cache()
    // labels only ever decrease (min-propagation), so the label sum is a
    // strictly-decreasing convergence measure: fixpoint iff the sum is
    // unchanged. Summed as DECIMAL(38,0): a LongType sum would wrap at
    // billions of rows × 64-bit ids, and a wrapped sum could (however
    // rarely) collide across rounds and stop iteration early.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // SEED with the 1-hop min: l0(v) = min(N(v) ∪ {v}) straight off the
    // edge list — identical to one propagation round from identity labels
    // but needs no join (a single groupBy-min), and dense near-dup
    // clusters (quasi-cliques) are already at their fixpoint after it.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("label"))
      .localCheckpoint(true)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor min (self-loops fold each node's own label into the min)
      val prop = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dst_label"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("label"))
        .cache() // materialized by the probe below; feeds the jump join
      // convergence probe BEFORE the jump materialization: a propagation
      // fixpoint (sum unchanged) is constant per component (= the min, by
      // the symmetric-neighbors argument), so it is also a jump fixpoint —
      // the final round costs one aggregate, not an aggregate + checkpoint.
      val propSum = labelSum(prop)
      if (propSum.compareTo(prevSum) == 0) {
        converged = true
        prop.unpersist()
      } else {
        // pointer jump: label ← prop(label). prop covers every id (the
        // self-loops again), so the inner join never drops a node.
        // localCheckpoint (eager) materializes AND truncates lineage: the
        // self-join references prop twice, so an uncheckpointed plan would
        // DOUBLE each round — exponential logical plans OOM the driver by
        // round ~15. Checkpoint blocks of finished rounds are reaped by
        // the ContextCleaner once the previous `labels` reference drops.
        val next = prop
          .join(prop.select(col("id").as("label"), col("label").as("_jump")),
            Seq("label"))
          .select(col("id"), col("_jump").as("label"))
          .localCheckpoint(true)
        prevSum = labelSum(next)
        prop.unpersist()
        labels = next
      }
      iter += 1
    }
    // labels is checkpointed (materialized, lineage-free), so the edge
    // cache is no longer reachable from any lazy plan — release it here
    // rather than leaking one edge cache per call
    edges.unpersist()
    labels
  }

  /** Maximal cross-document repeated token spans — the exact-substring
    * dedup modality ("deduplicating training data" recipe): find every
    * span of >= k consecutive tokens that also occurs in at least
    * `minDocs - 1` OTHER documents, and emit it as
    * (id, span_start, span_tokens) with span_start the 1-based token
    * index. Suffix-array semantics approximated the standard distributed
    * way: a token position is covered iff its k-gram occurs in >= minDocs
    * distinct documents, and maximal runs of covered positions merge into
    * one span (a run of m consecutive duplicated k-grams is a span of
    * m + k - 1 tokens in which every k-window is non-unique).
    *
    * Scale: grams travel as positional 8-byte xxhash64 values (one-pass
    * native [[graft.plans.PositionalWordShingles]] — document strings
    * never survive the scan projection). Two bounded-key shuffles (gram
    * hash groupBy; per-doc window) plus one hash equi-join; the window
    * partitions by doc id, so its state is one document's covered
    * positions. Min-length filtering (spans >= some token count) is a
    * caller-side filter on span_tokens.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minDocs: Int = 2): DataFrame = {
    // minDocs = 1 would mark EVERY gram covered (each occurs in its own
    // doc) — a degenerate all-spans request nobody means; fail loudly
    // rather than silently behaving like minDocs = 2 via the fast path.
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val grams = widen(df).select(col(idCol).as("id"),
        posexplode(graft.plans.SetExpressions.positionalWordShingles(
          col(textCol), k)))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    // grams occurring in >= minDocs distinct docs; data-dependent size,
    // so no broadcast hint — AQE picks the join strategy. At the default
    // minDocs = 2, "≥ 2 distinct docs" is exactly min(id) ≠ max(id) — a
    // fully map-side-combinable aggregate, where countDistinct expands
    // to a two-phase (h, id)-distinct shuffle of the whole gram stream
    // (the ×1000 soak measured the difference as part of q90's p = 1.61).
    val dup =
      if (minDocs == 2)
        grams.groupBy(col("h"))
          .agg(min(col("id")).as("_mn"), max(col("id")).as("_mx"))
          .filter(col("_mn") =!= col("_mx"))
          .select(col("h"))
      else
        grams.groupBy(col("h"))
          .agg(countDistinct(col("id")).as("_nd"))
          .filter(col("_nd") >= minDocs)
          .select(col("h"))
    // Gaps-and-islands per doc WITHOUT a corpus-wide window sort: a
    // document's covered positions fit in one row (the same bounded-doc
    // assumption tokens()'s explode already makes), so collect + sort
    // them per doc in a HASH aggregation (map-side partials, no global
    // sort) and cut islands with array lambdas — span starts are
    // positions with no predecessor, ends positions with no successor,
    // zipped in order. Output identical to the window form
    // (DedupSpec pins both on the same fixtures).
    grams.join(dup, Seq("h"))
      .select(col("id"), col("pos"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(col("pos"))).as("_ps"))
      .select(col("id"), explode(expr(
        s"""zip_with(
           |  filter(_ps, (p, i) -> i = 0 OR element_at(_ps, i) != p - 1),
           |  filter(_ps, (p, i) -> i = size(_ps) - 1
           |                        OR element_at(_ps, i + 2) != p + 1),
           |  (s, e) -> named_struct(
           |    'span_start', s, 'span_tokens', e - s + $k))""".stripMargin))
        .as("_s"))
      .select(col("id"), col("_s.span_start").as("span_start"),
        col("_s.span_tokens").as("span_tokens"))
  }

  /** The repeated-span REMOVAL transform — [[repeatedSpans]]' companion
    * that actually rewrites the corpus: every token covered by a
    * cross-document repeated k-gram is dropped, and the survivors rejoin
    * into the cleaned text (the "deduplicating training data" rewrite;
    * this variant removes ALL occurrences — pair it with exact/near-dup
    * keep-one passes for canonical-copy retention). Returns
    * (id, n_tokens_before, n_tokens_after, clean_text).
    *
    * Scale: same two bounded-key shuffles as [[repeatedSpans]] plus one
    * per-doc coverage aggregation whose state is bounded by the document's
    * own covered-position set. Strings and integers only — the rewrite is
    * trivially engine-exact.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int, minDocs: Int = 2): DataFrame = {
    val base = widen(df).select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      graft.plans.SetExpressions.positionalWordShingles(col(textCol), k)
        .as("_grams"))
    val grams = base.select(col("id"), posexplode(col("_grams")))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"))
    // covered 1-based token indices per doc (a gram at pos covers
    // pos .. pos+k-1); distinct because overlapping grams share tokens
    val covered = grams.join(dup, Seq("h"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("ti"))
      .distinct()
      .groupBy(col("id"))
      .agg(array_sort(collect_set(col("ti"))).as("_cov"))
    rewriteWithoutCovered(base, covered)
  }

  /** Shared rewrite tail for the span-removal transforms: drop every token
    * whose 1-based index is in the doc's SORTED covered-position array and
    * rejoin the survivors. The membership test is the native
    * [[graft.plans.JoinTokensExceptSorted]] merge walk —
    * O(tokens + covered) per document and codegen'd, where the previous
    * `filter(..., array_contains)` higher-order lambda was interpreted
    * O(tokens × covered) (quadratic on a heavily-duplicated document).
    * `n_tokens_after` is pure arithmetic: covered indices are distinct and
    * always in [1, n_tokens] by construction.
    */
  private def rewriteWithoutCovered(base: DataFrame,
                                    covered: DataFrame): DataFrame =
    base.join(covered, Seq("id"), "left")
      .withColumn("_cov",
        coalesce(col("_cov"), array().cast("array<bigint>")))
      .select(col("id"),
        size(col("_toks")).as("n_tokens_before"),
        (size(col("_toks")) - size(col("_cov"))).as("n_tokens_after"),
        graft.plans.SetExpressions.joinTokensExceptSorted(
          col("_toks"), col("_cov")).as("clean_text"))

  /** Suffix-array-grade span removal — [[removeRepeatedSpans]] with the two
    * refinements the "deduplicating training data" recipe ships:
    *
    *   - CANONICAL-COPY RETENTION: each duplicated k-gram keeps its first
    *     occurrence corpus-wide — min (id, pos) lexicographically, a
    *     deterministic choice — and only the OTHER occurrences count
    *     toward removal, so one copy of every duplicated passage survives
    *     (the reference recipe removes all-but-one, not all);
    *   - MIN-LENGTH THRESHOLD: only maximal non-canonical runs spanning
    *     >= `minSpanTokens` tokens are removed (short incidental overlaps
    *     — stock phrases, common idioms — are left alone).
    *
    * Canonicality is per-gram, so when partially-overlapping spans have
    * their first occurrences in different documents the removal is decided
    * gram-by-gram — a deterministic approximation of whole-span suffix
    * array semantics. For straight duplicate passages (the dominant real
    * case) exactly the min-id copy survives; when DIFFERENT duplicated
    * passages overlap inside the canonical document, their non-canonical
    * runs can clip that canonical copy too — the same boundary
    * approximation the ExactSubstr recipe accepts. `runVote = true`
    * switches to RUN-level canonicality (each maximal duplicated run is
    * removed only on a majority non-canonical gram vote), which keeps
    * the canonical copy verbatim under overlapping duplicates at the
    * cost of coarser-grained removal.
    *
    * Scale: identical shuffle structure to [[removeRepeatedSpans]] — the
    * canonical choice rides the existing gram groupBy as a min(struct)
    * (partial-aggregatable, no extra shuffle), and the min-length filter
    * runs on the per-doc run aggregate before coverage expansion.
    */
  def removeRepeatedSpansKeepFirst(df: DataFrame, idCol: String,
                                   textCol: String, k: Int,
                                   minDocs: Int = 2,
                                   minSpanTokens: Int = 50,
                                   runVote: Boolean = false): DataFrame = {
    require(minSpanTokens >= k, s"minSpanTokens must be >= k=$k")
    val base = widen(df).select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      graft.plans.SetExpressions.positionalWordShingles(col(textCol), k)
        .as("_grams"))
    val grams = base.select(col("id"), posexplode(col("_grams")))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    // duplicated grams + their canonical (first corpus-wide) occurrence;
    // min over struct(id, pos) is lexicographic, so this is "min doc id,
    // then min position within it" — deterministic under any partitioning
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("_nd"),
        min(struct(col("id"), col("pos"))).as("_can"))
      .filter(col("_nd") >= minDocs)
      .select(col("h"), col("_can.id").as("_can_id"),
        col("_can.pos").as("_can_pos"))
    val occ = grams.join(dup, Seq("h"))
      .withColumn("_isCan", col("id") === col("_can_id") &&
        col("pos") === col("_can_pos"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    // maximal runs of consecutive gram positions (gaps-and-islands); a
    // run of m grams spans m + k - 1 tokens — the min-length threshold
    // applies to the TOKEN span
    val spans =
      if (!runVote) {
        // gram-level canonicality: runs over NON-canonical occurrences
        // only — the canonical copy never covers, but when different
        // duplicated passages overlap inside the canonical document its
        // overlap grams (canonical home elsewhere) can clip it
        occ.filter(!col("_isCan"))
          .select(col("id"), col("pos"))
          .withColumn("_grp", col("pos") - row_number().over(w))
          .groupBy(col("id"), col("_grp"))
          .agg(min(col("pos")).as("_s"),
            (max(col("pos")) - min(col("pos")) + k).as("_len"))
          .filter(col("_len") >= minSpanTokens)
      } else {
        // RUN-level canonicality: runs over ALL duplicated occurrences,
        // each maximal run removed only when its grams vote MAJORITY
        // non-canonical (ties keep — prefer retaining text). A canonical
        // passage overlapped by another duplicated passage keeps its
        // exclusive-gram majority and survives VERBATIM (DedupSpec
        // property test); the trade is coarser granularity — a run that
        // merges a copied passage with mostly-canonical text can
        // out-vote the copy and keep it.
        occ.select(col("id"), col("pos"), col("_isCan"))
          .withColumn("_grp", col("pos") - row_number().over(w))
          .groupBy(col("id"), col("_grp"))
          .agg(min(col("pos")).as("_s"),
            (max(col("pos")) - min(col("pos")) + k).as("_len"),
            sum(when(col("_isCan"), 1L).otherwise(0L)).as("_canVotes"),
            count(lit(1)).as("_n"))
          .filter(col("_len") >= minSpanTokens &&
            col("_canVotes") * 2 < col("_n"))
      }
    val covered = spans
      .select(col("id"),
        explode(sequence(col("_s"), col("_s") + col("_len") - 1)).as("ti"))
      .distinct()
      .groupBy(col("id"))
      .agg(array_sort(collect_set(col("ti"))).as("_cov"))
    rewriteWithoutCovered(base, covered)
  }

  /** Corpus-level dedup: given documents and their near-dup pairs, keep
    * exactly one representative (min id) per duplicate cluster.
    */
  def dedupCorpus(df: DataFrame, idCol: String,
                  pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(
      df.select(col(idCol).as("id")), pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol))
      .filter(col(idCol) === col("label"))
      .drop("label")
  }

  /** Corpus-scale Hamming dedup over precomputed fingerprints — the
    * deployment recipe the ×1000 q109 analysis prescribes (SCALE.md):
    * exact-code grouping FIRST (code equality carries most duplicate
    * mass in a real corpus — one linear shuffle), then the pigeonhole-
    * blocked Hamming join over DISTINCT codes only, then connected
    * components over the code graph. Returns one row per input id:
    * (id, fp, canonical_id, kept), canonical = min id of the duplicate
    * cluster.
    *
    * Scale: the candidate-floor-prone blocked join ([[simHashPairsBlocked]]
    * scaladoc) sees |distinct codes| rows, not |corpus| — on a corpus
    * with heavy exact-dup mass that moves the floor from N to
    * N_distinct — and the OUTPUT is per-row, never a quadratic pair
    * list (a cluster of k exact copies contributes k rows, not k²/2
    * pairs). The fingerprint frame is persisted internally (it feeds the
    * code rollup and the final mapping join); lifetime:
    * [[graft.CacheScope]].
    */
  def hammingDedupCorpus(fps: DataFrame, idCol: String, fpCol: String,
                         maxHamming: Int, numBlocks: Int = -1): DataFrame = {
    val f = CacheScope.persist(fps.select(col(idCol).cast("long").as("id"),
        col(fpCol).cast("long").as("fp")))
    // distinct codes, each represented by its min id — the only rows the
    // Hamming join ever sees
    val codes = f.groupBy(col("fp")).agg(min(col("id")).as("cid"))
    val codePairs = simHashPairsBlocked(codes, "cid", "fp", maxHamming,
        fp = identity, numBlocks = numBlocks)
      .select(col("id_a"), col("id_b"))
    // components over code representatives: label = min cid in the
    // cluster = min id over every doc in the cluster (cid is already the
    // min id of its code)
    val comps = connectedComponents(codes.select(col("cid").as("id")),
      codePairs)
    f.join(codes, "fp")
      .join(comps.withColumnRenamed("id", "cid"), Seq("cid"))
      .select(col("id").as(idCol), col("fp"),
        col("label").as("canonical_id"),
        (col("id") === col("label")).as("kept"))
  }

  /** SimHash over whitespace tokens: per-bit majority vote of token hashes,
    * packed into a long. Pure Column algebra (aggregate over an array
    * accumulator) — codegen'd, shuffle-free. Token hashes are materialized
    * ONCE per token (transform) before the vote fold; inlining the hash in
    * the per-bit lambda would re-evaluate it `bits` times per token.
    */
  def simHash(text: Column, tokenHash: Column => Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 64, "bits in [1, 64]")
    // constant per-bit masks (1L<<63 wraps negative — bitwise ops only)
    val masks = array((0 until bits).map(i => lit(1L << i)): _*)
    val hashes = transform(TextAnalysis.tokens(text), tokenHash)
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit xxhash64 SimHash — the scale default (fastest token hash).
    * Native one-pass kernel ([[graft.plans.SimHashXx64Words]]); bit-equal
    * to the Column baseline `simHash(text, xxhash64(_), 64)` (DedupSpec).
    */
  def simHash64(text: Column): Column =
    graft.plans.SimHashExpressions.simHashXx64Words(text)

  /** 60-bit md5-derived SimHash: token hash = first 15 hex chars of md5 as
    * an integer — computable identically in any engine with md5 (DuckDB:
    * `CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)`), so results are
    * portable/oracle-checkable. 60 bits keeps the value in positive long
    * range on every engine. Native one-pass kernel
    * ([[graft.plans.SimHashMd5Words]]); bit-equal to [[simHashMd5Column]].
    */
  def simHashMd5(text: Column): Column =
    graft.plans.SimHashExpressions.simHashMd5Words(text)

  /** Column-algebra twin of [[simHashMd5]] — the correctness baseline the
    * native kernel is asserted against (DedupSpec).
    */
  def simHashMd5Column(text: Column): Column =
    simHash(text,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"), 60)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: fingerprint once per doc, then all-pairs
    * hamming check — the O(n²) correctness baseline for
    * [[simHashPairsBlocked]].
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int,
                   fp: Column => Column = simHash64): DataFrame = {
    val s = df.select(col(idCol).as("id"), fp(col(textCol)).as("fp"))
    val a = s.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val b = s.select(col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs via pigeonhole blocking — same output as
    * [[simHashPairs]], never all-pairs.
    *
    * Split the 64-bit fingerprint into `numBlocks` (default
    * `maxHamming + 1`) blocks: with `m` blocks and at most `maxHamming`
    * bit flips, at least `a = m − maxHamming` blocks are flip-free
    * (pigeonhole), so two matching fingerprints agree EXACTLY on at least
    * one of the `C(m, a)` a-block combinations. Candidates come from an
    * equi-join on (comboIdx, concatenated combo bits) — the shuffle
    * carries (int, long, id) rows, and each bucket holds documents
    * sharing one exact compound sub-fingerprint. An exact hamming check
    * then removes false positives, so the OUTPUT is identical for every
    * valid `numBlocks` — only the candidate count moves.
    *
    * The default (`m = maxHamming + 1`, a = 1, the classic single-block
    * scheme) is right for small radii: r=3 gives 16-bit blocks (65 k
    * bucket values). For LARGE radii it degrades — r=8 gives 7-bit
    * blocks, 128 bucket values, so bucket population grows ∝ corpus and
    * candidates ∝ corpus² (measured: the image-dedup query went
    * superlinear at 10× scale, p≈1.5). Raising `numBlocks` trades index
    * expansion C(m, a) per row for exponentially wider compound keys
    * (≈ 64·a/m bits) — the block-combination design of Manku et al.,
    * "Detecting Near-Duplicates for Web Crawling" (WWW'07), §3. The
    * default a=2 (r=8 → m=10, 45 combos/row, ~13-bit keys) measured
    * 22.2 s → 2.8 s on the 50 k-image near-dup query, with the candidate
    * curve flattened from ∝N²/2⁷ to ∝N²/2¹³; collisions that fail the
    * radius die in-flight (the fingerprint rides the index row), so only
    * true pairs ever reach an exchange.
    */
  def simHashPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int,
                          fp: Column => Column = simHash64,
                          bits: Int = 64,
                          numBlocks: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits, "maxHamming in [0, bits)")
    // default: classic single-block for small radii (r=3 already buckets
    // on 16 bits); for r ≥ 4, agree-on-2 combination blocking (measured
    // faster than agree-on-3: collisions die in-flight, so the smaller
    // index/sort wins), stepping a down only when C(r+a, a) would exceed
    // 512 rows/doc of index expansion.
    val m = if (numBlocks > 0) numBlocks
            else if (maxHamming <= 3) maxHamming + 1
            else {
              val a = (2 to 1 by -1).find { a =>
                (1 to a).map(i => (maxHamming + i).toLong)
                  .product / (1 to a).map(_.toLong).product <= 512
              }.getOrElse(1)
              maxHamming + a
            }
    require(m > maxHamming && m <= bits,
      s"numBlocks in (maxHamming, bits], got $m")
    val agree = m - maxHamming
    val combos = (0 until m).combinations(agree).map(_.toSeq).toSeq
    require(combos.size <= 1024,
      s"C($m, $agree) = ${combos.size} combos — pick a smaller numBlocks")
    val bounds = (0 to m).map(b => b * bits / m)
    // uniform per-block shift (max block width) keeps the compound-key
    // fold a constant-shift loop; key width = w·agree bits.
    val w = (bits + m - 1) / m
    require(agree == 1 || w * agree <= 63,
      s"compound key would overflow a long: $agree blocks × $w bits")
    val s = widen(df).select(col(idCol).as("id"), fp(col(textCol)).as("fp"))
    def blockVal(b: Int): Column = {
      val lo = bounds(b)
      val width = bounds(b + 1) - bounds(b)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("fp"), lo).bitwiseAND(mask)
    }
    // The combo table rides as ONE array literal (posexplode), and each
    // compound key folds over the row's precomputed block array — tiny
    // plan regardless of C(m, a). (An explode over C(m, a) per-combo
    // fold EXPRESSIONS compiles a combinatorially large projection:
    // measured 15 s of codegen at a 500-row scale for C(12, 4).)
    val keyed = s
      .withColumn("_blocks", array((0 until m).map(blockVal): _*))
      .select(col("id"), col("fp"), col("_blocks"),
        posexplode(typedlit(combos)).as(Seq("bidx", "_cmb")))
      .withColumn("bval", expr(
        s"aggregate(_cmb, 0L, (acc, b) -> shiftleft(acc, $w) | " +
          "element_at(_blocks, b + 1))"))
      .select("id", "fp", "bidx", "bval")
    // candidates verify in-flight (fp travels with the index row — 8
    // extra bytes beats two re-join hash joins and a cached corpus);
    // duplicates from multi-combo agreement drop in the final distinct.
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .withColumn("hamming", hamming64(col("a.fp"), col("b.fp")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .distinct()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.CacheScope
import graft.functions.TextAnalysis

/** Corpus-curation operators for training-data pipelines: benchmark
  * contamination detection, repetition/quality signals, TF-IDF keyword
  * extraction, incremental (snapshot-aware) dedup, deterministic stratified
  * quota sampling, and source-mixture planning.
  *
  * Scale design, per operator:
  *   - contamination: benchmark n-gram sets are small by construction (a
  *     benchmark is human-curated — thousands of documents, not billions),
  *     so the distinct benchmark-gram set is BROADCAST and the corpus side
  *     is a map-side hash probe: no corpus shuffle at all. Grams travel as
  *     xxhash64 8-byte keys, never strings (same argument as
  *     [[Dedup.hashedShingleSets]]: equality modulo 2^-65 collisions).
  *   - repetition signals: pure Column algebra over each document's own
  *     token array (sort + linear fold) — zero shuffle, embarrassingly
  *     parallel, stays inside whole-stage codegen.
  *   - TF-IDF: two hash-shuffles on bounded keys ((doc,term) then term);
  *     the document-frequency side aggregates to |vocab| rows before the
  *     re-join, and AQE picks broadcast when vocab is small.
  *   - incremental dedup: anti-join on 32-char digests, never bodies; the
  *     snapshot side is digest-only, so even a 100 TB corpus snapshot
  *     joins at ~32 bytes/doc.
  *   - quota sampling: per-group top-k by a deterministic hash order;
  *     Spark plans rank-filter windows as two-phase WindowGroupLimit
  *     (partial per-partition top-k before the shuffle), so the shuffle
  *     carries at most k rows per group per input partition.
  *   - mixture planning: one partial-aggregated groupBy to |sources| rows,
  *     totals via a bounded single-partition window over that rollup —
  *     driver never sees row data, nothing cached.
  */
object Curation {

  // ------------------------------------------------------------------
  // Benchmark contamination
  // ------------------------------------------------------------------

  /** Flags corpus documents whose word n-grams overlap a benchmark set —
    * the standard train/test contamination check run before training on
    * scraped corpora (n-gram collision against eval benchmarks).
    *
    * Returns one row per corpus document that shares at least one n-gram
    * with the benchmark: (id, n_shingles, n_overlap, overlap_ratio,
    * contaminated), where `contaminated` flags ratio >= `flagThreshold`.
    *
    * The benchmark's distinct grams are broadcast (see object scaladoc);
    * the corpus never shuffles — each partition probes the broadcast set
    * and partial-aggregates its own per-doc hit counts.
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          flagThreshold: Double): DataFrame = {
    val corpusSets = Dedup.hashedShingleSets(corpus, idCol, textCol, n)
    val benchGrams = Dedup.hashedShingleSets(bench, idCol, textCol, n)
      .select(explode(col("shingles")).as("g")).distinct()
    val hits = corpusSets
      .select(col("id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("g"))
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy("id", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
    val ratio = col("n_overlap").cast("double") /
      greatest(col("n_shingles"), lit(1)).cast("double")
    hits.select(col("id"), col("n_shingles"), col("n_overlap"),
      round(ratio, 6).as("overlap_ratio"),
      (ratio >= lit(flagThreshold)).as("contaminated"))
  }

  /** Folds the benchmark's distinct word n-grams into an `mBits`-wide
    * Bloom bit array, DISTRIBUTED: each benchmark row emits its grams' k
    * md5-60-bit positions ([[graft.plans.BloomGramPositions]]), and a
    * `bit_or` rollup over 64-bit word indexes assembles the array — the
    * driver collects at most mBits/64 longs (32 KB at 2^18, 16 MB at a
    * production 2^27 sized for ~10^7 benchmark grams at ~1% FP), never a
    * gram, a position row, or anything proportional to benchmark size.
    */
  def bloomContaminationBits(bench: DataFrame, textCol: String,
                             n: Int = 4, mBits: Int = 1 << 22,
                             k: Int = 3): Array[Long] =
    bloomBitsFromWordRows(
      bloomWordRows(bench, textCol, n, mBits, k).collect()
        .map(r => (r.getInt(0), r.getLong(1))), mBits)

  /** The Bloom array as its SPARSE relational form — one `(w, bits)` row
    * per non-zero 64-bit word. This is the store/merge shape: two word
    * tables OR-merge with `union → groupBy(w) → bit_or`, which is how the
    * streaming loop folds benchmark updates in without ever rebuilding
    * from raw text ([[graft.streaming.StreamingPipeline.bloomDecontamStream]]).
    */
  def bloomWordRows(bench: DataFrame, textCol: String,
                    n: Int = 4, mBits: Int = 1 << 22,
                    k: Int = 3): DataFrame = {
    require(mBits >= 64 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    val pos = ColumnBridge.column(graft.plans.BloomGramPositions(
      ColumnBridge.expression(col(textCol)), n, k, mBits))
    bench.select(explode(pos).as("pos"))
      .selectExpr("CAST(pos DIV 64 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS b")
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
  }

  /** Densify collected `(w, bits)` word rows into the probe's array. */
  def bloomBitsFromWordRows(rows: Seq[(Int, Long)],
                            mBits: Int): Array[Long] = {
    val arr = new Array[Long](mBits / 64)
    rows.foreach { case (w, b) => arr(w) = b }
    arr
  }

  /** Bloom-filter form of [[contaminationReport]] — the 100 TB default.
    *
    * The exact report explodes the corpus into gram rows, joins the
    * broadcast benchmark gram set, and re-aggregates per document; this
    * form replaces all of that with ONE map-only projection: each corpus
    * document tests its own distinct grams against the benchmark's Bloom
    * bit array (k bit tests per gram, [[graft.plans.BloomNgramProbe]])
    * inside whole-stage codegen — no explode, no join, no shuffle, and
    * the "broadcast" is a bit array of mBits/8 bytes instead of 8 bytes
    * per benchmark gram.
    *
    * Bloom guarantees: NO false negatives — every document the exact
    * report flags is flagged here at the same threshold (hit counts can
    * only grow); false positives at ≈ (1−e^(−k·g/m))^k per gram add
    * spurious hits, so at sane sizing the flagged set is a small superset
    * and the operator serves as the cheap first pass that routes only
    * flagged documents into the exact gram join. Emits EVERY corpus
    * document (id, n_shingles, n_bloom_hits, hit_ratio, contaminated) —
    * unlike the exact report, which inner-joins away zero-overlap docs —
    * because the map-only form pays nothing to keep them.
    */
  def bloomContaminationReport(corpus: DataFrame, bench: DataFrame,
                               idCol: String, textCol: String,
                               n: Int = 4, mBits: Int = 1 << 22,
                               k: Int = 3,
                               flagThreshold: Double = 0.05): DataFrame =
    bloomProbeReport(corpus,
      bloomContaminationBits(bench, textCol, n, mBits, k),
      idCol, textCol, n, mBits, k, flagThreshold)

  /** The probe half of [[bloomContaminationReport]], against an
    * already-built bit array — the shape the streaming loop uses, where
    * the array comes from the store rather than a batch-side build.
    */
  def bloomProbeReport(corpus: DataFrame, bits: Array[Long],
                       idCol: String, textCol: String,
                       n: Int, mBits: Int, k: Int,
                       flagThreshold: Double): DataFrame = {
    val stats = ColumnBridge.column(graft.plans.BloomNgramProbe(
      ColumnBridge.expression(col(textCol)), n, k, mBits, bits))
    val ratio = col("n_bloom_hits").cast("double") /
      greatest(col("n_shingles"), lit(1)).cast("double")
    corpus
      .select(col(idCol).as("id"), stats.as("_bp"))
      .select(col("id"),
        element_at(col("_bp"), 1).as("n_shingles"),
        element_at(col("_bp"), 2).as("n_bloom_hits"))
      .select(col("id"), col("n_shingles"), col("n_bloom_hits"),
        round(ratio, 6).as("hit_ratio"),
        (ratio >= lit(flagThreshold)).as("contaminated"))
  }

  // ------------------------------------------------------------------
  // Repetition / diversity signals (Gopher-style quality rules)
  // ------------------------------------------------------------------

  /** Count of the most frequent element in a (string) array column —
    * computed as the longest run in the sorted array via a linear
    * `aggregate` fold. Pure Column algebra: no explode, no shuffle.
    */
  def topElementCount(arr: Column): Column = {
    val init = struct(
      lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    aggregate(
      array_sort(arr), init,
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Per-document repetition signals: token count, distinct-token (type/
    * token) ratio, most-frequent-token share, most-frequent-bigram share,
    * plus a composite `repetitive` flag. The Gopher/FineWeb family of
    * repetition filters, as one shuffle-free projection.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        minDistinctRatio: Double = 0.35,
                        maxTopTokenFrac: Double = 0.13): DataFrame = {
    val base = df.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        TextAnalysis.shinglesOfTokens(col("_toks"), 2).as("_bigrams"))
    val n = greatest(size(col("_toks")), lit(1)).cast("double")
    val nBi = greatest(size(col("_bigrams")), lit(1)).cast("double")
    val distinctRatio = size(array_distinct(col("_toks"))).cast("double") / n
    val topTokFrac = topElementCount(col("_toks")).cast("double") / n
    val topBiFrac = topElementCount(col("_bigrams")).cast("double") / nBi
    base.select(col(idCol),
      size(col("_toks")).as("n_tokens"),
      round(distinctRatio, 6).as("distinct_ratio"),
      round(topTokFrac, 6).as("top_token_frac"),
      round(topBiFrac, 6).as("top_bigram_frac"),
      (distinctRatio < lit(minDistinctRatio) ||
        topTokFrac > lit(maxTopTokenFrac)).as("repetitive"))
  }

  /** Gopher-style document STOP RULES as one shuffle-free projection:
    * the doc-level keep/drop battery (Rae et al. 2021 "Scaling Language
    * Models" §A1.1; FineWeb keeps the same shape) — word-count bounds,
    * mean-word-length window, minimum type/token diversity, and a
    * minimum stop-word fraction (real prose contains function words;
    * keyword-stuffed or boilerplate text does not). Emits every metric,
    * every per-rule verdict, and the composite `keep` — pipelines filter
    * on `keep` but LOG the rule columns (knowing WHY mass was dropped is
    * what makes threshold tuning possible at corpus scale).
    *
    * Defaults are the paper's; pass corpus-appropriate bounds (the q125
    * gate tunes them to its synthetic corpus so every rule exercises
    * both verdicts). All metrics are exact-integer ratios evaluated in
    * one fixed expression shape — deterministic across engines and
    * partitionings. Scale: map-only (no explode, no shuffle); the token
    * array lives once per row in the projection.
    */
  /** Trained quality-classifier INFERENCE — the DCLM/FineWeb-Edu rung
    * above rule thresholds (gopher) and LM perplexity (CE): a logistic
    * model over a FIXED five-feature token-stat vector, scored map-only
    * over the corpus. Training happens offline (the model is
    * deployment config, like the payment-gateway rule tables); this is
    * the distributed batch-inference half, which is the part that must
    * scale.
    *
    * Feature vector (in weight order — the dot product folds
    * left-associatively, so scores are bit-reproducible and the q153
    * oracle replays them closed-form):
    *   f1 = ln(1 + n_tokens)          (length, log-damped)
    *   f2 = mean token length          (chars / tokens)
    *   f3 = ASCII-punctuation ratio    (chars)
    *   f4 = digit ratio                (chars)
    *   f5 = type-token ratio           (distinct / total tokens)
    * score = sigmoid(bias + w·f), label = score >= threshold.
    *
    * Scale: one projection — no shuffle, no join, no window; the model
    * rides in the plan as literals. A 30-feature fastText-style bag
    * would add a vocabulary join (the q120 DSIR shape); this fixed
    * vector is deliberately join-free.
    */
  def logisticQuality(df: DataFrame, idCol: String, textCol: String,
                      weights: Seq[Double], bias: Double,
                      threshold: Double = 0.5): DataFrame = {
    require(weights.length == 5,
      s"logisticQuality scores the fixed 5-feature vector, " +
        s"got ${weights.length} weights")
    val toks = TextAnalysis.tokens(col(textCol))
    val base = df.select(col(idCol), col(textCol), toks.as("_toks"))
    val n = size(col("_toks"))
    val nD = greatest(n, lit(1)).cast("double")
    val chD = greatest(length(col(textCol)), lit(1)).cast("double")
    val f1 = log(lit(1.0) + n.cast("double"))
    val f2 = aggregate(transform(col("_toks"), t => length(t)),
      lit(0L), (acc, x) => acc + x.cast("long")).cast("double") / nD
    val f3 = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[\\p{Punct}]", "")))
      .cast("double") / chD
    val f4 = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[0-9]", "")))
      .cast("double") / chD
    val f5 = size(array_distinct(col("_toks"))).cast("double") / nD
    val z = Seq(f1, f2, f3, f4, f5).zip(weights)
      .foldLeft(lit(bias)) { case (acc, (f, w)) => acc + lit(w) * f }
    base.select(col(idCol), n.cast("long").as("n_tokens"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
      .withColumn("label", col("score") >= threshold)
  }

  /** [[logisticQuality]]'s scoring head over CALLER-CHOSEN feature
    * columns — the fusion surface: any signal that is already a column
    * on the row (a q23/q156 langid prediction flag, q125 gopher ratios,
    * q98 cross-entropy) becomes a classifier feature without a new
    * operator. Same left-associative dot product + sigmoid (scores
    * bit-reproducible), same scale shape: a map-only projection, no
    * shuffle, no join — whatever joins produced the features have
    * already happened upstream, where their operators own the plan.
    */
  def logisticScore(df: DataFrame, idCol: String,
                    featureCols: Seq[String], weights: Seq[Double],
                    bias: Double, threshold: Double = 0.5): DataFrame = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(featureCols.length == weights.length,
      s"${featureCols.length} features but ${weights.length} weights")
    val z = featureCols.zip(weights).foldLeft(lit(bias)) {
      case (acc, (f, w)) => acc + lit(w) * col(f).cast("double")
    }
    df.select((col(idCol) +: featureCols.map(col)) :+
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"): _*)
      .withColumn("label", col("score") >= threshold)
  }

  def gopherQualityFilter(df: DataFrame, idCol: String, textCol: String,
                          minWords: Int = 50, maxWords: Int = 100000,
                          minMeanWordLen: Double = 3.0,
                          maxMeanWordLen: Double = 10.0,
                          minUniqueFrac: Double = 0.2,
                          minStopwordFrac: Double = 0.0,
                          stopwords: Seq[String] =
                            Seq("the", "a", "and", "of", "to", "in", "is",
                              "for", "on", "with")): DataFrame = {
    val base = df.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("_toks"))
    val n = size(col("_toks"))
    val nD = greatest(n, lit(1)).cast("double")
    val sw = array(stopwords.map(lit): _*)
    val meanLen = aggregate(transform(col("_toks"), t => length(t)),
      lit(0L), (acc, x) => acc + x.cast("long")).cast("double") / nD
    val uniqueFrac = size(array_distinct(col("_toks"))).cast("double") / nD
    val stopFrac = size(filter(col("_toks"),
      t => array_contains(sw, t))).cast("double") / nD
    val okWords = n >= minWords && n <= maxWords
    val okLen = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val okUnique = uniqueFrac >= minUniqueFrac
    val okStop = stopFrac >= minStopwordFrac
    base.select(col(idCol),
      n.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(uniqueFrac, 6).as("unique_frac"),
      round(stopFrac, 6).as("stopword_frac"),
      okWords.as("ok_words"), okLen.as("ok_word_len"),
      okUnique.as("ok_unique"), okStop.as("ok_stopwords"),
      (okWords && okLen && okUnique && okStop).as("keep"))
  }

  // ------------------------------------------------------------------
  // Duplicated-span diagnostic (corpus-level duplication rate)
  // ------------------------------------------------------------------

  /** Per-document fraction of word-n-gram spans that also occur in at
    * least one OTHER document — the corpus-duplication diagnostic that
    * complements pairwise dedup (a doc can be stitched from popular
    * fragments without having any single near-duplicate). Flags docs
    * whose duplicated fraction exceeds `flagThreshold`.
    *
    * Scale: spans travel as 8-byte hashes ([[Dedup.hashedShingleSets]]);
    * the duplicated-span set is a groupBy on those hashes (count distinct
    * docs >= 2) re-joined span-to-span — two bounded-key shuffles, AQE
    * picks the join strategy. Never materializes text after the scan.
    */
  def duplicatedSpanFraction(df: DataFrame, idCol: String, textCol: String,
                             n: Int, flagThreshold: Double): DataFrame = {
    val spans = Dedup.hashedShingleSets(df, idCol, textCol, n)
      .select(col("id"), explode(col("shingles")).as("h"))
    val dupSpans = spans.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("h"), lit(true).as("_dup"))
    val frac = col("n_dup_spans").cast("double") /
      greatest(col("n_spans"), lit(1)).cast("double")
    spans.join(dupSpans, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        count_if(col("_dup")).as("n_dup_spans"))
      .select(col("id"), col("n_spans"), col("n_dup_spans"),
        round(frac, 6).as("dup_fraction"),
        (frac >= lit(flagThreshold)).as("mostly_duplicated"))
  }

  // ------------------------------------------------------------------
  // TF-IDF keyword extraction
  // ------------------------------------------------------------------

  /** The highest-TF-IDF term of each document (smooth idf:
    * ln((N+1)/(df+1)) + 1, sklearn's formulation), ties broken by the
    * lexicographically smallest term. Two bounded-key shuffles; see the
    * object scaladoc for the 100 TB argument. Cache lifetime:
    * [[graft.CacheScope]].
    */
  def topTfidfTerm(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val terms = df.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
    // persisted: tf feeds BOTH branches; a window-by-term alternative
    // would avoid the cache but loses map-side combine and puts every
    // (doc, term) row of a hot term on one reducer — worse at scale
    val tf = CacheScope.persist(terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")))
    // one row per (doc, term) already, so df(term) = count of rows
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(dfT, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          (log((col("n_docs").cast("double") + 1d) /
            (col("doc_freq").cast("double") + 1d)) + 1d))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col(idCol), col("term").as("top_term"), col("tf"),
        round(col("score"), 6).as("tfidf"))
  }

  /** Byte ceiling for broadcasting the unigram model into the scoring
    * join: the smaller of 512 MB and an eighth of the driver heap. The
    * hint bypasses `autoBroadcastJoinThreshold`, so the ceiling must be
    * a MEASURED size, not a row count — a hash-polluted or binary-token
    * "vocabulary" with huge terms could fit 2²² rows yet dwarf the
    * driver. The estimate is the summed UTF-8 term bytes plus a
    * per-row constant for the hashed-relation row overhead; above the
    * ceiling the join falls back to shuffle (correct, just slower).
    */
  private val BroadcastVocabMaxBytes: Long =
    math.min(512L << 20, Runtime.getRuntime.maxMemory() / 8)

  /** Per-row overhead (bytes) of a broadcast hashed-relation entry on
    * top of the raw term bytes: UnsafeRow header + long cf + hash-map
    * slot, rounded up generously.
    */
  private val BroadcastRowOverhead = 48L

  /** Per-document unigram cross-entropy against the corpus's own
    * unigram distribution — the perplexity-style quality signal (the
    * CCNet/KenLM filter family, with the corpus itself as the LM):
    * ce(doc) = -(1/dl) Σ_t tf_t · ln(cf_t / T), where cf_t is the
    * corpus frequency of term t and T the corpus token count. Low ce =
    * stereotypical/repetitive text, high ce = rare-token-heavy text;
    * both tails are the usual filter targets.
    *
    * Scale: two bounded-key shuffles — (doc, term) tf with map-side
    * combine, then an equi-join on term against the corpus-frequency
    * table (vocabulary-sized, NOT broadcast — vocab grows with the
    * corpus). Corpus total rides a one-row broadcast. No smoothing
    * needed: every scored term exists in the corpus by construction.
    *
    * Determinism (oracle parity): tf/cf/T are exact longs; ln on a
    * double ratio matches the oracle bit-for-bit (the q93 primitive);
    * and the per-doc sum folds term contributions IN TERM ORDER
    * (sorted-array sequential fold), so no float reduction depends on
    * row order or partitioning.
    */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // PERSISTED: tf feeds the scored join, the corpus-frequency rollup,
    // and (through cf) the corpus total — uncached, the corpus would
    // tokenize three times. Lifetime: [[graft.CacheScope]].
    val tf = CacheScope.persist(docTermFreq(df, idCol, textCol))
    val cf = unigramLmOfTf(tf)
    // One bounded job up front: vocabulary size + corpus total. The total
    // then rides as a LITERAL (no crossJoin stage), and a bounded
    // vocabulary makes the model side an explicit BROADCAST — without it
    // the scoring join sort-merge-shuffles the corpus-sized tf frame on
    // skewed term keys (the ×1000 soak measured q98 at p = 1.63; the
    // model is vocabulary-sized and belongs on the map side, the same
    // lesson as the IVF cell join and the incremental-dedup store probe).
    val stats = cf.agg(count(lit(1)).as("v"), sum(col("cf")).as("t"),
      sum(octet_length(col("term"))).as("b")).head()
    val vocabN = stats.getLong(0)
    val tTotal = if (stats.isNullAt(1)) 0.0 else stats.getLong(1).toDouble
    val termBytes = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    val estBytes = termBytes + vocabN * BroadcastRowOverhead
    val cfSide = if (estBytes <= BroadcastVocabMaxBytes) broadcast(cf) else cf
    val scored = tf.join(cfSide, "term")
      .withColumn("_nll", col("tf").cast("double") *
        -log(col("cf").cast("double") / lit(tTotal)))
    scored.groupBy(col("id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("_nll")))),
          lit(0.0), (acc, s) => acc + s.getField("_nll")).as("_sum"))
      .select(col("id"), col("dl").as("n_tokens"), col("n_terms"),
        round(col("_sum") / col("dl"), 6).as("ce"))
  }

  /** Per-doc BIGRAM cross-entropy vs the corpus's own add-one bigram LM
    * — the next-order member of the perplexity-filter family (q98
    * unigram, q101 frozen-unigram): real CCNet/KenLM filters are n-gram
    * LMs, and the bigram order separates "rare words" (which unigram CE
    * already prices) from "implausible word ORDER" — the signal that
    * catches template spam and shuffled text that unigram statistics
    * cannot see.
    *
    * Model: P(r | l) = (c(l,r) + 1) / (c(l,·) + V + 1) — add-one over
    * the V-word corpus vocabulary plus one pooled OOV class (the q101
    * convention), c(l,·) the corpus count of bigrams with left context
    * l. CE = Σ −ln P over the doc's bigrams / the doc's bigram count.
    * Documents with fewer than two tokens are KEPT with n_bigrams = 0,
    * ce = 0 (the q140 zero-token discipline).
    *
    * Scale shape: one tokenize + bigram explode into a (doc, l, r)
    * partial-agg shuffle; the LM (bigram table joined with its
    * left-context totals) is model-sized and BROADCAST into the scoring
    * join under the measured-bytes ceiling ([[BroadcastVocabMaxBytes]]
    * — the q98 lesson: the model belongs on the map side, else the
    * scoring join sort-merge-shuffles the corpus on skewed term keys);
    * above the ceiling it falls back to shuffle, correct just slower.
    * Determinism: exact long counts, ln on double ratios, per-doc sum
    * folded in (l, r) order — no float reduction depends on row order.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = df.select(col(idCol).as("id"),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("id"), size(col("_toks")).as("dl"), col("_toks"))
    // PERSISTED: one tokenize pass feeds EVERYTHING downstream. Each doc
    // emits its bigrams PLUS one sentinel row (l = last token, r = NULL;
    // dl == 0 docs emit a single all-NULL sentinel), so the persisted
    // table carries (a) the bigram stats, (b) the full vocabulary — every
    // token of every doc appears as an `l` (positions 1..dl-1 as bigram
    // lefts, position dl as the sentinel), and (c) the complete (id, dl)
    // doc roster for the final left join. Previously the vocabulary job
    // and the final join each re-tokenized the corpus (three scans total);
    // now the corpus is scanned once. Lifetime: [[graft.CacheScope]].
    // (r17 negative result, kept for the record: computing the per-doc
    // tf by sorting each doc's bigram array and run-length encoding it
    // — removing this groupBy exchange outright — measured SLOWER: the
    // per-row array_sort cost ~+230 ms on the tokenize stage against a
    // 5 MB shuffle saved, both as structs and as concatenated strings.
    // The hash aggregate + exchange is the cheaper tf path at every
    // scale where CPU dominates the bigram-sized shuffle.)
    val edges = CacheScope.persist(base
      .select(col("id"), col("dl"),
        explode(when(col("dl") >= 1,
          expr("transform(sequence(1, size(_toks)), i -> " +
            "struct(element_at(_toks, i) AS l, " +
            "CASE WHEN i < size(_toks) THEN element_at(_toks, i + 1) " +
            "END AS r))"))
          .otherwise(array(struct(
            lit(null).cast("string").as("l"),
            lit(null).cast("string").as("r"))))).as("b"))
      .select(col("id"), col("dl"), col("b.l").as("l"), col("b.r").as("r"))
      .groupBy(col("id"), col("dl"), col("l"), col("r"))
      .agg(count(lit(1)).as("tf")))
    // real bigram rows: sentinel rows have r NULL and can never collide
    // with a bigram group key
    val bg = edges.filter(col("r").isNotNull)
    // PERSISTED (r17): bf is consumed three times — the size-stats head,
    // the model's bigram side, and the model's left-context rollup —
    // each of which otherwise re-scans the edges cache and redoes the
    // (l, r) aggregation. Vocabulary-sized, dropped with edges.
    val bf = CacheScope.persist(
      bg.groupBy(col("l"), col("r")).agg(sum(col("tf")).as("bf")))
    val model = bf.join(
      bf.groupBy(col("l")).agg(sum(col("bf")).as("lcnt")), "l")
    // vocabulary size off the persisted edges (no corpus re-scan): every
    // token appears as an `l` thanks to the last-token sentinel rows.
    // ONE bounded job (r17: the former two head() actions fused): the
    // model-size stats are computed from bf, which matches the model
    // row-for-row (model is bf inner-joined to its own left-context
    // rollup — a 1:1 match by construction).
    val stats = edges.filter(col("l").isNotNull)
      .agg(countDistinct(col("l")).as("v"))
      .crossJoin(bf.agg(count(lit(1)).as("n"),
        sum(octet_length(col("l")) + octet_length(col("r"))).as("b")))
      .head()
    val vocabN = stats.getLong(0)
    val estBytes = (if (stats.isNullAt(2)) 0L else stats.getLong(2)) +
      stats.getLong(1) * BroadcastRowOverhead
    val modelSide =
      if (estBytes <= BroadcastVocabMaxBytes) broadcast(model) else model
    val scored = bg.join(modelSide, Seq("l", "r"))
      .withColumn("_nll", col("tf").cast("double") *
        -log((col("bf").cast("double") + 1.0) /
          (col("lcnt").cast("double") + vocabN.toDouble + 1.0)))
    // order-stable per-doc sum: one array of the doc's DISTINCT bigrams
    // per group. BOUND: array size <= doc length (a doc of n tokens has
    // at most n-1 distinct bigrams), so the group payload is the
    // document itself re-expressed — a single pathological multi-GB doc
    // would concentrate in one task, but such a doc already concentrates
    // at ingest/tokenize; corpus pipelines cap doc length upstream
    // (gopher maxWords). The quantized-long alternative (VectorSumLong)
    // trades this bound for fixed-point rounding in a SCORE — not worth
    // it while the bound is the doc itself.
    val perDoc = scored.groupBy(col("id"), col("dl"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("l"), col("r"), col("_nll")))),
        lit(0.0), (acc, s) => acc + s.getField("_nll")).as("_sum"))
      .select(col("id"),
        round(col("_sum") / (col("dl") - 1).cast("double"), 6).as("ce"))
    // doc roster = the sentinel rows: EXACTLY one per doc by
    // construction (the i == dl branch for dl >= 1, the all-NULL row
    // for dl == 0) — a filter on the cache, no distinct shuffle
    edges.filter(col("r").isNull).select(col("id"), col("dl"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("dl").cast("long").as("n_tokens"),
        greatest(col("dl") - 1, lit(0)).cast("long").as("n_bigrams"),
        coalesce(col("ce"), lit(0.0)).as("ce"))
  }

  /** Builds a frozen unigram LM snapshot from a corpus: one row per
    * term with its corpus frequency. Write this table out (parquet) and
    * score future batches against it with
    * [[unigramCrossEntropyAgainst]] — the deployment shape of the
    * CCNet/KenLM perplexity filter, where the reference model is
    * trained once on a trusted corpus and incoming crawls are scored
    * against it for months.
    *
    * Scale: one bounded-key shuffle (term) with map-side combine; the
    * result is vocabulary-sized, not corpus-sized.
    */
  def unigramLm(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))

  /** (id, dl, term, tf) doc-term frequencies — the shared tokenize+rollup
    * stage of the CE scorers and LM building. Streaming callers compute
    * this ONCE per micro-batch and feed both the scorer
    * ([[unigramCrossEntropyAgainstTf]]) and the LM delta
    * ([[unigramLmOfTf]]) — one tokenization, not two.
    */
  private[graft] def docTermFreq(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("id"), size(col("_toks")).as("dl"),
        explode(col("_toks")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** [[unigramLm]] from an already-computed [[docTermFreq]] frame. */
  private[graft] def unigramLmOfTf(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))

  /** Merges new counts into a frozen LM snapshot: (term, cf) ∪ (term,
    * cf) → summed per term. Counts are exact longs, so LM maintenance
    * is associative and order-free — ingest daily deltas in any order
    * and the snapshot equals [[unigramLm]] over the concatenated
    * corpus. One vocabulary-keyed shuffle with map-side combine; state
    * is vocab-sized (sublinear in the corpus — Heaps' law), never
    * corpus-sized.
    */
  def unigramLmMerge(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.select(col("term"), col("cf"))
      .unionByName(delta.select(col("term"), col("cf")))
      .groupBy(col("term")).agg(sum(col("cf")).as("cf"))

  /** Scores a batch against a FROZEN unigram LM (a `(term, cf)` table
    * from [[unigramLm]]) rather than against the batch's own
    * distribution ([[unigramCrossEntropy]]). The two differ exactly
    * when it matters: an incoming batch contains terms the LM has never
    * seen, where the unsmoothed ln(cf/T) is undefined. Smoothing is
    * add-k over V+1 classes (the LM vocabulary plus one shared
    * out-of-vocabulary class):
    *
    *   P(t) = (cf_t + k) / (T + k·(V+1)),  cf_t = 0 for unseen t
    *
    * so every unseen term gets the same small probability
    * k / (T + k·(V+1)), and the distribution still sums to ≤ 1 over
    * the V seen classes plus the pooled OOV class. ce(doc) =
    * -(1/dl) Σ_t tf_t · ln P(t); `oov_terms`/`oov_tokens` report how
    * much of the document the OOV class absorbed (a high-OOV doc's ce
    * is mostly the smoothing floor — filter pipelines typically gate on
    * both).
    *
    * Scale: the batch tokenizes once ((id, term) tf with map-side
    * combine); the LM is equi-JOINED on term, not broadcast — a frozen
    * LM over a web-scale corpus is itself millions of rows and grows
    * with its training corpus. T and V ride a one-row broadcast.
    * Determinism: tf/cf/T/V are exact longs, k is a caller constant;
    * the per-doc sum folds IN TERM ORDER (the [[unigramCrossEntropy]]
    * recipe), so results are partitioning-invariant.
    */
  def unigramCrossEntropyAgainst(batch: DataFrame, lm: DataFrame,
                                 idCol: String, textCol: String,
                                 addK: Double = 1.0): DataFrame =
    unigramCrossEntropyAgainstTf(docTermFreq(batch, idCol, textCol), lm,
      addK)

  /** [[unigramCrossEntropyAgainst]] over an already-computed
    * [[docTermFreq]] frame (streaming callers share it with the LM
    * delta).
    */
  private[graft] def unigramCrossEntropyAgainstTf(tf: DataFrame,
                                                  lm: DataFrame,
                                                  addK: Double): DataFrame = {
    require(addK > 0.0, s"addK must be > 0 (got $addK): unseen terms " +
      "need nonzero probability mass")
    // coalesce: an EMPTY LM (first batch of a stream) sums to null;
    // with T=0, V=0 the smoothed P(t) = k/k = 1 for every term — ce 0,
    // everything OOV — which is the honest score against no model
    val stats = lm.agg(coalesce(sum(col("cf")), lit(0L)).as("t_total"),
      count(lit(1)).as("v_size"))
    val denom = col("t_total").cast("double") +
      lit(addK) * (col("v_size").cast("double") + lit(1.0))
    val scored = tf.join(lm.select(col("term"), col("cf")), Seq("term"),
        "left")
      .crossJoin(broadcast(stats))
      .withColumn("_oov", col("cf").isNull)
      .withColumn("_p",
        (coalesce(col("cf"), lit(0L)).cast("double") + lit(addK)) / denom)
      .withColumn("_nll", col("tf").cast("double") * -log(col("_p")))
    scored.groupBy(col("id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("_oov"), lit(1L)).otherwise(lit(0L)))
          .as("oov_terms"),
        sum(when(col("_oov"), col("tf")).otherwise(lit(0L)))
          .as("oov_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("_nll")))),
          lit(0.0), (acc, s) => acc + s.getField("_nll")).as("_sum"))
      .select(col("id"), col("dl").as("n_tokens"), col("n_terms"),
        col("oov_terms"), col("oov_tokens"),
        round(col("_sum") / col("dl"), 6).as("ce"))
  }

  /** DSIR-style importance weighting for data selection (the public
    * "Data Selection for Language Models via Importance Resampling"
    * recipe, Xie et al. 2023, in its unigram instantiation): each
    * candidate document is scored by how much better a TARGET-domain
    * unigram LM explains it than the candidate corpus's own LM, in log
    * space:
    *
    *   logw(d) = Σ_t tf_t · (ln P_tgt(t) − ln P_raw(t))
    *           = dl · (ce_raw(d) − ce_target(d))
    *
    * Both scorings share [[unigramCrossEntropyAgainst]]'s add-k
    * smoothing over V+1 classes, so terms OOV to the target LM pull
    * logw down by the smoothing floor instead of −∞ (`tgt_oov_tokens`
    * reports how much of each doc that floor absorbed). `keep` gates on
    * the rounded logw ≥ 0 — "at least as target-like as raw-average", a
    * deterministic threshold form of the paper's importance resampling;
    * callers wanting the sampled form feed `log_weight` to a Gumbel
    * top-k.
    *
    * Scale: candidates tokenize ONCE — the persisted [[docTermFreq]]
    * frame feeds the raw-LM rollup and both scoring joins (lifetime:
    * [[graft.CacheScope]]); each LM is vocabulary-sized, not
    * corpus-sized; the final join is doc-keyed between two doc-level
    * aggregates. Nothing downstream of tf scales with token count.
    */
  def dsirImportance(candidates: DataFrame, target: DataFrame,
                     idCol: String, textCol: String,
                     addK: Double = 1.0): DataFrame = {
    val tf = CacheScope.persist(docTermFreq(candidates, idCol, textCol))
    // FUSED single scoring pass (r17, guide §1.2): the two
    // unigramCrossEntropyAgainstTf calls each re-scanned the tf cache,
    // re-joined on term, and ran their own per-doc rollup, then met in a
    // doc-keyed join. Both scores are functions of the SAME tf rows, and
    // terms are unique per doc (tf groups on (id, dl, term)), so one
    // term-join against both vocabulary-sized LMs and ONE rollup with
    // two independently-sorted folds computes both CE columns — each
    // fold sees exactly the rows, structs, and (term-sorted) order of
    // its two-pass counterpart, so the doubles are bit-identical.
    val tgtLm = unigramLm(target, textCol)
    val rawLm = unigramLmOfTf(tf)
    def lmStats(lm: DataFrame, t: String, v: String) =
      lm.agg(coalesce(sum(col("cf")), lit(0L)).as(t),
        count(lit(1)).as(v))
    def denom(t: String, v: String) = col(t).cast("double") +
      lit(addK) * (col(v).cast("double") + lit(1.0))
    val scored = tf
      .join(tgtLm.select(col("term"), col("cf").as("_tcf")), Seq("term"),
        "left")
      .join(rawLm.select(col("term"), col("cf").as("_rcf")), Seq("term"),
        "left")
      .crossJoin(broadcast(lmStats(tgtLm, "_tt", "_tv")))
      .crossJoin(broadcast(lmStats(rawLm, "_rt", "_rv")))
      .withColumn("_oov", col("_tcf").isNull)
      .withColumn("_nt", col("tf").cast("double") * -log(
        (coalesce(col("_tcf"), lit(0L)).cast("double") + lit(addK)) /
          denom("_tt", "_tv")))
      .withColumn("_nr", col("tf").cast("double") * -log(
        (coalesce(col("_rcf"), lit(0L)).cast("double") + lit(addK)) /
          denom("_rt", "_rv")))
    scored.groupBy(col("id"), col("dl"))
      .agg(
        sum(when(col("_oov"), col("tf")).otherwise(lit(0L)))
          .as("tgt_oov_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("_nt")))),
          lit(0.0), (acc, s) => acc + s.getField("_nt")).as("_st"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("_nr")))),
          lit(0.0), (acc, s) => acc + s.getField("_nr")).as("_sr"))
      .select(col("id"), col("dl").as("n_tokens"), col("tgt_oov_tokens"),
        round(col("_st") / col("dl"), 6).as("ce_target"),
        round(col("_sr") / col("dl"), 6).as("ce_raw"))
      .withColumn("log_weight",
        round(col("n_tokens") * (col("ce_raw") - col("ce_target")), 6))
      .withColumn("keep", col("log_weight") >= 0)
  }

  // ------------------------------------------------------------------
  // Incremental dedup against a corpus snapshot
  // ------------------------------------------------------------------

  /** Dedups an incoming batch against an already-ingested corpus snapshot:
    * keeps one (min-id) row per distinct content hash that does NOT already
    * exist in the snapshot. The daily-increment form of [[Dedup.exact]] —
    * no rescan of the historical corpus, just its digest set.
    */
  def incrementalDedup(batch: DataFrame, snapshot: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    incrementalDedupDigests(batch,
      snapshot.select(md5(col(textCol)).as("content_hash")),
      idCol, textCol)

  /** [[incrementalDedup]] against an already-digested snapshot — the form
    * a continuously-maintained digest store joins (the snapshot never
    * re-reads document bodies; its state IS the ~32 B/doc digest column).
    */
  def incrementalDedupDigests(batch: DataFrame, digests: DataFrame,
                              idCol: String, textCol: String): DataFrame =
    batch.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .join(digests.select("content_hash").distinct(),
        Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("batch_dups"))

  /** [[incrementalDedupDigests]] for a LARGE store and a small batch —
    * the streaming deployment shape. The plain form's left-anti join can
    * only build its hash table from the STORE side, so when the store
    * outgrows the broadcast threshold Spark sort-merge-joins and
    * SHUFFLES THE ENTIRE HISTORICAL STORE on every micro-batch. This
    * form never moves the store: the batch's distinct digests broadcast
    * INTO a left-semi probe over the store (map-side scan, zero store
    * exchange — at most |batch| rows come back), and the batch
    * anti-joins against that broadcast match set. Result is row-for-row
    * identical to [[incrementalDedupDigests]] (CurationSpec asserts on
    * random corpora; StoreRobustnessSpec pins the store-side plan).
    *
    * Per-batch cost: one map-side store scan + two tiny broadcasts. At
    * 100 TB the scan prunes further if the store is bucketed/sorted by
    * digest prefix; the shuffle inventory is zero either way.
    */
  def incrementalDedupDigestsMapSide(batch: DataFrame, digests: DataFrame,
                                     idCol: String, textCol: String)
      : DataFrame =
    firstSeenMapSide(
        batch.select(col(idCol), md5(col(textCol)).as("content_hash")),
        digests)
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("batch_dups"))

  /** The rows of a small `batch` whose `content_hash` is not in a large
    * digest `store`, probed map-side: the store semi-joins a broadcast of
    * the batch's digests (at most |batch| rows come back) and the batch
    * anti-joins that broadcast match set, so the store never shuffles.
    * Serves [[incrementalDedupDigestsMapSide]] and the streaming
    * domain-quality pair store.
    */
  private[graft] def firstSeenMapSide(batch: DataFrame, store: DataFrame)
      : DataFrame = {
    // no distinct on either broadcast side (r17): a LEFT_SEMI probe and a
    // LEFT_ANTI build both tolerate duplicate keys — the semi emits each
    // store row at most once and the anti drops a batch row on ANY match
    // — so the two distincts only added a shuffle exchange each per call
    // (per micro-batch in the streaming path). Duplicate store digests
    // (the compaction rename-to-delete window) change nothing either way.
    val matched = store.select("content_hash")
      .join(broadcast(batch.select("content_hash")),
        Seq("content_hash"), "left_semi")
    batch.join(broadcast(matched), Seq("content_hash"), "left_anti")
  }

  // ------------------------------------------------------------------
  // Deterministic stratified quota sampling
  // ------------------------------------------------------------------

  /** Takes up to `quota` rows per stratum, ordered by a deterministic
    * content-free hash of the id (md5, same construction as
    * [[Splits.assignFolds]]) — a reproducible "random" sample that is
    * stable across runs, partitionings, and engines. The rank filter plans
    * as two-phase WindowGroupLimit (partial top-k before the shuffle).
    */
  def quotaSample(df: DataFrame, stratumCol: String, idCol: String,
                  quota: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quota)
  }

  /** Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES, the
    * exponential-race formulation): per stratum, keep the k rows with the
    * smallest key E = −ln(u)/w, where u ∈ (0,1) derives from md5(id)
    * (the [[mixtureSample]] construction — reproducible across runs,
    * partitionings, and engines) and w is the row's weight. E is an
    * Exp(w) draw, so inclusion probability is proportional to weight —
    * the size-biased complement to [[quotaSample]]'s uniform draw (sample
    * long documents more when weighting by token count, or high-quality
    * ones when weighting by a score). The rank filter plans as the same
    * two-phase WindowGroupLimit: at most k rows per stratum per input
    * partition cross the shuffle.
    */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
                     weight: Column, k: Int): DataFrame = {
    // u in (0,1): 60 md5 bits / 2^60 (u = 0 has probability 2^-60; it
    // would yield key = +Inf, i.e. sampled last — still deterministic)
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976d)
    val key = -log(u) / weight.cast("double")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(key.asc, col(idCol).asc)
    // A-ES semantics require strictly positive weights: w < 0 would flip
    // the race (negative keys always win) and w = 0 yields ±Inf/NaN keys —
    // both silently corrupt inclusion probabilities, so non-positive
    // weights are excluded from the draw rather than mis-sampled
    df.filter(weight.cast("double") > 0d)
      .withColumn("sample_key", round(key, 6))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  // ------------------------------------------------------------------
  // Sequence packing (concatenate-and-split into context windows)
  // ------------------------------------------------------------------

  /** GPT-style sequence packing layout: documents are concatenated in a
    * deterministic hash order and split into `ctxTokens`-sized context
    * windows; each document learns which window its first token lands in
    * and at what offset (documents straddle boundaries — that is the
    * concatenate-then-chunk training recipe, not bin packing).
    *
    * Packing needs a total order, which cannot scale globally — so the
    * corpus is first split into `numGroups` independent packing groups by
    * id hash, and each group packs under its own window. One reducer per
    * group: size numGroups to the cluster (thousands at 100 TB) and the
    * per-group window stays bounded; the assignment is reproducible
    * because group, order, and offsets all derive from md5(id).
    */
  def packSequences(df: DataFrame, idCol: String, tokenCount: Column,
                    ctxTokens: Int, numGroups: Int): DataFrame = {
    val w = Window.partitionBy(col("pack_group"))
      .orderBy(col("_key"), col(idCol))
    df.select(col(idCol), tokenCount.cast("long").as("n_tokens"),
        Splits.deterministicFold(col(idCol), numGroups).as("pack_group"),
        md5(col(idCol).cast("string")).as("_key"))
      .withColumn("_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("pack_group"), col("n_tokens"),
        expr(s"_start DIV $ctxTokens").as("start_window"),
        expr(s"_start % $ctxTokens").as("window_offset"))
  }

  /** Best-fit-decreasing sequence packing — the BIN-PACKING counterpart
    * of [[packSequences]]: documents never straddle context boundaries;
    * each lands whole in exactly one `ctxTokens`-capacity bin, and the
    * packer minimizes wasted tail tokens (the no-cross-document-
    * attention training recipe — Krell et al. 2021's FFD/best-fit
    * packing — where [[packSequences]] is the concatenate-then-chunk
    * one).
    *
    * Algorithm, per hash group: visit documents in first-fit-decreasing
    * order (token count desc, id asc — the classic 11/9·OPT+1 order),
    * place each into the open bin with the SMALLEST remaining capacity
    * that still fits (best fit; lowest bin index on ties), else open a
    * new bin. A document longer than `ctxTokens` gets its own bin
    * (negative remainder — it can never receive a second document), so
    * no input is silently dropped; callers chunk oversized docs first
    * ([[chunkDocuments]]) if truncation is wanted.
    *
    * Scale shape: bin packing is inherently sequential (each placement
    * reads the running bin state), so — exactly like [[packSequences]]'s
    * total-order problem — the corpus is split into `numGroups`
    * independent packing groups by id hash and each group packs alone:
    * one shuffle on the group key, then one linear in-memory pass per
    * group holding only (id, count) pairs and the bin-remainder array,
    * never document text. Size numGroups to the cluster (thousands at
    * 100 TB) and a group stays ~corpus/numGroups rows; packing quality
    * is unaffected by the split beyond one partial tail bin per group —
    * so numGroups ≫ corpus degrades consolidation (the degenerate limit
    * is one bin per document: a valid packing, just no pairing), while
    * numGroups too small serializes the fold. Size it between cluster
    * parallelism and ~corpus/10⁴; a numGroups above the observed
    * DISTINCT-doc count is CLAMPED to it (probed with a limit-bounded
    * distinct count — at most numGroups distinct ids cross the probe's
    * shuffle, never the corpus), so the degenerate call packs like
    * numGroups = docs instead of one bin per document.
    * The probe (an extra Spark job) only runs for numGroups > 64:
    * below that the worst-case degradation is ≤ 64 singleton bins —
    * noise — and skipping keeps small-group calls single-pass and
    * their group assignment exactly hash-mod-numGroups (the q132
    * oracle's closed form) at any corpus size.
    *
    * The id column must be integral (it rides through the typed
    * `flatMapGroups` as a long, like [[Splits.deterministicFold]]'s
    * input contract) — asserted, not silently null-cast; hash string
    * ids to a surrogate first ([[graft.etl.Load.transactionId]] style).
    * Typed flatMapGroups is the honest Spark form here — the state is a
    * genuinely mutable array no Column composition expresses.
    *
    * Determinism: group, visit order, and tie-breaks all derive from
    * (md5(id), token count), so the layout replays identically on any
    * partitioning/engine — pinned by the q132 DuckDB oracle, which
    * replays the same fold as a recursive CTE.
    */
  def packBestFit(df: DataFrame, idCol: String, tokenCount: Column,
                  ctxTokens: Int, numGroups: Int): DataFrame = {
    require(ctxTokens > 0, s"ctxTokens must be positive, got $ctxTokens")
    require(numGroups > 0, s"numGroups must be positive, got $numGroups")
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType),
      s"packBestFit id column '$idCol' must be integral, got $idType — " +
        "a lossy cast would silently null string ids; hash to a " +
        "surrogate id first")
    val groups =
      if (numGroups <= 64) numGroups
      else {
        // DISTINCT ids, not rows: with duplicate ids a row probe
        // overestimates the doc count and the clamp can still leave
        // numGroups above the true distinct-doc count, partially
        // retaining the one-bin-per-doc degeneracy it exists to
        // prevent. distinct().limit(n).count() stops at n distinct
        // ids; the pre-shuffle partial aggregate bounds the probe's
        // shuffle by distinct ids per task, an id-only pass that is
        // noise next to the packing job itself.
        val seenDocs =
          df.select(col(idCol)).distinct().limit(numGroups).count()
        math.max(1L, math.min(numGroups.toLong, seenDocs)).toInt
      }
    val s = df.sparkSession
    import s.implicits._
    df.select(col(idCol).cast("long").as("id"),
        tokenCount.cast("long").as("n_tokens"),
        Splits.deterministicFold(col(idCol), groups).cast("int")
          .as("pack_group"))
      .as[(Long, Long, Int)]
      .groupByKey(_._3)
      .flatMapGroups { (grp: Int, rows: Iterator[(Long, Long, Int)]) =>
        val docs = rows.map(r => (r._1, r._2)).toArray
        // FFD visit order: largest first, id tie-break
        java.util.Arrays.sort(docs,
          Ordering.by[(Long, Long), (Long, Long)](d => (-d._2, d._1)))
        // bins indexed by remaining capacity: best fit = ceilingEntry
        // (smallest remainder that fits), TreeSet.first = lowest bin
        // index on remainder ties — the same choice rule as a linear
        // scan, O(log bins) per doc instead of O(bins) (the naive scan
        // measured QUADRATIC at ×1000: 625k docs × ~122k bins per
        // group → 210 s; this form is ~N log N)
        val byRem = new java.util.TreeMap[Long, java.util.TreeSet[Int]]()
        def fileUnder(remaining: Long, idx: Int): Unit = {
          byRem.computeIfAbsent(remaining,
            _ => new java.util.TreeSet[Int]()).add(idx)
          ()
        }
        var nBins = 0
        docs.iterator.map { case (id, n) =>
          val e = byRem.ceilingEntry(n)
          val bin =
            if (e != null) {
              val idx = e.getValue.first()
              e.getValue.remove(idx)
              if (e.getValue.isEmpty) byRem.remove(e.getKey)
              fileUnder(e.getKey - n, idx)
              idx
            } else {
              val idx = nBins
              nBins += 1
              fileUnder(ctxTokens.toLong - n, idx)
              idx
            }
          (id, grp, n, bin.toLong)
        }
      }
      .toDF("doc_id", "pack_group", "n_tokens", "bin_idx")
  }

  /** Overlapping token-window chunking — each document sliced
    * independently into fixed-size windows of `window` tokens advancing
    * by `stride` (stride < window ⇒ adjacent chunks overlap by
    * window − stride tokens): the standard retrieval / long-context
    * pre-processing step, and [[packSequences]]'s per-document inverse.
    * Chunk i covers tokens [i·stride, i·stride + window); the last chunk
    * is the first whose span reaches the document's end, so every token
    * is covered and no fully-redundant trailing chunk is emitted (a doc
    * with n ≤ window yields exactly one chunk).
    *
    * Scale shape: per-document arithmetic only — tokenize, one explode
    * over the chunk-index range, one slice per chunk. No join, no
    * aggregation, no shuffle anywhere: chunking 100 TB is a single
    * map-only stage written partition-parallel, and every function here
    * is a codegen'd built-in. Memory per output row is bounded by the
    * document, never the corpus.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        size(col("_toks")).cast("long").as("n_tokens"))
      .select(col(idCol), col("_toks"), col("n_tokens"),
        explode(sequence(lit(0L),
          ceil(greatest(col("n_tokens") - window, lit(0L)).cast("double")
            / stride).cast("long"))).as("chunk_idx"))
      .select(col(idCol), col("n_tokens"), col("chunk_idx"),
        least(lit(window.toLong),
          col("n_tokens") - col("chunk_idx") * stride).as("chunk_tokens"),
        md5(array_join(slice(col("_toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(window)), " "))
          .as("chunk_hash"))
  }

  /** Content-defined chunking (the FastCDC/rsync family's idea at token
    * granularity): a chunk boundary falls AFTER every token whose
    * md5-derived 60-bit hash is ≡ 0 mod `divisor`, so expected chunk
    * length is `divisor` tokens and — the point — boundaries depend on
    * CONTENT, not position. Inserting or deleting a token perturbs only
    * the chunk it lands in; downstream chunk hashes re-synchronize
    * immediately, which is what makes CDC chunk-hash dedup robust to
    * edits where [[chunkDocuments]]'s fixed windows (every boundary
    * shifts) are not. Pair the emitted `chunk_hash` with the q82/q111
    * digest store for sub-document incremental dedup.
    *
    * Scale shape: one explode, one DOC-PARTITIONED prefix-count window,
    * one hash aggregate. The window sorts the token stream on
    * (hash(doc), pos) — a linear-volume distributed sort whose
    * parallelism is the doc count, NOT q90's corpus-wide
    * single-partition hazard (PlanHealthSpec would flag an
    * unpartitioned window here). A fully map-only formulation exists
    * (per-doc array lambdas computing cut positions and chunk spans)
    * and was measured: Catalyst evaluates higher-order-function bodies
    * interpreted per element, so the md5-per-token inside a lambda ran
    * a multiple (~2-9× across probes, on a co-tenant-noisy box) slower
    * than this codegen'd exploded form at every scale tried — the
    * shuffle is cheaper than leaving whole-stage codegen.
    * The boundary hash is the house md5-60bit recipe, so any engine
    * reproduces the chunking bit-for-bit.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                divisor: Int = 8): DataFrame = {
    require(divisor > 0, "divisor must be positive")
    val h60 = conv(substring(md5(col("token")), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "token")))
      .withColumn("flag", (pmod(h60, lit(divisor)) === 0).cast("long"))
      .withColumn("chunk_id", coalesce(sum(col("flag")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("token")))),
            s => s.getField("token")), " ")).as("chunk_hash"))
  }

  // ------------------------------------------------------------------
  // Mixture-weighted sampling (executes a mixture plan)
  // ------------------------------------------------------------------

  /** Applies [[mixturePlan]]'s per-source rates as a deterministic
    * Bernoulli filter: keep a document iff md5-hash(id)/2^60 < rate.
    * The same document survives on every run, engine, and partitioning
    * (reproducible corpus freeze), and the realized mixture lands on the
    * plan's targets in expectation. Rates join back via a broadcast of
    * the |sources|-row plan; the corpus never shuffles before the final
    * per-source rollup.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
                    tokenCount: Column): DataFrame = {
    val rates = mixturePlan(df, sourceCol, tokenCount)
      .select(col(sourceCol), col("sample_rate"))
    // 2^60 — the hash is 15 hex chars (60 bits)
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976d)
    df.join(broadcast(rates), sourceCol)
      .filter(u < col("sample_rate"))
      .groupBy(col(sourceCol), col("sample_rate"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(tokenCount.cast("long")).as("kept_tokens"))
  }

  // ------------------------------------------------------------------
  // Vocabulary induction
  // ------------------------------------------------------------------

  /** Top-k corpus vocabulary by occurrence count (ties broken
    * lexicographically) with cumulative corpus coverage — the
    * tokenizer-vocab / frequency-cutoff profile. The top-k is a
    * TakeOrderedAndProject (per-partition partial top-k, never a full
    * sort), and the cumulative window runs over only the k survivors;
    * the corpus-wide total rides a one-row broadcast.
    */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
    val total = counts.agg(sum(col("occurrences")).as("_total"))
    val top = counts.orderBy(col("occurrences").desc, col("token").asc)
      .limit(k)
    // k rows at this point — the single-partition window is fine
    val w = Window.orderBy(col("occurrences").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .select(col("token"), col("occurrences"),
        sum(col("occurrences")).over(w).as("_cum"), col("_total"))
      .select(
        row_number().over(Window.orderBy(col("occurrences").desc,
          col("token").asc)).as("vocab_rank"),
        col("token"), col("occurrences"),
        round(col("_cum").cast("double") / col("_total").cast("double"), 6)
          .as("cum_coverage"))
  }

  // ------------------------------------------------------------------
  // End-to-end corpus curation funnel
  // ------------------------------------------------------------------

  /** The whole pre-training curation pipeline as one composed plan:
    * quality filter → exact dedup (min-id among quality survivors) →
    * benchmark decontamination → deterministic mixture sampling, reported
    * as a per-source funnel (how many documents survive each stage, plus
    * the final token yield).
    *
    * Every stage is a COLUMN FLAG, not a materialized intermediate
    * corpus: the funnel is one pass over the corpus with one
    * content-hash window (dedup), one broadcast probe (contamination),
    * and one broadcast rates join (sampling) — no stage writes or
    * rescans anything. Flags nest (a doc counts for stage k only if it
    * survived k-1), so the counts are a true funnel.
    */
  def curateCorpus(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, sourceCol: String,
                   stopwords: Seq[String], n: Int = 4,
                   flagThreshold: Double = 0.05): DataFrame = {
    val tokenCount = TextAnalysis.tokenCount(col(textCol))
    // stage 1: quality
    val q = TextAnalysis.qualityOk(col(textCol), stopwords)
    // stage 2: exact dedup among quality survivors (min quality id wins)
    val hashW = Window.partitionBy(md5(col(textCol)))
    val minQualityId = min(when(col("_q"), col(idCol))).over(hashW)
    // stage 3: contamination ratios (computed for every corpus doc;
    // docs sharing no grams with the benchmark are clean by default)
    val contaminated = contaminationReport(corpus, bench, idCol, textCol,
        n, flagThreshold)
      .filter(col("contaminated"))
      .select(col("id").as(idCol), lit(true).as("_dirty"))
    // stage 4: mixture-sampling keep decision (rates from the FULL
    // corpus mixture, q84 semantics — the plan is fixed before filtering)
    val rates = mixturePlan(corpus, sourceCol, tokenCount)
      .select(col(sourceCol), col("sample_rate"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976d)
    corpus
      .withColumn("_q", q)
      .withColumn("_dedup", col("_q") && col(idCol) === minQualityId)
      // no broadcast hint: the flagged set's size is data-dependent
      // (could be a large corpus fraction) — AQE picks the strategy
      .join(contaminated, Seq(idCol), "left")
      .withColumn("_clean", col("_dedup") && col("_dirty").isNull)
      .join(broadcast(rates), sourceCol)
      .withColumn("_sampled", col("_clean") && u < col("sample_rate"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_input"),
        count_if(col("_q")).as("n_quality"),
        count_if(col("_dedup")).as("n_unique"),
        count_if(col("_clean")).as("n_clean"),
        count_if(col("_sampled")).as("n_sampled"),
        coalesce(sum(when(col("_sampled"), tokenCount.cast("long"))),
          lit(0L)).as("sampled_tokens"))
  }

  // ------------------------------------------------------------------
  // Corpus freeze (training-ready storage layout)
  // ------------------------------------------------------------------

  /** Writes a curated corpus in the layout a training run reads:
    * PARTITIONED by deterministic fold (directory-level pruning — a
    * val/test read lists only its fold's files) and BUCKETED + sorted by
    * id (joins against feature/embedding tables frozen with the same
    * bucketing are shuffle-free on both sides — see StorageLayoutSpec).
    * The fold derives from md5(id) ([[Splits.deterministicFold]]), so
    * re-freezing the same corpus reproduces the identical layout.
    */
  def freezeCorpus(df: DataFrame, idCol: String, table: String,
                   folds: Int = 10, buckets: Int = 8): Unit =
    Splits.assignFolds(df, idCol, folds)
      .write.partitionBy("fold")
      .bucketBy(buckets, idCol).sortBy(idCol)
      .mode("overwrite").saveAsTable(table)

  // ------------------------------------------------------------------
  // Source-mixture planning
  // ------------------------------------------------------------------

  /** Per-source token inventory + the downsampling rate that would flatten
    * the mixture to uniform shares: rate = min(1, target/actual). The
    * planning step before mixture-weighted corpus sampling (the per-domain
    * reweighting every large-scale pretraining recipe runs).
    */
  def mixturePlan(df: DataFrame, sourceCol: String,
                  tokenCount: Column): DataFrame =
    mixturePlanFromInventory(
      df.groupBy(col(sourceCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount.cast("long")).as("n_tokens")),
      sourceCol)

  /** [[mixturePlan]] over an ALREADY-AGGREGATED per-source inventory
    * (`sourceCol`, n_docs, n_tokens) — the form a continuously-maintained
    * inventory store feeds (streaming mixture maintenance). Totals ride a
    * global window over the |sources|-row rollup — one scan of the
    * aggregate, so nothing needs caching (an earlier cache-fed crossJoin
    * leaked a fresh cache per call, and q84/q86/q88 each call this). A
    * single-partition window over |sources| rows is bounded by
    * construction.
    */
  def mixturePlanFromInventory(perSource: DataFrame,
                               sourceCol: String): DataFrame = {
    val w = Window.partitionBy()
    val totalTokens = sum(col("n_tokens")).over(w)
    val nSources = count(lit(1)).over(w)
    val actual = col("n_tokens").cast("double") / totalTokens.cast("double")
    val target = lit(1d) / nSources.cast("double")
    val rate = least(lit(1d), target / actual)
    perSource
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        round(actual, 6).as("actual_share"),
        round(target, 6).as("target_share"),
        round(rate, 6).as("sample_rate"),
        floor(col("n_tokens").cast("double") * rate).cast("long")
          .as("expected_tokens"))
  }

  /** Temperature-based mixture plan — the multilingual/multi-domain
    * sampling recipe (mBERT/XLM-R exponential smoothing): tempered
    * target shares q_i = p_i^α / Σ_j p_j^α, downsampling rate
    * min(1, q_i/p_i). α = 1 keeps natural shares (all rates 1); α = 0
    * flattens to uniform and reduces EXACTLY to [[mixturePlan]] (same
    * float shapes — spec-pinned); α = 0.5 is the standard
    * square-root-sampling middle ground.
    *
    * Scale/determinism: same single bounded window pass over the
    * |sources|-row rollup as [[mixturePlanFromInventory]] — but the
    * normalizer Σ p^α sums DOUBLES, whose accumulation order a plain
    * window sum doesn't fix, so each p^α quantizes to a fixed-point
    * long (×2^40 — shares are ≤ 1, and ≤ ~10^6 sources stay far from
    * long overflow) and the order-free long sum becomes the
    * denominator. α = 0.5 uses sqrt (IEEE-correctly-rounded in every
    * engine — the oracle-parity path); other α go through pow, which
    * is deterministic within Spark but only ~1-ulp reproducible across
    * engines.
    */
  def mixturePlanTemperature(df: DataFrame, sourceCol: String,
                             tokenCount: Column,
                             alpha: Double = 0.5): DataFrame =
    mixturePlanTemperatureFromInventory(
      df.groupBy(col(sourceCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount.cast("long")).as("n_tokens")),
      sourceCol, alpha)

  /** [[mixturePlanTemperature]] over an already-aggregated per-source
    * inventory (`sourceCol`, n_docs, n_tokens). */
  def mixturePlanTemperatureFromInventory(perSource: DataFrame,
                                          sourceCol: String,
                                          alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha in [0, 1]")
    val w = Window.partitionBy()
    val totalTokens = sum(col("n_tokens")).over(w)
    val p = col("n_tokens").cast("double") / totalTokens.cast("double")
    val pa = alpha match {
      case 0.0 => lit(1.0)
      case 0.5 => sqrt(p)
      case 1.0 => p
      case a => pow(p, lit(a))
    }
    val quant = lit(1099511627776.0) // 2^40
    val denom =
      sum(round(pa * quant).cast("long")).over(w).cast("double") / quant
    val q = pa / denom
    val rate = least(lit(1d), q / p)
    perSource
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        round(p, 6).as("actual_share"),
        round(q, 6).as("target_share"),
        round(rate, 6).as("sample_rate"),
        floor(col("n_tokens").cast("double") * rate).cast("long")
          .as("expected_tokens"))
  }

  // ------------------------------------------------------------------
  // Boilerplate line dedup (cross-document repeated-line removal)
  // ------------------------------------------------------------------

  /** C4/RefinedWeb-style LINE-level boilerplate removal (Raffel et al.
    * JMLR'20 §2.2 drop repeated lines; Penedo et al. NeurIPS'23 §3.2
    * line-wise filtering): a line occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (navigation, footers, cookie
    * banners) and every occurrence is dropped; surviving lines rejoin
    * in original order. Complements the n-gram span family
    * ([[graft.operators.Dedup.removeRepeatedSpans]]): span dedup
    * catches verbatim PASSAGES (keeping one canonical copy), line
    * dedup kills STRUCTURAL repetition wholesale — real pipelines run
    * both.
    *
    * Returns one row per document: (id, n_lines, n_removed,
    * text_hash) where text_hash is md5 of the rebuilt delim-joined
    * text — the engine-portable rewrite digest (callers wanting the
    * text itself use the same projection without the md5).
    *
    * Scale shape: lines explode once; the boilerplate set comes from
    * ONE line-keyed aggregate (countDistinct(doc) plans two-phase, so
    * shuffle is bounded by distinct (line, doc) pairs per task —
    * boilerplate is by definition low-cardinality relative to the
    * corpus); the flag join is line-keyed and AQE broadcast-eligible
    * when the boilerplate set is small; the rebuild is one per-doc
    * groupBy fold. Nothing is ever all-pairs.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int, delim: String = "\n"): DataFrame =
    lineDedupText(df, idCol, textCol, minDocs, delim)
      .select(col(idCol), col("n_lines"), col("n_removed"),
        md5(col("text")).as("text_hash"))

  /** [[lineDedup]] returning the rebuilt TEXT itself instead of its
    * digest — the form downstream pipeline stages (quality scoring,
    * tokenization) consume. Same semantics, same shape; the digest
    * form stays the oracle-gated face (q141).
    */
  def lineDedupText(df: DataFrame, idCol: String, textCol: String,
                    minDocs: Int, delim: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val qdelim = java.util.regex.Pattern.quote(delim)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), qdelim)).as(Seq("pos", "line")))
    // zero-length lines (consecutive/trailing delimiters) are NEVER
    // boilerplate: once blank lines recur in >= minDocs docs they would
    // otherwise all drop, silently collapsing paragraph separation in
    // the rebuilt text
    val boiler = lines.filter(length(col("line")) > 0)
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("line"), lit(true).as("_drop"))
    lines.join(boiler, Seq("line"), "left")
      .select(col(idCol), col("pos"), col("line"),
        coalesce(col("_drop"), lit(false)).as("_d"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_d"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(filter(
            array_sort(collect_list(struct(col("pos"), col("_d"),
              col("line")))),
            s => !s.getField("_d")),
          s => s.getField("line")), delim).as("text"))
  }

  // ------------------------------------------------------------------
  // Distributed BPE vocabulary learning (merge-based)
  // ------------------------------------------------------------------

  /** Byte-pair-encoding MERGE learning (Sennrich et al. ACL'16 §3.2)
    * distributed the classic way: BPE statistics are word-shaped, so
    * the ONLY corpus-scale pass is the initial tokenize + word-count
    * aggregate; every merge round then runs over the DISTINCT-WORD
    * table (vocabulary-sized — orders of magnitude below the corpus),
    * carrying each word as a symbol array plus its corpus count.
    *
    * Per round: (1) every word re-segments under the merge table so
    * far via the native [[graft.plans.BpeExpressions.bpeSegment]]
    * kernel — ONE expression regardless of table depth (sequential
    * application is compositional, so re-encoding from scratch with
    * rules 1..k is exactly incremental state after rules 1..k; and the
    * monotone-rank encoder's cost is bounded by the word's own merge
    * capacity, O(len) passes, NOT by |table|); (2) adjacent symbol
    * pairs explode, weighted by word count, into one pair-frequency
    * aggregate; (3) the argmax pair — ties broken deterministically by
    * (left, right) byte order — becomes this round's merge rule (ONE
    * collected row; the merge table is the driver-side state, exactly
    * like k-means centroids). Stops early when the best pair's
    * frequency falls below `minFreq` (nothing left worth merging).
    * The word table checkpoints ONCE (it never changes — rounds differ
    * only in the kernel's table literal), so there is no per-round
    * lineage or cache churn at any round count — the r13 form's
    * per-round localCheckpoint + nested `aggregate`-HOF fold paid a
    * fresh analysis/codegen of a growing plan every round.
    *
    * Scale shape (the rounds-vs-corpus cost model, SCALE.md): corpus
    * cost is paid once (tokenize + word groupBy — shuffle bounded by
    * distinct words per task via partial aggregation); each round is
    * O(|vocab words| × avg word length) map work plus one pair-keyed
    * aggregate whose shuffle is bounded by distinct PAIRS, plus a
    * 1-row argmax collect. Rounds are inherently sequential (rule r+1
    * depends on r — that is BPE, not a plan choice; `batch` trades
    * strictness for ~m× fewer round trips, below). Determinism: counts
    * are exact longs and ties byte-ordered, so the merge table replays
    * identically on any partitioning/engine — gated by the q139 DuckDB
    * oracle, which replays the same rounds closed-form.
    *
    * Returns the merge table: (round, left, right, merged, freq),
    * `rounds` rows (fewer on early stop), round ascending.
    *
    * @param batch merge rules committed per DRIVER round (default 1 =
    *   strict sequential BPE, the oracle-gated form). With batch = m > 1
    *   each round collects the top candidate pairs once and greedily
    *   selects up to m of them in (freq DESC, left, right) order such
    *   that every selected pair is SYMBOL-DISJOINT from the ones before
    *   it — for each prior selection s, the candidate's {left, right,
    *   left||right} avoids {s.left, s.right, s.merged} — then applies
    *   them sequentially in selection order. This cuts driver round
    *   trips (and their scheduler overhead — the 30k-vocab cost model)
    *   by ~m×, at a DOCUMENTED deviation from strict BPE: rules 2..m of
    *   a round are ranked on round-START pair statistics, not on the
    *   post-rule-1 table (their recorded freq is the round-start count).
    *   The disjointness guard keeps that deviation honest — no selected
    *   rule can create or consume another's operands mid-round, so each
    *   rule's recorded statistics describe the table it actually
    *   applies to.
    */
  def learnBpeMerges(df: DataFrame, textCol: String, rounds: Int,
                     minFreq: Long = 2L, batch: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var done = false
    while (merges.size < rounds && !done) {
      val syms = graft.plans.BpeExpressions.bpeSegment(col("word"),
        merges.map(m => (m._2, m._3)).toSeq)
      // sequence(a, b) DESCENDS when b < a, so a single-symbol word
      // would yield [1, 0] and an ANSI element_at OOB — filter first
      val cand = words
        .select(syms.as("syms"), col("cnt"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"),
          explode(expr("sequence(1, size(syms) - 1)")).as("i"),
          col("syms"))
        .select(element_at(col("syms"), col("i")).as("left"),
          element_at(col("syms"), col("i") + 1).as("right"),
          col("cnt"))
        .groupBy(col("left"), col("right"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("left").asc, col("right").asc)
        .limit(math.max(1, 4 * batch))
        .collect()
      // greedy disjoint selection in rank order (batch=1: the argmax)
      val want = math.min(batch, rounds - merges.size)
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      var ci = 0
      while (ci < cand.length && sel.size < want) {
        val (l, rt, f) = (cand(ci).getString(0), cand(ci).getString(1),
          cand(ci).getLong(2))
        if (f >= minFreq && !used(l) && !used(rt) && !used(l + rt)) {
          sel += ((l, rt, f))
          used += l; used += rt; used += (l + rt)
        }
        ci += 1
      }
      if (sel.isEmpty) done = true
      else sel.foreach { case (l, rt, f) =>
        merges += ((merges.size + 1, l, rt, l + rt, f))
      }
    }
    words.unpersist()
    merges.toSeq.toDF("round", "left", "right", "merged", "freq")
  }

  /** BPE ENCODING — apply a learned merge-rule chain to a corpus and
    * report the per-document subword segmentation: (id, n_words,
    * n_subwords, subword_hash), where subword_hash is md5 of the
    * document's space-joined subword stream in token order (the
    * engine-portable segmentation digest the q140 oracle replays).
    * Documents with ZERO tokens (empty/whitespace-only text) are kept,
    * with n_words = 0 and the empty-stream digest md5("") — callers
    * reconciling doc counts lose nothing.
    *
    * Scale shape — the vocab-lookup form, NOT a per-token fold: the
    * whole ranked merge table compiles into ONE native kernel
    * ([[graft.plans.BpeExpressions.bpeSegment]] — O(1) plan size in
    * |merges|, so a real 30k-merge vocabulary is the same plan as a
    * 6-merge one) applied once per row of the DISTINCT-WORD table
    * (vocabulary-sized), and the corpus's (doc, position, word) tokens
    * join that segmentation table by word — so the corpus pays one
    * tokenize plus one join against a vocab-sized side (AQE picks
    * broadcast when it fits), never |merges| passes per corpus token.
    * This is how a tokenizer runs at 100 TB: segmentation is a
    * property of the word, computed once per distinct word.
    *
    * `merges` apply in order (BPE rules are sequential by definition);
    * pass [[learnBpeMerges]]' collected (left, right) pairs. The
    * kernel's monotone-rank encoder is exactly equivalent to the
    * sequential per-rule greedy fold (proof sketch + spec pin at
    * [[graft.plans.BpeKernel]]).
    */
  def applyBpeMerges(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val words = df
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"),
        graft.plans.BpeExpressions.bpeSegment(col("word"), merges)
          .as("syms"))
    val toks = df
      .select(col(idCol),
        posexplode(graft.functions.TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val perDoc = toks.join(words, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_subwords"),
        md5(array_join(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("syms")))),
          s => s.getField("syms"))), " ")).as("subword_hash"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("subword_hash"), md5(lit(""))).as("subword_hash"))
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer learning —
    * the EM complement of [[learnBpeMerges]]' greedy merges, and the
    * algorithm behind most modern production tokenizers.
    *
    * Hard-EM (Viterbi) variant, fully deterministic:
    *
    *  1. SEED: every substring of every distinct word up to
    *     `maxPieceLen` code points, scored by occurrence count weighted
    *     by word frequency; keep pieces with freq >= `minSeedFreq`,
    *     then the top `keepTop` by (freq desc, piece asc) — single
    *     characters are ALWAYS kept (coverage guarantee);
    *  2. E-STEP: Viterbi-best segmentation of each distinct word under
    *     the current piece log-probs
    *     ([[graft.plans.UnigramExpressions.unigramSegment]], a native
    *     kernel — one map pass over the VOCABULARY-sized word table,
    *     never the corpus), piece counts = word-frequency-weighted use
    *     counts;
    *  3. M-STEP + PRUNE: add-one smoothing on single characters (so
    *     coverage survives zero counts), keep the top `keepTop` by
    *     (count desc, piece asc) plus all characters, renormalize.
    *
    * Returns one (round, piece, cnt) row per piece USED in each E-step
    * — the full EM trajectory, which is what the q152 oracle replays
    * closed-form (recursive-CTE segmentation enumeration + the same
    * argmax tie-breaks; see [[graft.plans.UnigramViterbiKernel]] for
    * the tie-break contract).
    *
    * Scale shape: identical to BPE learning — each round is one
    * kernel pass + one vocabulary-sized aggregation; only the piece
    * table (keepTop-bounded, plus the single-character set) ever
    * reaches the driver — the SEED's substring-frequency table is
    * filtered and top-K-ranked inside the plan (distributed
    * TakeOrdered), never collected whole. The corpus is scanned
    * exactly once (the distinct-word rollup).
    */
  def learnUnigramLm(df: DataFrame, textCol: String, rounds: Int = 2,
                     maxPieceLen: Int = 3, keepTop: Int = 64,
                     minSeedFreq: Long = 2L): DataFrame =
    learnUnigramLmBuild(df, textCol, rounds, maxPieceLen, keepTop,
      minSeedFreq)._1

  /** [[learnUnigramLm]] plus the trained model: the (piece, logp) table
    * the FINAL E-step segmented under — i.e. the model after
    * `rounds - 1` M-steps, which is what [[applyUnigramLm]] encodes
    * with (so encode segmentations equal the last round's Viterbi paths
    * exactly — the property the q154 oracle leans on).
    */
  def learnUnigramLmBuild(df: DataFrame, textCol: String, rounds: Int = 2,
                          maxPieceLen: Int = 3, keepTop: Int = 64,
                          minSeedFreq: Long = 2L)
      : (DataFrame, Seq[(String, Double)]) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxPieceLen >= 1, s"maxPieceLen >= 1, got $maxPieceLen")
    require(keepTop >= 1, s"keepTop >= 1, got $keepTop")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    // seed freqs: per-position substrings up to maxPieceLen, weighted.
    // The minSeedFreq filter and the top-keepTop ranking run IN THE
    // PLAN, so the driver sees at most keepTop + |charset| rows — a
    // web-scale vocabulary's substring table (O(|vocab| × avgWordLen ×
    // maxPieceLen) distinct rows) never leaves the cluster. Ranking by
    // encode(piece, UTF-16BE) under Spark's unsigned-byte binary order
    // IS Java String.compareTo order (big-endian code units), i.e.
    // exactly the driver-side select() ranking below — routing the
    // top-K through Spark moves no hash.
    val seedCands = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, char_length(word)), i ->
           |  transform(sequence(i, least(char_length(word),
           |      i + ${maxPieceLen - 1})), j ->
           |    substring(word, i, j - i + 1))))""".stripMargin))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
      .filter(col("freq") >= minSeedFreq || length(col("piece")) === 1)
    // orderBy(...).limit(k) plans as a distributed TakeOrdered (top-K
    // per partition, then merge) — no single-partition global sort.
    val seedFreqs = seedCands
      .orderBy(col("freq").desc, encode(col("piece"), "UTF-16BE").asc)
      .limit(keepTop)
      .unionByName(seedCands.filter(length(col("piece")) === 1))
      .dropDuplicates("piece")
      .as[(String, Long)].collect()
    // model selection shared by seed and every M-step: filtered +
    // ranked by (weight desc, piece asc), top keepTop, chars always in.
    // Fed the seed's (global top-keepTop ∪ single-chars) superset this
    // keeps exactly what it would keep from the full table: every
    // non-char candidate outside the global top-K is already gone, and
    // chars survive the rank cut unconditionally.
    def select(cands: Seq[(String, Long)]): Seq[(String, Double)] = {
      val ranked = cands.sortBy { case (p, c) => (-c, p) }
      val kept = ranked.zipWithIndex.collect {
        case ((p, c), i) if i < keepTop || cpLen(p) == 1 => (p, c)
      }
      val total = kept.map(_._2).sum.toDouble
      kept.map { case (p, c) => (p, math.log(c.toDouble / total)) }
    }
    var model = select(seedFreqs.toSeq)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long)]
    for (r <- 1 to rounds) {
      val counts = words
        .select(col("cnt"), explode(graft.plans.UnigramExpressions
          .unigramSegment(col("word"), model, maxPieceLen)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
        .as[(String, Long)].collect()
      counts.sortBy(_._1).foreach { case (p, c) => rows += ((r, p, c)) }
      if (r < rounds) {
        val cm = counts.toMap
        val smoothed = counts.map { case (p, c) =>
          (p, c + (if (cpLen(p) == 1) 1L else 0L)) } ++
          model.collect { case (p, _)
            if cpLen(p) == 1 && !cm.contains(p) => (p, 1L) }
        model = select(smoothed.toSeq)
      }
    }
    (rows.toSeq.toDF("round", "piece", "cnt"), model)
  }

  /** Unigram-LM ENCODING — [[applyBpeMerges]]' shape for the
    * SentencePiece family: the trained (piece, logp) model compiles into
    * ONE Viterbi kernel applied per row of the DISTINCT-WORD table, and
    * corpus tokens join that segmentation table by word. One tokenize +
    * one vocab-sized join at any corpus size; per-doc subword counts
    * plus the order-exact segmentation digest.
    */
  def applyUnigramLm(df: DataFrame, idCol: String, textCol: String,
                     pieces: Seq[(String, Double)],
                     maxPieceLen: Int): DataFrame = {
    val words = df
      .select(explode(graft.functions.TextAnalysis.tokens(col(textCol)))
        .as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"),
        graft.plans.UnigramExpressions
          .unigramSegment(col("word"), pieces, maxPieceLen).as("syms"))
    val toks = df
      .select(col(idCol),
        posexplode(graft.functions.TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val perDoc = toks.join(words, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_subwords"),
        md5(array_join(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("syms")))),
          s => s.getField("syms"))), " ")).as("subword_hash"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("subword_hash"), md5(lit(""))).as("subword_hash"))
  }
}

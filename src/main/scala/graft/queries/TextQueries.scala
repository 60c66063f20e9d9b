package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, Tables}
import graft.functions.TextAnalysis
import graft.operators.Dedup

/** Text-corpus operators (dedup + analysis) over `documents`, the
  * training-data-pipeline side of the engine. SQL-expressible ones carry a
  * DuckDB oracle; hash-based ones (xxhash64 MinHash/SimHash) are Spark-only
  * and get rows-only checks plus ScalaTest baselines against the exact
  * algorithms.
  */
object TextQueries {

  private val toksSql = """string_split_regex(trim(text), '\s+')"""

  /** Shared language stopword profiles (lowercase). Order = tie-break
    * priority (earliest argmax wins).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "y", "que", "una", "es", "para", "por", "como"),
    "de" -> Seq("der", "die", "das", "und", "von", "ein", "eine", "ist", "mit", "zu"),
    "zh" -> Seq("的", "是", "在", "和", "了", "有", "我", "他", "这", "中"))

  // --------------------------------------------------------------- q151
  // CJK-mode tokenization, oracle-gated: the documents corpus is Latin,
  // so each doc gets a DETERMINISTIC spliced CJK run (5 ideographs drawn
  // from a 20-char literal alphabet by doc_id — both engines replay the
  // char-level substr), then the script-run segmenter tokenizes the
  // mixed text: Latin words by whitespace, one token per ideograph.
  // The corpus vocabulary rollup proves the downstream contract — CJK
  // chars count individually (shingles/gopher/CE/BPE all consume these
  // tokens), not as one line-sized blob. DuckDB replays the segmenter
  // closed-form with RE2 script classes (the q140 regex-replay recipe).
  private val CjkAlpha = "的一是不了人我在有他這為之大來以個中上們"
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val mixed = concat(
      substring(col("text"), 1, 40), lit(" "),
      expr(s"substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5)"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        graft.functions.TextAnalysis.tokensCjk(mixed)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("token"))
  }

  private val q151Sql = {
    val cjk = "\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}"
    s"""WITH m AS (
       |  SELECT doc_id,
       |    substr(text, 1, 40) || ' ' ||
       |    substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5) AS mixed
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(mixed,
       |    '[$cjk]|[^\\s$cjk]+')) AS token
       |  FROM m)
       |SELECT token, count(*) AS n_occ,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM t GROUP BY token ORDER BY token""".stripMargin
  }

  // ---------------------------------------------------------------- q20
  // Exact dedup (hash-groupBy): shuffle carries digests, not documents.
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("content_hash"))

  private val q20Sql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS dup_count
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------------------- q21
  // Token statistics: whitespace + BPE-ish counts, char len, mean token len.
  private def q21(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
      length(col("text")).as("n_chars"),
      round(TextAnalysis.avgTokenLen(col("text")), 6).as("avg_token_len"))
      .orderBy(col("doc_id"))

  private val q21Sql =
    s"""SELECT doc_id, lang,
       |  len($toksSql) AS n_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
       |    AS n_bpeish,
       |  length(text) AS n_chars,
       |  round(CAST(list_sum(list_transform($toksSql, x -> length(x)))
       |      AS DOUBLE)
       |    / CAST(greatest(len($toksSql), 1) AS DOUBLE), 6)
       |    AS avg_token_len
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q22
  // Quality scoring: punctuation/digit/stopword ratios + composite flag
  // (C4/Gopher-style filters).
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val stops = TextAnalysis.EnglishStopwords
    Tables.documents(s, dir).select(
      col("doc_id"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.digitRatio(col("text")), 6).as("digit_ratio"),
      round(TextAnalysis.stopwordRatio(col("text"), stops), 6)
        .as("stopword_ratio"),
      TextAnalysis.qualityOk(col("text"), stops).as("quality_ok"))
      .orderBy(col("doc_id"))
  }

  private val q22Sql = {
    val stopsIn = TextAnalysis.EnglishStopwords
      .map(w => s"'$w'").mkString(", ")
    val nToks = s"greatest(len($toksSql), 1)"
    val punct = s"""CAST(length(text) - length(regexp_replace(text,
       '[[:punct:]]', '', 'g')) AS DOUBLE)
       / CAST(greatest(length(text), 1) AS DOUBLE)"""
    val digit = s"""CAST(length(text) - length(regexp_replace(text,
       '[0-9]', '', 'g')) AS DOUBLE)
       / CAST(greatest(length(text), 1) AS DOUBLE)"""
    val stop = s"""CAST(len(list_filter($toksSql,
       x -> x IN ($stopsIn))) AS DOUBLE) / CAST($nToks AS DOUBLE)"""
    val avgLen = s"""CAST(list_sum(list_transform($toksSql,
       x -> length(x))) AS DOUBLE) / CAST($nToks AS DOUBLE)"""
    s"""SELECT doc_id,
       |  round($punct, 6) AS punct_ratio,
       |  round($digit, 6) AS digit_ratio,
       |  round($stop, 6) AS stopword_ratio,
       |  (len($toksSql) >= 10 AND ($punct) < 0.2 AND ($digit) < 0.2
       |    AND ($stop) > 0.0 AND ($avgLen) < 12.0) AS quality_ok
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q23
  // Language-ID by stopword-profile voting, earliest-argmax tie-break.
  private def q23(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      TextAnalysis.langId(col("text"), langProfiles).as("pred_lang"))
      .orderBy(col("doc_id"))

  private val q23Sql = {
    def score(words: Seq[String]) = {
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($toksSql, x -> lower(x) IN ($in)))"
    }
    val scores = langProfiles.map { case (l, ws) => s"  ${score(ws)} AS s_$l" }
      .mkString(",\n")
    // earliest argmax == the fold-with-strict-> in TextAnalysis.langId
    val langs = langProfiles.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map("s_" + _)
      val bound = if (rest.size == 1) rest.head
        else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $bound THEN '$l'"
    }.mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |$scores
       |  FROM documents)
       |SELECT doc_id, labeled_lang,
       |  CASE
       |    $cases
       |    ELSE '${langs.last}'
       |  END AS pred_lang
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q156
  // Character-n-gram language ID (langIdNgram) — the production-grade
  // replacement for q23's stopword voting: per-language bigram-profile
  // dot products with INTEGER weights (exact longs, fold-order-free on
  // both engines), argmax with earliest-listed tie-break. The fixture
  // discriminates Latin AND CJK: every 5th doc's text is replaced by a
  // q151-style spliced ideograph run, and the zh profile is config —
  // the adjacent-pair bigrams of the splice alphabet (profiles ship as
  // broadcast plan literals, the payment-gateway-rules pattern). The
  // oracle replays every dot product closed-form as a CASE-mapped
  // list_sum over the same bigrams.
  private val NgramLangN = 2
  private val zhProfile: Seq[(String, Int)] = {
    val cps = CjkAlpha.toSeq.map(_.toString)
    cps.zip(cps.tail).map { case (a, b) => (a + b, 10) }
  }
  private val q156Profiles: Seq[(String, Seq[(String, Int)])] =
    TextAnalysis.NgramProfiles :+ ("zh" -> zhProfile)

  private def q156Mixed = when(col("doc_id") % 5 === 0,
      expr(s"repeat(substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5), 2)"))
    .otherwise(substring(col("text"), 1, 60))

  private def q156(s: SparkSession, dir: String): DataFrame = {
    val scoreCols = q156Profiles.map { case (lang, p) =>
      TextAnalysis.charNgramScore(q156Mixed, p, NgramLangN).as(s"s_$lang") }
    Tables.documents(s, dir).select(
      (col("doc_id") +: scoreCols) :+
        TextAnalysis.langIdNgram(q156Mixed, q156Profiles, NgramLangN)
          .as("pred_lang"): _*)
      .orderBy(col("doc_id"))
  }

  private val q156Sql = {
    val mixed = s"""CASE WHEN doc_id % 5 = 0
      THEN repeat(substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5), 2)
      ELSE substr(text, 1, 60) END"""
    val grams = s"""list_transform(range(1,
      greatest(length(lower($mixed)) - 1, 0) + 1),
      i -> substr(lower($mixed), i, $NgramLangN))"""
    def score(p: Seq[(String, Int)]) = {
      val whens = p.map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      s"coalesce(CAST(list_sum(list_transform($grams, g -> " +
        s"CASE g $whens ELSE 0 END)) AS BIGINT), 0)"
    }
    val scores = q156Profiles
      .map { case (l, p) => s"  ${score(p)} AS s_$l" }.mkString(",\n")
    val langs = q156Profiles.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map("s_" + _)
      val bound = if (rest.size == 1) rest.head
        else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $bound THEN '$l'"
    }.mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |$scores
       |  FROM documents)
       |SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
       |  CASE
       |    $cases
       |    ELSE '${langs.last}'
       |  END AS pred_lang
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q157
  // END-TO-END CJK curation composition (q146's shape for the CJK
  // ingest mode): spliced Han runs (q151's fixture) + Latin prefix →
  // cjkSegment ONCE at the ingest point → three UNCHANGED whitespace-
  // bound operators consume the segmented text — gopher quality rules,
  // self-corpus unigram cross-entropy, duplicated-span diagnostic —
  // joined to one row per doc with the segmented-text digest. The
  // oracle replays the segmenter (RE2 script classes) and then each
  // stage closed-form from the SAME segmented string, so a hash match
  // gates the composition contract cjkSegment was built for: segment
  // once, everything downstream just works.
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val mixed = concat(substring(col("text"), 1, 40), lit(" "),
      expr(s"substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5)"))
    val seg = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.cjkSegment(mixed).as("text"))
    val gopher = Curation.gopherQualityFilter(seg, "doc_id", "text",
      minWords = 8, maxWords = 60, minMeanWordLen = 1.5,
      maxMeanWordLen = 6.0, minUniqueFrac = 0.5, minStopwordFrac = 0.01,
      stopwords = Seq("的", "the"))
    val ce = Curation.unigramCrossEntropy(seg, "doc_id", "text")
    val spans = Curation.duplicatedSpanFraction(seg, "doc_id", "text",
      n = 3, flagThreshold = 0.5)
    seg.select(col("doc_id"), md5(col("text")).as("seg_hash"))
      .join(gopher.select(col("doc_id"),
        col("n_words").cast("long").as("n_words"), col("mean_word_len"),
        col("unique_frac"), col("stopword_frac"), col("keep")), "doc_id")
      .join(ce.select(col("id").as("doc_id"), col("ce")), "doc_id")
      .join(spans.select(col("id").as("doc_id"), col("n_spans"),
        col("n_dup_spans")), "doc_id")
      .orderBy(col("doc_id"))
  }

  private val q157Sql = {
    val cjk = "\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}"
    val segToks = """string_split_regex(trim(seg), '\s+')"""
    s"""WITH m AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      substr(text, 1, 40) || ' ' ||
       |        substr('$CjkAlpha', 1 + CAST(doc_id % 16 AS INT), 5),
       |      '([$cjk])', ' \\1 ', 'g') AS seg
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, md5(seg) AS seg_hash, $segToks AS toks FROM m),
       |g AS (
       |  SELECT doc_id, seg_hash, toks,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(toks,
       |      x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mwl,
       |    CAST(len(list_distinct(toks)) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS uf,
       |    CAST(len(list_filter(toks, w -> w IN ('的', 'the')))
       |      AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS sf
       |  FROM t),
       |tk AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |       FROM t),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM tk GROUP BY doc_id, dl, term),
       |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total FROM cf),
       |scored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln(CAST(cf.cf AS DOUBLE) / tt.t_total) AS nll
       |  FROM tf JOIN cf USING (term) CROSS JOIN tot tt),
       |ced AS (
       |  SELECT doc_id,
       |    round(list_inner_product(list(nll ORDER BY term),
       |      list_transform(list(nll ORDER BY term), x -> 1.0))
       |      / dl, 6) AS ce
       |  FROM scored GROUP BY doc_id, dl),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - 2, 0)),
       |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS gr
       |  FROM t),
       |dup AS (SELECT gr FROM sh GROUP BY gr
       |        HAVING count(DISTINCT doc_id) >= 2),
       |sp AS (
       |  SELECT s.doc_id, count(*) AS n_spans,
       |    count(*) FILTER (WHERE d.gr IS NOT NULL) AS n_dup_spans
       |  FROM sh s LEFT JOIN dup d ON s.gr = d.gr
       |  GROUP BY 1)
       |SELECT g.doc_id, g.seg_hash, g.n_words,
       |  round(g.mwl, 6) AS mean_word_len,
       |  round(g.uf, 6) AS unique_frac,
       |  round(g.sf, 6) AS stopword_frac,
       |  ((g.n_words >= 8 AND g.n_words <= 60)
       |    AND (g.mwl >= 1.5 AND g.mwl <= 6.0)
       |    AND g.uf >= 0.5 AND g.sf >= 0.01) AS keep,
       |  ced.ce, sp.n_spans, sp.n_dup_spans
       |FROM g JOIN ced USING (doc_id) JOIN sp USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q158
  // Feature-fusion quality scoring: three INDEPENDENTLY-GATED upstream
  // signals — gopher unique_frac (q125's family), self-corpus unigram
  // CE (q98), and a langIdNgram English flag (q156) — fused by
  // Curation.logisticScore into one classifier column. All features
  // are round(…,6)-pinned doubles or exact flags, so the left-assoc
  // dot + sigmoid replays closed-form; the oracle rebuilds each
  // feature from its own query's SQL and fuses identically.
  private val FuseW = Seq(1.2, -0.4, 0.9)
  private val FuseBias = -0.3

  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val docs = Tables.documents(s, dir)
    val feats = Curation.gopherQualityFilter(docs, "doc_id", "text")
      .select(col("doc_id"), col("unique_frac"))
      .join(Curation.unigramCrossEntropy(docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("ce")), "doc_id")
      .join(docs.select(col("doc_id"),
        (TextAnalysis.langIdNgram(col("text"), TextAnalysis.NgramProfiles)
          === "en").cast("double").as("is_en")), "doc_id")
    Curation.logisticScore(feats, "doc_id",
        Seq("unique_frac", "ce", "is_en"), FuseW, FuseBias)
      .orderBy(col("doc_id"))
  }

  private val q158Sql = {
    val Seq(w1, w2, w3) = FuseW
    def score(p: Seq[(String, Int)]) = {
      val whens = p.map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      s"""coalesce(CAST(list_sum(list_transform(
         |    list_transform(range(1, greatest(length(lower(text)) - 1, 0)
         |      + 1), i -> substr(lower(text), i, 2)),
         |    g -> CASE g $whens ELSE 0 END)) AS BIGINT), 0)""".stripMargin
    }
    val scores = TextAnalysis.NgramProfiles
      .map { case (l, p) => s"  ${score(p)} AS s_$l" }.mkString(",\n")
    s"""WITH tk AS (
       |  SELECT doc_id, len(t) AS dl, unnest(t) AS term
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM tk GROUP BY doc_id, dl, term),
       |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total FROM cf),
       |scored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln(CAST(cf.cf AS DOUBLE) / tt.t_total) AS nll
       |  FROM tf JOIN cf USING (term) CROSS JOIN tot tt),
       |ced AS (
       |  SELECT doc_id,
       |    round(list_inner_product(list(nll ORDER BY term),
       |      list_transform(list(nll ORDER BY term), x -> 1.0))
       |      / dl, 6) AS ce
       |  FROM scored GROUP BY doc_id, dl),
       |uf AS (
       |  SELECT doc_id,
       |    round(CAST(len(list_distinct($toksSql)) AS DOUBLE)
       |      / CAST(greatest(len($toksSql), 1) AS DOUBLE), 6)
       |      AS unique_frac
       |  FROM documents),
       |lg AS (
       |  SELECT doc_id,
       |    CASE WHEN s_en >= greatest(s_fr, s_es, s_de)
       |         THEN 1.0 ELSE 0.0 END AS is_en
       |  FROM (SELECT doc_id,
       |$scores
       |        FROM documents)),
       |z AS (
       |  SELECT uf.doc_id, uf.unique_frac, ced.ce, lg.is_en,
       |    ((($FuseBias + ($w1 * uf.unique_frac)) + ($w2 * ced.ce))
       |      + ($w3 * lg.is_en)) AS z
       |  FROM uf JOIN ced USING (doc_id) JOIN lg USING (doc_id))
       |SELECT doc_id, unique_frac, ce, is_en,
       |  round(1.0 / (1.0 + exp(-z)), 6) AS score,
       |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS label
       |FROM z ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  // Token-set fingerprint (order-insensitive content hash).
  private def q24(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.tokenSetFingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  private val q24Sql =
    s"""SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
       |    AS fingerprint
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q25
  // Exact n-gram Jaccard near-dup pairs via the prefix-filtered similarity
  // join (never all-pairs; capped id range keeps the ORACLE's cross join
  // tractable — our side would scale far beyond it).
  private val JaccardMaxId = 1000L
  private def q25(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardSimilarityJoin(
      Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxId),
      "doc_id", "text", n = 3, threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  private val q25Sql = {
    // distinct sorted word-3-gram shingle set per doc
    val sh =
      s"""list_sort(list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> concat_ws(' ', $toksSql[i], $toksSql[i+1],
         |                   $toksSql[i+2]))))""".stripMargin
    s"""WITH sets AS (
       |  SELECT doc_id AS id, $sh AS sh
       |  FROM documents WHERE doc_id < $JaccardMaxId),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS uni
       |  FROM sets a JOIN sets b ON a.id < b.id)
       |SELECT id_a, id_b, round(inter / uni, 6) AS jaccard
       |FROM pairs
       |WHERE uni > 0 AND inter / uni >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q26
  // MinHash+LSH near-dup (scale path). LSH can only MISS pairs vs the
  // exact join (never emit false positives — every candidate is
  // exact-Jaccard-verified), so the exact-pairs SQL is a valid (and
  // strict) oracle: if banding recall ever drops below 1.0 on the gate
  // corpus, the gate fails loudly instead of silently weakening to a
  // rows-only check. Banding is 32 bands of 2: candidate probability at
  // the s=0.4 decision boundary is 1-(1-0.4^2)^32 ≈ 0.996, vs ≈ 0.34
  // for 16 bands of 4 — which measurably missed a boundary pair on the
  // sf0.001 corpus. Cost: the banded shuffle carries 2x rows, still
  // (band, hash, id) triples, never documents.
  private def q26(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(
      Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxId),
      "doc_id", "text", n = 3, threshold = 0.4, numHashes = 64,
      bands = 32)
      .orderBy(col("id_a"), col("id_b"))

  // ---------------------------------------------------------------- q27
  // SimHash near-dup via pigeonhole blocking (scale path; equality with
  // the all-pairs baseline asserted in DedupSpec). Uses the md5-derived
  // 60-bit fingerprint so DuckDB can rebuild the exact same simhashes —
  // the oracle is the all-pairs hamming join, which the blocked join must
  // reproduce verbatim (pigeonhole guarantees no misses at maxHamming).
  private def q27(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairsBlocked(
      Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxId),
      "doc_id", "text", maxHamming = 12,
      fp = Dedup.simHashMd5, bits = 60)
      .orderBy(col("id_a"), col("id_b"))

  private val q27Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE doc_id < $JaccardMaxId),
       |h AS (SELECT doc_id,
       |        CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |      FROM toks),
       |bits AS (SELECT unnest(range(60)) AS b),
       |votes AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN bits GROUP BY doc_id, b),
       |fp AS (SELECT doc_id,
       |         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
       |           ELSE 0 END) AS BIGINT) AS fp
       |       FROM votes GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 12
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q28
  // End-to-end corpus dedup: near-dup pairs (prefix-filtered Jaccard) →
  // connected components → one surviving doc per cluster. Oracle uses a
  // recursive CTE for min-reachable-id over the same pair graph.
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxId)
    Dedup.dedupCorpus(docs, "doc_id",
        Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.4))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  private val q28Sql = {
    val sh =
      s"""list_sort(list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> concat_ws(' ', $toksSql[i], $toksSql[i+1],
         |                   $toksSql[i+2]))))""".stripMargin
    s"""WITH RECURSIVE sets AS (
       |  SELECT doc_id AS id, $sh AS sh
       |  FROM documents WHERE doc_id < $JaccardMaxId),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM sets a JOIN sets b ON a.id < b.id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND len(list_distinct(list_concat(a.sh, b.sh))) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
       |      >= 0.4),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id < $JaccardMaxId
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
       |SELECT id AS doc_id FROM labels WHERE id = label
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q43
  // Deterministic train/val/test folds: fold = md5-hash(doc_id) mod 10 —
  // a pure projection (no shuffle for the assignment itself), stable
  // across runs, partitionings, and engines; the oracle recomputes the
  // identical assignment in DuckDB.
  private def q43(s: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.assignFolds(
        Tables.documents(s, dir), "doc_id", folds = 10)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.OracleSafe.dsum(length(col("text")))
          .as("total_chars"))
      .orderBy(col("fold"))

  private val q43Sql =
    """SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |    AS BIGINT) % 10 AS fold,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(length(text) AS DECIMAL(28,6))) AS DOUBLE)
      |    AS total_chars
      |FROM documents
      |GROUP BY fold
      |ORDER BY fold""".stripMargin

  // ---------------------------------------------------------------- q44
  // Leakage-safe GROUPED split: fold keyed on user_id, so every event of
  // a user lands in one fold (the split unit is the entity, not the row).
  private def q44(s: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.assignFolds(
        Tables.events(s, dir), "user_id", folds = 5)
      .groupBy(col("fold"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        graft.functions.OracleSafe.dsum(col("value")).as("total_value"))
      .orderBy(col("fold"))

  // --------------------------------------------------------------- q123
  // Reproducible corpus shuffle: every doc gets a shard (md5 fold) and
  // a within-shard position (rank by md5 hex, id tiebreak) — replaying
  // shard files in position order is the training order, on any engine.
  // DuckDB restates the assignment verbatim.
  private def q123(s: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.corpusShuffle(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id",
        shards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  private val q123Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 8 AS shard,
      |    md5(CAST(doc_id AS VARCHAR)) AS k
      |  FROM documents)
      |SELECT doc_id, shard,
      |  row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1
      |    AS pos
      |FROM d ORDER BY doc_id""".stripMargin

  private val q44Sql =
    """SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |    AS BIGINT) % 5 AS fold,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY fold
      |ORDER BY fold""".stripMargin

  // ---------------------------------------------------------------- q93
  // Okapi BM25 relevance against a literal query-term bag. tf/df/dl are
  // exact integers; the per-doc sum folds term scores IN TERM ORDER on
  // both sides (Spark: sorted-array aggregate; DuckDB: ordered list +
  // list_inner_product with a ones vector), so no float reduction depends
  // on row order. Constants mirror as the same literal expressions
  // ((1.2 + 1.0), not 2.2 — double parsing must agree).
  private val Bm25Terms = Seq("spark", "vector", "hash", "stream")
  private def q93(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25(
        Tables.documents(s, dir), "doc_id", "text", Bm25Terms)
      .select(col("id").as("doc_id"), col("n_terms"),
        round(col("bm25"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)

  private val q93Sql = {
    val termsList = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, len($toksSql) AS dl,
       |    unnest(list_filter($toksSql, t -> list_contains($termsList, t)))
       |      AS term
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(CAST(len($toksSql) AS BIGINT)) AS DOUBLE) /
       |      count(*) AS avgdl
       |  FROM documents),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM toks GROUP BY doc_id, dl, term),
       |dft AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln((CAST(s.n_docs AS DOUBLE) - dft.doc_freq + 0.5) /
       |        (CAST(dft.doc_freq AS DOUBLE) + 0.5) + 1.0) *
       |      (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
       |      (CAST(tf.tf AS DOUBLE) +
       |        (1.2 * ((1.0 - 0.75) +
       |          (0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl)))) AS ts
       |  FROM tf JOIN dft USING (term) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    list(ts ORDER BY term) AS scores
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, n_terms,
       |  round(list_inner_product(scores,
       |    list_transform(scores, x -> 1.0)), 6) AS bm25
       |FROM agg
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------- q98
  // Per-doc unigram cross-entropy vs the corpus's own unigram LM — the
  // perplexity-filter family (CCNet-style quality signal) with the
  // corpus as its own model. Same determinism recipe as q93: exact
  // integer tf/cf/T, ln on a double ratio, per-doc sum folded IN TERM
  // ORDER on both engines.
  private def q98(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.unigramCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_terms"),
        col("ce"))
      .orderBy(col("doc_id"))

  private val q98Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM toks GROUP BY doc_id, dl, term),
       |cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total FROM cf),
       |scored AS (
       |  SELECT tf.doc_id, tf.dl,tf.term,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln(CAST(cf.cf AS DOUBLE) / t.t_total) AS nll
       |  FROM tf JOIN cf USING (term) CROSS JOIN tot t),
       |agg AS (
       |  SELECT doc_id, dl, count(*) AS n_terms,
       |    list(nll ORDER BY term) AS ls
       |  FROM scored GROUP BY doc_id, dl)
       |SELECT doc_id, dl AS n_tokens, n_terms,
       |  round(list_inner_product(ls, list_transform(ls, x -> 1.0))
       |    / dl, 6) AS ce
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q101
  // Frozen-LM cross-entropy: the LM is trained on half the corpus (even
  // doc_ids) and the OTHER half is scored against it — the deployment
  // shape of the perplexity filter, where incoming batches contain terms
  // the frozen model never saw. Add-1 smoothing over V+1 classes; the
  // odd half's novel terms land in the pooled OOV class and the output
  // reports how much of each doc that class absorbed.
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lm = graft.operators.Curation.unigramLm(
      docs.filter(col("doc_id") % 2 === 0), "text")
    graft.operators.Curation.unigramCrossEntropyAgainst(
        docs.filter(col("doc_id") % 2 === 1), lm, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_terms"),
        col("oov_terms"), col("oov_tokens"), col("ce"))
      .orderBy(col("doc_id"))
  }

  private val q101Sql =
    s"""WITH lmtoks AS (
       |  SELECT unnest($toksSql) AS term FROM documents
       |  WHERE doc_id % 2 = 0),
       |lm AS (SELECT term, count(*) AS cf FROM lmtoks GROUP BY term),
       |stats AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total,
       |                 CAST(count(*) AS DOUBLE) AS v_size FROM lm),
       |toks AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents
       |        WHERE doc_id % 2 = 1)),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM toks GROUP BY doc_id, dl, term),
       |scored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf,
       |    lm.cf IS NULL AS oov,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln((CAST(coalesce(lm.cf, 0) AS DOUBLE) + 1.0)
       |          / (s.t_total + 1.0 * (s.v_size + 1.0))) AS nll
       |  FROM tf LEFT JOIN lm USING (term) CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, dl, count(*) AS n_terms,
       |    CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
       |      AS oov_terms,
       |    CAST(sum(CASE WHEN oov THEN tf ELSE 0 END) AS BIGINT)
       |      AS oov_tokens,
       |    list(nll ORDER BY term) AS ls
       |  FROM scored GROUP BY doc_id, dl)
       |SELECT doc_id, dl AS n_tokens, n_terms, oov_terms, oov_tokens,
       |  round(list_inner_product(ls, list_transform(ls, x -> 1.0))
       |    / dl, 6) AS ce
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q120
  // DSIR importance weighting: target = src0's 5% of the corpus, every
  // other doc scored by dl·(ce_raw − ce_target) under the shared add-1
  // smoothing (Curation.dsirImportance). The oracle rebuilds BOTH frozen
  // LMs, both CE scores (nll folded in term order, the q101 recipe), the
  // rounded log weight, and the keep gate.
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Curation.dsirImportance(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("tgt_oov_tokens"), col("ce_target"), col("ce_raw"),
        col("log_weight"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val q120Sql =
    s"""WITH tgt_toks AS (
       |  SELECT unnest($toksSql) AS term FROM documents
       |  WHERE source = 'src0'),
       |tgtlm AS (SELECT term, count(*) AS cf FROM tgt_toks GROUP BY term),
       |tgtstats AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total,
       |                    CAST(count(*) AS DOUBLE) AS v_size FROM tgtlm),
       |toks AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents
       |        WHERE source <> 'src0')),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM toks GROUP BY doc_id, dl, term),
       |rawlm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
       |          FROM tf GROUP BY term),
       |rawstats AS (SELECT CAST(sum(cf) AS DOUBLE) AS t_total,
       |                    CAST(count(*) AS DOUBLE) AS v_size FROM rawlm),
       |tscored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term, tf.tf,
       |    tgtlm.cf IS NULL AS oov,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln((CAST(coalesce(tgtlm.cf, 0) AS DOUBLE) + 1.0)
       |          / (s.t_total + 1.0 * (s.v_size + 1.0))) AS nll
       |  FROM tf LEFT JOIN tgtlm USING (term) CROSS JOIN tgtstats s),
       |tagg AS (
       |  SELECT doc_id, dl,
       |    CAST(sum(CASE WHEN oov THEN tf ELSE 0 END) AS BIGINT)
       |      AS tgt_oov_tokens,
       |    list(nll ORDER BY term) AS ls
       |  FROM tscored GROUP BY doc_id, dl),
       |tce AS (
       |  SELECT doc_id, dl, tgt_oov_tokens,
       |    round(list_inner_product(ls, list_transform(ls, x -> 1.0))
       |      / dl, 6) AS ce_target
       |  FROM tagg),
       |rscored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term,
       |    CAST(tf.tf AS DOUBLE) *
       |      -ln((CAST(coalesce(rawlm.cf, 0) AS DOUBLE) + 1.0)
       |          / (s.t_total + 1.0 * (s.v_size + 1.0))) AS nll
       |  FROM tf LEFT JOIN rawlm USING (term) CROSS JOIN rawstats s),
       |ragg AS (SELECT doc_id, dl, list(nll ORDER BY term) AS ls
       |         FROM rscored GROUP BY doc_id, dl),
       |rce AS (
       |  SELECT doc_id,
       |    round(list_inner_product(ls, list_transform(ls, x -> 1.0))
       |      / dl, 6) AS ce_raw
       |  FROM ragg),
       |w AS (
       |  SELECT t.doc_id, t.dl AS n_tokens, t.tgt_oov_tokens,
       |    t.ce_target, r.ce_raw,
       |    round(t.dl * (r.ce_raw - t.ce_target), 6) AS log_weight
       |  FROM tce t JOIN rce r USING (doc_id))
       |SELECT doc_id, n_tokens, tgt_oov_tokens, ce_target, ce_raw,
       |  log_weight, log_weight >= 0 AS keep
       |FROM w ORDER BY doc_id""".stripMargin

  /** PII redaction + audit counts (TextAnalysis.redactPii / piiCounts),
    * oracle-gated: the driver tables contain no PII, so each doc gets a
    * deterministic synthetic PII sentence built closed-form from its id —
    * an email (always), an SSN (even ids), a grouped card number
    * (ids % 3 = 0), and a phone (ids % 5 ≠ 0), each in its canonical
    * written shape and separated so the patterns can't interact. The
    * redacted text is then a pure function of the id arithmetic: DuckDB
    * rebuilds it tag-for-tag (never running a regex), so a hash match
    * proves the four patterns fire exactly once each where expected, in
    * the documented email→ssn→card→phone order, and nowhere else.
    */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val email = concat(lit("user"), d.cast("string"), lit("@example.com"))
    val ssn = format_string("%03d-%02d-%04d",
      d % 900 + 100, d % 89 + 10, d % 9000 + 1000)
    val card = format_string("4111 2222 3333 %04d", d % 9000 + 1000)
    val phone = format_string("(555) 123-%04d", d % 9000 + 1000)
    val text = concat_ws(" ",
      lit("Contact"), email,
      when(d % 2 === 0, concat(lit("ssn "), ssn)).otherwise(lit("no ssn")),
      when(d % 3 === 0, concat(lit("card "), card)).otherwise(lit("no card")),
      when(d % 5 =!= 0, concat(lit("tel "), phone)).otherwise(lit("no tel")),
      lit("end"))
    Tables.documents(s, dir).select(d, text.as("text"))
      .select(d,
        TextAnalysis.redactPii(col("text")).as("redacted"),
        TextAnalysis.piiCounts(col("text")).as("c"))
      .select(d, col("redacted"),
        col("c.email").as("n_email"), col("c.ssn").as("n_ssn"),
        col("c.card").as("n_card"), col("c.phone").as("n_phone"))
      .orderBy(d)
  }

  private val q110Sql =
    """SELECT doc_id,
      |  'Contact <EMAIL> ' ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'ssn <SSN>' ELSE 'no ssn' END ||
      |  ' ' ||
      |  CASE WHEN doc_id % 3 = 0 THEN 'card <CARD>' ELSE 'no card' END ||
      |  ' ' ||
      |  CASE WHEN doc_id % 5 <> 0 THEN 'tel <PHONE>' ELSE 'no tel' END ||
      |  ' end' AS redacted,
      |  CAST(1 AS INTEGER) AS n_email,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
      |    AS n_ssn,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
      |    AS n_card,
      |  CAST(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS INTEGER)
      |    AS n_phone
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q126
  // Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
  // BM25 (q93's probabilistic ranker) and Dirichlet query likelihood
  // (Zhai & Lafferty 2001 — the LM ranker) each produce a top-50 for the
  // same query bag; RRF(d) = Σ 1/(60 + rank_sys(d)) fuses them, summed
  // in sorted system-name order on both engines. Ranks are assigned on
  // 6-dp-ROUNDED scores (doc_id tie-break) — q93 proves rounded-BM25
  // engine parity, and rounding absorbs last-ulp ln() differences in the
  // QL scores. The rank windows run AFTER a TakeOrdered top-50, so no
  // corpus-sized single-partition window exists in the plan.
  private def rankTop50(scored: DataFrame): DataFrame = {
    val top = scored.orderBy(col("score").desc, col("id").asc).limit(50)
    top.select(col("id"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)).as("rank"))
  }

  private def q126(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ONE persisted tokenize pass feeds both rankers (r17): each ranker
    // otherwise re-tokenizes the corpus per aggregate subtree (measured
    // 5 corpus scans in the q126 plan). Lifetime: [[CacheScope]].
    val toks = CacheScope.persist(docs.select(col("doc_id").as("id"),
        graft.functions.TextAnalysis.tokens(col("text")).as("_toks")))
    val bm = graft.operators.Retrieval
      .bm25FromToks(toks, Bm25Terms)
      .select(col("id"), round(col("bm25"), 6).as("score"))
    val ql = graft.operators.Retrieval
      .queryLikelihoodFromToks(toks, Bm25Terms)
      .select(col("id"), round(col("ql"), 6).as("score"))
    graft.operators.Retrieval
      .rrfFuse(Seq("bm25" -> rankTop50(bm), "ql" -> rankTop50(ql)))
      .select(col("id").as("doc_id"), col("n_systems"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(80)
  }

  private val q126Sql = {
    val termsSorted = Bm25Terms.distinct.sorted
    val termsList = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val tfCols = termsSorted.map(t =>
      s"count(*) FILTER (WHERE term = '$t') AS tf_$t").mkString(",\n    ")
    val cfCols = termsSorted.map(t =>
      s"sum(CAST(tf_$t AS BIGINT)) AS cf_$t").mkString(", ")
    // QL score: fold in sorted term order, mirroring the Column form's
    // mu * (cf/C) driver-side division then scalar ops
    val qlSum = termsSorted.map(t =>
      s"""ln((CAST(c.tf_$t AS DOUBLE) +
         |      (300.0 * (CAST(s.cf_$t AS DOUBLE) / CAST(s.c_total AS DOUBLE))))
         |     / (CAST(c.dl AS DOUBLE) + 300.0))""".stripMargin)
      .mkString("(", "\n  + ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, len($toksSql) AS dl,
       |    unnest(list_filter($toksSql, t -> list_contains($termsList, t)))
       |      AS term
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(CAST(len($toksSql) AS BIGINT)) AS DOUBLE) /
       |      count(*) AS avgdl
       |  FROM documents),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf
       |       FROM toks GROUP BY doc_id, dl, term),
       |dft AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
       |bscored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln((CAST(s.n_docs AS DOUBLE) - dft.doc_freq + 0.5) /
       |        (CAST(dft.doc_freq AS DOUBLE) + 0.5) + 1.0) *
       |      (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
       |      (CAST(tf.tf AS DOUBLE) +
       |        (1.2 * ((1.0 - 0.75) +
       |          (0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl)))) AS ts
       |  FROM tf JOIN dft USING (term) CROSS JOIN stats s),
       |bagg AS (
       |  SELECT doc_id, round(list_inner_product(
       |      list(ts ORDER BY term),
       |      list_transform(list(ts ORDER BY term), x -> 1.0)), 6)
       |    AS score
       |  FROM bscored GROUP BY doc_id),
       |bmr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS rank
       |  FROM (SELECT * FROM bagg ORDER BY score DESC, doc_id LIMIT 50)),
       |cand AS (
       |  SELECT doc_id, any_value(dl) AS dl,
       |    $tfCols
       |  FROM toks GROUP BY doc_id),
       |qstats AS (
       |  SELECT sum(CAST(len($toksSql) AS BIGINT)) AS c_total
       |  FROM documents),
       |cf AS (SELECT $cfCols FROM cand),
       |qls AS (
       |  SELECT c.doc_id,
       |    round($qlSum, 6) AS score
       |  FROM cand c CROSS JOIN (SELECT q.c_total, f.* FROM qstats q
       |    CROSS JOIN cf f) s),
       |qlr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS rank
       |  FROM (SELECT * FROM qls ORDER BY score DESC, doc_id LIMIT 50))
       |SELECT coalesce(b.doc_id, q.doc_id) AS doc_id,
       |  CAST((CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END) +
       |       (CASE WHEN q.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_systems,
       |  round(coalesce(1.0 / (60.0 + CAST(b.rank AS DOUBLE)), 0.0) +
       |        coalesce(1.0 / (60.0 + CAST(q.rank AS DOUBLE)), 0.0), 6)
       |    AS rrf
       |FROM bmr b FULL JOIN qlr q ON b.doc_id = q.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 80""".stripMargin
  }

  // --------------------------------------------------------------- q131
  // Asymmetric containment near-dup (the quote/subset detector): ordered
  // pairs with |S(a)∩S(b)|/|S(a)| >= 0.15 over word-3-gram sets (0.15, not higher: the synthetic corpus is bimodal — replicas at ~1.0 and noise below — and 0.15 keeps the mid-band partial-overlap pairs in the gate). Same
  // capped-id construction as q25 (oracle cross-join tractability); the
  // hashed-shingle join in Spark vs the string-gram join in DuckDB
  // agree absent 2^-65 hash collisions (the q79 argument).
  private def q131(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(s, dir).filter(col("doc_id") < JaccardMaxId),
      "doc_id", "text", n = 3, threshold = 0.15)
      .orderBy(col("id_a"), col("id_b"))

  private val q131Sql = {
    val sh =
      s"""list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> concat_ws(' ', $toksSql[i], $toksSql[i+1],
         |                   $toksSql[i+2])))""".stripMargin
    s"""WITH sets AS (
       |  SELECT doc_id AS id, $sh AS sh
       |  FROM documents WHERE doc_id < $JaccardMaxId),
       |tok AS (SELECT id, unnest(sh) AS g FROM sets),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.g = b.g AND a.id <> b.id
       |  GROUP BY 1, 2),
       |sz AS (SELECT id, len(sh) AS sz FROM sets)
       |SELECT i.id_a, i.id_b,
       |  round(CAST(i.inter AS DOUBLE) / CAST(s.sz AS DOUBLE), 6)
       |    AS containment
       |FROM inter i JOIN sz s ON i.id_a = s.id
       |WHERE CAST(i.inter AS DOUBLE) / CAST(s.sz AS DOUBLE) >= 0.15
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------- q147
  // Per-doc BIGRAM cross-entropy vs the corpus's own add-one bigram LM
  // (q98's next order — the KenLM word-ORDER signal). Same determinism
  // recipe: exact integer counts, ln on double ratios, per-doc sum
  // folded in (l, r) order; short docs kept with n_bigrams = 0.
  private def q147(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.bigramCrossEntropy(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("ce"))
      .orderBy(col("doc_id"))

  private val q147Sql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |bg0 AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    list_extract(toks, x.i) AS l,
       |    list_extract(toks, x.i + 1) AS r
       |  FROM t, unnest(range(1, greatest(len(toks), 1))) AS x(i)
       |  WHERE len(toks) >= 2),
       |bgt AS (
       |  SELECT doc_id, dl, l, r, count(*) AS tf
       |  FROM bg0 GROUP BY doc_id, dl, l, r),
       |bf AS (SELECT l, r, sum(tf) AS bf FROM bgt GROUP BY l, r),
       |lc AS (SELECT l, sum(bf) AS lcnt FROM bf GROUP BY l),
       |v AS (
       |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |  FROM (SELECT unnest(toks) AS tok FROM t)),
       |scored AS (
       |  SELECT g.doc_id, g.dl, g.l, g.r,
       |    CAST(g.tf AS DOUBLE) *
       |      -ln((CAST(bf.bf AS DOUBLE) + 1.0) /
       |          (CAST(lc.lcnt AS DOUBLE) + v.v + 1.0)) AS nll
       |  FROM bgt g JOIN bf USING (l, r) JOIN lc USING (l)
       |  CROSS JOIN v),
       |agg AS (
       |  SELECT doc_id, dl, list(nll ORDER BY l, r) AS ls
       |  FROM scored GROUP BY doc_id, dl),
       |res AS (
       |  SELECT doc_id,
       |    round(list_inner_product(ls, list_transform(ls, x -> 1.0))
       |      / (dl - 1), 6) AS ce
       |  FROM agg)
       |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(greatest(len(t.toks) - 1, 0) AS BIGINT) AS n_bigrams,
       |  coalesce(res.ce, 0.0) AS ce
       |FROM t LEFT JOIN res USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_bigram_ce" -> (q147 _),
    "q131_containment" -> (q131 _),
    "q126_rrf_hybrid" -> (q126 _),
    "q110_pii_redaction" -> (q110 _),
    "q98_unigram_ce" -> (q98 _),
    "q101_unigram_ce_frozen" -> (q101 _),
    "q120_dsir_importance" -> (q120 _),
    "q93_bm25" -> (q93 _),
    "q43_fold_split" -> (q43 _),
    "q44_grouped_split" -> (q44 _),
    "q123_corpus_shuffle" -> (q123 _),
    "q20_exact_dedup" -> (q20 _),
    "q151_cjk_tokens" -> (q151 _),
    "q21_token_stats" -> (q21 _),
    "q22_quality_score" -> (q22 _),
    "q23_langid" -> (q23 _),
    "q156_langid_ngram" -> (q156 _),
    "q157_cjk_pipeline" -> (q157 _),
    "q158_quality_fusion" -> (q158 _),
    "q24_fingerprint" -> (q24 _),
    "q25_ngram_jaccard" -> (q25 _),
    "q26_minhash_lsh" -> (q26 _),
    "q27_simhash" -> (q27 _),
    "q28_dedup_corpus" -> (q28 _))

  val oracleSql: Map[String, String] = Map(
    "q131_containment" -> q131Sql,
    "q126_rrf_hybrid" -> q126Sql,
    "q110_pii_redaction" -> q110Sql,
    "q98_unigram_ce" -> q98Sql,
    "q147_bigram_ce" -> q147Sql,
    "q101_unigram_ce_frozen" -> q101Sql,
    "q120_dsir_importance" -> q120Sql,
    "q93_bm25" -> q93Sql,
    "q43_fold_split" -> q43Sql,
    "q44_grouped_split" -> q44Sql,
    "q123_corpus_shuffle" -> q123Sql,
    "q20_exact_dedup" -> q20Sql,
    "q151_cjk_tokens" -> q151Sql,
    "q21_token_stats" -> q21Sql,
    "q22_quality_score" -> q22Sql,
    "q23_langid" -> q23Sql,
    "q156_langid_ngram" -> q156Sql,
    "q157_cjk_pipeline" -> q157Sql,
    "q158_quality_fusion" -> q158Sql,
    "q24_fingerprint" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q26_minhash_lsh" -> q25Sql, // see q26 note: row-identical to q25
    "q27_simhash" -> q27Sql,
    "q28_dedup_corpus" -> q28Sql)
}

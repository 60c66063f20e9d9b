package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.queries.TextQueries

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and bpe-ish") {
    val df = Seq("hello world, it's 42 degrees!").toDF("t")
    val (ws, bp) = df.select(
      TextAnalysis.tokenCount(col("t")),
      TextAnalysis.bpeishTokenCount(col("t"))).as[(Int, Int)].head()
    assert(ws == 5)
    // hello | world | , | it | ' | s | 42 | degrees | !
    assert(bp == 9)
  }

  test("punct and digit ratios") {
    val df = Seq("ab,.12").toDF("t")
    val (p, d) = df.select(
      TextAnalysis.punctRatio(col("t")),
      TextAnalysis.digitRatio(col("t"))).as[(Double, Double)].head()
    assert(math.abs(p - 2.0 / 6) < 1e-12)
    assert(math.abs(d - 2.0 / 6) < 1e-12)
  }

  test("stopword ratio counts exact token hits") {
    val df = Seq("the cat and the hat").toDF("t")
    val r = df.select(TextAnalysis.stopwordRatio(col("t"),
      TextAnalysis.EnglishStopwords)).as[Double].head()
    assert(math.abs(r - 3.0 / 5) < 1e-12) // the, and, the
  }

  test("langid votes by stopword profile, earliest argmax on ties") {
    val df = Seq(
      "the cat is on the mat",        // en
      "le chat est dans la maison",   // fr
      "xyzzy plugh nothing matches"   // all-zero → first profile (en)
    ).toDF("t")
    val got = df.select(TextAnalysis.langId(col("t"),
      TextQueries.langProfiles).as("l")).as[String].collect().toSeq
    assert(got == Seq("en", "fr", "en"))
  }

  test("shingles produce n-grams in order; short docs give empty array") {
    val df = Seq("a b c d", "a b").toDF("t")
    val got = df.select(TextAnalysis.shingles(col("t"), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got.head == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("token-set fingerprint is order-insensitive") {
    val df = Seq(("dog cat bird", "bird dog cat dog")).toDF("a", "b")
    val (fa, fb) = df.select(
      TextAnalysis.tokenSetFingerprint(col("a")),
      TextAnalysis.tokenSetFingerprint(col("b"))).as[(String, String)].head()
    assert(fa == fb)
  }

  test("cjkSegment/tokensCjk: one token per Han/kana/hangul code point, " +
    "Latin runs keep word boundaries, whitespace text is unchanged") {
    val df = Seq(
      "spark引擎很快 fast engine",
      "ホテル123 ok",
      "한국어 test",
      "plain ascii only").toDF("t")
    val got = df.select(TextAnalysis.tokensCjk(col("t")).as("tk"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("spark", "引", "擎", "很", "快", "fast", "engine"))
    assert(got(1) == Seq("ホ", "テ", "ル", "123", "ok"))
    assert(got(2) == Seq("한", "국", "어", "test"))
    assert(got(3) == Seq("plain", "ascii", "only"),
      "pure-ASCII text must tokenize exactly as tokens() does")
  }

  test("cjkSegment composes: segmented CJK docs flow through MinHash " +
    "near-dup and BPE merges with per-character granularity") {
    // two near-dup CJK docs (one char differs) + one unrelated: shingles
    // over UNSEGMENTED text see one giant token; over segmented text the
    // near-dup pair collides
    val docs = Seq(
      (1L, "這是一個很長的句子用來測試近似重複檢測的效果很好"),
      (2L, "這是一個很長的句子用來測試近似重複檢測的效果很妙"),
      (3L, "完全不同的內容和主題沒有任何重疊部分存在這裡面")).toDF("doc_id", "raw")
    val seg = docs.withColumn("text",
      TextAnalysis.cjkSegment(col("raw")))
    val pairs = graft.operators.Dedup.minHashLsh(seg, "doc_id", "text",
        n = 3, threshold = 0.5, numHashes = 64, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
    val none = graft.operators.Dedup.minHashLsh(docs
        .withColumnRenamed("raw", "text"), "doc_id", "text",
        n = 3, threshold = 0.5, numHashes = 64, bands = 32).count()
    assert(none == 0L, "unsegmented CJK must degenerate (the r14 gap)")
    // gopher rules: unsegmented CJK text is ONE giant word per line —
    // fails minWords and blows maxMeanWordLen; segmented text carries
    // real token statistics
    val gRaw = graft.operators.Curation.gopherQualityFilter(
        docs.withColumnRenamed("raw", "text"), "doc_id", "text",
        minWords = 10, minMeanWordLen = 1.0, maxMeanWordLen = 10.0)
      .filter(col("keep")).count()
    val gSeg = graft.operators.Curation.gopherQualityFilter(
        seg.drop("raw"), "doc_id", "text",
        minWords = 10, minMeanWordLen = 1.0, maxMeanWordLen = 10.0)
      .filter(col("keep")).count()
    assert(gRaw == 0L && gSeg == 3L,
      s"gopher keep: raw=$gRaw seg=$gSeg — segmentation must restore " +
        "token statistics")
    // unigram CE: per-character LM over segmented text gives every doc
    // a real token count (dl == ideograph count), not dl == 1
    val ce = graft.operators.Curation.unigramCrossEntropy(
        seg.drop("raw"), "doc_id", "text")
      .select("id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(ce.values.forall(_ >= 20L),
      s"CE token counts must be per-ideograph: $ce")

    // BPE pre-tokenization wants CJK RUNS as words (code-point seeding
    // merges ideograph pairs inside the run) — raw text, NOT the
    // char-level segmenter, is the right BPE input; the segmenter is
    // for the whitespace-tokenized operators above
    val merges = graft.operators.Curation.learnBpeMerges(
        docs.withColumnRenamed("raw", "text"), "text",
        rounds = 2, minFreq = 2L)
      .select("left", "right").as[(String, String)].collect().toSeq
    assert(merges.nonEmpty &&
      merges.head._1.length == 1 && merges.head._2.length == 1,
      s"first CJK merge should pair single ideographs: $merges")
  }

  test("quality flag rejects punctuation soup and too-short docs") {
    val df = Seq(
      "the quick brown fox jumps over a lazy dog in the warm sun today",
      "!!! ??? ;;; ### $$$ %%% ^^^ &&& *** ((( ))) @@@",
      "too short"
    ).toDF("t")
    val got = df.select(TextAnalysis.qualityOk(col("t"),
      TextAnalysis.EnglishStopwords).as("q")).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false))
  }

  test("charNgrams: lowercased code-point bigrams in order; short and " +
    "empty texts give empty arrays") {
    val got = Seq("AbC", "x", "", "的一是").toDF("t")
      .select(TextAnalysis.charNgrams(col("t"), 2).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("ab", "bc"), Seq(), Seq(),
      Seq("的一", "一是")), s"got $got")
  }

  test("charNgramScore is the exact integer profile dot product; " +
    "langIdNgram argmaxes with earliest-listed tie-break and " +
    "discriminates Latin from CJK without a tokenizer") {
    val profiles = Seq(
      "en" -> Seq("th" -> 10, "he" -> 6),
      "de" -> Seq("ch" -> 8, "sc" -> 6),
      "zh" -> Seq("的一" -> 10, "一是" -> 10))
    val df = Seq(
      "the the",      // th x2 + he x2 = 32 en, 0 de/zh
      "schach",       // sc 6 + ch x2 16 = 22 de
      "的一是的一",   // 的一 x2 + 一是 = 30 zh (unsegmented ideographs)
      "zzzz"          // all-zero scores -> earliest listed (en) wins
    ).toDF("t")
    val scores = df.select(
        TextAnalysis.charNgramScore(col("t"), profiles(0)._2, 2).as("en"),
        TextAnalysis.charNgramScore(col("t"), profiles(1)._2, 2).as("de"),
        TextAnalysis.charNgramScore(col("t"), profiles(2)._2, 2).as("zh"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(scores == Seq((32L, 0L, 0L), (0L, 22L, 0L), (0L, 0L, 30L),
      (0L, 0L, 0L)), s"scores $scores")
    val pred = df.select(TextAnalysis.langIdNgram(col("t"), profiles, 2))
      .as[String].collect().toSeq
    assert(pred == Seq("en", "de", "zh", "en"), s"pred $pred")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta alpha beta gamma delta", "en", "a"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "a"),
    (3L, "spark spark spark spark spark spark spark spark", "en", "b"),
    (4L, "one two three four five six seven eight nine ten", "fr", "b"),
    (5L, "alpha beta gamma delta alpha beta gamma delta", "fr", "b") // dup of 1
  ).toDF("doc_id", "text", "lang", "source")

  // ---------------------------------------------------------------- PII

  test("redactPii masks emails, SSNs, cards, and phones with typed tags") {
    val in = Seq(
      "mail bob.smith+x@example.co.uk now",
      "ssn 123-45-6789 end",
      "card 4111111111111111 ok",
      "call +1 (555) 123-4567 or 555-987-6543",
      "clean text with plain words and the number 42",
      "spaced 4111 1111 1111 1111 card",
      "dashed 4111-1111-1111-1111 card"
    ).toDF("text")
    val got = in.select(TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].collect().toSeq
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "ssn <SSN> end")
    assert(got(2) == "card <CARD> ok")
    assert(got(3) == "call <PHONE> or <PHONE>")
    assert(got(4) == "clean text with plain words and the number 42")
    assert(got(5) == "spaced <CARD> card")
    assert(got(6) == "dashed <CARD> card")
  }

  test("piiCounts counts each category once, no double counting") {
    val in = Seq("a@b.io and 123-45-6789 and 4111111111111111").toDF("text")
    val c = in.select(TextAnalysis.piiCounts(col("text")).as("c"))
      .select("c.email", "c.ssn", "c.card", "c.phone")
      .as[(Int, Int, Int, Int)].head()
    assert(c == ((1, 1, 1, 0)))
    // the SSN's digits must not also be counted as a phone after masking
  }

  // ------------------------------------------------------- contamination

  test("contaminationReport finds n-gram overlap against the benchmark") {
    val bench = docs.filter(col("doc_id") === 1)
    val corpus = docs.filter(col("doc_id") =!= 1)
    val got = Curation.contaminationReport(
        corpus, bench, "doc_id", "text", n = 3, flagThreshold = 0.5)
      .orderBy("id")
      .select("id", "n_overlap", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    // doc 2 shares "alpha beta gamma"+"beta gamma delta" (2 of its 6
    // distinct 3-grams → ratio 1/3, not flagged); doc 5 is an exact dup
    // (all 4 distinct grams hit → flagged); docs 3,4 share nothing.
    assert(got == Seq((2L, 2L, false), (5L, 4L, true)))
  }

  // ---------------------------------------------------------- repetition

  test("topElementCount is the mode count, and 0 only for empty arrays") {
    val got = Seq(
      Seq("b", "a", "b", "c", "b"),
      Seq("x"),
      Seq.empty[String]
    ).toDF("arr").select(Curation.topElementCount(col("arr")))
      .as[Long].collect().toSeq
    assert(got == Seq(3L, 1L, 0L))
  }

  test("repetitionSignals computes TTR and top-token/bigram shares") {
    val got = Curation.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "distinct_ratio", "top_token_frac",
        "top_bigram_frac", "repetitive")
      .as[(Long, Int, Double, Double, Double, Boolean)].collect().toSeq
    // doc 3: one token repeated 8x → TTR 1/8, top token 8/8, bigram 7/7
    assert(got(2) == ((3L, 8, 0.125, 1.0, 1.0, true)))
    // doc 4: all distinct → TTR 1, top shares 1/10 and 1/9
    assert(got(3)._3 == 1.0 && got(3)._4 == 0.1 && !got(3)._6)
    // doc 1: 4 distinct of 8, top token 2/8, top bigram "delta alpha" ties
    // at 1 with others? no: "alpha beta" appears twice of 7 bigrams
    assert(got(0)._3 == 0.5 && got(0)._4 == 0.25 &&
      math.abs(got(0)._5 - math.rint(2.0 / 7.0 * 1e6) / 1e6) < 1e-12)
  }

  // ------------------------------------------------------ dup spans

  test("duplicatedSpanFraction counts spans shared across documents") {
    val got = graft.operators.Curation
      .duplicatedSpanFraction(docs, "doc_id", "text", n = 3,
        flagThreshold = 0.5)
      .orderBy("id")
      .select("id", "n_spans", "n_dup_spans", "mostly_duplicated")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // docs 1 and 5 are identical → all 4 distinct grams duplicated;
    // doc 2 shares 2 of its 6 grams with them; docs 3, 4 share nothing
    assert(got == Seq(
      (1L, 4L, 4L, true), (2L, 6L, 2L, false), (3L, 1L, 0L, false),
      (4L, 8L, 0L, false), (5L, 4L, 4L, true)))
  }

  // -------------------------------------------------------------- tfidf

  test("topTfidfTerm picks the highest-scoring term with stable ties") {
    val got = Curation.topTfidfTerm(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "top_term").as[(Long, String)].collect().toMap
    // doc 3's only term wins trivially
    assert(got(3L) == "spark")
    // doc 4: all terms tf=1 and df=1 → identical scores → lexicographic
    assert(got(4L) == "eight")
    // doc 2: epsilon/zeta/eta/theta are unique (df=1) and beat the shared
    // alpha..delta (df=3); tie among the four → lexicographic smallest
    assert(got(2L) == "epsilon")
  }

  test("weightedSample is deterministic, bounded by k, and weight-biased") {
    import org.apache.spark.sql.DataFrame
    // one stratum, one extreme weight: doc 3's exponential race key is
    // ~1e9 times smaller than the rest, so it must rank first
    val rows = Seq(
      (1L, 1.0), (2L, 1.0), (3L, 1e9), (4L, 1.0), (5L, 1.0), (6L, 1.0)
    ).toDF("doc_id", "w").withColumn("s", lit("only"))
    def run(df: DataFrame) =
      Curation.weightedSample(df, "s", "doc_id", col("w"), k = 3)
        .orderBy("sample_rank")
        .select("doc_id", "sample_rank")
        .as[(Long, Int)].collect().toSeq
    val a = run(rows)
    assert(a.size == 3 && a.head._1 == 3L)
    assert(a == run(rows.repartition(5))) // reproducible draw
  }

  // --------------------------------------------------- incremental dedup

  test("incrementalDedup drops batch docs already in the snapshot") {
    val batch = docs.filter(col("doc_id").isin(1L, 2L, 5L))
    val snapshot = docs.filter(col("doc_id").isin(3L, 4L) ||
      col("doc_id") === 5L) // snapshot already holds doc 5 (= doc 1's text)
    val got = Curation.incrementalDedup(batch, snapshot, "doc_id", "text")
      .select("keep_id", "batch_dups").as[(Long, Long)].collect().toSeq
    // docs 1 and 5 share text that exists in the snapshot → only doc 2
    assert(got == Seq((2L, 1L)))
  }

  test("incrementalDedup collapses in-batch duplicates to the min id") {
    val batch = docs.filter(col("doc_id").isin(1L, 5L))
    val snapshot = docs.filter(col("doc_id") === 4L)
    val got = Curation.incrementalDedup(batch, snapshot, "doc_id", "text")
      .select("keep_id", "batch_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  // ------------------------------------------------------- quota sample

  test("quotaSample is deterministic and respects per-stratum quotas") {
    val a = Curation.quotaSample(docs, "lang", "doc_id", 2)
      .select("lang", "doc_id", "sample_rank")
      .as[(String, Long, Int)].collect().toSet
    val b = Curation.quotaSample(docs.repartition(7), "lang", "doc_id", 2)
      .select("lang", "doc_id", "sample_rank")
      .as[(String, Long, Int)].collect().toSet
    assert(a == b) // partition-independent
    assert(a.groupBy(_._1).forall(_._2.size <= 2))
    assert(a.count(_._1 == "en") == 2 && a.count(_._1 == "fr") == 2)
  }

  // ---------------------------------------------------- sequence packing

  test("packSequences: contiguous offsets per group, windows chunk at ctx") {
    val many = spark.range(0, 200).selectExpr("id AS doc_id",
      "repeat('w ', 7) AS text") // 7 tokens each (trailing '' trimmed)
    val got = Curation.packSequences(many, "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")),
        ctxTokens = 10, numGroups = 4)
      .select("doc_id", "pack_group", "n_tokens", "start_window",
        "window_offset")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == 200)
    // per group: offsets are the cumsum of 7-token docs; windows of 10
    // tokens → doc i-th in its group starts at 7i → window 7i/10
    val byGroup = got.groupBy(_._2)
    for ((_, rows) <- byGroup) {
      val starts = rows.map(r => r._4 * 10 + r._5).sorted
      assert(starts.toSeq == rows.indices.map(_ * 7L))
    }
    // determinism across partitionings
    val again = Curation.packSequences(many.repartition(13), "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), 10, 4)
      .select("doc_id", "start_window", "window_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(again == got.map(r => (r._1, r._4, r._5)).toSet)
  }

  test("chunkDocuments: brute-force parity, full coverage, overlap, and " +
    "the short-doc/empty-doc edges") {
    val window = 5
    val stride = 3
    val texts = Seq(
      1L -> (1 to 12).map(i => s"t$i").mkString(" "), // multi-chunk
      2L -> "a b c d e",                              // n == window: 1 chunk
      3L -> "x y",                                    // n < window: 1 chunk
      4L -> "",                                       // empty: [""] → 1 chunk
      5L -> (1 to 6).map(i => s"u$i").mkString(" "))  // last chunk partial
    val df = texts.toDF("doc_id", "text")
    val got = Curation.chunkDocuments(df, "doc_id", "text", window, stride)
      .select("doc_id", "n_tokens", "chunk_idx", "chunk_tokens",
        "chunk_hash")
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._3))
    // brute force: the same rule written imperatively
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = texts.flatMap { case (id, text) =>
      val toks = text.trim.split("\\s+", -1).toSeq // "" → Seq("")
      val n = toks.length
      val chunks = math.ceil(math.max(n - window, 0) / stride.toDouble)
        .toLong + 1
      (0L until chunks).map { i =>
        val c = toks.slice((i * stride).toInt, (i * stride + window).toInt)
        (id, n.toLong, i, c.length.toLong, md5hex(c.mkString(" ")))
      }
    }.sortBy(r => (r._1, r._3))
    assert(got.toSeq == want)
    // coverage + overlap on the multi-chunk doc: chunk starts advance by
    // stride, spans reach the end, adjacent chunks overlap by 2 tokens
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.last._4 == 12 - 3 * stride) // tail chunk holds the remainder
    // short docs and the empty doc produce exactly one chunk each
    for (id <- Seq(2L, 3L, 4L))
      assert(got.count(_._1 == id) == 1, s"doc $id")
  }

  test("gopherQualityFilter: each rule fires independently and keep is " +
    "their conjunction") {
    val docs = Seq(
      (1L, "the cat sat on a mat with the dog and a bird near the door"),
      (2L, "a b"), // too few words
      (3L, ("the quick brown fox jumps over lazy dogs " * 40).trim), // too many
      (4L, "the " + Seq.fill(15)("extraordinarily").mkString(" ")), // long words + low diversity
      (5L, "cat dog bird fish lion tiger bear wolf deer hawk owl bat")
      // no stopwords
    ).toDF("doc_id", "text")
    val got = Curation.gopherQualityFilter(docs, "doc_id", "text",
        minWords = 5, maxWords = 100, minMeanWordLen = 2.0,
        maxMeanWordLen = 8.0, minUniqueFrac = 0.5,
        minStopwordFrac = 0.05, stopwords = Seq("the", "a"))
      .select("doc_id", "ok_words", "ok_word_len", "ok_unique",
        "ok_stopwords", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, true, true, true, true, true)))
    assert(!got(2L)._2 && !got(2L)._6) // word count floor
    assert(!got(3L)._2) // word count ceiling
    assert(!got(4L)._3 && !got(4L)._4) // word length + diversity
    assert(!got(5L)._5 && got(5L)._2 && got(5L)._4) // stopword floor only
    got.values.foreach(r =>
      assert(r._6 == (r._2 && r._3 && r._4 && r._5), s"keep != AND: $r"))
  }

  test("cdcChunks: edit-resistance — one inserted token perturbs at " +
    "most the chunks touching the edit, while fixed windows shift " +
    "every downstream boundary") {
    import scala.util.Random
    val rnd = new Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = Seq.fill(400)(words(rnd.nextInt(words.length)))
    val edited = (base.take(100) :+ "INSERTED") ++ base.drop(100)
    val df = Seq((1L, base.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    def hashes(out: org.apache.spark.sql.DataFrame, id: Long) = out
      .filter(col("doc_id") === id).select("chunk_hash")
      .as[String].collect().toSeq
    val cdc = Curation.cdcChunks(df, "doc_id", "text", divisor = 8)
    val cdcBase = hashes(cdc, 1L)
    val cdcEdit = hashes(cdc, 2L)
    // multiset intersection: all but the chunk(s) touching the edit are
    // bit-identical — the insert changes ONE chunk (or splits it in two)
    def multisetShared(a: Seq[String], b: Seq[String]): Int = {
      val bc = b.groupBy(identity).view.mapValues(_.size).toMap
      a.groupBy(identity)
        .map { case (k, v) => math.min(v.size, bc.getOrElse(k, 0)) }.sum
    }
    val shared = multisetShared(cdcBase, cdcEdit)
    assert(cdcBase.size - shared <= 1 && cdcEdit.size - shared <= 2,
      s"CDC lost sync: ${cdcBase.size} base / ${cdcEdit.size} edited / " +
        s"$shared shared")
    // the fixed-window counterpart desynchronizes everything downstream
    val fixed = Curation.chunkDocuments(df, "doc_id", "text",
      window = 8, stride = 8)
    val fb = hashes(fixed, 1L)
    val fe = hashes(fixed, 2L)
    val fShared = (fb.toSet intersect fe.toSet).size
    assert(fShared < fb.size / 2,
      s"fixed windows unexpectedly edit-resistant: $fShared of ${fb.size}")
  }

  test("dsirImportance: target-like candidates score positive, " +
    "disjoint-vocabulary candidates negative, and the log weight is the " +
    "documented ce identity") {
    val target = Seq(
      (100L, "alpha beta alpha beta alpha beta"),
      (101L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val candidates = Seq(
      (1L, "alpha beta alpha beta"),      // target-like
      (2L, "zeta eta theta iota"),        // disjoint from target
      (3L, "alpha zeta beta eta")         // mixed
    ).toDF("doc_id", "text")
    val got = Curation.dsirImportance(candidates, target, "doc_id", "text")
      .select("id", "n_tokens", "tgt_oov_tokens", "ce_target", "ce_raw",
        "log_weight", "keep")
      .as[(Long, Long, Long, Double, Double, Double, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    val byId = got.map(r => r._1 -> r).toMap
    // the target LM explains doc 1 better than the raw LM; doc 2 is all
    // OOV to the target, so the smoothing floor drags it below raw
    assert(byId(1L)._6 > 0 && byId(1L)._7)
    assert(byId(2L)._6 < 0 && !byId(2L)._7)
    assert(byId(2L)._3 == 4L) // every token of doc 2 is target-OOV
    assert(byId(1L)._3 == 0L)
    // logw = round(dl * (ce_raw - ce_target), 6), from the emitted ces
    for ((_, r) <- byId) {
      val want = BigDecimal(r._2 * (r._5 - r._4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r._6 - want) < 1e-12, s"doc ${r._1}")
      assert(r._7 == (r._6 >= 0))
    }
  }

  // --------------------------------------------------- mixture sampling

  test("mixtureSample keeps exactly the hash-selected docs per source") {
    val got = Curation.mixtureSample(docs, "source", "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")))
      .select("source", "sample_rate", "kept_docs")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // under-target source keeps everything (rate clamps to 1)
    assert(got("a") == ((1.0, 2L)))
    // over-target source: rate < 1, kept set decided by md5(id)/2^60
    val (rateB, keptB) = got("b")
    assert(rateB < 1.0 && keptB <= 3L)
  }

  // ----------------------------------------------------------- vocab

  test("vocabulary ranks by count then token, coverage is cumulative") {
    val got = Curation.vocabulary(docs, "text", k = 3)
      .select("vocab_rank", "token", "occurrences", "cum_coverage")
      .as[(Int, String, Long, Double)].collect().toSeq
    // 42 tokens total; "spark" 8, then alpha/beta/gamma/delta 5 each →
    // lexicographic alpha, beta at ranks 2-3
    assert(got.map(_._2) == Seq("spark", "alpha", "beta"))
    assert(got.map(_._3) == Seq(8L, 5L, 5L))
    assert(got.map(_._4) == Seq(
      math.rint(8.0 / 42 * 1e6) / 1e6,
      math.rint(13.0 / 42 * 1e6) / 1e6,
      math.rint(18.0 / 42 * 1e6) / 1e6))
  }

  // ---------------------------------------------------- curation funnel

  test("curateCorpus: per-source funnel counts nest stage by stage") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today", "x")
    ).toDF("doc_id", "text", "source")
    val corpus = Seq(
      // = bench text → quality but contaminated
      (1L, "the quick brown fox jumps over the lazy dog today", "a"),
      (2L, "the red cat and the blue dog sat on a mat", "a"),
      (3L, "the red cat and the blue dog sat on a mat", "a"), // dup of 2
      (4L, "x y z", "b"),                                     // fails quality
      (5L, "we saw the and of to in is it small words here now", "b")
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Curation.curateCorpus(corpus, bench,
        "doc_id", "text", "source",
        graft.functions.TextAnalysis.EnglishStopwords)
      .orderBy("source")
      .select("source", "n_input", "n_quality", "n_unique", "n_clean",
        "n_sampled", "sampled_tokens")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val a = got(0); val b = got(1)
    // src a: 3 in, all quality, dup 3 collapses onto 2, doc 1 is dirty
    assert((a._1, a._2, a._3, a._4, a._5) == (("a", 3L, 3L, 2L, 1L)))
    assert(a._6 <= a._5) // sampling can only shrink
    // src b is under its mixture target → rate clamps to 1.0, so every
    // clean doc samples through: 2 in, only doc 5 passes quality
    assert(b == (("b", 2L, 1L, 1L, 1L, 1L, 13L)))
  }

  // ------------------------------------------------------- mixture plan

  test("mixturePlan computes shares and clamps sample_rate at 1") {
    val got = Curation.mixturePlan(docs, "source",
        TextAnalysis.tokenCount(col("text")))
      .orderBy("source")
      .select("source", "n_docs", "n_tokens", "actual_share", "sample_rate",
        "expected_tokens")
      .as[(String, Long, Long, Double, Double, Long)].collect().toSeq
    // a: docs 1,2 → 16 tokens; b: docs 3,4,5 → 26 tokens; total 42
    assert(got.map(r => (r._1, r._2, r._3)) == Seq(("a", 2L, 16L),
      ("b", 3L, 26L)))
    val a = got(0); val b = got(1)
    assert(math.abs(a._4 - math.rint(16.0 / 42 * 1e6) / 1e6) < 1e-12)
    // source a is UNDER target (16/42 < 1/2) → rate clamps to 1.0,
    // expected tokens unchanged
    assert(a._5 == 1.0 && a._6 == 16L)
    // source b is over target → rate = (1/2)/(26/42) = 21/26
    assert(math.abs(b._5 - math.rint(21.0 / 26 * 1e6) / 1e6) < 1e-12)
    assert(b._6 == math.floor(26.0 * (0.5 / (26.0 / 42))).toLong)
  }

  test("mixturePlanTemperature: α=0 reduces exactly to mixturePlan, " +
    "α=1 keeps natural shares, α=0.5 lands between") {
    val tc = TextAnalysis.tokenCount(col("text"))
    def plan(alpha: Double) =
      Curation.mixturePlanTemperature(docs, "source", tc, alpha)
        .orderBy("source").collect().toSeq
    // α = 0 → uniform targets, bit-identical to the q84 plan
    assert(plan(0.0) ==
      Curation.mixturePlan(docs, "source", tc).orderBy("source")
        .collect().toSeq)
    // α = 1 → natural shares: every rate is 1, target == actual
    val nat = plan(1.0)
    assert(nat.forall(r => r.getDouble(5) == 1.0))
    assert(nat.forall(r => r.getDouble(3) == r.getDouble(4)))
    // α = 0.5: over-represented sources keep MORE than under uniform
    // (temperature softens, never inverts, the ordering), rates ≤ 1
    val half = plan(0.5); val flat = plan(0.0)
    assert(half.forall(r => r.getDouble(5) <= 1.0))
    val overRep = half.zip(flat).filter(_._2.getDouble(5) < 1.0)
    assert(overRep.nonEmpty)
    overRep.foreach { case (h, f) =>
      assert(h.getDouble(5) >= f.getDouble(5),
        s"α=0.5 rate below uniform rate for ${h.getString(0)}")
    }
  }

  test("unigramCrossEntropy matches the hand-computed corpus LM") {
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Curation.unigramCrossEntropy(tiny, "doc_id", "text")
      .orderBy("id")
      .select("id", "n_tokens", "n_terms", "ce")
      .as[(Long, Int, Long, Double)].collect().toSeq
    // corpus: a→2, b→2, c→1, T=5
    // doc1: (2·-ln(2/5) + 1·-ln(2/5)) / 3 = -ln(0.4)
    // doc2: (-ln(2/5) + -ln(1/5)) / 2
    val ce1 = math.rint(-math.log(0.4) * 1e6) / 1e6
    val ce2 = math.rint((-math.log(0.4) - math.log(0.2)) / 2 * 1e6) / 1e6
    assert(got == Seq((1L, 3, 2L, ce1), (2L, 2, 2L, ce2)))
  }

  test("unigramCrossEntropyAgainst smooths unseen terms and reports OOV") {
    // LM corpus: a→2, b→2, c→1, T=5, V=3 → denom = 5 + 1·(3+1) = 9
    val lmCorpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val lm = Curation.unigramLm(lmCorpus, "text")
    // batch doc 10: 'a' seen (cf=2), 'zz' NEVER seen (cf=0 → add-1 floor)
    val batch = Seq((10L, "a zz zz"), (11L, "b b")).toDF("doc_id", "text")
    val got = Curation.unigramCrossEntropyAgainst(batch, lm, "doc_id",
        "text")
      .orderBy("id")
      .select("id", "n_tokens", "n_terms", "oov_terms", "oov_tokens", "ce")
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq
    // doc10: (1·-ln(3/9) + 2·-ln(1/9)) / 3; doc11: 2·-ln(3/9) / 2
    val ce10 = math.rint(
      (-math.log(3.0 / 9) - 2 * math.log(1.0 / 9)) / 3 * 1e6) / 1e6
    val ce11 = math.rint(-math.log(3.0 / 9) * 1e6) / 1e6
    assert(got == Seq((10L, 3, 2L, 1L, 2L, ce10), (11L, 2, 1L, 0L, 0L, ce11)))
  }

  test("unigramCrossEntropyAgainst equals self-corpus ordering when the " +
    "LM is the batch itself (smoothing shifts, ranking holds)") {
    val lm = Curation.unigramLm(docs, "text")
    val frozen = Curation.unigramCrossEntropyAgainst(docs, lm, "doc_id",
        "text")
      .orderBy("id").collect().toSeq
    // every term is in the LM → zero OOV everywhere
    assert(frozen.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L))
    // partitioning-invariant like the self-corpus form
    val re = Curation.unigramCrossEntropyAgainst(docs.repartition(7), lm,
        "doc_id", "text").orderBy("id").collect().toSeq
    assert(frozen == re)
    // identical docs score identically under the frozen LM too
    val byId = frozen.map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(byId(1L) == byId(5L))
  }

  test("unigramCrossEntropy is invariant to partitioning (sorted fold)") {
    val a = Curation.unigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("id").collect().toSeq
    val b = Curation.unigramCrossEntropy(docs.repartition(7), "doc_id",
        "text")
      .orderBy("id").collect().toSeq
    assert(a == b)
    // identical docs (1 and 5) score identically; the all-repeated doc 3
    // is the lowest-entropy doc in the fixture
    val byId = a.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byId(1L) == byId(5L))
    assert(byId(3L) == byId.values.min)
  }

  test("packBestFit: bins never overflow, every doc lands once, layout " +
    "is partitioning-invariant, and fill beats concatenate-order") {
    import spark.implicits._
    val rnd = new scala.util.Random(132)
    val ctx = 128
    // sizes spanning the interesting shapes: tiny fillers, near-half
    // (pairing matters), near-full, and two oversized docs
    val sizes = Seq(200L, 140L) ++
      (0 until 60).map(_ => 1L + rnd.nextInt(127).toLong)
    val docsDf = sizes.zipWithIndex
      .map { case (n, i) => (i.toLong, ("w " * n.toInt).trim) }
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.packBestFit(df, "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), ctx,
        numGroups = 4)
    val got = run(docsDf).as[(Long, Int, Long, Long)].collect()
    assert(got.length == sizes.length, "every doc packed exactly once")
    // capacity invariant: a bin with >1 doc never exceeds ctx; oversized
    // docs sit ALONE in their bin
    val byBin = got.groupBy(r => (r._2, r._4)).values
    byBin.foreach { bin =>
      if (bin.length > 1)
        assert(bin.map(_._3).sum <= ctx, s"overfull bin: ${bin.toSeq}")
    }
    got.filter(_._3 > ctx).foreach { over =>
      assert(byBin.exists(b => b.length == 1 && b.head == over),
        s"oversized doc ${over._1} shares a bin")
    }
    // determinism: same layout from a differently-partitioned input
    val again = run(docsDf.repartition(13)).as[(Long, Int, Long, Long)]
      .collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // packing quality: per group, bin count stays within FFD's
    // 11/9·OPT+1 guarantee of the ceil(total/ctx) lower bound
    got.groupBy(_._2).foreach { case (_, rows) =>
      val fits = rows.filter(_._3 <= ctx)
      if (fits.nonEmpty) {
        val bins = fits.map(_._4).distinct.length
        val lower = math.ceil(fits.map(_._3).sum.toDouble / ctx)
        assert(bins <= (11.0 * lower / 9.0 + 1).toInt + 1,
          s"bins=$bins far above lower bound $lower")
      }
    }
  }

  test("lineDedup: lines in >= minDocs distinct docs drop wholesale, " +
    "survivors rejoin in order, within-doc repeats don't count") {
    import graft.operators.Curation
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nshared pair"),
      (2L, "cookie banner\nshared pair\nreal content two"),
      (3L, "real three\ncookie banner\nreal three"), // within-doc repeat
      (4L, "only unique text here")).toDF("doc_id", "text")
    // "cookie banner" in docs 1,2,3 (>=3) → dropped everywhere;
    // "shared pair" in 2 docs only → kept; "real three" twice in ONE
    // doc → countDistinct(doc)=1 → kept
    val out = Curation.lineDedup(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, md5hex("real content one\nshared pair")),
      (2L, 3L, 1L, md5hex("shared pair\nreal content two")),
      (3L, 3L, 1L, md5hex("real three\nreal three")),
      (4L, 1L, 0L, md5hex("only unique text here"))),
      s"lineDedup wrong: ${out.toSeq}")
    // all-lines-removed doc hashes the empty string, never NULL
    val all = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val gone = Curation.lineDedup(all, "doc_id", "text", 3)
      .orderBy("doc_id").collect().head
    assert(gone.getLong(2) == 1L && gone.getString(3) == md5hex(""),
      s"empty rebuild wrong: $gone")
  }

  test("applyUnigramLm: hand model — Viterbi prefers the likely long " +
    "piece, digest is order-exact, absent words fall back to chars") {
    import graft.operators.Curation
    val ln = (x: Double) => math.log(x)
    // model: ab likely, chars cheap-ish; 'cd' absent from model entirely
    val model = Seq("ab" -> ln(0.5), "a" -> ln(0.2), "b" -> ln(0.2),
      "x" -> ln(0.1))
    val docs = Seq((1L, "ab x"), (2L, "cd"), (3L, "")).toDF("doc_id", "text")
    val got = Curation.applyUnigramLm(docs, "doc_id", "text", model, 2)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_subwords", "subword_hash")
      .as[(Long, Long, Long, String)].collect().toSeq
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    // doc 1: 'ab' -> [ab] (single piece beats [a,b]), 'x' -> [x]
    assert(got(0) == ((1L, 2L, 2L, md5hex("ab x"))), s"doc1: ${got(0)}")
    // doc 2: 'cd' not coverable -> raw code-point fallback [c, d]
    assert(got(1) == ((2L, 1L, 2L, md5hex("c d"))), s"doc2: ${got(1)}")
    // doc 3: empty text -> zero words, empty digest
    assert(got(2) == ((3L, 0L, 0L, md5hex(""))), s"doc3: ${got(2)}")
  }

  test("logisticQuality: separates prose from punctuation/digit soup " +
    "under quality-signed weights; sigmoid bounded; fixed arity") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the old barn"),
      (2L, "!!! ??? ;;; 111 222 ### $$$ %%% 333 ^^^ &&& 444 *** (((")
    ).toDF("doc_id", "text")
    val got = Curation.logisticQuality(docs, "doc_id", "text",
        Seq(0.35, -0.12, -2.0, -1.5, 0.8), -0.5)
      .orderBy("doc_id")
      .select("score", "label").as[(Double, Boolean)].collect().toSeq
    assert(got.forall(r => r._1 > 0.0 && r._1 < 1.0))
    assert(got(0)._1 > got(1)._1,
      s"prose ${got(0)._1} must outscore soup ${got(1)._1}")
    intercept[IllegalArgumentException] {
      Curation.logisticQuality(docs, "doc_id", "text", Seq(1.0), 0.0)
    }
  }

  test("learnUnigramLm: hand-computed seed freqs, Viterbi picks the " +
    "higher-likelihood segmentation (incl. dropping a low-prob long " +
    "piece), EM counts stable, partitioning-invariant") {
    import graft.operators.Curation
    // corpus A: words ab:3, xy:1. Seed (freq>=2 or single char):
    // a:3 b:3 ab:3 x:1 y:1 (xy dropped). total=11. Viterbi 'ab':
    // [ab] ln(3/11) beats [a,b] 2*ln(3/11) (logs negative) -> ab kept.
    val a = Seq("ab ab", "ab xy").toDF("text")
    val gotA = Curation.learnUnigramLm(a, "text", rounds = 2)
      .orderBy("round", "piece")
      .as[(Int, String, Long)].collect().toSeq
    assert(gotA == Seq((1, "ab", 3L), (1, "x", 1L), (1, "y", 1L),
      (2, "ab", 3L), (2, "x", 1L), (2, "y", 1L)), s"gotA: $gotA")
    // corpus B: word aa:2. Seed: a:4, aa:2, total 6. Viterbi 'aa':
    // [a,a] 2*ln(4/6) = -0.81 beats [aa] ln(2/6) = -1.10 -> the EM
    // prunes the long piece (cnt 0, never emitted).
    val b = Seq("aa aa").toDF("text")
    val gotB = Curation.learnUnigramLm(b, "text", rounds = 1)
      .as[(Int, String, Long)].collect().toSeq
    assert(gotB == Seq((1, "a", 4L)), s"gotB: $gotB")
    // partitioning invariance (the localCheckpoint + exact-count design)
    val gotA7 = Curation.learnUnigramLm(a.repartition(7), "text",
        rounds = 2).orderBy("round", "piece")
      .as[(Int, String, Long)].collect().toSeq
    assert(gotA7 == gotA)
  }

  test("logisticScore fuses upstream signal columns (langid flag, " +
    "gopher ratio, CE) into one map-only classifier; scores match the " +
    "hand-computed sigmoid; arity guarded") {
    import graft.operators.Curation
    import graft.functions.TextAnalysis
    // upstream operators produce the features; fusion is just columns
    val feats = Curation.gopherQualityFilter(docs, "doc_id", "text")
      .select(col("doc_id"), col("unique_frac"))
      .join(Curation.unigramCrossEntropy(docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("ce")), "doc_id")
      .join(docs.select(col("doc_id"),
        (TextAnalysis.langIdNgram(col("text"),
          TextAnalysis.NgramProfiles) === "en")
          .cast("double").as("is_en")), "doc_id")
    val w = Seq(1.2, -0.4, 0.9)
    val got = Curation.logisticScore(feats, "doc_id",
        Seq("unique_frac", "ce", "is_en"), w, bias = -0.3)
      .orderBy("doc_id")
      .select("doc_id", "unique_frac", "ce", "is_en", "score")
      .collect()
    got.foreach { r =>
      val z = ((-0.3 + 1.2 * r.getDouble(1)) - 0.4 * r.getDouble(2)) +
        0.9 * r.getDouble(3)
      val want = math.rint(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6
      assert(r.getDouble(4) == want, s"row $r: want $want")
    }
    assert(got.length == 5)
    intercept[IllegalArgumentException] {
      Curation.logisticScore(feats, "doc_id", Seq("ce"), w, 0.0)
    }
  }

  test("learnUnigramLm: the in-plan seed (filter + TakeOrdered top-K + " +
    "char union) equals the full-table reference under keepTop " +
    "truncation, frequency ties at the boundary included") {
    import graft.operators.Curation
    // substring table far larger than keepTop, with freq ties that
    // straddle the keepTop cut so the (freq desc, piece asc) order is
    // load-bearing, not decorative
    val corpus = Seq("abc abd abc", "xyz xya xyz", "abd xya qq qq")
    val docs = corpus.toDF("text")
    val (keepTop, minSeed, maxLen) = (6, 2L, 3)
    // reference: the full substring table computed driver-side
    val wc = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    val full = wc.toSeq.flatMap { case (w, c) =>
      for (i <- 0 until w.length; l <- 1 to maxLen if i + l <= w.length)
        yield (w.substring(i, i + l), c)
    }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }.toSeq
    val filtered = full.filter { case (p, c) => c >= minSeed || p.length == 1 }
    val ranked = filtered.sortBy { case (p, c) => (-c, p) }
    val expectPieces = ranked.zipWithIndex.collect {
      case ((p, c), i) if i < keepTop || p.length == 1 => p
    }.sorted
    val (_, model) = Curation.learnUnigramLmBuild(docs, "text",
      rounds = 1, maxPieceLen = maxLen, keepTop = keepTop,
      minSeedFreq = minSeed)
    assert(model.map(_._1).sorted == expectPieces,
      s"seed mismatch:\n got ${model.map(_._1).sorted}\n exp $expectPieces")
    // and the driver payload is bounded: keepTop + |single chars|
    val nChars = filtered.count(_._1.length == 1)
    assert(model.size <= keepTop + nChars, s"unbounded seed: ${model.size}")
  }

  test("unigram Viterbi: words containing U+001F (the old path joiner) " +
    "and sub-joiner control characters segment cleanly — boundary " +
    "tie-break is collation-free, no empty-symbol corruption") {
    import graft.operators.Curation
    val lp = math.log(0.2)
    // all pieces equi-probable: 2-piece covers tie on score AND count,
    // so the boundary tie-break decides; \u0001 sorts BELOW the old
    // joiner, where the string-compare DP picked the later boundary
    val model = Seq("a\u0001" -> lp, "\u0001b" -> lp, "a" -> lp,
      "b" -> lp, "\u0001" -> lp)
    val docs = Seq((1L, "a\u0001b")).toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val got = Curation.applyUnigramLm(docs, "doc_id", "text", model, 2)
      .select("n_words", "n_subwords", "subword_hash")
      .as[(Long, Long, String)].collect().head
    // earliest boundary wins: [a, \u0001b], never [a\u0001, b]
    assert(got == ((1L, 2L, md5hex("a \u0001b"))), s"tie-break: $got")
    // a literal U+001F inside a word: single-char coverage, and the
    // segmentation array holds real symbols (the joined-string DP
    // returned ["a", "", "", "b"] here — 4 corrupted subwords)
    val m2 = Seq("a" -> lp, "b" -> lp, "\u001f" -> lp)
    val d2 = Seq((1L, "a\u001fb")).toDF("doc_id", "text")
    val g2 = Curation.applyUnigramLm(d2, "doc_id", "text", m2, 2)
      .select("n_words", "n_subwords", "subword_hash")
      .as[(Long, Long, String)].collect().head
    assert(g2 == ((1L, 3L, md5hex("a \u001f b"))), s"joiner word: $g2")
  }

  test("learnBpeMerges: hand-computed merges, greedy non-overlapping " +
    "application, deterministic ties, partitioning invariance") {
    import graft.operators.Curation
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa aaa")).toDF("doc_id", "text")
    // words: aa×3, ab×2, aaa×1 → r1 pairs (a,a)=3+2=5 (aaa gives two
    // overlapping (a,a) windows), (a,b)=2 → merge (a,a)→aa freq 5;
    // applied greedily: aaa → [aa, a] (NOT [aa, aa] — non-overlap);
    // r2 pairs: (aa,a)=1, (a,b)=2 → merge (a,b) freq 2
    val got = Curation.learnBpeMerges(docs, "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1, "a", "a", "aa", 5L), (2, "a", "b", "ab", 2L)),
      s"merge table wrong: $got")
    // greedy scan: x=y, runs collapse left-to-right without re-merging
    val runs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val g2 = Curation.learnBpeMerges(runs, "text", rounds = 2, minFreq = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    // r1: (a,a) freq 3+2=5 → merge; words: aaaa→[aa,aa], aaa→[aa,a]
    // r2: (aa,aa)=1, (aa,a)=1 → tie broken by right asc: (aa,a)
    assert(g2.toSeq == Seq(("a", "a", 5L), ("aa", "a", 1L)),
      s"greedy/tie behavior wrong: ${g2.toSeq}")
    // early stop below minFreq
    val one = Curation.learnBpeMerges(
      Seq((1L, "xy")).toDF("doc_id", "text"), "text", rounds = 5,
      minFreq = 2)
    assert(one.count() == 0, "minFreq early-stop failed")
    // partitioning invariance: same merge table at 1 and 7 partitions
    val big = Seq.tabulate(40)(i =>
      (i.toLong, s"tok${i % 5} tok${i % 3} shared shared common"))
      .toDF("doc_id", "text")
    val a = Curation.learnBpeMerges(big.repartition(1), "text", 4)
      .collect().toSeq
    val b = Curation.learnBpeMerges(big.repartition(7), "text", 4)
      .collect().toSeq
    assert(a == b, s"partitioning changed the merge table:\n$a\n$b")
  }

  test("applyBpeMerges: vocab-lookup encoding matches the hand-derived " +
    "segmentation, order-exact digest, counts") {
    import graft.operators.Curation
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa aaa")).toDF("doc_id", "text")
    // learned rules (pinned above): (a,a)→aa then (a,b)→ab
    // segmentations: aa→[aa], ab→[ab], aaa→[aa, a]
    val out = Curation.applyBpeMerges(docs, "doc_id", "text",
        Seq(("a", "a"), ("a", "b")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, md5hex("aa ab aa")),
      (2L, 3L, 4L, md5hex("ab aa aa a"))), s"encoding wrong: ${out.toSeq}")
    // no merges = character segmentation
    val none = Curation.applyBpeMerges(docs, "doc_id", "text", Nil)
      .orderBy("doc_id").collect().map(r => r.getLong(2))
    assert(none.toSeq == Seq(6L, 7L), "empty merge chain should char-split")
  }

  /** Driver-side reference of the SEQUENTIAL merge semantics: each rule
    * in table order, one greedy left-to-right pass, merged symbol never
    * immediately re-merges as a left operand. The ground truth the
    * BpeKernel's monotone-rank encoder must reproduce exactly.
    */
  private def refSegment(word: String,
                         merges: Seq[(String, String)]): Seq[String] = {
    var syms = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val n = Character.charCount(word.codePointAt(i))
        b += word.substring(i, i + n)
        i += n
      }
      b.toSeq
    }
    merges.foreach { case (l, r) =>
      if (syms.nonEmpty) {
        val out = scala.collection.mutable.ArrayBuffer(syms.head)
        syms.tail.foreach { s =>
          if (out.last == l && s == r) out(out.size - 1) = l + r
          else out += s
        }
        syms = out.toSeq
      }
    }
    syms
  }

  private def kernelSegment(words: Seq[String],
                            merges: Seq[(String, String)]): Map[String, Seq[String]] = {
    import spark.implicits._
    words.toDF("word")
      .select(col("word"),
        graft.plans.BpeExpressions.bpeSegment(col("word"), merges)
          .as("syms"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
  }

  test("BpeKernel: monotone-rank encoder is exactly the sequential " +
    "greedy fold — adversarial rank-resurrect table included") {
    // A naive lowest-rank-first encoder (no floor) would over-merge
    // here: rule0 (ab, Q) is not applicable until rule1 creates "ab",
    // but sequential application never revisits rule0 — final must be
    // [ab, Q], not [abQ].
    val adversarial = Seq(("ab", "Q"), ("a", "b"))
    assert(kernelSegment(Seq("abQ"), adversarial)("abQ") == Seq("ab", "Q"),
      "floor violated: earlier rank resurrected after a later pass")
    assert(refSegment("abQ", adversarial) == Seq("ab", "Q"))
    // duplicate pair at two ranks; run-collapse; single/empty-ish words
    val table = Seq(("a", "a"), ("c", "d"), ("a", "a"), ("aa", "cd"))
    val words = Seq("aaaa", "aacd", "acda", "x", "aacdaa")
    val got = kernelSegment(words, table)
    words.foreach { w =>
      assert(got(w) == refSegment(w, table),
        s"kernel != sequential for '$w': ${got(w)} vs " +
          s"${refSegment(w, table)}")
    }
  }

  test("BpeKernel: property — kernel matches the sequential replay on " +
    "a LEARNED merge table over random words") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abcd"
    val words = Seq.fill(300)(
      (1 to (1 + rnd.nextInt(12))).map(_ => alpha(rnd.nextInt(4))).mkString)
      .distinct
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Curation.learnBpeMerges(docs, "text", rounds = 15,
        minFreq = 1)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 15, s"expected 15 learned rules, ${merges.size}")
    val got = kernelSegment(words, merges)
    words.foreach { w =>
      assert(got(w) == refSegment(w, merges),
        s"kernel != sequential for '$w'")
    }
  }

  test("applyBpeMerges: zero-token documents are kept with n_words=0 " +
    "and the empty-stream digest") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = Curation.applyBpeMerges(docs, "doc_id", "text",
        Seq(("a", "a")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(out.toSeq == Seq(
      (1L, 2L, 3L, md5hex("aa a b")),
      (2L, 0L, 0L, md5hex("")),
      (3L, 0L, 0L, md5hex(""))), s"zero-token handling wrong: ${out.toSeq}")
  }

  test("learnBpeMerges: batch=1 is strict sequential BPE; batch=2 " +
    "commits disjoint pairs per round and skips overlapping ones") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa aaa")).toDF("doc_id", "text")
    val seq1 = Curation.learnBpeMerges(docs, "text", rounds = 2)
      .collect().toSeq
    val seqB = Curation.learnBpeMerges(docs, "text", rounds = 2, batch = 2)
      .collect().toSeq
    // (a,b) overlaps (a,a) on 'a', so batch=2 degrades to one rule per
    // round here — table identical to strict sequential
    assert(seq1 == seqB, s"batched deviated where it must not:\n$seq1\n$seqB")
    // genuinely disjoint pairs commit in ONE round, ranked by freq
    val dis = Seq((1L, "xy xy xy zw zw")).toDF("doc_id", "text")
    val got = Curation.learnBpeMerges(dis, "text", rounds = 2, batch = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((1, "xy", 3L), (2, "zw", 2L)),
      s"disjoint batch selection wrong: $got")
  }

  test("BPE at scale: learning + applying >= 1000 merges — O(1) plan " +
    "size, kernel output still exactly sequential") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val alpha = "abcdefgh"
    val words = Seq.fill(900)(
      (1 to (10 + rnd.nextInt(7))).map(_ => alpha(rnd.nextInt(8))).mkString)
      .distinct
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val table = Curation.learnBpeMerges(docs, "text", rounds = 1000,
        minFreq = 1, batch = 8)
      .orderBy("round").collect()
    assert(table.length >= 1000, s"learned only ${table.length} rules")
    val merges = table.map(r => (r.getString(1), r.getString(2))).toSeq
    // the r13 fold form would stack 1000 nested aggregate() expressions
    // here and die in analysis/codegen; the kernel is one plan node
    val out = Curation.applyBpeMerges(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    assert(out.length == words.size)
    // exactness at full table depth: every distinct word segments
    // identically to the driver-side sequential replay
    val got = kernelSegment(words, merges)
    words.foreach { w =>
      assert(got(w) == refSegment(w, merges),
        s"kernel != sequential at 1000 merges for '$w'")
    }
    // and the per-doc digest agrees with the replay-derived digest
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val byId = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toMap
    out.foreach { r =>
      val w = byId(r.getLong(0))
      val seg = refSegment(w, merges)
      assert(r.getLong(2) == seg.size.toLong &&
        r.getString(3) == md5hex(seg.mkString(" ")),
        s"digest mismatch for '$w'")
    }
  }

  test("bigramCrossEntropy: hand-computed add-one bigram LM, short and " +
    "empty docs kept with zero bigrams, scoped twin unpersists") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    // corpus bigrams: (a,b)=2, (b,a)=2; left totals both 2; V=4 (a,b,x,
    // and the empty-doc token) → every P = (2+1)/(2+4+1) = 3/7
    val exp = math.rint(math.log(7.0 / 3.0) * 1e6) / 1e6
    val out = Curation.bigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 4L, 3L, exp), (2L, 2L, 1L, exp),
      (3L, 1L, 0L, 0.0), (4L, 1L, 0L, 0.0)),
      s"bigram CE wrong: ${out.toSeq} (want ce=$exp)")
    // scoped form returns the action result and leaves no cached blocks
    spark.catalog.clearCache()
    val entries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    val n = CacheScope(
      Curation.bigramCrossEntropy(docs, "doc_id", "text").count())
    assert(n == 4L)
    assert(org.apache.spark.sql.graft.CacheEntries.count(spark) == entries)
  }

  test("packBestFit: degenerate numGroups clamps to the doc count and " +
    "non-integral ids are rejected") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, "w " * 20)).toDF("doc_id", "text")
    // numGroups ≫ docs: without the clamp, deterministicFold(1000) would
    // scatter 10 docs into ~10 singleton groups of one bin each; clamped
    // to 10 groups the packing is still valid AND pairs docs (6 tokens
    // of 20 fit 3-per-128-bin when groups collide)
    val out = Curation.packBestFit(docs, "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), 128,
        numGroups = 1000)
      .collect()
    assert(out.length == 10, "every doc packed exactly once")
    assert(out.map(_.getInt(1)).distinct.forall(g => g >= 0 && g < 10),
      "groups clamped to the observed doc count")
    // string ids: loud failure, not silent null-cast data loss
    val strIds = Seq(("a", "w w w"), ("b", "w w")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.packBestFit(strIds, "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), 128, 2)
    }
    assert(e.getMessage.contains("must be integral"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "completely different words appear in this sentence here"),
    (5L, "short one")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("jaccard pairs finds the near-dup and the exact dup") {
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("jaccard value is |intersection| / |union| of shingle sets") {
    // docs 1,2: 7 trigrams each, 6 shared → 6/8
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.1)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").as[Double].head()
    assert(math.abs(j - 6.0 / 8.0) < 1e-9)
  }

  test("prefix-filtered similarity join equals the all-pairs baseline") {
    // broader corpus incl. size-skewed docs so the size-bound + prefix
    // filters actually prune, then must still agree exactly
    val corpus = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog and then naps"),
      (7L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      (8L, "the quick brown fox"),
      (9L, "jumps over the lazy dog")
    ).toDF("doc_id", "text"))
    for (t <- Seq(0.1, 0.4, 0.8)) {
      val all = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val idx = Dedup.jaccardSimilarityJoin(corpus, "doc_id", "text", 3, t)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(idx == all, s"threshold $t")
      // and through the frequency-ordered prefix path (the > threshold
      // branch, forced): identical pairs from either canonical order
      val dfOrdered = Dedup.jaccardSimilarityJoin(corpus, "doc_id",
          "text", 3, t, prefixDfThreshold = 0L)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(dfOrdered == all, s"threshold $t (df-ordered prefix)")
    }
  }

  test("minhash LSH candidates verify to the same pairs as exact jaccard") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", 3, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // LSH verifies candidates exactly → subset; high bands ⇒ equal here
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 3L))) // exact dups always collide
  }

  test("minhash signature agreement tracks true Jaccard (hash-family " +
    "regression: a collapsed family scores ~0 on subset pairs)") {
    // A ⊃ B with |A∩B|/|A∪B| = 30/31: expected per-position agreement is
    // ~0.97. The broken (non-modular) h1+i*h2 family measured 1/64 on
    // exactly this shape — every position's argmin collapsed to the
    // min-h2 element — which silently destroyed LSH recall (q26 missed a
    // Jaccard-0.89 pair at sf0.001).
    val a = (1 to 31).map(i => s"tok$i")
    val b = a.take(30) // drop one element
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
      .select(col("id"),
        graft.plans.SetExpressions.minHash(
          array_sort(col("toks")), 64).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    // E[agree] = 64 * 30/31 ≈ 62; binomial 3σ lower bound ≈ 58.
    assert(agree >= 52, s"agreement $agree/64 far below Jaccard 30/31 — " +
      "minhash family is not behaving as independent hashes")
  }

  test("simhash: identical texts distance 0, near-dups close, others far") {
    val fps = docs.select(col("doc_id"),
        Dedup.simHash64(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(4L)))
  }

  test("native simhash kernels are bit-equal to the Column formulations") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short one",
      "", "   ", // blank → the [""] single-token result of split(trim)
      "tabs\tand\nnewlines   collapse",
      "unicode tokens naïve café 東京 añejo",
      "x", "a b c d e f g h i j k l m n o p q r s t u v w x y z"
    ).toDF("text")
    val got = texts.select(
      Dedup.simHash64(col("text")).as("native_xx"),
      Dedup.simHash(col("text"), xxhash64(_), 64).as("col_xx"),
      Dedup.simHashMd5(col("text")).as("native_md5"),
      Dedup.simHashMd5Column(col("text")).as("col_md5"))
      .as[(Long, Long, Long, Long)].collect()
    got.foreach { case (nx, cx, nm, cm) =>
      assert(nx == cx, "xxhash64 simhash diverged from Column baseline")
      assert(nm == cm, "md5 simhash diverged from Column baseline")
    }
    // null text → null fingerprint, same as the Column form
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(Dedup.simHash64(col("text")),
        Dedup.simHashMd5(col("text")))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("simhash pairs flags exact dup at distance 0") {
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L)))
  }

  test("connected components merge transitive near-dup chains") {
    // chain 1-2, 2-3 plus isolated 4, 5: components {1,2,3}, {4}, {5}
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("connected components resolve long chains within the log-round budget") {
    // a 33-node path has diameter 32: plain min-propagation needs 32
    // rounds (> default maxIter 20); the pointer-jump variant must close
    // it in ~log2(32) ≈ 5-6 rounds. Also a descending chain (worst case
    // for min flow direction), a star, and isolated nodes.
    val chain = (1L to 33L).sliding(2).map(p => (p(0), p(1))).toSeq
    val desc = (101L to 120L).sliding(2).map(p => (p(1), p(0))).toSeq
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val star = (202L to 210L).map(v => (201L, v))
    val ids = ((1L to 33L) ++ (101L to 120L) ++ (201L to 210L) :+ 300L)
      .toDF("id")
    val pairs = (chain ++ desc ++ star).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 33L).foreach(v => assert(got(v) == 1L, s"chain node $v"))
    (101L to 120L).foreach(v => assert(got(v) == 101L, s"desc node $v"))
    (201L to 210L).foreach(v => assert(got(v) == 201L, s"star node $v"))
    assert(got(300L) == 300L)
  }

  test("corpus dedup keeps one representative per cluster") {
    val pairs = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.4)
    val kept = Dedup.dedupCorpus(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // docs 1,2,3 are one near-dup cluster → keep 1; 4 and 5 survive
    assert(kept == Set(1L, 4L, 5L))
  }

  test("hammingDedupCorpus equals direct pair-list dedup, through exact " +
    "code collapse") {
    // fingerprints with heavy exact-dup mass: 60 ids over 12 distinct
    // codes (5 ids per code), mixing near codes (1-bit apart), mid codes
    // (partially connected at radius 2) and far-apart codes — the parity
    // assertion below holds for WHATEVER clusters the radius forms
    def code(cluster: Int, j: Int): Long = cluster match {
      case 0 => 0xF0F0F0F0L ^ (1L << j)
      case 1 => 0x0A0A0A0A0A0AL ^ (3L << (4 * j))
      case _ => 0x1111L << (j * 7)
    }
    val rows = (0 until 60).map { i =>
      val cl = i / 20 // 3 clusters of 20 ids
      val j = (i % 20) / 5 // 4 codes per cluster
      (i.toLong, code(cl, j))
    }
    val fps = rows.toDF("id", "fp")
    val got = Dedup.hammingDedupCorpus(fps, "id", "fp", maxHamming = 2)
      .select("id", "canonical_id").as[(Long, Long)].collect().toMap
    // reference: direct pairs over ALL ids (no distinct-code collapse)
    val all = fps.as("a").join(fps.as("b"),
        $"a.id" < $"b.id" &&
          bit_count($"a.fp".bitwiseXOR($"b.fp")) <= 2)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
    val want = Dedup.connectedComponents(fps.select($"id"), all)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    // kept flags: exactly the canonical ids
    val kept = Dedup.hammingDedupCorpus(fps, "id", "fp", maxHamming = 2)
      .filter($"kept").select("id").as[Long].collect().toSet
    assert(kept == want.values.toSet)
  }

  test("positional shingles are the in-order, undeduped gram hashes") {
    import graft.functions.TextAnalysis
    val texts = Seq(
      "a b c a b c a b",        // repeated grams must NOT dedup
      "one two three", "", "x y").toDF("text")
    val got = texts.select(
      graft.plans.SetExpressions.positionalWordShingles(col("text"), 2)
        .as("native"),
      transform(TextAnalysis.shingles(col("text"), 2), xxhash64(_))
        .as("lambda"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.foreach { case (n, l) => assert(n == l) }
    assert(got(0)._1.length == 7)
    assert(got(0)._1(0) == got(0)._1(3)) // "a b" at positions 0 and 3
  }

  test("repeatedSpans merges consecutive duplicated k-grams into maximal spans") {
    // docs 1 and 2 share the 7-token run "alpha beta gamma delta epsilon
    // zeta eta" at different offsets; doc 3 shares nothing long enough.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, "lead1 lead2 alpha beta gamma delta epsilon zeta eta unique2"),
      (3L, "totally different words with no shared runs at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(corpus, "doc_id", "text", k = 3)
      .orderBy("id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // 7 shared tokens → 5 consecutive duplicated 3-grams → one span of 7
    assert(got == Seq((1L, 1L, 7L), (2L, 3L, 7L)))
  }

  test("removeRepeatedSpans rewrites documents without the shared runs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, "lead1 lead2 alpha beta gamma delta epsilon zeta eta unique2"),
      (3L, "totally different words with no shared runs at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(corpus, "doc_id", "text", k = 3)
      .orderBy("id")
      .select("id", "n_tokens_before", "n_tokens_after", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1L, 10, 3, "unique1 tail1 tail2"),
      (2L, 10, 3, "lead1 lead2 unique2"),
      (3L, 10, 10,
        "totally different words with no shared runs at all here")))
  }

  test("removeRepeatedSpansKeepFirst keeps the canonical (min doc id) " +
    "copy and removes the rest") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, "lead1 lead2 alpha beta gamma delta epsilon zeta eta unique2"),
      (3L, "alpha beta gamma delta epsilon zeta eta other3 x3 y3")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpansKeepFirst(corpus, "doc_id", "text",
        k = 3, minDocs = 2, minSpanTokens = 3)
      .orderBy("id")
      .select("id", "n_tokens_before", "n_tokens_after", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    // doc 1 holds every gram's first occurrence — untouched; docs 2 and 3
    // lose the shared 7-token run but keep their unique context
    assert(got == Seq(
      (1L, 10, 10,
        "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, 10, 3, "lead1 lead2 unique2"),
      (3L, 10, 3, "other3 x3 y3")))
  }

  test("removeRepeatedSpansKeepFirst keeps first occurrence WITHIN the " +
    "min-id doc when it repeats there too") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta mid1 mid2 alpha beta gamma delta"),
      (2L, "alpha beta gamma delta trailing words here")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpansKeepFirst(corpus, "doc_id", "text",
        k = 4, minDocs = 2, minSpanTokens = 4)
      .orderBy("id")
      .select("id", "n_tokens_after", "clean_text")
      .as[(Long, Int, String)].collect().toSeq
    // canonical = (doc 1, pos 1); doc 1's SECOND copy and doc 2's copy
    // are both non-canonical
    assert(got == Seq(
      (1L, 6, "alpha beta gamma delta mid1 mid2"),
      (2L, 3, "trailing words here")))
  }

  test("runVote keeps the canonical copy VERBATIM under overlapping " +
    "duplicated passages (where gram-level canonicality clips it)") {
    // passage S = s1..s20 lives canonically in doc 1 (copied into doc 2);
    // its MIDDLE chunk s8..s13 also appears in doc 0, which wins
    // canonicality for those grams. Gram-level: doc 1's S is clipped in
    // the middle. Run-level majority vote: doc 1's S-run is mostly
    // canonical-here → survives verbatim; doc 2's copy is all
    // non-canonical → fully removed; doc 0 keeps its chunk.
    val s = (1 to 20).map(i => s"s$i")
    val sText = s.mkString(" ")
    val mid = (8 to 13).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (0L, s"a b c $mid d e f"),
      (1L, s"p q $sText r t"),
      (2L, s"u v $sText w x")
    ).toDF("doc_id", "text")
    def run(runVote: Boolean) =
      Dedup.removeRepeatedSpansKeepFirst(corpus, "doc_id", "text",
          k = 3, minDocs = 2, minSpanTokens = 6, runVote = runVote)
        .orderBy("id")
        .select("id", "clean_text").as[(Long, String)].collect().toSeq
    val gramLevel = run(runVote = false)
    val runLevel = run(runVote = true)
    // the scenario is real: gram-level clips the canonical doc 1
    assert(!gramLevel(1)._2.contains(mid),
      s"premise broken — gram-level kept doc 1 intact: ${gramLevel(1)._2}")
    // run-level: canonical copy survives VERBATIM...
    assert(runLevel(1)._2 == s"p q $sText r t")
    // ...the non-canonical full copy still goes...
    assert(runLevel(2)._2 == "u v w x")
    // ...and doc 0's canonical chunk stays
    assert(runLevel(0)._2 == s"a b c $mid d e f")
  }

  test("removeRepeatedSpansKeepFirst leaves runs below the min-span " +
    "threshold alone") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 tail2"),
      (2L, "lead1 lead2 alpha beta gamma delta epsilon zeta eta unique2")
    ).toDF("doc_id", "text")
    // the shared run spans 7 tokens; a threshold of 8 must keep everything
    val got = Dedup.removeRepeatedSpansKeepFirst(corpus, "doc_id", "text",
        k = 3, minDocs = 2, minSpanTokens = 8)
      .orderBy("id")
      .select("id", "n_tokens_before", "n_tokens_after")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 10, 10), (2L, 10, 10)))
  }

  test("span removal is linear-safe on a heavily-duplicated document " +
    "(sorted-coverage kernel)") {
    // one long doc that is ~99% covered: the old array_contains lambda was
    // O(tokens × covered) here; the merge-walk kernel is O(tokens). This
    // pins CORRECTNESS of the kernel on a full-coverage + partial-coverage
    // mix; the complexity claim is structural (single codegen'd pass).
    val run = (0 until 600).map(i => s"w${i % 199}").mkString(" ")
    val corpus = Seq(
      (1L, run + " uniqA uniqB uniqC"),
      (2L, run + " uniqD uniqE uniqF")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(corpus, "doc_id", "text", k = 5)
      .orderBy("id")
      .select("id", "n_tokens_before", "n_tokens_after", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got.map(_._2) == Seq(603, 603))
    assert(got(0)._3 == 3 && got(0)._4 == "uniqA uniqB uniqC")
    assert(got(1)._3 == 3 && got(1)._4 == "uniqD uniqE uniqF")
  }

  test("repeatedSpans emits separate spans for discontiguous repeats") {
    val corpus = Seq(
      (1L, "shared one two three mid gap word shared four five six end"),
      (2L, "shared one two three x y z shared four five six q")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(corpus, "doc_id", "text", k = 4)
      .orderBy("id", "span_start")
      .as[(Long, Long, Long)].collect().toSeq
    // each doc: two disjoint 4-token shared runs → two spans of 4 each
    assert(got == Seq((1L, 1L, 4L), (1L, 8L, 4L),
      (2L, 1L, 4L), (2L, 8L, 4L)))
  }

  test("NFC normalization makes NFD/NFC twins dedupe (and near-dup)") {
    import graft.functions.TextAnalysis
    // same visible text, different byte forms: doc 1 precomposed (NFC),
    // doc 2 decomposed (NFD) — raw md5 sees two distinct documents
    val nfc = "café au lait est très bon ce matin mes amis"
    val nfd = java.text.Normalizer.normalize(nfc,
      java.text.Normalizer.Form.NFD)
    assert(nfc != nfd)
    val corpus = Seq((1L, nfc), (2L, nfd), (3L, "unrelated words here"))
      .toDF("doc_id", "text")
    val raw = Dedup.exact(corpus, "doc_id", "text")
    assert(raw.count() == 3) // byte-different → no dedup without NFC
    val norm = corpus.withColumn("text",
      TextAnalysis.nfcNormalize(col("text")))
    val got = Dedup.exact(norm, "doc_id", "text")
      .orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L))) // twins folded, min id kept
    // the shingle path heals the same way (near-dup operators inherit it)
    val pairs = Dedup.jaccardPairs(norm, "doc_id", "text", n = 3,
      threshold = 0.9).select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
    // already-normalized text passes through byte-identical
    val same = norm.filter(col("doc_id") === 1L)
      .select(col("text")).as[String].head()
    assert(same == nfc)
  }

  test("pigeonhole-blocked simhash equals the all-pairs baseline") {
    val corpus = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog today"),
      (7L, "unrelated text about completely other topics entirely"),
      (8L, "the quick brown fox leaps over the lazy dog")
    ).toDF("doc_id", "text"))
    for (k <- Seq(0, 3, 12, 30)) {
      val all = Dedup.simHashPairs(corpus, "doc_id", "text", k)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      val blocked = Dedup.simHashPairsBlocked(corpus, "doc_id", "text", k)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(blocked == all, s"maxHamming=$k")
    }
  }

  test("containmentPairs equals the brute-force definition, is " +
    "asymmetric, and catches the quote Jaccard misses") {
    // doc 2 is a verbatim quote of doc 1 inside a much longer document:
    // containment(1 -> 2) = 1.0 while Jaccard stays low
    val quote = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, quote),
      (2L, quote + " " + (1 to 30).map(i => s"filler$i").mkString(" ")),
      (3L, "totally unrelated words only here"),
      (4L, "alpha beta gamma nothing shared beyond this prefix")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.2)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    // brute force
    def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val all = Map(1L -> sh(quote),
      2L -> sh(docs.as[(Long, String)].collect().find(_._1 == 2L).get._2),
      3L -> sh("totally unrelated words only here"),
      4L -> sh("alpha beta gamma nothing shared beyond this prefix"))
    val want = (for {
      a <- all.keys; b <- all.keys if a != b
      c = (all(a) & all(b)).size.toDouble / all(a).size
      if c >= 0.2
    } yield (a, b) -> math.rint(c * 1e6) / 1e6).toMap
    assert(got == want, s"got $got want $want")
    assert(got((1L, 2L)) == 1.0) // full quote
    // asymmetric denominators: the long document is NOT contained in
    // its own quote
    assert(!got.contains((2L, 1L)), s"containment lost its direction: $got")
    // the Jaccard twin misses the quote at the same bar
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)),
      s"jaccard unexpectedly caught the quote: $jac")
  }

  test("containmentPairs refuses above routeThreshold and names the " +
    "scale path") {
    val docs = (0L until 20L).map(i => (i, s"doc $i words $i end"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.2, routeThreshold = 10L)
    }
    assert(e.getMessage.contains("containmentJoin"), e.getMessage)
    // and passes untouched just below the bar
    assert(Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.2, routeThreshold = 20L).columns.toSeq ==
      Seq("id_a", "id_b", "containment"))
  }

  test("containmentJoin (prefix-filtered) emits EXACTLY the baseline " +
    "pairs on a randomized corpus with quotes, replicas and noise") {
    val rnd = new scala.util.Random(131)
    val vocab = (0 until 40).map(i => s"w$i")
    def doc(len: Int) =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0L until 12L).map(i => (i, doc(8 + rnd.nextInt(40))))
    val quotes = bases.take(4).map { case (i, t) =>
      // a verbatim slice of a base doc embedded in fresh filler —
      // high containment toward the quote, low Jaccard
      val words = t.split(" ")
      val q = words.slice(0, math.max(3, words.length / 2)).mkString(" ")
      (100L + i, q + " " + doc(30))
    }
    val replicas = bases.slice(4, 7).map { case (i, t) => (200L + i, t) }
    val docs = (bases ++ quotes ++ replicas).toDF("doc_id", "text")
    for (t <- Seq(0.15, 0.4, 0.8)) {
      def run(f: => org.apache.spark.sql.DataFrame) =
        f.select("id_a", "id_b", "containment")
          .as[(Long, Long, Double)].collect().toSet
      val base = run(Dedup.containmentPairs(docs, "doc_id", "text", 3, t))
      val pfx = run(Dedup.containmentJoin(docs, "doc_id", "text", 3, t))
      assert(pfx == base,
        s"t=$t: prefix-filtered lost/invented pairs: " +
          s"missing=${base -- pfx} extra=${pfx -- base}")
      assert(base.nonEmpty, s"t=$t: degenerate fixture, nothing matched")
    }
  }
}

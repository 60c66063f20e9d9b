package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.{EtlConfigs, Extract, Load, Refine, Schema}
import graft.functions.PandasRank
import graft.operators.RuleEngine

/** Property-style tests (SURVEY §5): each property generates a few hundred
  * random inputs with ScalaCheck generators (fixed seed — deterministic),
  * runs them through Spark as ONE DataFrame, and checks the invariant over
  * the collected results.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long = 7L): Seq[A] =
    Seq.tabulate(n)(i =>
      g.apply(Gen.Parameters.default, Seed(seed + i)).get)

  private val kw = EtlConfigs.TxnTypeKeywords(
    Seq("繳款", "扣繳"), Seq("回饋", "調整"), Seq("年費", "調整"))

  test("cascade totality: every refined row gets exactly one valid type") {
    val merchGen = Gen.oneOf("網路銀行繳款", "現金回饋", "調整", "超商",
      "手續費繳款", "年費", "STORE", "")
    val amtGen = Gen.oneOf(Gen.const(null.asInstanceOf[java.lang.Double]),
      Gen.chooseNum(-5000.0, 5000.0).map(Double.box),
      Gen.const(Double.box(0.0)))
    val locGen = Gen.oneOf("TW", "JP", "US", "")
    val curGen = Gen.oneOf("TWD", "JPY", "")
    val rows = sample(for {
      m <- merchGen; a <- amtGen; l <- locGen; c <- curGen
    } yield (m, a, l, c, "TWD"), 400)
    val df = rows.toDF(Schema.Merchant, Schema.PayAmount, Schema.Location,
      Schema.Currency, Schema.PayCurrency)
    val out = Refine.refine(df, Nil, Nil, Nil, kw)
      .select(Schema.TxnType, Schema.PayAmount).collect()
    val valid = Set("繳款", "折抵", "退刷", "各項費用", "驗證/零元", "交易",
      "一般國外交易", "台幣跨境交易", "一般雙幣交易", "")
    assert(out.forall(r => valid.contains(r.getString(0))))
    // any row with a non-null amount is always classified (cascade total
    // over <0 / ==0 / >0); only null-amount keyword-less rows stay ''
    assert(out.filter(r => !r.isNullAt(1)).forall(_.getString(0).nonEmpty))
  }

  test("rank invariants on random multisets: bounds, mean, tie equality") {
    val rows = sample(Gen.chooseNum(0, 30), 300).zipWithIndex
      .map { case (v, i) => (i, v.toDouble) }
    val df = rows.toDF("id", "v")
    // both rank forms: the pct-rank operator, then the window
    val ranked = Seq(
      PandasRank.pctRankScalableAll(df, Seq(("v", "p", true))),
      df.withColumn("p", PandasRank.pctRank(col("v"))))
    for ((frame, form) <- ranked.zip(Seq("operator", "window"))) {
      val ranks = frame.select("v", "p").as[(Double, Double)].collect()
      val n = ranks.length
      assert(ranks.forall { case (_, p) => p > 0.0 && p <= 1.0 })
      // pandas invariant: average of average-ranks is exactly (n+1)/2
      val meanRank = ranks.map(_._2 * n).sum / n
      assert(math.abs(meanRank - (n + 1) / 2.0) < 1e-6, form)
      // tied values share one rank
      assert(ranks.groupBy(_._1).values
        .forall(g => g.map(_._2).toSet.size == 1), form)
    }
  }

  test("surrogate id: deterministic, sensitive to every component") {
    val gen = for {
      d <- Gen.oneOf("2024-01-05", "2024-02-06", "")
      m <- Gen.alphaNumStr.map(_.take(8))
      c <- Gen.oneOf("1234", "5678", "")
      a <- Gen.chooseNum(-999.0, 999.0)
    } yield (d, m, c, a, "交易")
    val rows = sample(gen, 300).distinct
    val df = rows.toDF("d", "m", "c", "a", "t")
    def ids(frame: org.apache.spark.sql.DataFrame) = frame.select(
      Load.transactionId(col("d"), col("m"), col("c"), col("a"), col("t")))
      .as[String].collect().toSeq
    val first = ids(df)
    assert(first == ids(df)) // deterministic
    // flipping one component changes the id
    val flipped = df.withColumn("a", col("a") + 1.0)
    assert(first.zip(ids(flipped)).forall { case (x, y) => x != y })
  }

  test("longest-prefix strip removes exactly the longest matching prefix") {
    val prefixes = Seq("LinePay－", "Line", "JKOPAY－")
    val bodyGen = Gen.alphaNumStr.map(_.take(10)).suchThat(b =>
      !prefixes.exists(b.startsWith))
    val gen = for {
      p <- Gen.oneOf(prefixes)
      b <- bodyGen
    } yield (p + b, b)
    val rows = sample(gen, 200)
    val got = rows.toDF("in", "expected")
      .withColumn("out",
        RuleEngine.stripLongestPrefix(col("in"), prefixes))
      .select("out", "expected").as[(String, String)].collect()
    assert(got.forall { case (o, e) => o == e.trim })
  }

  test("country normalize: total, space-free, blank-to-TW") {
    val gen = Gen.oneOf(
      Gen.const(null.asInstanceOf[String]), Gen.const(""),
      Gen.const("   "), Gen.oneOf("JPN", "TWN", "USA", "DEU"),
      Gen.oneOf("JPN TOKYO", "usa new york", "XX", "weird  input"))
    val rows = sample(gen, 300).map(Tuple1(_))
    val out = rows.toDF("c")
      .select(Extract.normalizeCountry(col("c"))).as[String].collect()
    assert(out.forall(_ != null))
    assert(out.forall(!_.contains(" ")))
    val blanks = rows.count(r => r._1 == null || r._1.trim.isEmpty)
    assert(out.count(_ == "TW") >= blanks)
  }

  test("as-of join equals the brute-force definition on random streams") {
    // dense key/ts ranges force plenty of cross-key collisions, ties
    // (ts equality between sides), multi-quote runs, and quoteless keys
    val leftRows = sample(for {
      k <- Gen.chooseNum(0, 8); ts <- Gen.chooseNum(0L, 60L)
    } yield (k, ts), 250).zipWithIndex
      .map { case ((k, ts), i) => (i.toLong, k, ts) }
    val rightRows = sample(for {
      k <- Gen.chooseNum(0, 6); ts <- Gen.chooseNum(0L, 60L)
      v <- Gen.chooseNum(1.0, 9.0)
    } yield (k, ts, v), 180, seed = 99L)
      // unique (key, ts) — the operator's documented precondition
      .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
    val left = leftRows.toDF("id", "k", "ts")
    val right = rightRows.toDF("k", "ts", "v")
    val got = graft.operators.TemporalJoin
      .asOfBackward(left, right, "k", "ts", Seq("v"), tolerance = Some(15L))
      .select(col("id"), col("ts_asof"), col("v_asof"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // brute force: latest right row at-or-before, within tolerance
    val expected = leftRows.map { case (id, k, ts) =>
      val m = rightRows.filter(r => r._1 == k && r._2 <= ts &&
        r._2 >= ts - 15L)
      id -> (if (m.isEmpty) (None, None)
             else { val b = m.maxBy(_._2); (Some(b._2), Some(b._3)) })
    }.toMap
    assert(got.size == leftRows.size)
    assert(got == expected)
    // the broadcast (packed-array binary-search) form must agree with
    // both the window form and the brute force on the same streams
    val gotB = graft.operators.TemporalJoin
      .asOfBroadcast(left, right, "k", "ts", Seq("v"),
        tolerance = Some(15L))
      .select(col("id"), col("ts_asof"), col("v_asof"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(gotB == expected)
    // the dedicated physical operator (AsOfJoinExec streaming merge)
    // must agree too — three plans, one truth
    val gotM = graft.operators.TemporalJoin
      .asOfMerge(left, right, "k", "ts", Seq("v"), tolerance = Some(15L))
      .select(col("id"), col("ts_asof"), col("v_asof"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(gotM == expected)
    // no tolerance: unbounded backward matches
    val gotM2 = graft.operators.TemporalJoin
      .asOfMerge(left, right, "k", "ts", Seq("v"))
      .select(col("id"), col("ts_asof"), col("v_asof"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val expected2 = leftRows.map { case (id, k, ts) =>
      val m = rightRows.filter(r => r._1 == k && r._2 <= ts)
      id -> (if (m.isEmpty) (None, None)
             else { val b = m.maxBy(_._2); (Some(b._2), Some(b._3)) })
    }.toMap
    assert(gotM2 == expected2)
  }

  test("snapshot merge equals the brute-force map fold on random " +
    "update sequences") {
    // several generations of updates over a small key space — merge them
    // generation by generation and compare against a driver-side Map fold
    val gens = (1 to 4).map { g =>
      sample(for {
        k <- Gen.chooseNum(0, 12)
        v <- Gen.alphaStr.map(s => s"g$g-" + s.take(4))
      } yield (k.toLong, v), 40, seed = 1000L * g)
        // one row per key within a generation (upsert batch semantics)
        .groupBy(_._1).map(_._2.head).toSeq
        .map { case (k, v) => (k, v, g) }
    }
    val merged = gens.tail.foldLeft(
      gens.head.toDF("k", "v", "version")) { (snap, delta) =>
      graft.operators.Snapshot.mergeSnapshot(
        snap, delta.toDF("k", "v", "version"), Seq("k"), "version")
    }
    val got = merged.select("k", "v").as[(Long, String)].collect().toMap
    val expected = gens.flatten
      .foldLeft(Map.empty[Long, String]) { case (m, (k, v, _)) =>
        m.updated(k, v) // generations apply in order; later wins
      }
    assert(got == expected)
  }

  test("repeated spans: bounds, gram-run separation, and removal " +
    "consistency on random small-vocab corpora") {
    import graft.operators.Dedup
    val k = 3
    // tiny vocabulary → cross-document k-gram collisions are common
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val textGen = for {
      n <- Gen.chooseNum(0, 18)
      toks <- Gen.listOfN(n, tokGen)
    } yield toks.mkString(" ")
    val rows = sample(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = rows.toDF("doc_id", "text")
    val nToks = rows.map { case (i, t) =>
      i -> t.trim.split("\\s+", -1).length
    }.toMap
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", k)
      .as[(Long, Long, Long)].collect().toSeq
    assert(spans.nonEmpty, "vocab of 6 over 120 docs must collide")
    spans.foreach { case (id, st, n) =>
      assert(st >= 1 && n >= k && st + n - 1 <= nToks(id),
        s"span out of bounds: doc $id start $st len $n of ${nToks(id)}")
    }
    // gram runs are maximal: in gram space, consecutive spans of a doc
    // are separated by at least one non-duplicated gram position
    spans.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Seq((_, s1, n1), (_, s2, _)) =>
          val gramEnd1 = s1 + (n1 - k) // last gram pos of span 1
          assert(s2 >= gramEnd1 + 2, s"adjacent runs should have merged")
        case _ => ()
      }
    }
    // exact parity with the brute-force definition (r9: the islands pass
    // was rewritten from a corpus-wide window sort to per-doc array
    // lambdas — this pins the rewrite to the semantics, not a fixture).
    // String-identity of grams stands in for hash-identity: 6^3 possible
    // grams make an xxhash64 collision vanishingly unlikely.
    val gramsOf = rows.map { case (i, t) =>
      val tk = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      i -> (0 to tk.length - k).map(p => (p + 1, tk.slice(p, p + k)
        .mkString(" ")))
    }.toMap
    val docsPerGram = gramsOf.toSeq
      .flatMap { case (i, gs) => gs.map { case (_, g) => (g, i) } }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val wantSpans = gramsOf.toSeq.flatMap { case (i, gs) =>
      val covered = gs.collect {
        case (p, g) if docsPerGram(g) >= 2 => p
      }.sorted
      // islands over covered gram positions
      val runs = covered.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p.toLong) :: rest
        case (acc, p) => (p.toLong, p.toLong) :: acc
      }.reverse
      runs.map { case (s, e) => (i, s, e - s + k) }
    }.toSet
    assert(spans.toSet == wantSpans,
      s"span parity: got ${spans.size}, want ${wantSpans.size}")

    // removal drops exactly the union of span token ranges
    val removed = Dedup.removeRepeatedSpans(docs, "doc_id", "text", k)
      .select("id", "n_tokens_before", "n_tokens_after")
      .as[(Long, Int, Int)].collect().toSeq
    val coveredByDoc = spans.groupBy(_._1).map { case (id, ss) =>
      id -> ss.flatMap { case (_, st, n) => st until (st + n) }.toSet.size
    }
    removed.foreach { case (id, before, after) =>
      assert(before == nToks(id))
      assert(after == before - coveredByDoc.getOrElse(id, 0),
        s"doc $id: removal disagrees with the span union")
    }
    // a globally-unique-token corpus has no spans and rewrites to itself
    val unique = (0L until 30L).map(i =>
      (i, (0 until 10).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(unique, "doc_id", "text", k).count() == 0)
    val id2 = Dedup.removeRepeatedSpans(unique, "doc_id", "text", k)
      .filter(col("n_tokens_before") =!= col("n_tokens_after")).count()
    assert(id2 == 0)
  }

  test("keep-first span removal: containment, threshold monotonicity, " +
    "and exact-copy canonicality on random small-vocab corpora") {
    import graft.operators.Dedup
    val k = 3
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val textGen = for {
      n <- Gen.chooseNum(0, 18)
      toks <- Gen.listOfN(n, tokGen)
    } yield toks.mkString(" ")
    val rows = sample(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = rows.toDF("doc_id", "text")
    def afterOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("id", "n_tokens_after").as[(Long, Int)].collect().toMap
    val removeAll = afterOf(
      Dedup.removeRepeatedSpans(docs, "doc_id", "text", k))
    val keepFirst = afterOf(Dedup.removeRepeatedSpansKeepFirst(
      docs, "doc_id", "text", k, minSpanTokens = k))
    val keepFirstLong = afterOf(Dedup.removeRepeatedSpansKeepFirst(
      docs, "doc_id", "text", k, minSpanTokens = k + 3))
    removeAll.keySet.foreach { id =>
      // keep-first coverage ⊆ remove-all coverage (non-canonical dup
      // positions are a subset of all dup positions)
      assert(keepFirst(id) >= removeAll(id),
        s"doc $id: keep-first removed more than remove-all")
      // raising the min-span threshold only ever preserves more
      assert(keepFirstLong(id) >= keepFirst(id),
        s"doc $id: longer threshold removed more")
    }
    // canonical-copy retention is EXACT for straight duplicate documents:
    // min id survives untouched, every other copy is fully scrubbed
    val copies = (0L until 20L).map(i => (i, "pp qq rr ss tt uu vv ww"))
      .toDF("doc_id", "text")
    val scrubbed = Dedup.removeRepeatedSpansKeepFirst(
        copies, "doc_id", "text", k, minSpanTokens = k)
      .select("id", "n_tokens_after", "clean_text")
      .as[(Long, Int, String)].collect().toSeq.sortBy(_._1)
    assert(scrubbed.head == ((0L, 8, "pp qq rr ss tt uu vv ww")))
    scrubbed.tail.foreach { case (id, after, text) =>
      assert(after == 0 && text.isEmpty, s"copy $id not fully scrubbed")
    }
    // deterministic under repartitioning (the min(struct) canonical pick
    // and md5-free pipeline have no partition-order dependence)
    val repartitioned = afterOf(Dedup.removeRepeatedSpansKeepFirst(
      docs.repartition(17), "doc_id", "text", k, minSpanTokens = k))
    assert(repartitioned == keepFirst)
  }

  test("run-vote span removal: untouched clean docs, exact-copy " +
    "canonicality, and partition determinism on random corpora") {
    import graft.operators.Dedup
    val k = 3
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val textGen = for {
      n <- Gen.chooseNum(0, 18)
      toks <- Gen.listOfN(n, tokGen)
    } yield toks.mkString(" ")
    val rows = sample(textGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = rows.toDF("doc_id", "text")
    def afterOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("id", "n_tokens_after").as[(Long, Int)].collect().toMap
    val runVote = afterOf(Dedup.removeRepeatedSpansKeepFirst(
      docs, "doc_id", "text", k, minSpanTokens = k, runVote = true))
    // a doc with NO cross-doc duplicated gram is never touched
    val removeAll = afterOf(
      Dedup.removeRepeatedSpans(docs, "doc_id", "text", k))
    val lengths = rows.map { case (id, t) =>
      id -> (if (t.isEmpty) 0 else t.split("\\s+").length)
    }.toMap
    lengths.foreach { case (id, n) =>
      if (removeAll(id) == n) // remove-all found nothing duplicated
        assert(runVote(id) == n, s"doc $id: run-vote touched a clean doc")
    }
    // exact-copy canonicality holds under the vote too: min id verbatim,
    // every other copy fully scrubbed (its run is 100% non-canonical)
    val copies = (0L until 20L).map(i => (i, "pp qq rr ss tt uu vv ww"))
      .toDF("doc_id", "text")
    val scrubbed = Dedup.removeRepeatedSpansKeepFirst(
        copies, "doc_id", "text", k, minSpanTokens = k, runVote = true)
      .select("id", "n_tokens_after", "clean_text")
      .as[(Long, Int, String)].collect().toSeq.sortBy(_._1)
    assert(scrubbed.head == ((0L, 8, "pp qq rr ss tt uu vv ww")))
    scrubbed.tail.foreach { case (id, after, text) =>
      assert(after == 0 && text.isEmpty, s"copy $id not fully scrubbed")
    }
    // deterministic under repartitioning
    val repartitioned = afterOf(Dedup.removeRepeatedSpansKeepFirst(
      docs.repartition(17), "doc_id", "text", k, minSpanTokens = k,
      runVote = true))
    assert(repartitioned == runVote)
  }

  test("adaptive IVF == fixed nprobe when cells are uniform (prefix " +
    "rule sanity)") {
    import graft.operators.Similarity
    // 4 equal-population cells; budget = p × cellSize probes exactly p
    // distance-ordered cells, so the adaptive result must equal ivfKnn
    val centroids = Seq(Seq(10.0, 0.0), Seq(-10.0, 0.0),
      Seq(0.0, 10.0), Seq(0.0, -10.0))
    val r = new scala.util.Random(23)
    val corpus = (for {
      (base, cIdx) <- Seq(Seq(10.0f, 0.0f), Seq(-10.0f, 0.0f),
        Seq(0.0f, 10.0f), Seq(0.0f, -10.0f)).zipWithIndex
      j <- 0 until 10
    } yield ((cIdx * 100 + j).toLong,
      base.map(x => x + (r.nextDouble() * 0.2 - 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((900L, Seq(3.0f, 2.0f)), (901L, Seq(-1.0f, -7.0f)))
      .toDF("vec_id", "embedding")
    val counts = Similarity.ivfCellStats(corpus, centroids)
      .select("cell", "n_vecs").as[(Long, Long)].collect().toMap
    assert(counts.values.toSet == Set(10L))
    for (p <- 1 to 4) {
      val fixed = Similarity.ivfKnn(queries, corpus, k = 5, centroids,
          nprobe = p)
        .orderBy("query_id", "rank").collect().toSeq
      // budget p×10 means prior cumulative < budget for exactly the
      // first p cells of each query's distance order
      val adaptive = Similarity.ivfKnnAdaptive(queries, corpus, k = 5,
          centroids, counts, candidateBudget = p * 10L)
        .orderBy("query_id", "rank").collect().toSeq
      assert(adaptive == fixed, s"nprobe=$p mismatch")
    }
  }

  test("native hashed shingles == lambda formulation on adversarial text " +
    "(whitespace runs, unicode, empties, repeats)") {
    import graft.functions.TextAnalysis
    val tokenGen = Gen.oneOf(
      Gen.oneOf("a", "bb", "ccc", "dup", "dup", "木", "🙂", "a-b", "x,y"),
      Gen.stringOfN(3, Gen.alphaNumChar))
    val wsGen = Gen.oneOf(" ", "  ", "\t", "\n", " \t ", "\r\n")
    val textGen = for {
      k <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(k, tokenGen)
      seps <- Gen.listOfN(k + 1, wsGen)
      lead <- Gen.oneOf("", " ", "\t")
      trail <- Gen.oneOf("", " ", "\n")
    } yield lead + toks.zip(seps).map { case (t, s) => t + s }
      .mkString("") + trail
    val docs = sample(textGen, 300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- Seq(2, 4)) {
      val lambda = docs.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), array_sort(array_distinct(transform(
          TextAnalysis.shinglesOfTokens(col("_toks"), n),
          s => xxhash64(s)))).as("sh"))
        .orderBy("doc_id").as[(Long, Seq[Long])].collect().toSeq
      val native = graft.operators.Dedup
        .hashedShingleSets(docs, "doc_id", "text", n)
        .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
      assert(native == lambda, s"n=$n")
    }
  }

  test("semDedup invariants on random vectors: totality, canonical " +
    "order, survivor separation, chain termination, determinism") {
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-10.0, 10.0).map(_.toFloat))
    val vecs = sample(vecGen, 80).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = Seq(Seq(5.0, 0.0, 0.0, 0.0), Seq(-5.0, 5.0, 0.0, 0.0),
      Seq(0.0, -5.0, 5.0, 0.0))
    val tau = 0.8
    val out = graft.operators.Similarity.semDedup(df, centroids, tau)
      .select("vec_id", "cell", "dup_of", "kept")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    // totality: one verdict per input; kept ⟺ no canonical pointer
    assert(out.map(_._1).sorted == vecs.map(_._1))
    assert(out.forall(r => r._4 == r._3.isEmpty))
    // the canonical pointer always goes DOWN in id (well-founded chains)
    assert(out.forall(r => r._3.forall(_ < r._1)))
    val byId = out.map(r => r._1 -> r).toMap
    // following dup_of pointers terminates at a kept representative
    out.filter(!_._4).foreach { r =>
      var cur = r
      while (cur._3.isDefined) cur = byId(cur._3.get)
      assert(cur._4, s"chain from ${r._1} ended unkept at ${cur._1}")
    }
    // two survivors in the same cell never clear the threshold — else
    // the higher id would have been flagged
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    val vecById = vecs.toMap
    val kept = out.filter(_._4)
    for {
      Seq(a, b) <- kept.groupBy(_._2).values.flatMap(_.combinations(2))
    } assert(math.rint(cos(vecById(a._1), vecById(b._1)) * 1e6) / 1e6 < tau,
      s"survivors ${a._1},${b._1} in cell ${a._2} are near-dups")
    // deterministic under a different partitioning
    val re = graft.operators.Similarity
      .semDedup(df.repartition(11), centroids, tau)
      .select("vec_id", "cell", "dup_of", "kept")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(re.sortBy(_._1) == out.sortBy(_._1))
  }

  test("unigram cross-entropy invariants: bounds and the exact corpus-" +
    "entropy decomposition") {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val textGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val docs = sample(textGen, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.operators.Curation
      .unigramCrossEntropy(docs, "doc_id", "text")
      .select("id", "n_tokens", "n_terms", "ce")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out.size == 200)
    // distinct terms never exceed tokens; ce ∈ [0, ln T] (p ∈ [1/T, 1])
    val bigT = out.map(_._2.toLong).sum
    assert(out.forall(r => r._3 <= r._2))
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= math.log(bigT.toDouble)))
    // token-weighted mean of per-doc ce decomposes to the corpus
    // unigram entropy: Σ dl·ce / T = -Σ_t (cf/T)·ln(cf/T)
    val counts = docs.select(explode(
        graft.functions.TextAnalysis.tokens(col("text"))))
      .as[String].collect().groupBy(w => w).map(_._2.length.toLong)
    val corpusH = -counts.map { c =>
      val p = c.toDouble / bigT; p * math.log(p)
    }.sum
    val weighted = out.map(r => r._2.toDouble * r._4).sum / bigT
    // per-doc ce is rounded to 1e-6, so the identity holds to ~1e-6
    assert(math.abs(weighted - corpusH) < 1e-5,
      s"decomposition off: $weighted vs $corpusH")
  }

  test("chunking on random texts: brute-force parity for random " +
    "window/stride, every token covered, chunk count formula holds") {
    import graft.operators.Curation
    val wordGen = Gen.oneOf("a", "bb", "ccc", "dddd", "тест", "字")
    val textGen = for {
      n <- Gen.chooseNum(0, 40)
      ws <- Gen.listOfN(n, wordGen)
      sep <- Gen.oneOf(" ", "  ", " \t ")
    } yield ws.mkString(sep)
    val texts = sample(textGen, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for ((window, stride) <- Seq((5, 3), (7, 7), (4, 1), (16, 11))) {
      val got = Curation
        .chunkDocuments(texts.toDF("doc_id", "text"), "doc_id", "text",
          window, stride)
        .select("doc_id", "n_tokens", "chunk_idx", "chunk_tokens",
          "chunk_hash")
        .as[(Long, Long, Long, Long, String)].collect()
        .sortBy(r => (r._1, r._3)).toSeq
      def md5hex(s: String) =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val want = texts.flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+", -1).toSeq
        val chunks = math.ceil(
          math.max(toks.length - window, 0) / stride.toDouble).toLong + 1
        (0L until chunks).map { i =>
          val c = toks.slice((i * stride).toInt,
            (i * stride + window).toInt)
          (id, toks.length.toLong, i, c.length.toLong,
            md5hex(c.mkString(" ")))
        }
      }.sortBy(r => (r._1, r._3))
      assert(got == want, s"window=$window stride=$stride")
      // coverage: per doc, union of [i*stride, i*stride+chunk_tokens)
      // spans [0, n_tokens)
      for ((id, rows) <- got.groupBy(_._1)) {
        val n = rows.head._2
        val covered = rows.flatMap(r =>
          (r._3 * stride) until (r._3 * stride + r._4)).toSet
        assert(covered == (0L until n).toSet,
          s"doc $id window=$window stride=$stride coverage hole")
      }
    }
  }

  test("CDC edit locality: one random insert/delete changes O(1) chunk " +
    "hashes — the property that IS the operator's reason to exist") {
    import graft.operators.Curation
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val caseGen = for {
      n <- Gen.chooseNum(5, 120)
      toks <- Gen.listOfN(n, Gen.oneOf(words))
      pos <- Gen.chooseNum(0, n - 1)
      ins <- Gen.oneOf(true, false)
      w <- Gen.oneOf(words)
    } yield (toks, pos, ins, w)
    val cases = sample(caseGen, 120)
    val docs = cases.zipWithIndex.flatMap { case ((toks, pos, ins, w), i) =>
      val edited =
        if (ins) toks.take(pos) ++ (w :: toks.drop(pos))
        else toks.take(pos) ++ toks.drop(pos + 1)
      Seq((2L * i, toks.mkString(" ")), (2L * i + 1, edited.mkString(" ")))
    }
    // every (base, edited) pair chunked in ONE job
    val out = Curation.cdcChunks(docs.toDF("doc_id", "text"),
        "doc_id", "text", divisor = 8)
      .select("doc_id", "chunk_hash").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def shared(a: Seq[String], b: Seq[String]): Int = {
      val bc = b.groupBy(identity).view.mapValues(_.size).toMap
      a.groupBy(identity)
        .map { case (k, v) => math.min(v.size, bc.getOrElse(k, 0)) }.sum
    }
    cases.indices.foreach { i =>
      val base = out(2L * i)
      val edit = out(2L * i + 1)
      val s = shared(base, edit)
      // boundaries are content-defined, so only the chunk CONTAINING the
      // edit changes: it is replaced (diff 1/1), split by an inserted
      // boundary token (diff 1/2), or merged by deleting one (diff 2/1)
      assert(base.size - s <= 2 && edit.size - s <= 2,
        s"case $i (${cases(i)._3}): ${base.size} base / ${edit.size} " +
          s"edited / $s shared — CDC lost sync")
    }
  }

  test("URL canonicalization is idempotent and case/order/fragment " +
    "insensitive on random URLs") {
    import graft.operators.WebCuration
    val schemeGen = Gen.oneOf("http", "HTTP", "https", "HtTpS")
    val hostGen = Gen.oneOf("a.Example.COM", "www.b.co.uk", "X.Y.io",
      "single", "deep.a.b.c.org")
    val portGen = Gen.oneOf("", ":80", ":443", ":8080", ":08080")
    val pathGen = Gen.oneOf("", "/", "/p", "/A/b", "/x/y/z.html")
    val qGen = Gen.someOf(Seq("b=2", "a=1", "c=3", "e="))
      .map(ps => if (ps.isEmpty) "" else "?" + ps.mkString("&"))
    val fragGen = Gen.oneOf("", "#f", "#sec2")
    val urls = sample(for {
      s <- schemeGen; h <- hostGen; p <- portGen; pa <- pathGen
      q <- qGen; f <- fragGen
    } yield s"$s://$h$p$pa$q$f", 300)
    val out = urls.toDF("url")
      .select(col("url"), WebCuration.canonicalizeUrl(col("url")).as("c1"))
      .withColumn("c2", WebCuration.canonicalizeUrl(col("c1")))
      .collect()
    out.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == c2, s"not idempotent: $u -> $c1 -> $c2")
      assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
      assert(c1.startsWith("http://") || c1.startsWith("https://"), s"$c1")
    }
    // canonical form is invariant under scheme/host case and query order
    val variants = Seq(
      "http://A.b.IO/p?b=2&a=1#x", "HTTP://a.B.io/p?a=1&b=2",
      "http://a.b.io:80/p?b=2&a=1").toDF("url")
      .select(WebCuration.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0)).distinct
    assert(variants.length == 1, s"variants split: ${variants.toSeq}")
  }

  test("registrable-domain kernel == Column twin on random hosts") {
    import graft.operators.WebCuration
    val labelGen = Gen.oneOf("a", "bb", "ccc", "example", "www", "ck",
      "uk", "co", "io", "github", "blogspot", "com", "org", "bar", "x-y")
    val hostGen = for {
      n <- Gen.chooseNum(1, 7)
      ls <- Gen.listOfN(n, labelGen)
    } yield ls.mkString(".")
    val hosts = sample(hostGen, 400)
    val out = hosts.toDF("host")
      .select(col("host"),
        WebCuration.registrableDomain(col("host")).as("kernel"),
        WebCuration.registrableDomainColumnForm(col("host")).as("twin"))
      .collect()
    out.foreach { r =>
      assert(Option(r.getString(1)) == Option(r.getString(2)),
        s"kernel/twin disagree on ${r.getString(0)}: " +
          s"${r.getString(1)} vs ${r.getString(2)}")
    }
  }
}

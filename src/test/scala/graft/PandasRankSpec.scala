package graft

import org.apache.spark.sql.functions._

import graft.functions.PandasRank.pctRank

/** pandas `rank(pct=True, method='average')` semantics (SURVEY §2.7 W2 —
  * the highest oracle-mismatch-risk operator). Expectations hand-computed
  * the way pandas computes them.
  */
class PandasRankSpec extends SparkSpec {
  import spark.implicits._

  test("ascending pct rank matches pandas average-rank/n on ties") {
    // values: 10, 20, 20, 30  → avg ranks: 1, 2.5, 2.5, 4 → /4
    val df = Seq((1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)).toDF("id", "v")
    val got = df.withColumn("p", pctRank(col("v"), ascending = true))
      .orderBy("id").select("p").as[Double].collect()
    assert(got.toSeq == Seq(0.25, 0.625, 0.625, 1.0))
  }

  test("descending pct rank reverses order, keeps average ties") {
    // desc: 30→1, 20,20→avg(2,3)=2.5, 10→4
    val df = Seq((1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)).toDF("id", "v")
    val got = df.withColumn("p", pctRank(col("v"), ascending = false))
      .orderBy("id").select("p").as[Double].collect()
    assert(got.toSeq == Seq(1.0, 0.625, 0.625, 0.25))
  }

  test("all-equal values rank to (n+1)/2/n exactly") {
    val df = Seq.tabulate(5)(i => (i, 7.0)).toDF("id", "v")
    val got = df.withColumn("p", pctRank(col("v")))
      .select("p").as[Double].collect()
    assert(got.forall(_ == 0.6)) // avg rank 3 of 5
  }

  test("partitioned rank is computed within each partition") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 6.0), ("b", 7.0))
      .toDF("g", "v")
    val got = df.withColumn("p",
        pctRank(col("v"), ascending = true, partitionBy = Seq(col("g"))))
      .orderBy("g", "v").select("p").as[Double].collect()
    assert(got.toSeq == Seq(0.5, 1.0, 1.0 / 3, 2.0 / 3, 1.0))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val adaptive = "spark.sql.adaptive.coalescePartitions.enabled"

  test("pctRankScalableAll is bit-identical to the window pctRank: both " +
    "directions, ties and nulls, one or many range partitions") {
    // heavy ties + enough rows that values spread across range partitions
    val df = Seq.tabulate(500)(i =>
      (i, if (i % 41 == 0) None else Some((i * 7 % 23).toDouble)))
      .toDF("id", "v")
    // coalescing off keeps 3/16 shuffle partitions apart, so tie groups
    // land in several partitions and their offsets matter
    for (asc <- Seq(true, false); parts <- Seq(1, 3, 16);
         coalesce <- Seq(true, false))
      withConf("spark.sql.shuffle.partitions" -> parts.toString,
          adaptive -> coalesce.toString) {
        val win = df.withColumn("p", pctRank(col("v"), ascending = asc))
          .orderBy("id").select("p").as[Option[Double]].collect().toSeq
        val op = graft.functions.PandasRank
          .pctRankScalableAll(df, Seq(("v", "p", asc)))
          .orderBy("id").select("p").as[Option[Double]].collect().toSeq
        assert(win == op, s"ascending=$asc parts=$parts coalesce=$coalesce")
      }
  }

  test("pctRankScalableAll: multi-column ranks equal the withColumn chain " +
    "and keep column order") {
    val df = Seq.tabulate(300)(i =>
      (i, (i * 7 % 23).toDouble, (i * 13 % 17).toLong))
      .toDF("id", "a", "b")
    val specs = Seq(("a", "a_rank", true), ("b", "b_rank", false))
    val chained = df
      .withColumn("a_rank", pctRank(col("a")))
      .withColumn("b_rank", pctRank(col("b"), ascending = false))
    val ranked = graft.functions.PandasRank.pctRankScalableAll(df, specs)
    assert(ranked.columns.toSeq == Seq("id", "a", "b", "a_rank", "b_rank"))
    val w = chained.orderBy("id").collect().map(_.toSeq).toSeq
    val s = ranked.orderBy("id").collect().map(_.toSeq).toSeq
    assert(w == s) // exact, not approximate
  }

  test("null values rank to null, are excluded from n, and never drop rows " +
    "— identically in both rank forms") {
    // pandas: NaN → rank NaN, n counts non-NaN only. 10,20,20,null,30 →
    // non-null avg ranks 1, 2.5, 2.5, 4 over n=4.
    val df = Seq((1, Some(10.0)), (2, Some(20.0)), (3, Some(20.0)),
      (4, Option.empty[Double]), (5, Some(30.0))).toDF("id", "v")
    val expected = Seq(Some(0.25), Some(0.625), Some(0.625), None, Some(1.0))
    def run(d: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      d.orderBy("id").select("p").as[Option[Double]].collect().toSeq
    assert(run(df.withColumn("p", pctRank(col("v")))) == expected)
    val all = graft.functions.PandasRank
      .pctRankScalableAll(df, Seq(("v", "p", true)))
    assert(run(all) == expected)
    assert(all.count() == 5, "null rows must not be dropped")
  }

  test("pctRankScalableAll rejects an ambiguous input and an output name " +
    "already in use") {
    import graft.functions.PandasRank.pctRankScalableAll
    val df = Seq((1, 2.0), (2, 3.0)).toDF("id", "v")
    val twoVs = df.join(Seq((1, 5.0), (2, 4.0)).toDF("id", "v"), "id")
    intercept[IllegalArgumentException](
      pctRankScalableAll(twoVs, Seq(("v", "p", true))))
    intercept[IllegalArgumentException](
      pctRankScalableAll(df, Seq(("missing", "p", true))))
    intercept[IllegalArgumentException](
      pctRankScalableAll(df, Seq(("v", "id", true))))
    intercept[IllegalArgumentException](
      pctRankScalableAll(df, Seq(("v", "p", true), ("id", "p", false))))
  }

  test("pctRankScalableAll: an empty frame and an all-null column") {
    val specs = Seq(("v", "p", true), ("v", "q", false))
    val empty = Seq.empty[(Int, Option[Double])].toDF("id", "v")
    val none = graft.functions.PandasRank.pctRankScalableAll(empty, specs)
    assert(none.columns.toSeq == Seq("id", "v", "p", "q"))
    assert(none.collect().isEmpty)
    val nulls = Seq.tabulate(7)(i => (i, Option.empty[Double])).toDF("id", "v")
    for (coalesce <- Seq(true, false)) withConf(adaptive -> coalesce.toString) {
      val got = graft.functions.PandasRank.pctRankScalableAll(nulls, specs)
        .select("p", "q").collect()
      assert(got.length == 7 && got.forall(r => r.isNullAt(0) && r.isNullAt(1)),
        s"coalesce=$coalesce")
    }
  }

  test("a tie group past the window buffer thresholds spills and still " +
    "ranks bit-identically") {
    // 600 rows tie on 5.0 — far past an in-memory threshold of 2 rows and a
    // spill threshold of 4 — between small groups on either side
    val df = (Seq.tabulate(600)(i => (i, 5.0)) ++
        Seq.tabulate(40)(i => (600 + i, (i % 10).toDouble)))
      .toDF("id", "v").repartition(3)
    for (coalesce <- Seq(true, false))
      withConf("spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
          "spark.sql.windowExec.buffer.spill.threshold" -> "4",
          adaptive -> coalesce.toString) {
        val win = df.withColumn("p", pctRank(col("v"), ascending = false))
          .orderBy("id").select("p").as[Double].collect().toSeq
        val (op, _, spilled) = observe(graft.functions.PandasRank
          .pctRankScalableAll(df, Seq(("v", "p", false)))
          .orderBy("id").select("p").as[Double].collect().toSeq)
        assert(win == op, s"coalesce=$coalesce")
        assert(spilled > 0, s"coalesce=$coalesce: the tie group never spilled")
      }
  }

  test("pctRankScalableAll leaves the caller's cached frame cached") {
    val df = spark.range(200).selectExpr("id", "id % 7 AS v")
    df.cache()
    try {
      df.count()
      graft.functions.PandasRank
        .pctRankScalableAll(df, Seq(("v", "p", true))).collect()
      assert(df.storageLevel.useMemory, "the caller's cache entry was dropped")
    } finally df.unpersist(blocking = true)
  }

  test("building the ranks runs no Spark job; building Rfm.dualWindow runs " +
    "only its analysis-date query") {
    val txns = spark.range(400).selectExpr("id % 37 AS cust",
      "date_add(DATE'2023-01-01', CAST(id * 3 % 700 AS INT)) AS d",
      "CAST(id AS STRING) AS txn", "CAST(id % 13 AS DOUBLE) AS amt")
    val (_, rankJobs, _) = observe(graft.functions.PandasRank
      .pctRankScalableAll(txns, Seq(("amt", "p", true), ("cust", "q", false))))
    assert(rankJobs == 0)
    val (_, dateJobs, _) =
      observe(graft.operators.Rfm.analysisDate(txns, "d"))
    val (_, dualJobs, _) = observe(
      graft.operators.Rfm.dualWindow(txns, Seq("cust"), "d", "txn", "amt"))
    assert(dateJobs > 0 && dualJobs == dateJobs,
      s"analysis date $dateJobs jobs, dual window $dualJobs")
  }

  test("results lie in (0, 1] and are monotone in the input") {
    val df = Seq.tabulate(100)(i => (i, (i * 37 % 50).toDouble))
      .toDF("id", "v")
    val got = df.withColumn("p", pctRank(col("v")))
      .orderBy("v", "id").select("p").as[Double].collect()
    assert(got.forall(p => p > 0.0 && p <= 1.0))
    assert(got.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
  }

  test("groupedNtileScalable matches the window ntile bucket-for-bucket") {
    // 3 groups of deliberately unequal sizes (one not divisible by k, one
    // smaller than k) over a unique composite order key
    val df = (Seq.tabulate(1003)(i => ("a", (i * 131) % 1009, i)) ++
        Seq.tabulate(258)(i => ("b", (i * 67) % 271, i)) ++
        Seq.tabulate(3)(i => ("c", i, i)))
      .toDF("g", "v", "id")
      .repartition(7)
    for (k <- Seq(1, 4, 5)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v"), col("id"))
      val expected = df.withColumn("q", ntile(k).over(w))
        .select("g", "v", "id", "q").as[(String, Int, Int, Int)]
        .collect().toSet
      val got = graft.functions.PandasRank
        .groupedNtileScalable(df, Seq("g"), Seq("v", "id"), k, "q")
        .select("g", "v", "id", "q").as[(String, Int, Int, Int)]
        .collect().toSet
      assert(got == expected, s"k=$k")
    }
  }

  test("Histograms.equiDepth: both exact arms agree row-for-row; the " +
    "sketch arm holds depths within tolerance and a monotone bucket grid") {
    val df = (Seq.tabulate(1003)(i => ("a", (i * 131) % 1009, i)) ++
        Seq.tabulate(258)(i => ("b", (i * 67) % 271, i)))
      .toDF("g", "v", "id").repartition(7)
    def run(windowMax: Long, exactMax: Long) =
      graft.operators.Histograms.equiDepth(df, Seq("g"), "v", Seq("id"),
        k = 4, windowMaxRows = windowMax, exactMaxRows = exactMax)
        .orderBy("g", "bucket")
        .select("g", "bucket", "n", "lo", "hi")
        .as[(String, Int, Long, Int, Int)].collect().toSeq
    val windowArm = run(1L << 20, 1L << 26)
    val scalableArm = run(1L, 1L << 26)
    assert(windowArm == scalableArm,
      "exact arms must produce identical histograms")
    val sketchArm = run(1L, 2L)
    assert(sketchArm.map(r => (r._1, r._2)) ==
      windowArm.map(r => (r._1, r._2)), "bucket grid must match")
    // sketch depths: within 5% of the group total per bucket (exact GK
    // at this size, but boundary ties may shift a few rows)
    for (((g, b, n, lo, hi), i) <- sketchArm.zipWithIndex) {
      val total = sketchArm.filter(_._1 == g).map(_._3).sum
      assert(math.abs(n.toDouble / total - 0.25) <= 0.05,
        s"bucket ($g, $b) depth $n of $total")
      assert(lo <= hi)
      if (i > 0 && sketchArm(i - 1)._1 == g)
        assert(sketchArm(i - 1)._5 <= lo,
          s"bucket grid not monotone at ($g, $b)")
    }
  }
}

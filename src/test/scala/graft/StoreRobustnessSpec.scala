package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.StreamingPipeline

/** Store robustness probes: empty micro-batches and partition pruning. */
class StoreRobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("an empty digest-store write stays readable (plain parquet " +
    "keeps a schema file)") {
    val dir = Files.createTempDirectory("graft-empty").toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    empty.select(md5(col("text")).as("content_hash"))
      .write.mode("overwrite").parquet(s"$dir/b00000")
    assert(spark.read.parquet(s"$dir/b00000").count() == 0)
  }

  test("an empty micro-batch does not poison the semDedup store (no " +
    "schemaless partitioned dir is written)") {
    // a PARTITIONED write of zero rows produces a directory parquet
    // cannot re-read (UNABLE_TO_INFER_SCHEMA) — semDedupBatch must skip
    // the state write instead, or every later batch dies on the read
    val stateDir = Files.createTempDirectory("graft-emptyp").toString
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    var emissions = List.empty[Long]
    def run(rows: Seq[(Long, Seq[Float])], batchId: Long): Unit =
      StreamingPipeline.semDedupBatch(
        rows.toDF("vec_id", "embedding"), batchId, centroids, 0.9,
        stateDir, "vec_id", "embedding") { (res, id) =>
        emissions ::= id; res.count(); ()
      }
    run(Seq((0L, Seq(1.0f, 0.0f, 0.0f))), 0L)
    run(Seq.empty, 1L) // empty micro-batch
    // batch 2 must still read the store and find its cross-batch dup
    var got = Seq.empty[(Long, Option[Long])]
    StreamingPipeline.semDedupBatch(
      Seq((5L, Seq(0.99f, 0.01f, 0.0f))).toDF("vec_id", "embedding"), 2L,
      centroids, 0.9, stateDir, "vec_id", "embedding") { (res, _) =>
      got = res.select("vec_id", "dup_of")
        .as[(Long, Option[Long])].collect().toSeq
    }
    assert(emissions.contains(1L), "empty batch must still emit")
    assert(got == Seq((5L, Some(0L))))
    assert(!new java.io.File(stateDir, "b00001").exists(),
      "empty batch must not write a store subdir")
  }

  test("map-side incremental dedup: the digest store never shuffles " +
    "and results equal the plain anti-join form") {
    import graft.operators.Curation
    val dir = Files.createTempDirectory("graft-mapside").toString
    // parquet-backed store (the realistic shape — not an in-memory frame)
    (0 until 200).map(i => s"doc body $i").toDF("text")
      .select(md5(col("text")).as("content_hash"))
      .write.parquet(s"$dir/store")
    val store = spark.read.parquet(s"$dir/store")
    val batch = Seq((100L, "doc body 7"), (101L, "doc body 7"),
      (102L, "brand new"), (103L, "doc body 42"), (104L, "also new"))
      .toDF("doc_id", "text")
    val mapSide = Curation.incrementalDedupDigestsMapSide(
      batch, store, "doc_id", "text")
    val plain = Curation.incrementalDedupDigests(
      batch, store, "doc_id", "text")
    assert(mapSide.collect().toSet == plain.collect().toSet)
    assert(mapSide.select("keep_id").as[Long].collect().toSet ==
      Set(102L, 104L))
    // plan: both joins broadcast the BATCH-derived side; the store scan
    // feeds them map-side — no sort-merge join, no exchange between the
    // store scan and its semi probe
    val s = mapSide.queryExecution.sparkPlan.toString
    assert(!s.contains("SortMergeJoin"),
      s"store side got shuffled:\n${s.take(900)}")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi") &&
      s.contains("LeftAnti"), s"expected broadcast semi+anti:\n${s.take(900)}")
    // the same plan on the shared first-seen probe itself, which the
    // streaming domain-quality pair store also calls
    val probe = Curation.firstSeenMapSide(
      batch.select(col("doc_id"), md5(col("text")).as("content_hash")), store)
    assert(probe.select("doc_id").as[Long].collect().toSet == Set(102L, 104L))
    val p = probe.queryExecution.sparkPlan.toString
    assert(!p.contains("SortMergeJoin"),
      s"store side got shuffled:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi") &&
      p.contains("LeftAnti"), s"expected broadcast semi+anti:\n${p.take(900)}")
  }

  test("digest store is bucketed by digest prefix and the per-batch " +
    "probe prunes to touched buckets") {
    val digestDir = Files.createTempDirectory("graft-dprune").toString
    def run(rows: Seq[(Long, String)], batchId: Long)
        (onBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (_, _) => ()): Unit =
      // bucketMinStoreBytes = 0 forces the ABOVE-threshold layout the
      // test pins (adaptive default writes flat at this toy store size)
      StreamingPipeline.incrementalDedupBatch(
        rows.toDF("doc_id", "text"), batchId, "doc_id", "text",
        digestDir, bucketMinStoreBytes = 0L)(onBatch)
    // enough rows that every hex prefix bucket materializes
    run((0L until 300L).map(i => (i, s"seed doc $i")), 0L)()
    val b0 = new java.io.File(digestDir, "b00000")
    val buckets = Option(b0.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("pfx="))
    assert(buckets.length == 16,
      s"expected 16 pfx buckets, got ${buckets.map(_.getName).toSeq}")
    // the probe's pruning shape: a pfx-isin filter on the store read
    // lands in the scan's PartitionFilters and selects only the touched
    // bucket files
    val store = spark.read.parquet(b0.getPath)
    val prunedScan = store.filter(col("pfx").isin("0", "7"))
    val scanStr = prunedScan.queryExecution.sparkPlan.collectLeaves()
      .head.toString
    assert(scanStr.contains("PartitionFilters") && scanStr.contains("pfx"),
      s"pfx filter did not reach partition pruning:\n$scanStr")
    // collect() (not count(), which builds its OWN QueryExecution) so
    // the inspected plan is the one that ran and carries its metrics
    assert(prunedScan.collect().nonEmpty)
    val numFiles = prunedScan.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles").map(_.value).getOrElse(-1L)
    val allFiles = Option(b0.listFiles()).get
      .filter(_.isDirectory).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet")).toLong
    assert(numFiles > 0 && numFiles < allFiles,
      s"no file-level pruning: read $numFiles of $allFiles")
    // end-to-end: a later batch still dedups correctly through the
    // pruned probe (semantics unchanged by the layout)
    var kept = Set.empty[Long]
    run(Seq((1000L, "seed doc 5"), (1001L, "fresh doc")), 1L) { (res, _) =>
      kept = res.select("keep_id").as[Long].collect().toSet
    }
    assert(kept == Set(1001L), s"pruned probe broke dedup: $kept")
  }

  test("adaptive layout transition: a stream crossing the flat→bucketed " +
    "threshold mid-run — with and without compaction across the " +
    "transition — keeps byte-identical dedup decisions") {
    // every batch mixes FRESH texts (ids divisible by 3 — so every batch
    // emits and the store keeps growing) with texts repeating mod 130 —
    // cross-batch dups whose exclusion depends on the WHOLE prior store
    def batchRows(b: Int): Seq[(Long, String)] =
      (0 until 100).map { i =>
        val id = (b * 100 + i).toLong
        (id, if (id % 3 == 0) s"fresh $id" else s"doc ${id % 130}")
      }
    def emissions(bucketMin: Long, compactMin: Int)
        : (Seq[(Long, String, Long, Long)], java.io.File) = {
      val dir = Files.createTempDirectory("graft-transition").toFile
      var out = List.empty[(Long, String, Long, Long)]
      (0 until 6).foreach { b =>
        StreamingPipeline.incrementalDedupBatch(
          batchRows(b).toDF("doc_id", "text"), b.toLong, "doc_id", "text",
          dir.getPath, bucketMinStoreBytes = bucketMin,
          compactMinDirs = compactMin) { (res, bid) =>
          out :::= res.select("content_hash", "keep_id", "batch_dups")
            .collect().map(r =>
              (bid, r.getString(0), r.getLong(1), r.getLong(2))).toList
        }
      }
      (out.sorted, dir)
    }
    // reference: permanently flat, never compacts
    val (ref, _) = emissions(Long.MaxValue, Int.MaxValue)
    assert(ref.nonEmpty && ref.map(_._1).distinct.size == 6)
    // transition mid-run: first batches below the byte threshold write
    // flat, later ones bucketed (threshold above batch 0's own ~3.3 KB
    // write estimate — so the stream STARTS flat — but below the
    // accumulated store size a few batches in)
    val (trans, tDir) = emissions(4000L, Int.MaxValue)
    def isBucketed(d: java.io.File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith("pfx="))
    val tDirs = Option(tDir.listFiles()).get
      .filter(_.getName.startsWith("b")).sortBy(_.getName)
    assert(!isBucketed(tDirs.head) && isBucketed(tDirs.last),
      s"no mid-run transition: ${tDirs.map(d =>
        d.getName -> isBucketed(d)).toSeq}")
    assert(trans == ref, "flat→bucketed transition changed decisions")
    // compaction ACROSS the transition: cadence 3 merges flat dirs, then
    // later merges the mixed flat+bucketed history
    val (comp, cDir) = emissions(4000L, 3)
    val cDirs = Option(cDir.listFiles()).get
      .filter(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
    assert(cDirs.exists(_.getName.startsWith("c")),
      s"compaction never fired: ${cDirs.map(_.getName).toSeq}")
    assert(comp == ref,
      "compaction across the layout transition changed decisions")
  }

  test("semDedup store reads prune files by touched cell") {
    val stateDir = Files.createTempDirectory("graft-prune").toString
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    StreamingPipeline.semDedupBatch(
      Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)))
        .toDF("vec_id", "embedding"),
      0L, centroids, 0.9, stateDir, "vec_id", "embedding") { (_, _) => () }
    val pruned = spark.read.parquet(s"$stateDir/b00000")
      .filter(col("cell") === 1L)
    // inputFiles is pre-pruning; the claim is that the filter reaches
    // the scan's PartitionFilters (directory-level pruning)
    val scan = pruned.queryExecution.sparkPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("PartitionFilters") && s.contains("cell"),
      s"cell filter did not reach partition pruning:\n$s")
    assert(pruned.count() == 1)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{BatchStore, StreamingPipeline}
import graft.streaming.StreamingPipeline.{Session, UserEvent}

/** Structured Streaming semantics: windowed aggregation parity with the
  * batch query, stateful sessionization parity with the batch
  * lag+running-sum formulation, file-stream ingest.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourly window agg matches the batch groupBy on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val events = mem.toDF().toDF("ms", "event_type", "value")
      .withColumn("ts_utc", timestamp_millis(col("ms")))
    val q = StreamingPipeline.hourlyEventCounts(events, "10 minutes")
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    val h = 3600000L
    mem.addData(
      (0L, "click", 1.0), (h / 2, "click", 2.0), // hour 0
      (h + 1, "click", 4.0), (h + 2, "view", 8.0)) // hour 1
    q.processAllAvailable()
    // watermark advances BETWEEN micro-batches: this batch raises it past
    // hours 0-1, the next one flushes their (now-closed) windows
    mem.addData((10 * h, "click", 16.0))
    q.processAllAvailable()
    mem.addData((11 * h, "click", 32.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hourly")
      .select(unix_millis(col("hour")).as("hms"), col("event_type"),
        col("n"), col("total_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    // hour-10 window stays open (not past watermark) — closed windows only
    assert(got == Set((0L, "click", 2L, 3.0), (h, "click", 1L, 4.0),
      (h, "view", 1L, 8.0)))
  }

  test("stateful sessionize emits gap-separated sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamingPipeline.sessionize(mem.toDS(), gapMs = 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // base offset keeps rows strictly above the initial (epoch) watermark
    val b = 36000000L
    mem.addData(
      UserEvent(1, b), UserEvent(1, b + 500), UserEvent(1, b + 900), // A
      UserEvent(1, b + 5000), // session B (gap > 1s)
      UserEvent(2, b + 100)) // user 2 session
    q.processAllAvailable()
    // advance the watermark so event-time timeouts fire for idle users,
    // then run one more batch to collect the timed-out sessions
    mem.addData(UserEvent(3, b + 100000000))
    q.processAllAvailable()
    mem.addData(UserEvent(3, b + 200000000))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions").as[Session].collect().toSet
    assert(got.contains(Session(1, b, b + 900, 3)))
    assert(got.contains(Session(1, b + 5000, b + 5000, 1)))
    assert(got.contains(Session(2, b + 100, b + 100, 1)))
  }

  test("PROPERTY: streaming sessionize == batch gap semantics on random " +
    "event streams, including watermark-dropped tails (q12 ~ q129)") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 1000L
    val wmDelay = 3600000L // sessionize's hard-coded "1 hour"
    // the q12 lag+running-sum semantics, closed-form
    def batchSessions(evs: Seq[UserEvent]): Set[Session] =
      evs.groupBy(_.userId).flatMap { case (u, es) =>
        es.map(_.ms).sorted.foldLeft(List.empty[Session]) {
          case (s :: tail, ms) if ms - s.sessionEnd <= gap =>
            s.copy(sessionEnd = ms, nEvents = s.nEvents + 1) :: tail
          case (acc, ms) => Session(u, ms, ms, 1) :: acc
        }
      }.toSet
    for (seed <- Seq(7, 21, 42); withFlush <- Seq(true, false)) {
      val rnd = new scala.util.Random(seed)
      val base = 86400000L
      // mixed gaps: sub-gap continuations, >gap new sessions, and
      // occasional >>wmDelay jumps so the watermark actually moves and
      // mid-stream event-time timeouts fire
      val events = (1L to 4L).flatMap { u =>
        var t = base + rnd.nextInt(5000)
        (0 until 40).map { _ =>
          t += (rnd.nextInt(4) match {
            case 0 => 600000L + rnd.nextInt(7200000)
            case 1 => gap + 1 + rnd.nextInt(5000)
            case _ => rnd.nextInt(900).toLong + 1
          })
          UserEvent(u, t)
        }
      }.sortBy(e => (e.ms, e.userId))
      // 4 event-time-ordered chunks: arrival order = event-time order, so
      // no late drops — the tails under test are the UNEMITTED kind
      // (sessions the watermark never closed), q129's construction
      val chunks = events.grouped((events.size + 3) / 4).toSeq
      // Effective final watermark = max event time − 1h: Spark appends
      // NO-DATA micro-batches whenever the watermark advances
      // (SPARK-24156), so event-time timeouts fire against the max-seen
      // watermark even after the last data batch — emission MEMBERSHIP
      // (not timing) depends only on this final value
      val wmMax = events.map(_.ms).max - wmDelay
      val all = batchSessions(events)
      // fixture guard: the timeout contract is STRICT (wm > end+gap);
      // an exact tie would pin engine tie-breaking, not semantics
      assert(!all.exists(s => s.sessionEnd + gap == wmMax),
        s"seed $seed: fixture ties a session timeout to the watermark")
      val mem = MemoryStream[UserEvent]
      val qname = s"sess_prop_${seed}_$withFlush"
      val q = StreamingPipeline.sessionize(mem.toDS(), gapMs = gap)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      if (withFlush) {
        // two far-future batches: the first raises the watermark, the
        // second fires every remaining event-time timeout under it
        val flushMs = events.map(_.ms).max + 10 * wmDelay
        mem.addData(UserEvent(-100L, flushMs)); q.processAllAvailable()
        mem.addData(UserEvent(-100L, flushMs + wmDelay))
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table(qname).as[Session].collect()
        .filter(_.userId > 0).toSet
      if (withFlush)
        assert(got == all,
          s"seed $seed flushed: missing=${all -- got} extra=${got -- all}")
      else {
        // no flush: a session emits iff closed INLINE (its user has a
        // later >gap event — arrival is guaranteed, order is event-time)
        // or by TIMEOUT (the final watermark passed end+gap); the rest
        // are the watermark-dropped tails, never emitted
        val expect = all.filter(s =>
          events.exists(e =>
            e.userId == s.userId && e.ms - s.sessionEnd > gap) ||
            wmMax > s.sessionEnd + gap)
        assert(got == expect,
          s"seed $seed tails: missing=${expect -- got} " +
            s"extra=${got -- expect} tails=${all -- expect}")
        assert((all -- expect).nonEmpty,
          s"seed $seed: degenerate fixture — no tail sessions")
      }
    }
  }

  test("streaming exact dedup drops repeated content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("doc_id", "ms", "text")
      .withColumn("ts_utc", timestamp_millis(col("ms")))
    val q = StreamingPipeline.streamingExactDedup(docs, "text")
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    val b = 36000000L
    mem.addData(
      (1L, b, "hello world"), (2L, b + 1, "hello world"), // dup of 1
      (3L, b + 2, "something else"))
    q.processAllAvailable()
    mem.addData((4L, b + 3, "hello world")) // still within watermark → dup
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("streaming curation: quality + repetition + PII projections give " +
    "batch-identical rows per micro-batch") {
    // every curation signal is a pure projection, so it streams with NO
    // state — this pins that the same Columns run in both modes
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again"),
      (2L, "mail me at alice@example.com or call 555-123-4567 now " +
        "please do it with the others"),
      (3L, "spam spam spam spam spam spam spam spam spam spam"),
      (4L, "x"))
    def curate(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        TextAnalysis.qualityOk(col("text"),
          TextAnalysis.EnglishStopwords).as("quality_ok"),
        graft.operators.Curation.topElementCount(
          TextAnalysis.tokens(col("text"))).as("top_tok"),
        TextAnalysis.redactPii(col("text")).as("clean_text"))
    val mem = MemoryStream[(Long, String)]
    val q = curate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curation")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curation")
      .as[(Long, Boolean, Long, String)].collect().toSet
    val batch = curate(rows.toDF("doc_id", "text"))
      .as[(Long, Boolean, Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.find(_._1 == 2L).get._4
      .contains("<EMAIL>"))
    assert(streamed.find(_._1 == 3L).get._3 == 10L)
  }

  test("streaming incremental dedup matches the batch q82 semantics " +
    "batch after batch") {
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val digestDir = Files.createTempDirectory("graft-digests").toString
    val chk = Files.createTempDirectory("graft-dedup-chk").toString
    var perBatch = Map.empty[Long, Set[(String, Long, Long)]]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", digestDir) {
      (kept, id) =>
        perBatch += id -> kept
          .as[(String, Long, Long)].collect().toSet
    }.option("checkpointLocation", chk).start()
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // 3 dups 1
    val b2 = Seq((4L, "beta"), (5L, "gamma"), (6L, "gamma")) // 4 seen in b1
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // parity: batch 0 vs q82 with an empty snapshot; batch 1 vs q82 with
    // snapshot = batch-0 corpus
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val want0 = Curation.incrementalDedup(
      b1.toDF("doc_id", "text"), empty, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    val want1 = Curation.incrementalDedup(
      b2.toDF("doc_id", "text"), b1.toDF("doc_id", "text"),
      "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(perBatch(0L) == want0 && perBatch(1L) == want1)
    assert(perBatch(0L).map(_._2) == Set(1L, 2L)) // min ids, dup folded
    assert(perBatch(1L).map(_._2) == Set(5L)) // beta already in the store
    // the store holds digests only (one narrow string column)
    val store = StreamingPipeline.digestStore(spark, digestDir)
    assert(store.columns.toSeq == Seq("content_hash"))
    assert(store.distinct().count() == 3) // alpha, beta, gamma
  }

  test("checkpoint recovery: a dedup stream stopped mid-corpus resumes " +
    "from the same checkpoint, continues batch numbering, never " +
    "reprocesses a chunk, and the combined emissions equal an " +
    "uninterrupted run") {
    val docs = (0L until 40L).map(i => (i, s"text${i % 10}"))
    // chunk b holds ids with id % 4 == b; text i%10 repeats across
    // chunks, so the dup mass SPANS the restart boundary (t0 first seen
    // in chunk 0 must still be excluded in chunk 2, post-restart)
    def writeChunks(inDir: java.io.File, bs: Range): Unit = bs.foreach {
      b =>
        val tmp = Files.createTempDirectory("graft-resume-tmp").toFile
        docs.filter(_._1 % 4 == b).toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"c$b.parquet")
        Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 60000L)
    }
    def runStream(inDir: java.io.File, digestDir: String, chk: String,
                  sink: scala.collection.mutable.Map[Long,
                    Set[(String, Long, Long)]]): Unit = {
      val stream = spark.readStream
        .schema(docs.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.getPath)
      val q = StreamingPipeline.incrementalDedupStream(
          stream, "doc_id", "text", digestDir) { (kept, id) =>
          sink += id -> kept.as[(String, Long, Long)].collect().toSet
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // interrupted run: chunks 0-1, stop, add 2-3, NEW query, same state
    val work = Files.createTempDirectory("graft-resume").toFile
    val inDir = new java.io.File(work, "in"); inDir.mkdirs()
    val digests = new java.io.File(work, "digests").getPath
    val chk = new java.io.File(work, "ckpt").getPath
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(String, Long, Long)]]
    writeChunks(inDir, 0 to 1)
    runStream(inDir, digests, chk, got)
    assert(got.keySet == Set(0L, 1L), s"pre-restart batches: ${got.keySet}")
    writeChunks(inDir, 2 to 3)
    runStream(inDir, digests, chk, got)
    // batch ids CONTINUE from the checkpoint — chunks 0-1 not reprocessed
    assert(got.keySet == Set(0L, 1L, 2L, 3L),
      s"post-restart batches: ${got.keySet}")
    // uninterrupted twin on fresh state
    val work2 = Files.createTempDirectory("graft-resume2").toFile
    val inDir2 = new java.io.File(work2, "in"); inDir2.mkdirs()
    val got2 = scala.collection.mutable.Map
      .empty[Long, Set[(String, Long, Long)]]
    writeChunks(inDir2, 0 to 3)
    runStream(inDir2, new java.io.File(work2, "digests").getPath,
      new java.io.File(work2, "ckpt").getPath, got2)
    assert(got.toMap == got2.toMap,
      "restarted emissions diverge from the uninterrupted run")
    // cross-restart dedup really happened: chunk 2's batch re-offers
    // every text chunk 0 emitted, so it must emit nothing
    assert(got(2L).isEmpty && got(3L).isEmpty,
      s"store leaked across the restart: ${got(2L)} ${got(3L)}")
  }

  test("checkpoint recovery: the semDedup cell-partitioned store " +
    "survives a stop/restart — post-restart batches still dedup " +
    "against pre-restart vectors, emissions match an uninterrupted run") {
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    // vec i: direction by i % 2 (its cell), near-identical within a
    // cell, so every vector duplicates the min same-cell id; chunks by
    // i % 4 → the canonical (ids 0 and 1) lands in chunks 0-1, and the
    // post-restart chunks 2-3 must still point their dup_of at it
    val vecs = (0L until 16L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.001f * i) else
        Seq(0.001f * i, 1.0f)
      (i, base)
    }
    def writeChunks(inDir: java.io.File, bs: Range): Unit = bs.foreach {
      b =>
        val tmp = Files.createTempDirectory("graft-semres-tmp").toFile
        vecs.filter(_._1 % 4 == b).toDF("vec_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"c$b.parquet")
        Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 60000L)
    }
    def runStream(inDir: java.io.File, stateDir: String, chk: String,
                  sink: scala.collection.mutable.Map[Long,
                    Set[(Long, Long, Long, Boolean)]]): Unit = {
      val stream = spark.readStream
        .schema(vecs.toDF("vec_id", "embedding").schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.getPath)
      val q = StreamingPipeline.semDedupStream(
          stream, centroids, threshold = 0.9, stateDir) { (res, id) =>
          sink += id -> res
            .select(col("vec_id"), col("cell"),
              coalesce(col("dup_of"), lit(-1L)).as("dup_of"), col("kept"))
            .as[(Long, Long, Long, Boolean)].collect().toSet
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val work = Files.createTempDirectory("graft-semres").toFile
    val inDir = new java.io.File(work, "in"); inDir.mkdirs()
    val state = new java.io.File(work, "state").getPath
    val chk = new java.io.File(work, "ckpt").getPath
    val got = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Long, Boolean)]]
    writeChunks(inDir, 0 to 1)
    runStream(inDir, state, chk, got)
    writeChunks(inDir, 2 to 3)
    runStream(inDir, state, chk, got)
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    // uninterrupted twin
    val work2 = Files.createTempDirectory("graft-semres2").toFile
    val inDir2 = new java.io.File(work2, "in"); inDir2.mkdirs()
    val got2 = scala.collection.mutable.Map
      .empty[Long, Set[(Long, Long, Long, Boolean)]]
    writeChunks(inDir2, 0 to 3)
    runStream(inDir2, new java.io.File(work2, "state").getPath,
      new java.io.File(work2, "ckpt").getPath, got2)
    assert(got.toMap == got2.toMap,
      "restarted semDedup emissions diverge from the uninterrupted run")
    // the cross-restart store really answered: every post-restart vector
    // is a dup of its cell's pre-restart canonical (0 or 1)
    for (b <- Seq(2L, 3L); (id, _, dupOf, kept) <- got(b)) {
      assert(!kept && dupOf == id % 2,
        s"batch $b vec $id: dup_of=$dupOf kept=$kept — store lost " +
          "pre-restart state")
    }
  }

  test("streaming decontamination: batches score against the PRIOR " +
    "benchmark snapshot (batch-surface parity), benchmark rows evolve " +
    "the store, replay is idempotent") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val snapDir = Files.createTempDirectory("graft-decontam").toString
    val chk = Files.createTempDirectory("graft-decontam-chk").toString
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    var perBatch = Map.empty[Long, Seq[(Long, Long, Long, Long, Double)]]
    val mem = MemoryStream[(Long, Seq[Float], Boolean)]
    val q = StreamingPipeline.decontamStream(
      mem.toDF().toDF("vec_id", "embedding", "is_bench"), "is_bench",
      cents, threshold = 0.9, snapDir) { (res, id) =>
      perBatch += id -> res
        .select("vec_id", "cell", "contaminated_by", "n_hits", "max_sim")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    }.option("checkpointLocation", chk).start()
    // b0: the benchmark arrives (two vectors) + one train row — the
    // train row scores against an EMPTY prior snapshot: no flags
    val b0 = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f), true),
      (101L, Seq(0.0f, 1.0f, 0.0f), true),
      (1L, Seq(0.99f, 0.01f, 0.0f), false))
    // b1: train rows against b0's snapshot — 2 is a paraphrase of
    // bench 100, 3 is orthogonal crawl
    val b1 = Seq(
      (2L, Seq(0.98f, 0.02f, 0.0f), false),
      (3L, Seq(0.0f, 0.0f, 1.0f), false))
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    assert(perBatch(0L).isEmpty,
      s"nothing to be contaminated by yet: ${perBatch(0L)}")
    // parity with the BATCH frozen-snapshot surface on the same inputs
    val want1 = Similarity.semanticContaminationAgainst(
        b1.map(r => (r._1, r._2)).toDF("vec_id", "embedding"),
        Similarity.benchmarkSnapshot(
          b0.filter(_._3).map(r => (r._1, r._2))
            .toDF("vec_id", "embedding"), cents),
        cents, 0.9)
      .select("vec_id", "cell", "contaminated_by", "n_hits", "max_sim")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(perBatch(1L) == want1 && want1.map(_._1) == Seq(2L),
      s"got ${perBatch(1L)}, want $want1")
    // the maintained snapshot covers every benchmark row seen
    val snap = StreamingPipeline.decontamSnapshot(spark, snapDir).get
      .select("bench_id").as[Long].collect().toSet
    assert(snap == Set(100L, 101L))
    def versionDirs = new java.io.File(snapDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // the train-only batch 1 wrote NOTHING — no per-batch snapshot
    // rewrite on a mostly-train bus
    assert(versionDirs == Seq("v00000"),
      s"train-only batch must not move the store: $versionDirs")
    // crash-replay of batch 1: scores come from v00000 (the latest
    // version strictly below) and the store stays converged
    var replay = Seq.empty[(Long, Long)]
    StreamingPipeline.decontamBatch(
      b1.toDF("vec_id", "embedding", "is_bench"), 1L, "is_bench",
      cents, 0.9, snapDir, "vec_id", "embedding") { (res, _) =>
      replay = res.select("vec_id", "contaminated_by")
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    }
    assert(replay == perBatch(1L).map(r => (r._1, r._3)))
    assert(StreamingPipeline.decontamSnapshot(spark, snapDir).get
      .select("bench_id").as[Long].collect().toSet == Set(100L, 101L))
    // benchmark-carrying batches write a new version and prune to
    // {prior, new}: after batch 2 the store is {v00000, v00002}; after
    // batch 3 the dead v00000 is gone
    StreamingPipeline.decontamBatch(
      Seq((102L, Seq(0.0f, 1.0f, 1.0f), true))
        .toDF("vec_id", "embedding", "is_bench"), 2L, "is_bench",
      cents, 0.9, snapDir, "vec_id", "embedding") { (_, _) => () }
    assert(versionDirs == Seq("v00000", "v00002"), s"got $versionDirs")
    StreamingPipeline.decontamBatch(
      Seq((103L, Seq(1.0f, 1.0f, 0.0f), true))
        .toDF("vec_id", "embedding", "is_bench"), 3L, "is_bench",
      cents, 0.9, snapDir, "vec_id", "embedding") { (_, _) => () }
    assert(versionDirs == Seq("v00002", "v00003"),
      s"retention must keep {prior, new}: $versionDirs")
    assert(StreamingPipeline.decontamSnapshot(spark, snapDir).get
      .select("bench_id").as[Long].collect().toSet ==
      Set(100L, 101L, 102L, 103L),
      "pruning must never lose benchmark rows")
  }

  test("streaming Bloom decontamination: batches probe the PRIOR filter, " +
    "benchmark rows OR-merge the word store, replay is idempotent") {
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft-bloomstream").toString
    val chk = Files.createTempDirectory("graft-bloomstream-chk").toString
    val m = 1 << 14
    var perBatch = Map.empty[Long, Seq[(Long, Int, Int, Boolean)]]
    val mem = MemoryStream[(Long, String, Boolean)]
    val q = StreamingPipeline.bloomDecontamStream(
      mem.toDF().toDF("doc_id", "text", "is_bench"), "is_bench",
      storeDir, n = 4, mBits = m, k = 3, flagThreshold = 0.05) {
      (res, id) =>
        perBatch += id -> res
          .select("id", "n_shingles", "n_bloom_hits", "contaminated")
          .as[(Long, Int, Int, Boolean)].collect().toSeq.sortBy(_._1)
    }.option("checkpointLocation", chk).start()
    val benchText = "the quick brown fox jumps over the lazy dog"
    val bench2Text = "other benchmark sentence with different gram content"
    val b0 = Seq((100L, benchText, true),
      (1L, "the quick brown fox jumps high", false))
    val b1 = Seq(
      (2L, "quick brown fox jumps over the lazy dog today", false),
      (3L, "unrelated words entirely on their own path", false))
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    // batch 0 probes an EMPTY filter: rows emitted, zero hits everywhere
    assert(perBatch(0L).map(_._1) == Seq(1L))
    assert(perBatch(0L).forall(r => r._3 == 0 && !r._4))
    // batch 1 parity with the batch surface on the same inputs
    val want = Curation.bloomContaminationReport(
        b1.map(r => (r._1, r._2)).toDF("doc_id", "text"),
        b0.filter(_._3).map(r => (r._1, r._2)).toDF("doc_id", "text"),
        "doc_id", "text", n = 4, mBits = m, k = 3, flagThreshold = 0.05)
      .select("id", "n_shingles", "n_bloom_hits", "contaminated")
      .as[(Long, Int, Int, Boolean)].collect().toSeq.sortBy(_._1)
    assert(perBatch(1L) == want, s"got ${perBatch(1L)}, want $want")
    assert(perBatch(1L).exists(r => r._1 == 2L && r._3 > 0),
      "doc 2 shares grams with the batch-0 benchmark")
    // the train-only batch 1 wrote nothing
    def versionDirs = new java.io.File(storeDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(versionDirs == Seq("v00000"),
      s"train-only batch must not move the store: $versionDirs")
    // crash-replay of batch 1 re-emits identical scores, store unchanged
    var replay = Seq.empty[(Long, Int, Int, Boolean)]
    StreamingPipeline.bloomDecontamBatch(
      b1.toDF("doc_id", "text", "is_bench"), 1L, "is_bench", storeDir,
      4, m, 3, 0.05, "doc_id", "text") { (res, _) =>
      replay = res
        .select("id", "n_shingles", "n_bloom_hits", "contaminated")
        .as[(Long, Int, Int, Boolean)].collect().toSeq.sortBy(_._1)
    }
    assert(replay == perBatch(1L))
    assert(versionDirs == Seq("v00000"))
    // a benchmark-carrying batch OR-merges and prunes to {prior, new},
    // and the merged words equal a from-scratch build over BOTH
    // benchmark batches, bit-for-bit
    StreamingPipeline.bloomDecontamBatch(
      Seq((101L, bench2Text, true)).toDF("doc_id", "text", "is_bench"),
      2L, "is_bench", storeDir, 4, m, 3, 0.05, "doc_id", "text") {
      (_, _) => ()
    }
    assert(versionDirs == Seq("v00000", "v00002"), s"got $versionDirs")
    val mergedWords = spark.read.parquet(s"$storeDir/v00002")
      .select("w", "bits").as[(Int, Long)].collect().toSeq
    val wantBits = Curation.bloomContaminationBits(
      Seq((100L, benchText), (101L, bench2Text)).toDF("doc_id", "text"),
      "text", n = 4, mBits = m, k = 3)
    assert(Curation.bloomBitsFromWordRows(mergedWords, m).toSeq ==
      wantBits.toSeq, "incremental OR-merge must equal the batch build")
  }

  test("streaming HLL stats: every batch's running estimate equals the " +
    "single-pass sketch over everything seen; replay is idempotent") {
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft-hllstream").toString
    val chk = Files.createTempDirectory("graft-hllstream-chk").toString
    var perBatch = Map.empty[Long, Seq[(String, Long, Long, Double)]]
    val mem = MemoryStream[(String, String)]
    val q = StreamingPipeline.hllStatsStream(
      mem.toDF().toDF("grp", "v"), "grp", "v", p = 8, storeDir) {
      (res, id) =>
        perBatch += id -> res
          .select("grp", "buckets_hit", "s_int", "hll_estimate")
          .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    }.option("checkpointLocation", chk).start()
    val b0 = (0 until 300).map(i => ("a", s"x$i"))
    val b1 = (0 until 200).map(i => ("a", s"y$i")) ++
      (0 until 50).map(i => ("b", s"z$i"))
    mem.addData(b0: _*)
    q.processAllAvailable()
    mem.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    // mergeability: batch c's emission == deterministicHll over the
    // union of all batches <= c (the single-pass table)
    def onePass(rows: Seq[(String, String)]) = Sketches.deterministicHll(
        rows.toDF("grp", "v"), Seq("grp"), "v", p = 8)
      .select("grp", "buckets_hit", "s_int", "hll_estimate")
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(perBatch(0L) == onePass(b0))
    assert(perBatch(1L) == onePass(b0 ++ b1))
    assert(perBatch(1L).map(_._1) == Seq("a", "b"),
      "group b appears once its first rows arrive")
    // every batch writes; retention keeps {prior, new}
    def versionDirs = new java.io.File(storeDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(versionDirs == Seq("v00000", "v00001"), s"got $versionDirs")
    // crash-replay of batch 1: prior lookup is strictly below, so the
    // re-merge reproduces the same store and the same emission
    var replay = Seq.empty[(String, Long, Long, Double)]
    StreamingPipeline.hllStatsBatch(
      b1.toDF("grp", "v"), 1L, "grp", "v", 8, storeDir) { (res, _) =>
      replay = res.select("grp", "buckets_hit", "s_int", "hll_estimate")
        .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    }
    assert(replay == perBatch(1L))
    assert(versionDirs == Seq("v00000", "v00001"))
  }

  test("streaming semDedup matches the batch q97 semantics over " +
    "monotone-id batches") {
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft-semdedup").toString
    val chk = Files.createTempDirectory("graft-semdedup-chk").toString
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    var perBatch = Map.empty[Long, Seq[(Long, Long, Option[Long], Boolean)]]
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingPipeline.semDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), centroids,
      threshold = 0.9, stateDir) { (res, id) =>
      perBatch += id -> res.select("vec_id", "cell", "dup_of", "kept")
        .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    }.option("checkpointLocation", chk).start()
    val b1 = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),   // cell 1 canonical
      (1L, Seq(0.99f, 0.01f, 0.0f)), // in-batch dup of 0
      (2L, Seq(0.0f, 1.0f, 0.0f)))   // cell 2 canonical
    val b2 = Seq(
      (3L, Seq(0.98f, 0.02f, 0.0f)), // CROSS-BATCH dup of 0 (via store)
      (4L, Seq(0.0f, 0.0f, 1.0f)),   // cell 2, orthogonal to 2 — kept
      (5L, Seq(0.0f, 1.0f, 0.05f)))  // cross-batch dup of 2
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // union of increments == batch semDedup over the whole corpus
    val all = (b1 ++ b2).toDF("vec_id", "embedding")
    val want = Similarity.semDedup(all, centroids, threshold = 0.9)
      .select("vec_id", "cell", "dup_of", "kept")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
      .sortBy(_._1)
    val got = (perBatch(0L) ++ perBatch(1L)).sortBy(_._1)
    assert(got == want)
    // the cross-batch relations specifically
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(3L)._3.contains(0L) && !byId(3L)._4)
    assert(byId(5L)._3.contains(2L) && !byId(5L)._4)
    assert(byId(4L)._4)
    // store: one row per streamed vector, cell-partitioned
    val store = StreamingPipeline.semDedupStore(spark, stateDir).get
    assert(store.count() == 6)
    assert(store.columns.contains("cell"))
  }

  test("semDedup batch is replay-idempotent (at-least-once foreachBatch)") {
    import graft.operators.Similarity
    val stateDir = Files.createTempDirectory("graft-semdedup-rp").toString
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    var emitted = List.empty[(Long, Seq[(Long, Long, Option[Long], Boolean)])]
    def run(rows: Seq[(Long, Seq[Float])], batchId: Long): Unit =
      StreamingPipeline.semDedupBatch(
        rows.toDF("vec_id", "embedding"), batchId, centroids,
        threshold = 0.9, stateDir, "vec_id", "embedding") { (res, id) =>
        emitted ::= id -> res.select("vec_id", "cell", "dup_of", "kept")
          .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
          .sortBy(_._1)
      }
    val b0 = Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)))
    val b1 = Seq((2L, Seq(0.99f, 0.01f, 0.0f)))
    run(b0, 0L)
    run(b1, 1L)
    val firstB1 = emitted.head._2
    // crash-replay of batch 1: b1's assignments are already on disk; the
    // replay must score against batch 0 ONLY (not its own half-committed
    // state) and re-emit the same result without growing the store
    run(b1, 1L)
    assert(emitted.head._2 == firstB1)
    assert(firstB1 == Seq((2L, 1L, Some(0L), false)))
    val store = StreamingPipeline.semDedupStore(spark, stateDir).get
    assert(store.count() == 3)
  }

  test("incremental dedup batch is replay-idempotent (at-least-once " +
    "foreachBatch)") {
    implicit val sqlCtx = spark.sqlContext
    val digestDir = Files.createTempDirectory("graft-digests-rp").toString
    var emitted = List.empty[(Long, Set[(String, Long, Long)])]
    def run(rows: Seq[(Long, String)], batchId: Long): Unit =
      StreamingPipeline.incrementalDedupBatch(
        rows.toDF("doc_id", "text"), batchId, "doc_id", "text", digestDir) {
        (kept, id) =>
          emitted ::= id -> kept.as[(String, Long, Long)].collect().toSet
      }
    val b0 = Seq((1L, "alpha"), (2L, "beta"))
    val b1 = Seq((3L, "beta"), (4L, "gamma"))
    run(b0, 0L)
    run(b1, 1L)
    val firstB1 = emitted.head._2
    // crash-replay of batch 1: digests for b1 are already on disk, but the
    // replay must re-emit the SAME survivors (not zero) and not duplicate
    // the store
    run(b1, 1L)
    assert(emitted.head._2 == firstB1)
    assert(firstB1.map(_._2) == Set(4L)) // beta seen in b0; gamma survives
    val store = StreamingPipeline.digestStore(spark, digestDir)
    assert(store.count() == 3) // alpha beta gamma — no replay double-append
  }

  test("mixture plan batch is replay-idempotent (at-least-once " +
    "foreachBatch)") {
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft-mix-rp").toString
    var plans = List.empty[(Long, Set[(String, Long, Long, Double, Double,
      Double, Long)])]
    def run(rows: Seq[(Long, String, String)], batchId: Long): Unit =
      StreamingPipeline.mixturePlanBatch(
        rows.toDF("doc_id", "source", "text"), batchId, "source",
        TextAnalysis.tokenCount(col("text")), stateDir) { (plan, id) =>
        plans ::= id -> plan
          .as[(String, Long, Long, Double, Double, Double, Long)]
          .collect().toSet
      }
    val b0 = Seq((1L, "web", "a b c d"), (2L, "book", "e f"))
    val b1 = Seq((3L, "web", "g h"), (4L, "code", "i j k"))
    run(b0, 0L)
    run(b1, 1L)
    val firstB1 = plans.head._2
    // crash-replay of batch 1: v00001 already exists; merging against it
    // (the old latest-version read) would double-count b1's docs forever
    run(b1, 1L)
    assert(plans.head._2 == firstB1)
    val webDocs = firstB1.find(_._1 == "web").get._2
    assert(webDocs == 2L) // 1 from b0 + 1 from b1 — not 3 (double-counted)
  }

  test("streaming contamination matches the batch q79 report per batch") {
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val chk = Files.createTempDirectory("graft-contam-chk").toString
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox jumps over a different dog"),
      (2L, "totally unrelated words in this one here now"),
      (3L, "the quick brown fox jumps over the lazy dog exactly"))
    var streamed = Set.empty[(Long, Long, Boolean)]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.contaminationStream(
      mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text",
      n = 4, flagThreshold = 0.5) { (report, _) =>
      streamed ++= report.select("id", "n_overlap", "contaminated")
        .as[(Long, Long, Boolean)].collect()
    }.option("checkpointLocation", chk).start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val batch = Curation.contaminationReport(
      rows.toDF("doc_id", "text"), bench, "doc_id", "text", 4, 0.5)
      .select("id", "n_overlap", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed == batch)
    assert(streamed.exists(r => r._1 == 3L && r._3)) // near-copy flagged
  }

  test("streaming mixture maintenance replays the batch plan over " +
    "everything seen so far") {
    import graft.functions.TextAnalysis
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft-mix-state").toString
    val chk = Files.createTempDirectory("graft-mix-chk").toString
    var plans =
      Map.empty[Long, Set[(String, Long, Long, Double, Double, Double, Long)]]
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingPipeline.mixturePlanStream(
      mem.toDF().toDF("doc_id", "source", "text"), "source",
      TextAnalysis.tokenCount(col("text")), stateDir) { (plan, id) =>
      plans += id -> plan
        .as[(String, Long, Long, Double, Double, Double, Long)]
        .collect().toSet
    }.option("checkpointLocation", chk).start()
    val b1 = Seq((1L, "web", "a b c d"), (2L, "web", "e f"),
      (3L, "book", "g h i j k l m n"))
    val b2 = Seq((4L, "book", "o p"), (5L, "code", "q r s t u v"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def want(rows: Seq[(Long, String, String)]) =
      Curation.mixturePlan(rows.toDF("doc_id", "source", "text"), "source",
        TextAnalysis.tokenCount(col("text")))
        .as[(String, Long, Long, Double, Double, Double, Long)]
        .collect().toSet
    assert(plans(0L) == want(b1))
    assert(plans(1L) == want(b1 ++ b2)) // running inventory, exact longs
  }

  test("state-store compaction merges committed digest subdirs and the " +
    "stream keeps dedup semantics") {
    val digestDir = Files.createTempDirectory("graft-digests-cp").toString
    def run(rows: Seq[(Long, String)], batchId: Long): Unit =
      StreamingPipeline.incrementalDedupBatch(
        rows.toDF("doc_id", "text"), batchId, "doc_id", "text",
        digestDir) { (_, _) => () }
    run(Seq((1L, "alpha"), (2L, "beta")), 0L)
    run(Seq((3L, "gamma")), 1L)
    run(Seq((4L, "delta")), 2L)
    val before = StreamingPipeline.digestStore(spark, digestDir)
      .as[String].collect().sorted.toSeq
    // compact everything committed before batch 2 (ids 0 and 1)
    val removed = new BatchStore(spark, digestDir).compact(beforeId = 2L)
    assert(removed == 1)
    val dirNames = new java.io.File(digestDir).listFiles()
      .map(_.getName)
      .filter(n => n.startsWith("b") || n.startsWith("c")).sorted.toSeq
    // merge lands in the compacted c-slot (crash-safe publish); the
    // uncompacted batch-2 dir survives
    assert(dirNames == Seq("b00002", "c00001"))
    val after = StreamingPipeline.digestStore(spark, digestDir)
      .as[String].collect().sorted.toSeq
    assert(after == before)
    // the NEXT batch still dedups against the compacted history
    var kept = Set.empty[Long]
    StreamingPipeline.incrementalDedupBatch(
      Seq((5L, "alpha"), (6L, "epsilon")).toDF("doc_id", "text"), 3L,
      "doc_id", "text", digestDir) { (res, _) =>
      kept = res.select("keep_id").as[Long].collect().toSet
    }
    assert(kept == Set(6L)) // alpha was in compacted batch 0
  }

  test("digest store auto-compacts on cadence: dir count stays bounded " +
    "over a long stream and semantics are unchanged") {
    val digestDir = Files.createTempDirectory("graft-digests-ac").toString
    val minDirs = 6
    var dirCounts = List.empty[Int]
    def dirs() = Option(new java.io.File(digestDir).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
    // 20 batches; every doc also re-sent in the NEXT batch, so each
    // batch's survivors prove the store (compacted or not) still
    // excludes all history
    var emitted = Map.empty[Long, Set[Long]]
    (0 until 20).foreach { b =>
      val rows = Seq((b.toLong * 2, s"doc $b"), (b.toLong * 2 + 1,
        s"doc ${b - 1}")) // second row duplicates the previous batch
      StreamingPipeline.incrementalDedupBatch(
        rows.toDF("doc_id", "text"), b.toLong, "doc_id", "text",
        digestDir, compactMinDirs = minDirs) { (res, id) =>
        emitted += id -> res.select("keep_id").as[Long].collect().toSet
      }
      dirCounts ::= dirs()
    }
    // bounded: compaction fires whenever the count reaches the cadence,
    // so it never exceeds minDirs + 1 (history-merged dir + recents)
    assert(dirCounts.max <= minDirs + 1,
      s"dir count grew unbounded: ${dirCounts.reverse}")
    assert(dirCounts.last <= minDirs + 1)
    // semantics: batch 0 emits both rows ("doc -1" is novel); every
    // later batch emits ONLY its novel doc — the re-sent duplicate is
    // excluded by the (possibly compacted) store
    assert(emitted(0L) == Set(0L, 1L))
    (1 until 20).foreach { b =>
      assert(emitted(b.toLong) == Set(b.toLong * 2),
        s"batch $b emitted ${emitted(b.toLong)}")
    }
    // store contents survived every compaction: 21 distinct texts
    assert(StreamingPipeline.digestStore(spark, digestDir).count() == 21L)
  }

  test("semDedup store auto-compacts on cadence: dir count stays " +
    "bounded over a long stream and dedup decisions are unchanged") {
    val stateDir = Files.createTempDirectory("graft-semdedup-ac").toString
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val minDirs = 5
    def dirs() = Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.startsWith("b") || f.getName.startsWith("c"))
    var dirCounts = List.empty[Int]
    var emitted = Map.empty[Long, Set[(Long, Boolean)]]
    // 15 batches, one vector each, all in cell 0 and near-identical:
    // batch 0's vector is the eternal canonical; every later batch's
    // vector must be flagged dup against the (possibly compacted) store
    (0 until 15).foreach { b =>
      val df = Seq((b.toLong, Seq(1.0f, 0.0001f * b)))
        .toDF("vec_id", "embedding")
      StreamingPipeline.semDedupBatch(df, b.toLong, centroids,
        threshold = 0.9, stateDir, "vec_id", "embedding",
        compactMinDirs = minDirs) { (res, id) =>
        emitted += id -> res.select(col("vec_id"), col("kept"))
          .as[(Long, Boolean)].collect().toSet
      }
      dirCounts ::= dirs()
    }
    assert(dirCounts.max <= minDirs + 1,
      s"dir count grew unbounded: ${dirCounts.reverse}")
    assert(emitted(0L) == Set((0L, true)))
    (1 until 15).foreach { b =>
      assert(emitted(b.toLong) == Set((b.toLong, false)),
        s"batch $b: ${emitted(b.toLong)} — compaction lost store state")
    }
    // compacted store kept its cell layout (partition pruning intact)
    val live = StreamingPipeline.semDedupStore(spark, stateDir)
    assert(live.map(_.count()) == Some(15L))
    val b0 = batchDirsUnder(stateDir).head
    assert(Option(b0.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("cell=")),
      "compacted dir lost the cell=... partition layout")
  }

  private def batchDirsUnder(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("b") || f.getName.startsWith("c")))
      .sortBy(_.getName)

  test("state-store compaction preserves the semDedup store's cell " +
    "partitioning") {
    val stateDir = Files.createTempDirectory("graft-semdedup-cp").toString
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 1.0))
    def run(rows: Seq[(Long, Seq[Float])], batchId: Long): Unit =
      StreamingPipeline.semDedupBatch(
        rows.toDF("vec_id", "embedding"), batchId, centroids,
        threshold = 0.9, stateDir, "vec_id", "embedding") { (_, _) => () }
    run(Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f))), 0L)
    run(Seq((2L, Seq(0.0f, 0.0f, 1.0f))), 1L)
    run(Seq((3L, Seq(0.5f, 0.5f, 0.0f))), 2L)
    val before = StreamingPipeline.semDedupStore(spark, stateDir).get
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(new BatchStore(spark, stateDir).compact(beforeId = 2L,
      partitionCols = Seq("cell")) == 1)
    // partition layout survives: the compacted dir has cell=N subdirs
    val compacted = new java.io.File(stateDir, "c00001")
    assert(compacted.listFiles().exists(_.getName.startsWith("cell=")),
      "compaction lost the cell partitioning")
    val after = StreamingPipeline.semDedupStore(spark, stateDir).get
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(after == before)
    // a new batch near vector 0 still finds its cross-batch dup in the
    // compacted history
    var got = Seq.empty[(Long, Option[Long])]
    StreamingPipeline.semDedupBatch(
      Seq((9L, Seq(0.99f, 0.01f, 0.0f))).toDF("vec_id", "embedding"), 3L,
      centroids, threshold = 0.9, stateDir, "vec_id", "embedding") {
      (res, _) =>
        got = res.select("vec_id", "dup_of")
          .as[(Long, Option[Long])].collect().toSeq
    }
    assert(got == Seq((9L, Some(0L))))
  }

  test("streaming CE scores each batch against the LM of everything " +
    "before it and maintains the exact merged snapshot") {
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val lmDir = Files.createTempDirectory("graft-lm").toString
    val chk = Files.createTempDirectory("graft-lm-chk").toString
    var perBatch =
      Map.empty[Long, Seq[(Long, Int, Long, Long, Long, Double)]]
    val mem = MemoryStream[(Long, String)]
    val q = StreamingPipeline.unigramCeStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", lmDir) {
      (scored, id) =>
        perBatch += id -> scored
          .select("id", "n_tokens", "n_terms", "oov_terms", "oov_tokens",
            "ce")
          .as[(Long, Int, Long, Long, Long, Double)]
          .collect().toSeq.sortBy(_._1)
    }.option("checkpointLocation", chk).start()
    val b1 = Seq((1L, "a a b"), (2L, "b c"))
    val b2 = Seq((3L, "a zz zz"), (4L, "b b"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // batch 0 scored against NO model: every term OOV, ce = 0 (P = k/k)
    assert(perBatch(0L).forall(r => r._6 == 0.0 && r._4 == r._3 &&
      r._5 == r._2.toLong))
    // batch 1 scored against exactly batch 0's LM
    val want1 = Curation.unigramCrossEntropyAgainst(
        b2.toDF("doc_id", "text"),
        Curation.unigramLm(b1.toDF("doc_id", "text"), "text"),
        "doc_id", "text")
      .select("id", "n_tokens", "n_terms", "oov_terms", "oov_tokens", "ce")
      .as[(Long, Int, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(perBatch(1L) == want1)
    // the maintained snapshot equals unigramLm over the full history
    val snap = StreamingPipeline.unigramLmSnapshot(spark, lmDir).get
      .as[(String, Long)].collect().toSet
    val wantLm = Curation.unigramLm((b1 ++ b2).toDF("doc_id", "text"),
      "text").as[(String, Long)].collect().toSet
    assert(snap == wantLm)
  }

  test("unigram CE batch is replay-idempotent (at-least-once " +
    "foreachBatch)") {
    val lmDir = Files.createTempDirectory("graft-lm-rp").toString
    var emitted = List.empty[(Long, Seq[(Long, Double, Long)])]
    def run(rows: Seq[(Long, String)], batchId: Long): Unit =
      StreamingPipeline.unigramCeBatch(
        rows.toDF("doc_id", "text"), batchId, "doc_id", "text", lmDir,
        addK = 1.0) { (scored, id) =>
        emitted ::= id -> scored.select("id", "ce", "oov_tokens")
          .as[(Long, Double, Long)].collect().toSeq.sortBy(_._1)
      }
    val b0 = Seq((1L, "a a b"), (2L, "b c"))
    val b1 = Seq((3L, "a zz zz"))
    run(b0, 0L)
    run(b1, 1L)
    val firstB1 = emitted.head._2
    // crash-replay of batch 1: v00001 is already on disk; the replay
    // must score against v00000 only and converge to the same LM
    run(b1, 1L)
    assert(emitted.head._2 == firstB1)
    val snap = StreamingPipeline.unigramLmSnapshot(spark, lmDir).get
      .as[(String, Long)].collect().toMap
    // a, b, c from b0 plus zz from b1 — counted once despite the replay
    assert(snap == Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "zz" -> 2L))
  }

  test("streaming tempered mixture emits the batch q100 plan over " +
    "everything seen so far") {
    import graft.functions.TextAnalysis
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft-mixt-state").toString
    val chk = Files.createTempDirectory("graft-mixt-chk").toString
    var plans =
      Map.empty[Long, Set[(String, Long, Long, Double, Double, Double, Long)]]
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingPipeline.mixturePlanTemperatureStream(
      mem.toDF().toDF("doc_id", "source", "text"), "source",
      TextAnalysis.tokenCount(col("text")), stateDir, alpha = 0.5) {
      (plan, id) =>
        plans += id -> plan
          .as[(String, Long, Long, Double, Double, Double, Long)]
          .collect().toSet
    }.option("checkpointLocation", chk).start()
    val b1 = Seq((1L, "web", "a b c d"), (2L, "web", "e f"),
      (3L, "book", "g h i j k l m n"))
    val b2 = Seq((4L, "book", "o p"), (5L, "code", "q r s t u v"))
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    def want(rows: Seq[(Long, String, String)]) =
      Curation.mixturePlanTemperature(rows.toDF("doc_id", "source", "text"),
        "source", TextAnalysis.tokenCount(col("text")), alpha = 0.5)
        .as[(String, Long, Long, Double, Double, Double, Long)]
        .collect().toSet
    assert(plans(0L) == want(b1))
    assert(plans(1L) == want(b1 ++ b2))
    // α=0.5 genuinely tempers: the under-represented source's target
    // share exceeds its actual share in the final plan
    val fin = plans(1L)
    val code = fin.find(_._1 == "code").get
    assert(code._5 > code._4)
  }

  test("streaming weighted sampling replays the batch q94 draw over " +
    "everything seen so far") {
    import graft.operators.Curation
    import graft.streaming.StreamingPipeline.{SampleIn, WeightedSampleOut}
    implicit val sqlCtx = spark.sqlContext
    val chk = Files.createTempDirectory("graft-ws-chk").toString
    val mem = MemoryStream[SampleIn]
    val q = StreamingPipeline.weightedSampleStream(mem.toDS(), k = 2)
      .writeStream.format("memory").queryName("wsample")
      .outputMode("update").option("checkpointLocation", chk).start()
    val b1 = Seq(SampleIn("en", 1L, 4.0), SampleIn("en", 2L, 9.0),
      SampleIn("de", 10L, 3.0), SampleIn("en", 3L, 0.0)) // w=0 excluded
    val b2 = Seq(SampleIn("en", 4L, 50.0), SampleIn("de", 11L, 7.0),
      SampleIn("de", 12L, -2.0)) // negative weight excluded
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("wsample").as[WeightedSampleOut].collect()
    // current membership = the max-version emission per stratum
    val latest = emitted.groupBy(_.stratum).values.flatMap { rows =>
      val v = rows.map(_.version).max
      rows.filter(_.version == v)
    }.map(r => (r.stratum, r.doc_id, r.sample_rank, r.sample_key)).toSet
    val batch = Curation.weightedSample(
      (b1 ++ b2).map(r => (r.stratum, r.docId, r.weight))
        .toDF("lang", "doc_id", "w"),
      "lang", "doc_id", col("w"), k = 2)
      .select(col("lang"), col("doc_id"), col("sample_rank"),
        col("sample_key"))
      .as[(String, Long, Int, Double)].collect().toSet
    assert(latest == batch)
    assert(latest.map(_._2).intersect(Set(3L, 12L)).isEmpty)
  }

  test("weighted sampling keeps one entry per doc on re-delivery with a " +
    "different weight") {
    import graft.streaming.StreamingPipeline.{SampleIn, WeightedSampleOut}
    implicit val sqlCtx = spark.sqlContext
    val chk = Files.createTempDirectory("graft-wsdup-chk").toString
    val mem = MemoryStream[SampleIn]
    val q = StreamingPipeline.weightedSampleStream(mem.toDS(), k = 2)
      .writeStream.format("memory").queryName("wsdup")
      .outputMode("update").option("checkpointLocation", chk).start()
    // doc 1 arrives twice with different weights — its two race keys both
    // beat doc 2's (weight 0.01 → huge key), so a tuple-level distinct
    // would fill the whole top-2 with doc 1
    mem.addData(SampleIn("en", 1L, 4.0), SampleIn("en", 2L, 0.01))
    q.processAllAvailable()
    mem.addData(SampleIn("en", 1L, 100.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("wsdup").as[WeightedSampleOut].collect()
    val v = emitted.map(_.version).max
    val latest = emitted.filter(_.version == v)
    assert(latest.map(_.doc_id).sorted.toSeq == Seq(1L, 2L))
    // doc 1 carries its SMALLEST key — the weight-100 draw
    val k1 = latest.find(_.doc_id == 1L).get.sample_key
    val want = BigDecimal(StreamingPipeline.weightedKey(1L, 100.0))
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k1 == want)
  }

  test("streaming quota sampling replays the batch q83 draw over " +
    "everything seen so far") {
    import graft.operators.Curation
    import graft.streaming.StreamingPipeline.{QuotaSampleOut, SampleIn}
    implicit val sqlCtx = spark.sqlContext
    val chk = Files.createTempDirectory("graft-qs-chk").toString
    val mem = MemoryStream[SampleIn]
    val q = StreamingPipeline.quotaSampleStream(mem.toDS(), quota = 2)
      .writeStream.format("memory").queryName("qsample")
      .outputMode("update").option("checkpointLocation", chk).start()
    val rows = (1L to 9L).map(i =>
      SampleIn(if (i % 2 == 0) "even" else "odd", i, 1.0))
    mem.addData(rows.take(5): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(5): _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("qsample").as[QuotaSampleOut].collect()
    val latest = emitted.groupBy(_.stratum).values.flatMap { rs =>
      val v = rs.map(_.version).max
      rs.filter(_.version == v)
    }.map(r => (r.stratum, r.doc_id, r.sample_rank)).toSet
    val batch = Curation.quotaSample(
      rows.map(r => (r.stratum, r.docId)).toDF("stratum", "doc_id"),
      "stratum", "doc_id", quota = 2)
      .select(col("stratum"), col("doc_id"), col("sample_rank"))
      .as[(String, Long, Int)].collect().toSet
    assert(latest == batch)
  }

  test("stream-static enrichment join attaches dim attributes per batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("nation_id", "ms")
    val dim = Seq((0L, "ALGERIA"), (1L, "ARGENTINA"))
      .toDF("nation_id", "n_name")
    val q = StreamingPipeline.enrichWithDim(stream, dim, Seq("nation_id"))
      .select("nation_id", "n_name")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((0L, 1L), (1L, 2L), (7L, 3L)) // 7 has no dim row
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched")
      .as[(Long, Option[String])].collect().toSet
    assert(got == Set((0L, Some("ALGERIA")), (1L, Some("ARGENTINA")),
      (7L, None)))
  }

  test("stream-stream interval join pairs events within the time bound " +
    "and keeps state bounded by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    val l = views.toDF().toDF("user_id", "ms")
      .withColumn("ts_utc", timestamp_millis(col("ms")))
    val r = clicks.toDF().toDF("r_user_id", "r_ms")
      .withColumn("r_ts_utc", timestamp_millis(col("r_ms")))
    // clicks within 10s AFTER a view by the same user
    val q = StreamingPipeline.intervalJoin(l, r, "user_id",
      lowerMs = 0L, upperMs = 10000L, watermark = "1 minute")
      .select("user_id", "ms", "r_ms")
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    views.addData((1L, 10000L), (2L, 10000L))
    clicks.addData((1L, 15000L), // within 10s of view → pair
      (2L, 25000L)) // 15s after → outside bound
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attributed")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10000L, 15000L)))
  }

  test("streaming upsert: later micro-batches overwrite matching keys " +
    "in the snapshot, earlier versions stay readable") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-upsert").toString
    val chk = Files.createTempDirectory("graft-upsert-chk").toString
    val mem = MemoryStream[(Long, String, Int)]
    val q = StreamingPipeline.upsertStream(
      mem.toDF().toDF("k", "v", "version"), Seq("k"), "version", dir)
      .option("checkpointLocation", chk).start()
    mem.addData((1L, "a", 1), (2L, "b", 1))
    q.processAllAvailable()
    mem.addData((2L, "B", 2), (3L, "C", 2))
    q.processAllAvailable()
    q.stop()
    val latest = StreamingPipeline.latestSnapshot(spark, dir).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(latest == Set((1L, "a"), (2L, "B"), (3L, "C")))
    // the v0 snapshot is still intact (readers of the old version are
    // never broken by the new write)
    val v0 = spark.read.parquet(s"$dir/v00000")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(v0 == Set((1L, "a"), (2L, "b")))
  }

  test("checkpoint recovery: the upsert sink's versioned snapshot chain " +
    "survives a stop/restart — batch numbering continues, no version " +
    "dir is recommitted, and every per-batch snapshot equals the " +
    "uninterrupted run's") {
    // rows: (k, v, version); chunk b carries keys 0..5 with version = b+1
    // except key b which STAYS at version 1 — so later chunks both
    // overwrite (higher version) and lose (replayed lower version) across
    // the restart boundary, exercising the merge in both directions.
    def chunkRows(b: Int): Seq[(Long, String, Int)] =
      (0L to 5L).map(k =>
        (k, s"v${if (k == b) 1 else b + 1}-k$k",
          if (k == b) 1 else b + 1))
    def writeChunks(inDir: java.io.File, bs: Range): Unit = bs.foreach {
      b =>
        val tmp = Files.createTempDirectory("graft-upsert-tmp").toFile
        chunkRows(b).toDF("k", "v", "version")
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(inDir, s"c$b.parquet")
        Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + b * 60000L)
    }
    val schema = chunkRows(0).toDF("k", "v", "version").schema
    def runStream(inDir: java.io.File, snapDir: String, chk: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.getPath)
      val q = StreamingPipeline.upsertStream(stream, Seq("k"), "version",
          snapDir)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def chain(snapDir: String): Map[String, Set[(Long, String, Int)]] =
      Option(new java.io.File(snapDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .map(d => d.getName -> spark.read.parquet(d.getPath)
          .select("k", "v", "version").as[(Long, String, Int)]
          .collect().toSet)
        .toMap
    // interrupted run: chunks 0-1, stop ("kill after batch 2 of 4"),
    // add 2-3, NEW query on the same checkpoint + snapshot dir
    val work = Files.createTempDirectory("graft-upsert-rec").toFile
    val inDir = new java.io.File(work, "in"); inDir.mkdirs()
    val snap = new java.io.File(work, "snap").getPath
    val chk = new java.io.File(work, "ckpt").getPath
    writeChunks(inDir, 0 to 1)
    runStream(inDir, snap, chk)
    assert(chain(snap).keySet == Set("v00000", "v00001"),
      s"pre-restart versions: ${chain(snap).keySet}")
    writeChunks(inDir, 2 to 3)
    runStream(inDir, snap, chk)
    val got = chain(snap)
    // batch ids continue — v00000/v00001 not recommitted, 2 new versions
    assert(got.keySet == Set("v00000", "v00001", "v00002", "v00003"),
      s"post-restart versions: ${got.keySet}")
    // uninterrupted twin on fresh state
    val work2 = Files.createTempDirectory("graft-upsert-rec2").toFile
    val inDir2 = new java.io.File(work2, "in"); inDir2.mkdirs()
    val snap2 = new java.io.File(work2, "snap").getPath
    writeChunks(inDir2, 0 to 3)
    runStream(inDir2, snap2, new java.io.File(work2, "ckpt").getPath)
    assert(got == chain(snap2),
      "restarted snapshot chain diverges from the uninterrupted run")
    // version-wins semantics really crossed the restart: key 0 upgraded
    // to chunk 3's version 4, while key 3's version-1 row in chunk 3
    // LOSES to the version 3 written before the restart
    val fin = got("v00003").map(r => r._1 -> r._3).toMap
    assert(fin(0L) == 4 && fin(3L) == 3,
      s"merge-across-restart broke version-wins: $fin")
  }

  test("statement file stream refines micro-batches with the batch pipeline") {
    val in = Files.createTempDirectory("graft-stream-in").toString
    val chk = Files.createTempDirectory("graft-stream-chk").toString
    var refinedRows = List.empty[(String, String)]
    val query = StreamingPipeline.statementFileStream(spark, in) {
      (batch, _) =>
        if (!batch.isEmpty) {
          val refined = graft.etl.Refine.refine(batch, Nil, Nil, Nil,
            graft.etl.EtlConfigs.TxnTypeKeywords(
              Seq("繳款"), Seq("回饋"), Seq("年費")))
          refinedRows = refinedRows ++ refined
            .select(graft.etl.Schema.Merchant, graft.etl.Schema.TxnType)
            .collect().map(r => (r.getString(0), r.getString(1)))
        }
    }.option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    val header = graft.etl.Schema.extractOrder.mkString(",")
    Files.write(java.nio.file.Paths.get(s"$in/drop1.csv"),
      (header + "\n" +
        "2024-01-05,2024-01-06,超商,TW,,,,,,150,TWD,,,,1234,esun_bank\n" +
        "2024-01-06,2024-01-07,信用卡繳款,TW,,,,,,-500,TWD,,,,,esun_bank\n")
        .getBytes("UTF-8"))
    query.processAllAvailable()
    query.stop()
    assert(refinedRows.toSet == Set(("超商", "交易"), ("信用卡繳款", "繳款")))
  }

  test("minHashDedupStream: cross-batch and within-batch near-dups get " +
    "first-match dup_of; short docs kept; batch replay is idempotent") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different words entirely unrelated content here now"
    val c = "a third unique document about streams stores and micro batches"
    val batches = Seq(
      Seq((1L, a), (2L, b), (9L, "x y")), // 9: < 3 tokens → no shingles
      Seq((3L, a), (4L, b), (5L, c), (6L, c)))
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_mhs").toString
    val emissions = scala.collection.mutable.Map.empty[Long, Map[Long, (Long, Boolean)]]
    def run(i: Int): Unit =
      StreamingPipeline.minHashDedupBatch(
          batches(i).toDF("doc_id", "text"), i.toLong, "doc_id", "text",
          stateDir, n = 3, threshold = 0.4, numHashes = 64, bands = 32) {
        (em, id) =>
          emissions(id) = em.collect()
            .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
            .toMap
      }
    run(0); run(1)
    assert(emissions(0L) == Map(
      1L -> (-1L, true), 2L -> (-1L, true), 9L -> (-1L, true)),
      s"batch 0 wrong: ${emissions(0L)}")
    // 3 dups 1 and 4 dups 2 (cross-batch store probe); 5 is new;
    // 6 dups 5 WITHIN the batch (smaller id wins)
    assert(emissions(1L) == Map(
      3L -> (1L, false), 4L -> (2L, false),
      5L -> (-1L, true), 6L -> (5L, false)),
      s"batch 1 wrong: ${emissions(1L)}")
    // replay (foreachBatch redelivery after checkpoint recovery): the
    // batchId-keyed store subdirs overwrite, emission identical
    val before = emissions(1L)
    run(1)
    assert(emissions(1L) == before, "batch replay changed the emission")
  }

  test("domainQualityStream: per-batch emissions equal the batch rollup " +
    "over the streamed prefix; batch replay is idempotent") {
    import spark.implicits._
    import graft.operators.WebCuration
    // two domains, duplicate canonical URLs across batches, an IDN twin,
    // and one unresolvable URL (dropped — default rollup semantics)
    val rows = Seq(
      (1L, "https://a.example.com/x", true, 10L),
      (2L, "https://A.example.com:443/x", false, 20L), // dup of 1 (case)
      (3L, "https://b.example.org/y", true, 30L),
      (4L, "https://com/zz", true, 5L), // unresolvable → dropped
      (5L, "https://a.example.com/x", true, 40L), // dup of 1, batch 1
      (6L, "https://xn--bcher-kva.example.org/z", false, 50L),
      (7L, "https://bücher.example.org/z", true, 60L)) // IDN twin of 6
    val batches = Seq(rows.take(4), rows.drop(4))
    def df(b: Seq[(Long, String, Boolean, Long)]) =
      b.toDF("doc_id", "url", "keep", "n_words")
    val stateDir = Files.createTempDirectory("graft_dqs").toString
    val emissions = scala.collection.mutable.Map.empty[Long, Seq[String]]
    def run(b: Int): Unit =
      StreamingPipeline.domainQualityBatch(df(batches(b)), b.toLong,
          "url", "doc_id", "keep", "n_words", stateDir,
          WebCuration.defaultPsl) { (rollup, id) =>
        emissions(id) = rollup.orderBy("domain").collect()
          .map(_.mkString("|")).toSeq
      }
    run(0); run(1)
    // parity: emission after batch b == batch operator over the prefix
    (0 to 1).foreach { b =>
      val prefix = df(batches.take(b + 1).flatten)
      val expect = WebCuration.domainQualityRollup(prefix, "url",
          "doc_id", "keep", "n_words")
        .select(col("domain"), col("n_docs"), col("parseable"),
          col("n_canonical"), col("keep_rate"), col("avg_words"),
          col("dup_rate"), col("block_score"))
        .orderBy("domain").collect().map(_.mkString("|")).toSeq
      assert(emissions(b.toLong) == expect,
        s"batch $b emission != batch rollup:\n${emissions(b.toLong)}\n$expect")
    }
    // the IDN twin pair (6, 7) must have merged to ONE canonical URL
    val last = emissions(1L)
    assert(last.exists(r => r.startsWith("example.org|3|3|2|")),
      s"IDN twins did not merge in the streaming store: $last")
    // replay idempotence: re-running batch 1 (a foreachBatch replay
    // after checkpoint recovery) must emit the identical rollup
    val before = emissions(1L)
    run(1)
    assert(emissions(1L) == before, "batch replay changed the rollup")
  }
}

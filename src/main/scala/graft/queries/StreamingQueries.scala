package graft.queries

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.Tables
import graft.streaming.{BatchStore, StreamingPipeline}

/** Oracle-gated streaming queries: a Structured Streaming pipeline run to
  * completion inside a registered query, with the union of its per-batch
  * emissions compared against closed-form SQL over the same rows. This
  * promotes the streaming path from spec-level batch-parity assertions
  * (StreamingSpec) to a first-class CORRECTNESS row.
  */
object StreamingQueries {

  /** Scratch root for the streaming gates' working state (chunks,
    * checkpoint, store, output). Prefers tmpfs (`/dev/shm`) — the gates'
    * wall time is dominated by micro-batch COMMIT overhead (checkpoint
    * WAL + offset/commit log fsyncs + store round-trips), which tmpfs
    * makes near-free; disk-backed /tmp is the fallback. The dir is
    * registered for recursive deletion at JVM exit (the returned
    * DataFrame stays lazy over the output parquet, so deleting earlier
    * would break the caller's read — round-8 advice).
    */
  private def scratchDir(prefix: String): File = {
    val shm = new File("/dev/shm")
    val dir =
      if (shm.isDirectory && shm.canWrite)
        Files.createTempDirectory(shm.toPath, prefix).toFile
      else Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Process-wide cache of the gates' INPUT chunk dirs, keyed by
    * (gate, table dir, geometry). Splitting the static table into
    * mtime-ordered chunk files is test-FIXTURE construction — the
    * streaming analog of the parquet testdata every batch query reads
    * directly — not engine work; Bench runs each gate 3 times (warm +
    * best-of-2) and re-splitting identical input re-times the fixture,
    * not the pipeline. State dirs (checkpoint /
    * store / output) stay PER-RUN: every run still drives the full
    * micro-batch pipeline from a cold store. Chunk mtimes are pinned
    * constants, so a cached dir admits files in the same order as a
    * fresh one.
    */
  private val chunkCache =
    new java.util.concurrent.ConcurrentHashMap[String, File]()

  private def cachedChunks(key: String)(build: File => File): File =
    chunkCache.computeIfAbsent(key,
      { _ => build(scratchDir("graft_chunks")) })

  /** Split a table into `n` single-file parquet chunks by `key % n` with
    * strictly ascending mtimes (pins the file source's admission = batch
    * order), returning the stream input dir. One partitioned write, not
    * n filtered jobs; the intermediate partition dirs are deleted as soon
    * as the chunk files are copied out.
    */
  private def writeChunks(df: DataFrame, key: String, work: File,
                          n: Int): File =
    writeChunksPre(df.withColumn("b", col(key) % n), work, n)

  /** [[writeChunks]] for a frame that already carries its chunk index in
    * column `b` (0 until n) — used when the batch assignment is not a
    * simple key modulo (e.g. q115's time-range chunks with late bumps).
    */
  private def writeChunksPre(df: DataFrame, work: File, n: Int): File = {
    val inDir = new File(work, "in")
    inDir.mkdirs()
    val chunkRoot = new File(work, "chunks")
    df.repartition(n, col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(chunkRoot.getPath)
    (0 until n).foreach { b =>
      val partDir = new File(chunkRoot, s"b=$b")
      val part = Option(partDir.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.endsWith(".parquet"))
      require(part.isDefined,
        s"missing chunk file under ${partDir.getPath} — the chunk column " +
          s"'b' does not cover chunk $b of $n")
      val dst = new File(inDir, s"c$b.parquet")
      Files.copy(part.get.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + b * 60000L)
    }
    deleteRec(chunkRoot)
    inDir
  }

  /** Run `body` under gate-scale streaming confs, restoring the session
    * values after (the streaming plan captures the conf at start()).
    *
    *   - `spark.sql.shuffle.partitions` → `n`: the gates' micro-batches
    *     are chunk-sized (corpus/3), so the session-wide 32 partitions
    *     buy nothing and multiply per-batch task-scheduling overhead
    *     across every stateful stage × batch. Correctness is
    *     partition-count-independent (hash partitioning is just
    *     narrower).
    *   - `spark.sql.codegen.wholeStage` → false: every micro-batch
    *     builds a FRESH plan whose generated source embeds per-batch
    *     literals (the touched-cell isin list, `lit(batchId)`, the
    *     growing prior-dir union width), so whole-stage codegen misses
    *     its cache and pays a Janino compile per stage per batch —
    *     measured ~2× on the dedup join (2.06s → 0.89s per batch at
    *     sf0.1). Interpreted mode is strictly cheaper at gate batch
    *     sizes. The library path (StreamingPipeline) does NOT touch the
    *     conf: a production stream with large batches amortizes the
    *     compile and wants codegen on.
    */
  private def withGateConfs[T](s: SparkSession, n: Int)(body: => T): T = {
    val confs = Map(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The gates' stream source: the chunk files under `inDir`, one file per
    * micro-batch, with the schema of the frame they were split from (less
    * the chunk index `b`, which [[writeChunksPre]] spends on the split).
    */
  private def chunkStream(s: SparkSession, from: DataFrame, inDir: File)
      : DataFrame =
    s.readStream.schema(from.drop("b").schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.getPath)

  /** The gates' sink: each micro-batch appends its emission, tagged with
    * its `batch_id`, under `work/out`, which the gate reads back.
    */
  private def appendOut(work: File): (DataFrame, Long) => Unit =
    (df, batchId) => df.withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(s"$work/out")

  /** Runs a gate's stream under [[withGateConfs]]: checkpoint in the
    * gate's scratch dir, every available chunk, then termination.
    */
  private def runGate(s: SparkSession, work: File)(
      stream: => DataStreamWriter[Row]): Unit =
    withGateConfs(s, 3) {
      stream.option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

  /** Streaming incremental dedup over a file-chunked corpus (q82's
    * continuous form, `StreamingPipeline.incrementalDedupStream`).
    *
    * The documents table is split into 3 parquet chunk files by
    * `doc_id % 3` with strictly ascending modification times, then
    * streamed through a real file source (`maxFilesPerTrigger=1`,
    * AvailableNow) — so micro-batch b processes exactly chunk b, and the
    * batchId→chunk mapping is deterministic (the file source admits
    * unread files oldest-mtime-first; mtimes are spaced 60 s apart, far
    * above any filesystem timestamp granularity). Each batch's emission
    * (hashes unseen in batches 0..b−1, min-id + dup-count per hash)
    * appends to one result dir; the final output is the full emission
    * history. DuckDB recomputes it closed-form: a hash is emitted in the
    * FIRST chunk (by `doc_id % 3`) that contains it, with the min id and
    * count within that chunk — exactly the cross-batch anti-join
    * semantics, so a hash match proves the digest store accumulates,
    * excludes, and never re-admits across micro-batches.
    *
    * Bench note: this query's wall time is dominated by Structured
    * Streaming FIXED overhead (3 checkpointed micro-batch commits +
    * per-batch digest-store round-trips), not data-plane work — it is a
    * pipeline-correctness gate, not a throughput probe; the per-batch
    * data cost is q82's (digest-only, map-side, store never shuffles).
    * 3 chunks is the semantics floor: batch 0 seeds an empty store,
    * batch 1 probes a single-dir store, batch 2 probes a UNION of prior
    * dirs — fewer would leave the multi-dir store path ungated.
    */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val work = scratchDir("graft_q111")
    val inDir = cachedChunks(s"q111|$dir|3")(writeChunks(docs, "doc_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.incrementalDedupStream(chunkStream(s, docs, inDir),
        "doc_id", "text", s"$work/digests")(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("content_hash"), col("keep_id"),
        col("batch_dups"))
      .orderBy(col("batch_id"), col("content_hash"))
  }

  private val q111Sql =
    """WITH d AS (SELECT doc_id, doc_id % 3 AS b, md5(text) AS h
      |           FROM documents),
      |fb AS (SELECT h, min(b) AS fb FROM d GROUP BY h)
      |SELECT CAST(d.b AS BIGINT) AS batch_id, d.h AS content_hash,
      |  min(d.doc_id) AS keep_id, count(*) AS batch_dups
      |FROM d JOIN fb ON d.h = fb.h AND d.b = fb.fb
      |GROUP BY 1, 2
      |ORDER BY batch_id, content_hash""".stripMargin

  /** Streaming SemDeDup over a file-chunked embedding corpus (q103's
    * continuous form, `StreamingPipeline.semDedupStream`) — the q111
    * recipe applied to the VECTOR store: embeddings split into 3 chunks
    * by `vec_id % 3` with ascending mtimes, streamed one file per
    * micro-batch (AvailableNow), each batch semantic-deduped against the
    * union of all PRIOR batches' cell-partitioned state plus itself.
    * The oracle recomputes the whole emission history closed-form: a
    * vector y (chunk b) duplicates the minimum same-cell x with
    * x.vec_id < y.vec_id, chunk(x) <= b, and cosine >= 0.4 — exactly the
    * accumulate-and-never-readmit store semantics across micro-batches,
    * with the same centroid model and fp expansion as q32/q103.
    */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
    val work = scratchDir("graft_q113")
    val inDir = cachedChunks(s"q113|$dir|3")(writeChunks(emb, "vec_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.semDedupStream(chunkStream(s, emb, inDir),
        VectorQueries.centroidsForProfiling, threshold = 0.4,
        s"$work/state")(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("vec_id"), col("cell"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"), col("kept"))
      .orderBy(col("batch_id"), col("vec_id"))
  }

  private val q113Sql = {
    val dists = VectorQueries.distsSqlShared(
      VectorQueries.centroidsForProfiling)
    val sim = "round(list_inner_product(x.v, y.v) / " +
      "(sqrt(list_inner_product(x.v, x.v)) * " +
      "sqrt(list_inner_product(y.v, y.v))), 6)"
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, list_position(dists, list_min(dists)) AS cell
       |      FROM (SELECT vec_id, v, $dists AS dists FROM vecs)),
       |d AS (SELECT *, vec_id % 3 AS chunk FROM b),
       |dups AS (
       |  SELECT y.vec_id AS vec_id, MIN(x.vec_id) AS dup_of
       |  FROM d x JOIN d y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |    AND x.chunk <= y.chunk
       |  WHERE $sim >= 0.4
       |  GROUP BY y.vec_id)
       |SELECT CAST(o.chunk AS BIGINT) AS batch_id, o.vec_id,
       |  CAST(o.cell AS BIGINT) AS cell,
       |  coalesce(du.dup_of, -1) AS dup_of, du.dup_of IS NULL AS kept
       |FROM d o LEFT JOIN dups du ON o.vec_id = du.vec_id
       |ORDER BY batch_id, o.vec_id""".stripMargin
  }

  /** Watermarked hourly aggregation with DELIBERATELY LATE rows — the
    * eviction-semantics gate for `StreamingPipeline.hourlyEventCounts`.
    *
    * Construction (all closed-form, so DuckDB can replay it):
    *   - events (minus any in minute 59 of their hour, see below) are
    *     split into 3 time-range chunks by hour tertile; rows with
    *     `event_id % 13 == 0` are bumped TWO chunks later than their
    *     time range — late arrivals landing both in and after their
    *     window's eviction batch, so both halves of the late-data
    *     semantics are exercised;
    *   - each chunk carries a `__wm` sentinel at its range end − 1 s, so
    *     the sentinel is the strict per-chunk max event time (minute-59
    *     rows are excluded to guarantee this) and the watermark after
    *     batch b is EXACTLY chunkEnd(b) − 1 s − 2 h — no dependence on
    *     which real row happens to be latest;
    *   - a 4th flush chunk holds one far-future `__flush` row, pushing
    *     the final watermark past every real window so append mode emits
    *     them all (the flush row's own window never emits).
    *
    * What the oracle checks, per emitted row: (1) the LATE-DROP set —
    * a bumped row is dropped iff it arrives AFTER the batch that evicted
    * its window, and MERGED when it arrives in that very batch (Spark's
    * late filter applies the previous trigger's watermark while
    * end-of-batch eviction applies the current one — both verified
    * empirically and now pinned by this gate); (2) EVICTION TIMING —
    * `batch_id` is the first batch whose start-of-batch watermark passed
    * the window end (watermarks advance between micro-batches; the
    * trailing windows flush in the no-data batch AvailableNow runs after
    * the last file); (3) the aggregates themselves (decimal-exact sums).
    * Sentinel rows flow through the SAME aggregation and are filtered
    * only at the final projection — on both engines.
    */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(minute(col("ts_utc")) =!= 59)
      .select(col("event_id"), col("ts_utc"), col("event_type"),
        col("value"))
    val head = ev.agg(
      date_trunc("hour", min(col("ts_utc"))).as("t0"),
      max(col("ts_utc")).as("mx")).head()
    val t0s = head.getTimestamp(0).getTime / 1000L
    val nH = ((head.getTimestamp(1).getTime / 1000L - t0s) / 3600L + 1L)
    def hcut(b: Int): Long = (b + 1).toLong * nH / 3 // chunk b covers hours [hcut(b-1), hcut(b))
    def chunkEnd(b: Int): Long = t0s + hcut(b) * 3600L
    val h = floor((unix_seconds(col("ts_utc")) - t0s) / 3600L)
    val natural = when(h < hcut(0), 0).when(h < hcut(1), 1)
      .otherwise(2)
    val chunked = ev.withColumn("b",
      when(col("event_id") % 13 === 0, least(natural + 2, lit(2)))
        .otherwise(natural))
    val sentinels = s.createDataFrame(
      ((0 to 2).map(b => org.apache.spark.sql.Row(
        -(b + 1).toLong, new java.sql.Timestamp((chunkEnd(b) - 1) * 1000L),
        "__wm", 0.0, b)) :+ org.apache.spark.sql.Row(
        -100L, new java.sql.Timestamp((chunkEnd(2) + 3600L * 1000) * 1000L),
        "__flush", 0.0, 3)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_utc",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.IntegerType))))
    val work = scratchDir("graft_q115")
    val inDir = cachedChunks(s"q115|$dir|4")(
      writeChunksPre(chunked.unionByName(sentinels), _, 4))
    runGate(s, work) {
      StreamingPipeline.microBatches(StreamingPipeline.hourlyEventCounts(
        chunkStream(s, chunked, inDir)))(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .filter(!col("event_type").startsWith("__"))
      .select(col("batch_id"), col("hour"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** The closed-form twin: watermark during batch b is
    * chunkEnd(b−1) − 7201 s (sentinel max − 2 h delay), a row is dropped
    * iff its window end ≤ that, and a surviving window emits in the
    * first batch whose watermark passed its end (else the no-data flush
    * batch, id 4). All offsets are chosen so no comparison can tie.
    */
  private val q115Sql =
    """WITH ev AS (
      |  SELECT event_id, ts, event_type, value FROM events
      |  WHERE minute(ts) <> 59),
      |p AS (
      |  SELECT date_trunc('hour', min(ts)) AS t0,
      |    CAST(epoch(date_trunc('hour', min(ts))) AS BIGINT) AS t0s,
      |    CAST(datediff('hour', date_trunc('hour', min(ts)), max(ts)) + 1
      |      AS BIGINT) AS nh
      |  FROM ev),
      |e2 AS (
      |  SELECT e.*, p.t0s, p.nh,
      |    CAST(datediff('hour', p.t0, e.ts) AS BIGINT) AS h
      |  FROM ev e, p),
      |e3 AS (
      |  SELECT *, CASE WHEN h < (1*nh)//3 THEN 0 WHEN h < (2*nh)//3 THEN 1
      |    ELSE 2 END AS c
      |  FROM e2),
      |e4 AS (
      |  SELECT *,
      |    CASE WHEN event_id % 13 = 0 THEN LEAST(c + 2, 2) ELSE c END AS b,
      |    t0s + (h + 1) * 3600 AS w_end
      |  FROM e3),
      |e5 AS (
      |  SELECT *, CASE
      |    WHEN t0s + ((1*nh)//3)*3600 - 7201 > w_end THEN 1
      |    WHEN t0s + ((2*nh)//3)*3600 - 7201 > w_end THEN 2
      |    WHEN t0s + ((3*nh)//3)*3600 - 7201 > w_end THEN 3
      |    ELSE 4 END AS evict_batch
      |  FROM e4),
      |-- a late row is dropped iff it arrives AFTER its window's eviction
      |-- batch; one arriving IN the eviction batch still merges (Spark's
      |-- late filter applies the previous trigger's watermark, while
      |-- end-of-batch eviction applies the current one)
      |kept AS (SELECT * FROM e5 WHERE evict_batch >= b),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
      |    MIN(t0s) AS t0s, MIN(nh) AS nh,
      |    MIN(w_end) AS w_end
      |  FROM kept GROUP BY date_trunc('hour', ts), event_type)
      |SELECT CAST(CASE
      |    WHEN t0s + ((1*nh)//3)*3600 - 7201 > w_end THEN 1
      |    WHEN t0s + ((2*nh)//3)*3600 - 7201 > w_end THEN 2
      |    WHEN t0s + ((3*nh)//3)*3600 - 7201 > w_end THEN 3
      |    ELSE 4 END AS BIGINT) AS batch_id,
      |  hour, event_type, n, total_value
      |FROM agg ORDER BY hour, event_type""".stripMargin

  /** Stream-stream interval join through real micro-batches — the gate
    * for `StreamingPipeline.intervalJoin` (the click-attribution shape).
    *
    * Construction: events split even/odd into a LEFT and a RIGHT stream,
    * each chunked into 3 single-file parquet chunks by `event_id div 2
    * mod 3` (covers every chunk on both sides) with ascending mtimes;
    * two independent file sources each admit one file per trigger, so
    * micro-batch b processes left chunk b AND right chunk b. The join
    * pairs same-user events with `r_ts ∈ [ts − 5 min, ts + 30 min]` —
    * asymmetric on purpose, so a sign error in either bound changes the
    * result set. The watermark (800 h) exceeds the corpus's 30-day span:
    * nothing is ever late or evicted, making the emission history exact
    * — EVICTION semantics are q115's job; this gate pins MATCH semantics
    * and emission timing. A pair emits in the batch where its
    * later-arriving side lands: `batch_id = greatest(b_left, b_right)`
    * (the earlier side is already in join state), which the oracle
    * recomputes closed-form along with the full pair set and exact
    * microsecond deltas.
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val left = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("ts_utc"), col("user_id"))
      .withColumn("b", expr("(event_id div 2) % 3"))
    val right = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("r_event_id"),
        col("ts_utc").as("r_ts_utc"), col("user_id").as("r_user_id"))
      .withColumn("b", expr("((r_event_id - 1) div 2) % 3"))
    val work = scratchDir("graft_q118")
    val both = cachedChunks(s"q118|$dir|3") { w =>
      writeChunksPre(left, new File(w, "l"), 3)
      writeChunksPre(right, new File(w, "r"), 3)
      w
    }
    runGate(s, work) {
      val pairs = StreamingPipeline.intervalJoin(
          chunkStream(s, left, new File(both, "l/in")),
          chunkStream(s, right, new File(both, "r/in")), "user_id",
          lowerMs = 5L * 60 * 1000, upperMs = 30L * 60 * 1000,
          watermark = "800 hours")
        .select(col("event_id"), col("r_event_id"), col("user_id"),
          (unix_micros(col("r_ts_utc")) - unix_micros(col("ts_utc")))
            .as("delta_us"))
      StreamingPipeline.microBatches(pairs)(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("event_id"), col("r_event_id"),
        col("user_id"), col("delta_us"))
      .orderBy(col("event_id"), col("r_event_id"))
  }

  private val q118Sql =
    """WITH l AS (
      |  SELECT event_id, user_id, ts, (event_id // 2) % 3 AS bl
      |  FROM events WHERE event_id % 2 = 0),
      |r AS (
      |  SELECT event_id AS r_event_id, user_id AS r_user_id, ts AS r_ts,
      |    ((event_id - 1) // 2) % 3 AS br
      |  FROM events WHERE event_id % 2 = 1)
      |SELECT CAST(GREATEST(l.bl, r.br) AS BIGINT) AS batch_id,
      |  l.event_id, r.r_event_id, l.user_id,
      |  epoch_us(r.r_ts) - epoch_us(l.ts) AS delta_us
      |FROM l JOIN r ON l.user_id = r.r_user_id
      |  AND r.r_ts >= l.ts - INTERVAL 5 MINUTE
      |  AND r.r_ts <= l.ts + INTERVAL 30 MINUTE
      |ORDER BY l.event_id, r.r_event_id""".stripMargin

  /** Streaming SCD-1 upsert sink through real micro-batches — the gate
    * for `StreamingPipeline.upsertStream` + `Snapshot.mergeSnapshot`
    * (the versioned-parquet MERGE shape).
    *
    * Construction: orders collapse to `k = o_orderkey div 4` with
    * `ver = o_orderkey` (so each key sees up to 4 strictly-ordered
    * versions, one per residue) and chunk by `o_orderkey % 3` — EXCEPT
    * rows with `o_orderkey % 13 = 0`, which are bumped TWO chunks later
    * (capped at 2). A bumped row arrives AFTER rows of the same key
    * with HIGHER versions, so the merge must keep the snapshot row and
    * discard the stale delta — version-wins-over-arrival, the SCD-1
    * semantics a replayed or out-of-order feed depends on. The gate
    * reads back the ENTIRE snapshot-version chain (v00000..v00002), not
    * just the final state: snapshot b must equal keep-latest over
    * chunks 0..b, which DuckDB restates directly — so a hash match
    * proves every per-batch merge against the prior committed dir, not
    * merely the endpoint. (3 chunks is the semantics floor: seed merge,
    * merge-into-snapshot, and merge-into-merged-snapshot.)
    */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val natural = col("o_orderkey") % 3
    val delta = orders.select(
      expr("o_orderkey div 4").as("k"),
      col("o_orderkey").as("ver"), col("o_totalprice"),
      when(col("o_orderkey") % 13 === 0, least(natural + 2, lit(2)))
        .otherwise(natural).cast("int").as("b"))
    val work = scratchDir("graft_q121")
    val inDir = cachedChunks(s"q121|$dir|3")(writeChunksPre(delta, _, 3))
    val snapDir = s"$work/snap"
    runGate(s, work) {
      StreamingPipeline.upsertStream(chunkStream(s, delta, inDir), Seq("k"),
        "ver", snapDir)
    }
    val store = new BatchStore(s, snapDir)
    (0 to 2).map(b => store.version(b).withColumn("snap", lit(b.toLong)))
      .reduce(_ unionByName _)
      .select(col("snap"), col("k"), col("ver"), col("o_totalprice"))
      .orderBy(col("snap"), col("k"))
  }

  private val q121Sql =
    """WITH d AS (
      |  SELECT o_orderkey // 4 AS k, o_orderkey AS ver, o_totalprice,
      |    CASE WHEN o_orderkey % 13 = 0
      |         THEN LEAST(o_orderkey % 3 + 2, 2)
      |         ELSE o_orderkey % 3 END AS b
      |  FROM orders),
      |s AS (SELECT unnest([0, 1, 2]) AS snap),
      |j AS (
      |  SELECT s.snap, d.k, d.ver, d.o_totalprice,
      |    row_number() OVER (PARTITION BY s.snap, d.k
      |                       ORDER BY d.ver DESC) AS rn
      |  FROM s JOIN d ON d.b <= s.snap)
      |SELECT CAST(snap AS BIGINT) AS snap, k, ver, o_totalprice
      |FROM j WHERE rn = 1
      |ORDER BY snap, k""".stripMargin

  /** Streaming gap-based sessionization through real micro-batches — the
    * gate for `StreamingPipeline.sessionize` (flatMapGroupsWithState +
    * EventTimeTimeout), the one stateful-API family (arbitrary state)
    * the other gates don't touch.
    *
    * Construction (q115's sentinel recipe, adapted to ms precision):
    *   - events (minus any landing exactly on a second boundary in ms —
    *     the q115 minute-59 trick, which makes every tie against the
    *     second-aligned watermark impossible: the 30-minute gap is a
    *     whole number of seconds, so session-end + gap keeps the event's
    *     nonzero ms fraction while sentinels/watermarks have none) are
    *     split into 3 hour-tertile time chunks, NO late bumps — arrival
    *     order equals event-time order, so the state machine replays the
    *     batch q12 session semantics exactly;
    *   - per-chunk `__wm` sentinel user −(b+1) at chunkEnd − 1 s pins the
    *     watermark trajectory; a far-future flush user closes everything
    *     by the no-data batch.
    *
    * What the oracle checks per emitted session: the session set itself
    * (= batch gap semantics over the filtered events) AND the EMISSION
    * BATCH — a session closes inline in the batch where the same user's
    * next (> gap) event arrives, or by event-time TIMEOUT in the first
    * batch whose start-of-batch watermark passed sessionEnd + gap
    * (whichever comes first; the 1 h watermark delay > 30 min gap
    * guarantees a continuation always arrives before its session could
    * time out, so cross-batch merges are never cut short). That is the
    * flatMapGroupsWithState timeout contract, closed-form.
    */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("ms", expr("ts div 1000000"))
      .filter(col("ms") % 1000L =!= 0L)
      .select(col("user_id").as("userId"), col("ms"), col("ts_utc"))
    val head = ev.agg(
      date_trunc("hour", min(col("ts_utc"))).as("t0"),
      max(col("ts_utc")).as("mx")).head()
    val t0s = head.getTimestamp(0).getTime / 1000L
    val nH = (head.getTimestamp(1).getTime / 1000L - t0s) / 3600L + 1L
    def hcut(b: Int): Long = (b + 1).toLong * nH / 3
    def chunkEnd(b: Int): Long = t0s + hcut(b) * 3600L
    val h = floor((col("ms") / 1000L - t0s) / 3600L)
    val natural = when(h < hcut(0), 0).when(h < hcut(1), 1)
      .otherwise(2)
    val chunked = ev.select(col("userId"), col("ms"),
      natural.cast("int").as("b"))
    val sentinels = s.createDataFrame(
      ((0 to 2).map(b => org.apache.spark.sql.Row(
        -(b + 1).toLong, (chunkEnd(b) - 1) * 1000L, b)) :+
        org.apache.spark.sql.Row(
          -100L, (chunkEnd(2) + 3600L * 1000) * 1000L, 3)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("userId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ms",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.IntegerType))))
    val work = scratchDir("graft_q129")
    val inDir = cachedChunks(s"q129|$dir|4")(
      writeChunksPre(chunked.unionByName(sentinels), _, 4))
    runGate(s, work) {
      import s.implicits._
      val events = chunkStream(s, chunked, inDir)
        .as[StreamingPipeline.UserEvent]
      StreamingPipeline.microBatches(StreamingPipeline
        .sessionize(events, gapMs = 1800000L).toDF())(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .filter(col("userId") >= 0L)
      .select(col("batch_id"), col("userId").as("user_id"),
        col("sessionStart").as("session_start_ms"),
        col("sessionEnd").as("session_end_ms"),
        col("nEvents").as("n_events"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  private val q129Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 1000 AS ms, ts FROM events
      |  WHERE (epoch_us(ts) // 1000) % 1000 <> 0),
      |p AS (
      |  SELECT date_trunc('hour', min(ts)) AS t0,
      |    CAST(epoch(date_trunc('hour', min(ts))) AS BIGINT) AS t0s,
      |    CAST(datediff('hour', date_trunc('hour', min(ts)), max(ts)) + 1
      |      AS BIGINT) AS nh
      |  FROM ev),
      |e2 AS (
      |  SELECT e.user_id, e.ms, p.t0s, p.nh,
      |    CAST(datediff('hour', p.t0, e.ts) AS BIGINT) AS h
      |  FROM ev e, p),
      |e3 AS (
      |  SELECT *, CASE WHEN h < (1*nh)//3 THEN 0 WHEN h < (2*nh)//3 THEN 1
      |    ELSE 2 END AS c
      |  FROM e2),
      |o AS (
      |  SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
      |  FROM e3),
      |m AS (
      |  SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000
      |    THEN 1 ELSE 0 END AS brk
      |  FROM o),
      |sfd AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |sess AS (
      |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
      |    count(*) AS n, min(t0s) AS t0s, min(nh) AS nh,
      |    min(CASE WHEN brk = 1 THEN c END) AS first_chunk
      |  FROM sfd GROUP BY user_id, sid),
      |-- inline closure: the batch where the user's NEXT session opens
      |nx AS (
      |  SELECT *, lead(first_chunk) OVER (PARTITION BY user_id
      |    ORDER BY sid) AS next_chunk
      |  FROM sess),
      |-- timeout closure: first batch whose start-of-batch watermark
      |-- (= prior chunk's sentinel − 1 h) passed end + gap; else the
      |-- no-data flush batch (id 4)
      |tb AS (
      |  SELECT *, CASE
      |    WHEN ((t0s + ((1*nh)//3)*3600 - 1) - 3600) * 1000
      |      > end_ms + 1800000 THEN 1
      |    WHEN ((t0s + ((2*nh)//3)*3600 - 1) - 3600) * 1000
      |      > end_ms + 1800000 THEN 2
      |    WHEN ((t0s + ((3*nh)//3)*3600 - 1) - 3600) * 1000
      |      > end_ms + 1800000 THEN 3
      |    ELSE 4 END AS timeout_batch
      |  FROM nx)
      |SELECT CAST(LEAST(coalesce(next_chunk, 4), timeout_batch) AS BIGINT)
      |    AS batch_id,
      |  user_id, start_ms AS session_start_ms, end_ms AS session_end_ms,
      |  n AS n_events
      |FROM tb
      |ORDER BY user_id, session_start_ms""".stripMargin

  /** Streaming domain-quality rollup (q138's continuous form,
    * `StreamingPipeline.domainQualityStream`) — the q111 recipe applied
    * to BLOCKLIST UPKEEP: the q138 fixture (gopher keeps + synthetic
    * URLs) splits into 3 chunks by doc_id % 3 with ascending mtimes and
    * streams one file per micro-batch; each batch updates the pair-
    * digest and counter stores and emits the FULL per-domain rollup as
    * of that batch. The oracle replays the whole emission history
    * closed-form: for batch b, every rate is the q138 aggregate over
    * docs with doc_id % 3 <= b, with n_canonical the distinct
    * (domain, canonical URL) count within that prefix — exactly the
    * accumulate-without-rescan store semantics, so a hash match proves
    * first-seen pair accounting, counter accumulation, and the rounded
    * rate algebra across micro-batches.
    */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val fixture = graft.operators.Curation.gopherQualityFilter(
        Tables.documents(s, dir), "doc_id", "text",
        minWords = 20, maxWords = 90,
        minMeanWordLen = 3.9, maxMeanWordLen = 5.1,
        minUniqueFrac = 0.35, minStopwordFrac = 0.02,
        stopwords = Seq("the", "a"))
      .withColumn("url", WebQueries.synthUrl)
      .select(col("doc_id"), col("url"), col("keep"), col("n_words"))
    val work = scratchDir("graft_q145")
    val inDir = cachedChunks(s"q145|$dir|3")(
      writeChunks(fixture, "doc_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.domainQualityStream(chunkStream(s, fixture, inDir),
        "url", "doc_id", "keep", "n_words", s"$work/state")(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("domain"), col("n_docs"),
        col("parseable"), col("n_canonical"), col("keep_rate"),
        col("avg_words"), col("dup_rate"), col("block_score"))
      .orderBy(col("batch_id"), col("domain"))
  }

  private val q145Sql =
    s"""${WebQueries.synthUrlSql},
       |${WebQueries.canonSql},
       |dom AS (
       |  SELECT doc_id, doc_id % 3 AS chunk, canonical_url,
       |    ${WebQueries.domainCaseSql} AS domain
       |  FROM canon),
       |t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    len(toks) AS n_words,
       |    CAST(list_sum(list_transform(toks,
       |      x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mwl,
       |    CAST(len(list_distinct(toks)) AS DOUBLE)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS uf,
       |    CAST(len(list_filter(toks, w -> list_contains(['the','a'], w)))
       |      AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS sf
       |  FROM t),
       |k AS (
       |  SELECT doc_id, n_words,
       |    ((n_words >= 20 AND n_words <= 90)
       |      AND (mwl >= 3.9 AND mwl <= 5.1)
       |      AND uf >= 0.35 AND sf >= 0.02) AS keep
       |  FROM m),
       |batches AS (SELECT unnest(range(0, 3)) AS batch_id),
       |pre AS (
       |  SELECT b.batch_id, d.domain,
       |    count(*) AS n_docs,
       |    count(d.canonical_url) AS parseable,
       |    count(DISTINCT d.canonical_url) AS n_canonical,
       |    round(avg(CAST(k.keep AS INT)), 6) AS keep_rate,
       |    round(avg(CAST(k.n_words AS BIGINT)), 6) AS avg_words,
       |    round(CAST(count(d.canonical_url)
       |        - count(DISTINCT d.canonical_url) AS DOUBLE)
       |      / CAST(greatest(count(d.canonical_url), 1) AS DOUBLE), 6)
       |      AS dup_rate
       |  FROM batches b
       |  JOIN dom d ON d.chunk <= b.batch_id
       |  JOIN k USING (doc_id)
       |  WHERE d.domain IS NOT NULL
       |  GROUP BY b.batch_id, d.domain)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id, domain, n_docs,
       |  parseable, n_canonical, keep_rate, avg_words, dup_rate,
       |  round((dup_rate + (1 - keep_rate)) / 2, 6) AS block_score
       |FROM pre
       |ORDER BY batch_id, domain""".stripMargin

  /** Streaming MinHash near-dup dedup (q26's continuous form,
    * `StreamingPipeline.minHashDedupStream`) — the q111 recipe applied
    * to FUZZY dedup: the capped q25/q26 corpus (doc_id < 1000) splits
    * into 3 chunks by doc_id % 3 and streams one file per micro-batch;
    * each batch probes the accumulated band store map-side, verifies
    * candidates by exact Jaccard against the shingle store, and emits
    * every doc's first-match verdict (dup_of = min earlier matching id
    * — prior chunks or same chunk with a smaller id — else kept). The
    * oracle is the EXACT-Jaccard replay of the same first-match
    * semantics (LSH can only miss, and the gate corpus measures recall
    * 1.0 at 32 bands of 2 — the q26 strict-oracle argument: any recall
    * loss fails the gate loudly rather than silently weakening).
    */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 1000L)
      .select(col("doc_id"), col("text"))
    val work = scratchDir("graft_q148")
    val inDir = cachedChunks(s"q148|$dir|3")(
      writeChunks(docs, "doc_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.minHashDedupStream(chunkStream(s, docs, inDir),
        "doc_id", "text", s"$work/state", n = 3, threshold = 0.4,
        numHashes = 64, bands = 32)(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("id").as("doc_id"), col("dup_of"),
        col("kept"))
      .orderBy(col("batch_id"), col("doc_id"))
  }

  private val q148Sql = {
    val toksSql = """string_split_regex(trim(text), '\s+')"""
    val sh =
      s"""list_sort(list_distinct(list_transform(
         |    generate_series(1, greatest(len($toksSql) - 2, 0)),
         |    i -> concat_ws(' ', $toksSql[i], $toksSql[i+1],
         |                   $toksSql[i+2]))))""".stripMargin
    s"""WITH sets AS (
       |  SELECT doc_id AS id, doc_id % 3 AS c, $sh AS sh
       |  FROM documents WHERE doc_id < 1000),
       |pr AS (
       |  SELECT b.id AS id, a.id AS m
       |  FROM sets a JOIN sets b
       |    ON (a.c < b.c OR (a.c = b.c AND a.id < b.id))
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.sh, b.sh)))
       |          AS DOUBLE) >= 0.4),
       |d AS (SELECT id, min(m) AS dup_of FROM pr GROUP BY id)
       |SELECT CAST(s.c AS BIGINT) AS batch_id, s.id AS doc_id,
       |  coalesce(d.dup_of, -1) AS dup_of,
       |  (d.dup_of IS NULL) AS kept
       |FROM sets s LEFT JOIN d USING (id)
       |ORDER BY batch_id, doc_id""".stripMargin
  }

  /** Streaming semantic decontamination (q150's deployment loop,
    * `StreamingPipeline.decontamStream`): ONE stream carries train and
    * benchmark vectors, distinguished by a boolean flag; each
    * micro-batch's train rows score against the benchmark snapshot
    * version STRICTLY BELOW the current batch, then the batch's
    * benchmark rows (if any) evolve the store. Embeddings split into 3
    * chunks by `vec_id % 3`; the benchmark flag (`vec_id % 4 = 0`,
    * excluded from chunk 1) deliberately leaves batch 1 train-only, so
    * the run gates all three store paths: batch 0 scores against an
    * EMPTY prior, batch 1 probes v0 and writes NOTHING (the mostly-
    * train-bus fast path), batch 2 probes v0 across the gap and writes
    * v2. The oracle recomputes the full emission history closed-form:
    * a train row in chunk b is contaminated by benchmark rows in
    * chunks < b only — same cells, cosine, rounding, and rollup as
    * q150's fixed-snapshot form.
    */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % 4 === 0 && col("vec_id") % 3 =!= 1)
          .as("is_bench"))
    val work = scratchDir("graft_q155")
    val inDir = cachedChunks(s"q155|$dir|3")(writeChunks(emb, "vec_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.decontamStream(chunkStream(s, emb, inDir),
        "is_bench", VectorQueries.centroidsForProfiling, threshold = 0.32,
        s"$work/snap")(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("vec_id"), col("cell"),
        col("contaminated_by"), col("n_hits"), col("max_sim"))
      .orderBy(col("batch_id"), col("vec_id"))
  }

  private val q155Sql = {
    val dists = VectorQueries.distsSqlShared(
      VectorQueries.centroidsForProfiling)
    val sim = "round(list_inner_product(t.v, bn.v) / " +
      "(sqrt(list_inner_product(t.v, t.v)) * " +
      "sqrt(list_inner_product(bn.v, bn.v))), 6)"
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, list_position(dists, list_min(dists)) AS cell
       |      FROM (SELECT vec_id, v, $dists AS dists FROM vecs)),
       |d AS (SELECT *, vec_id % 3 AS chunk,
       |        (vec_id % 4 = 0 AND vec_id % 3 <> 1) AS is_bench FROM b),
       |hits AS (
       |  SELECT t.chunk AS batch_id, t.vec_id,
       |    CAST(t.cell AS BIGINT) AS cell, bn.vec_id AS bench_id,
       |    $sim AS sim
       |  FROM d t JOIN d bn
       |    ON t.cell = bn.cell AND bn.is_bench AND bn.chunk < t.chunk
       |  WHERE NOT t.is_bench AND $sim >= 0.32)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id, vec_id, cell,
       |  min(bench_id) AS contaminated_by, count(*) AS n_hits,
       |  max(sim) AS max_sim
       |FROM hits GROUP BY batch_id, vec_id, cell
       |ORDER BY batch_id, vec_id""".stripMargin
  }

  // --------------------------------------------------------------- q161
  // Streaming broadcast-Bloom n-gram decontamination: q159's map-only
  // probe in q155's loop shape. Three real micro-batches; each batch's
  // train docs probe the Bloom word store built from benchmark rows in
  // versions STRICTLY BELOW the batch (batch 0 probes an empty filter —
  // all-zero rows — exactly like q155's empty prior), and benchmark rows
  // OR-merge into the next store version. The oracle replays the entire
  // emission history closed-form: a train gram in chunk c hits iff ALL
  // k=3 of its md5-60-bit positions appear among the set bits implied by
  // benchmark grams in chunks < c — set-membership equals the bit test,
  // false positives replay identically (the q159 argument, per batch
  // prefix).
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 20 === 0).as("is_bench"))
    val work = scratchDir("graft_q161")
    val inDir = cachedChunks(s"q161|$dir|3")(writeChunks(docs, "doc_id", _, 3))
    runGate(s, work) {
      StreamingPipeline.bloomDecontamStream(chunkStream(s, docs, inDir),
        "is_bench", s"$work/store", n = 4, mBits = 1 << 22, k = 3,
        flagThreshold = 0.05)(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("id").as("doc_id"), col("n_shingles"),
        col("n_bloom_hits"), col("hit_ratio"), col("contaminated"))
      .orderBy(col("batch_id"), col("doc_id"))
  }

  private val q161Sql = {
    val toks = """string_split_regex(trim(text), '\s+')"""
    val grams =
      s"""list_distinct(list_transform(
         |    generate_series(1, greatest(len($toks) - 3, 0)),
         |    i -> concat_ws(' ', $toks[i], $toks[i+1],
         |                   $toks[i+2], $toks[i+3])))""".stripMargin
    def pos(g: String) =
      s"""CAST(concat('0x', substr(md5($g || '#' || CAST(i AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 4194304""".stripMargin
    s"""WITH g AS (
       |  SELECT doc_id, doc_id % 3 AS chunk, doc_id % 20 = 0 AS is_bench,
       |    $grams AS grams
       |  FROM documents),
       |idx AS (SELECT unnest([0, 1, 2]) AS i),
       |bg AS (SELECT chunk, unnest(grams) AS gram FROM g WHERE is_bench),
       |sb AS (SELECT DISTINCT chunk, ${pos("gram")} AS pos
       |       FROM bg CROSS JOIN idx),
       |tg AS (SELECT chunk, doc_id, unnest(grams) AS gram FROM g
       |       WHERE NOT is_bench),
       |cp AS (SELECT chunk, doc_id, gram, i, ${pos("gram")} AS pos
       |       FROM tg CROSS JOIN idx),
       |sel AS (SELECT DISTINCT cp.chunk, cp.doc_id, cp.gram, cp.i
       |        FROM cp JOIN sb ON cp.pos = sb.pos AND sb.chunk < cp.chunk),
       |hitg AS (SELECT chunk, doc_id, gram FROM sel
       |         GROUP BY chunk, doc_id, gram HAVING count(*) = 3),
       |hits AS (SELECT doc_id, count(*) AS n_bloom_hits FROM hitg
       |         GROUP BY doc_id),
       |tot AS (SELECT chunk, doc_id, len(grams) AS n_shingles FROM g
       |        WHERE NOT is_bench)
       |SELECT CAST(t.chunk AS BIGINT) AS batch_id, t.doc_id, t.n_shingles,
       |  coalesce(h.n_bloom_hits, 0) AS n_bloom_hits,
       |  round(CAST(coalesce(h.n_bloom_hits, 0) AS DOUBLE)
       |    / CAST(greatest(t.n_shingles, 1) AS DOUBLE), 6) AS hit_ratio,
       |  CAST(coalesce(h.n_bloom_hits, 0) AS DOUBLE)
       |    / CAST(greatest(t.n_shingles, 1) AS DOUBLE) >= 0.05
       |    AS contaminated
       |FROM tot t LEFT JOIN hits h USING (doc_id)
       |ORDER BY batch_id, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q164
  // Streaming incremental corpus statistics: q160's deterministic HLL in
  // the loop shape. Three real micro-batches; each batch max-merges its
  // per-source gram registers into the store and emits the RUNNING
  // estimates from the merged table — because registers are mergeable,
  // batch c's emission must equal a single-pass q160 over chunks <= c,
  // and that is exactly what the oracle computes (the cumulative-prefix
  // replay). Store is sources × 256 rows; exact-integer register sums
  // keep every emitted estimate bit-stable across partitionings.
  private def q164(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val work = scratchDir("graft_q164")
    val inDir = cachedChunks(s"q164|$dir|3")(writeChunks(docs, "doc_id", _, 3))
    runGate(s, work) {
      val grams = chunkStream(s, docs, inDir)
        // r16: materialized token array — inlining tokens(text) into the
        // shingle lambda re-splits the doc once per shingle (q160 fix)
        .select(col("source"),
          graft.functions.TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("source"), explode(array_distinct(
          graft.functions.TextAnalysis.shinglesOfTokens(col("_toks"), 4)))
          .as("gram"))
      StreamingPipeline.hllStatsStream(grams, "source", "gram", p = 8,
        s"$work/store")(appendOut(work))
    }
    s.read.parquet(s"$work/out")
      .select(col("batch_id"), col("source"), col("buckets_hit"),
        col("s_int"), col("hll_estimate"))
      .orderBy(col("batch_id"), col("source"))
  }

  private val q164Sql = {
    val q = 52 // 60 - p at p = 8
    val m = 256
    val twoQ = 1L << q
    val twoQ1 = 1L << (q + 1)
    val toks = """string_split_regex(trim(text), '\s+')"""
    val grams =
      s"""list_distinct(list_transform(
         |    generate_series(1, greatest(len($toks) - 3, 0)),
         |    i -> concat_ws(' ', $toks[i], $toks[i+1],
         |                   $toks[i+2], $toks[i+3])))""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id % 3 AS chunk, source, unnest($grams) AS gram
       |  FROM documents),
       |h AS (
       |  SELECT chunk, source,
       |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS hh
       |  FROM t),
       |r AS (
       |  SELECT chunk, source, hh // $twoQ AS bucket,
       |    CASE WHEN hh % $twoQ = 0 THEN ${q + 1}
       |         ELSE ${q + 1} - length(bin(hh % $twoQ)) END AS rho
       |  FROM h),
       |bs AS (SELECT unnest([0, 1, 2]) AS b),
       |regs AS (
       |  SELECT bs.b, source, bucket, max(rho) AS reg
       |  FROM bs JOIN r ON r.chunk <= bs.b
       |  GROUP BY bs.b, source, bucket),
       |agg AS (
       |  SELECT b, source, count(*) AS buckets_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (${q + 1} - reg)) AS BIGINT) AS sp
       |  FROM regs GROUP BY b, source),
       |st AS (
       |  SELECT b, source, buckets_hit,
       |    sp + ($m - buckets_hit) * $twoQ1 AS s_int
       |  FROM agg)
       |SELECT CAST(b AS BIGINT) AS batch_id, source, buckets_hit, s_int,
       |  round((CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)
       |      + CAST(1.079 AS DOUBLE) / $m)) * $m * $m
       |    * $twoQ1 / CAST(s_int AS DOUBLE), 3) AS hll_estimate
       |FROM st ORDER BY batch_id, source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_streaming_hll" -> (q164 _),
    "q161_streaming_bloom" -> (q161 _),
    "q155_streaming_decontam" -> (q155 _),
    "q148_streaming_minhash_dedup" -> (q148 _),
    "q145_streaming_domain_rollup" -> (q145 _),
    "q129_streaming_sessionize" -> (q129 _),
    "q121_streaming_upsert" -> (q121 _),
    "q111_streaming_incr_dedup" -> (q111 _),
    "q113_streaming_semdedup" -> (q113 _),
    "q115_streaming_watermark" -> (q115 _),
    "q118_streaming_interval_join" -> (q118 _))

  val oracleSql: Map[String, String] = Map(
    "q164_streaming_hll" -> q164Sql,
    "q161_streaming_bloom" -> q161Sql,
    "q155_streaming_decontam" -> q155Sql,
    "q148_streaming_minhash_dedup" -> q148Sql,
    "q145_streaming_domain_rollup" -> q145Sql,
    "q129_streaming_sessionize" -> q129Sql,
    "q121_streaming_upsert" -> q121Sql,
    "q111_streaming_incr_dedup" -> q111Sql,
    "q113_streaming_semdedup" -> q113Sql,
    "q115_streaming_watermark" -> q115Sql,
    "q118_streaming_interval_join" -> q118Sql)
}

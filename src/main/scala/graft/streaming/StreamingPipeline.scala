package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.12 extension).
  *
  * The reference is batch-only (statements arrive monthly as files), but
  * every refine-stage transform is stateless per-row, so the same Column
  * pipeline runs unchanged under `readStream`. This module provides the
  * streaming shells a continuous deployment needs:
  *
  *   - [[statementFileStream]]: file-source ingest of statement drops —
  *     the streaming twin of the batch extract (per-file W1 card fill-down
  *     runs inside `foreachBatch`, where file grouping is preserved);
  *   - [[hourlyEventCounts]]: watermarked tumbling-window aggregation
  *     (the streaming twin of the batch q11);
  *   - [[sessionize]]: gap-based session windows with
  *     `flatMapGroupsWithState` — custom state the built-in windows can't
  *     express (the streaming twin of the batch q12).
  *
  * Scale notes: the windowed agg is a standard two-phase streaming state
  * store keyed by (window, event_type); sessionize keys state by user_id —
  * state size is O(active users), and the event-time timeout evicts idle
  * users, so the state store never grows unboundedly.
  */
object StreamingPipeline {

  /** How every micro-batch stream here starts: create the stream's state
    * dirs, then hand each micro-batch to `step` in append mode. The caller
    * sets the checkpoint and trigger and starts the query.
    */
  private[graft] def microBatches(df: DataFrame, stateDirs: String*)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    stateDirs.foreach(d => new java.io.File(d).mkdirs())
    df.writeStream.outputMode(OutputMode.Append).foreachBatch(step)
  }

  /** File-source statement ingest: watch `dir` for new CSV drops with the
    * canonical unified schema, parse, and hand each micro-batch to the
    * caller (typically `graft.etl.Refine.refine` + a sink write, mirroring
    * foreachBatch deployment of the batch refine stage).
    */
  def statementFileStream(spark: SparkSession, dir: String)(
      onBatch: (DataFrame, Long) => Unit) = {
    val raw = spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", "16")
      .schema(org.apache.spark.sql.types.StructType(
        graft.etl.Schema.extractOrder.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
      .csv(dir)
    microBatches(raw)(onBatch)
  }

  /** Watermarked tumbling-window count/sum per event type. `ts` must be a
    * timestamp column; late rows beyond the watermark are dropped (state
    * eviction — bounded memory at any input rate).
    */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours")
      : DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), "1 hour").as("win"), col("event_type"))
      // sum in decimal so the result is independent of row arrival order
      // (micro-batch boundaries must not change the answer) — the same
      // discipline as the batch queries' dsum
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double")
          .as("total_value"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Streaming exact dedup: drop documents whose content hash was already
    * seen within the watermark horizon — the unbounded-stream twin of
    * `Dedup.exact`. State is keyed by the 32-char digest (never the
    * document body) and evicted once the watermark passes, so memory is
    * bounded by the dedup horizon, not the stream length.
    */
  def streamingExactDedup(docs: DataFrame, textCol: String,
                          tsCol: String = "ts_utc",
                          watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream. The static side is a plain DataFrame — Spark re-plans it per
    * micro-batch (picking up dimension updates between batches) and
    * broadcasts it when small, so the stream side never shuffles. This is
    * the streaming twin of q03's fact-to-dim join.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream interval join: pair each left event with
    * right events for the same key whose timestamp lands in
    * `[leftTs - lowerMs, leftTs + upperMs]`. Both sides carry watermarks,
    * so the join state buffers only rows inside the watermark horizon —
    * bounded memory at any input rate (the click-attribution shape).
    *
    * Columns: left must have `ts_utc`, right `r_ts_utc` (both timestamps)
    * plus the key columns.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   lowerMs: Long, upperMs: Long,
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts_utc", watermark)
    val r = right.withWatermark("r_ts_utc", watermark)
    l.join(r,
      l(key) === r(s"r_$key") &&
        col("r_ts_utc") >= col("ts_utc") - expr(s"INTERVAL $lowerMs MILLISECOND") &&
        col("r_ts_utc") <= col("ts_utc") + expr(s"INTERVAL $upperMs MILLISECOND"))
  }

  /** Streaming incremental dedup against a persistent digest store — the
    * continuous form of `Curation.incrementalDedup` (q82 semantics, batch
    * after batch). Each micro-batch keeps one (min-id) row per content
    * hash not yet in the store, hands the survivors to `onBatch`, then
    * appends the batch's new digests. Unlike
    * [[streamingExactDedup]] (watermark-bounded state), the store is
    * UNBOUNDED history at ~32 bytes/doc in parquet — the right trade when
    * the dedup horizon is "everything ever ingested": 100 TB of documents
    * is ~tens of GB of digests, and the anti-join reads only the digest
    * column. `onBatch` must consume the survivors eagerly: the store
    * advances when it returns.
    */
  def incrementalDedupStream(docs: DataFrame, idCol: String, textCol: String,
                             digestDir: String)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, digestDir) { (batch, batchId) =>
      incrementalDedupBatch(batch, batchId, idCol, textCol, digestDir)(onBatch)
    }

  /** One micro-batch of [[incrementalDedupStream]] — replay-idempotent.
    *
    * foreachBatch is at-least-once: after a crash between the digest write
    * and the checkpoint commit, the batch REPLAYS with the same batchId. A
    * flat append-mode store would then anti-join the replay against digests
    * it already appended and silently emit zero survivors. Digests are
    * therefore keyed by batchId (`b<batchId>` subdir): the replay excludes
    * its own subdir from `seen` (same anti-join as the first attempt) and
    * overwrites it (no double-append).
    */
  /** Digest-prefix partition column: the first hex char of the md5, so
    * each batch subdir splits into ≤16 buckets and the per-batch store
    * probe can PRUNE to the buckets the batch actually touches — the
    * "bucketed/sorted by digest prefix" layout the map-side probe's
    * scaladoc prescribes for 100 TB stores. One hex char is the
    * store-side sweet spot here: pruning caps at scan/16 per bucket
    * while directory fan-out stays bounded (16 dirs × batches); a
    * trickle-ingest deployment with tiny batches would widen to two
    * chars (256 buckets).
    */
  private def digestPfx: org.apache.spark.sql.Column =
    substring(col("content_hash"), 1, 1).as("pfx")

  /** Store-size threshold (bytes) below which batches write FLAT and the
    * probe skips bucket pruning. The bucketed layout is a measured win at
    * multi-million-digest stores (DigestPruneProbe: 59.2MB/6 files vs
    * 157.7MB/16 per batch at 5M digests) but pure overhead below it —
    * every batch would pay a touched-prefix distinct job, a
    * repartition(pfx) shuffle, and 16-bucket partition discovery to
    * prune a store a single flat scan reads faster. 32 MiB ≈ 10⁶ md5
    * digests in snappy parquet — the crossover region; both layouts are
    * correct on both sides of it (the read path unions mixed layouts by
    * design), so the threshold only has to be order-of-magnitude right.
    */
  private[graft] val DigestBucketMinStoreBytes: Long = 32L << 20

  /** Estimated on-disk bytes per stored digest row (md5 hex + pfx in
    * snappy parquet — the density behind the 32 MiB ≈ 10⁶ digests
    * calibration). Used to fold the CURRENT batch's size into the write
    * layout choice; order-of-magnitude accuracy suffices. */
  private[graft] val DigestBytesPerRowEst: Long = 33L

  /** Recursive byte size of a local store dir — O(files) metadata, no
    * Spark job. (On a cluster store this is one
    * `FileSystem.getContentSummary` call — same O(files) namenode
    * metadata, still no job.)
    */
  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()

  /** First long metric of an [[org.apache.spark.sql.Observation]], with a
    * bounded wait and a fallback. Observation metrics ride the action that
    * materializes the observed frame (zero extra Spark jobs — the r17
    * single-materialization rework), but they are DELIVERED via the async
    * listener bus, so they land a few ms after the action returns; poll
    * briefly rather than `get()` (which would hang forever if the caller's
    * `onBatch` never ran an action). The fallback recomputes the count as
    * its own job — correctness never depends on the metric arriving.
    */
  private lazy val obsRowMethod: Option[java.lang.reflect.Method] =
    // getRowOrEmpty is private[sql] at the Scala level but public in
    // bytecode (plain reflection, no setAccessible); absent in some
    // future Spark → fall back to the count job unconditionally
    try Some(classOf[org.apache.spark.sql.Observation]
      .getMethod("getRowOrEmpty"))
    catch { case _: Throwable => None }

  private def observedLong(obs: org.apache.spark.sql.Observation,
                           deadlineMs: Long = 2000L)(
      fallback: => Long): Long =
    obsRowMethod.flatMap { m =>
      // unset metrics surface as an EMPTY row (length 0), not None
      def row = m.invoke(obs).asInstanceOf[Option[org.apache.spark.sql.Row]]
        .filter(_.length > 0)
      val deadline = System.nanoTime + deadlineMs * 1000000L
      var r = row // getRowOrEmpty itself waits up to ~100 ms when empty
      while (r.isEmpty && System.nanoTime < deadline) r = row
      r.map(_.getLong(0))
    }.getOrElse(fallback)

  private[graft] def incrementalDedupBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      digestDir: String,
      bucketMinStoreBytes: Long = DigestBucketMinStoreBytes,
      compactMinDirs: Int = BatchStore.CompactMinDirs)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val s = batch.sparkSession
    val store = new BatchStore(s, digestDir)
    val seenDirs = store.historyDirs(exceptBatch = batchId)
    // ADAPTIVE layout (the house adaptive-threshold pattern): bucket
    // only once the store is big enough that touched-bucket pruning
    // pays for its per-batch jobs. The decision is per-batch from the
    // CURRENT store size, so a growing store transitions flat→bucketed
    // mid-stream and the mixed layout reads fine.
    val storeBytes = seenDirs.iterator.map(treeBytes).sum
    val bucketed = storeBytes >= bucketMinStoreBytes
    // batch subdirs mix layouts legitimately — pfx-bucketed (normal
    // batches), flat (empty batches, pre-bucketing stores)
    val seen = store.history(exceptBatch = batchId).getOrElse(
      s.range(0).select(lit("").as("content_hash"), lit("").as("pfx")))
    // Bucket pruning: only store partitions whose digest prefix appears
    // in THIS batch can contain a match. The touched-prefix list is
    // model-scale (≤16 values, one tiny job over the small batch side),
    // and the filter lands on each bucketed scan as a partition filter —
    // O(touched buckets) files read instead of O(store). Rows from flat
    // (legacy/empty/below-threshold) subdirs carry a null pfx or a data
    // pfx and are kept — correct, just unpruned. Below the bucketing
    // threshold the whole pruning step is SKIPPED: the touched-prefix
    // job costs more than the flat scan it would save.
    val pruned =
      if (!seen.columns.contains("pfx")) seen
      else if (!bucketed) seen.drop("pfx")
      else {
        val touched = batch.select(
            substring(md5(col(textCol)), 1, 1).as("pfx"))
          .distinct().collect().map(_.getString(0)).toSeq
        seen.filter(col("pfx").isNull || col("pfx").isin(touched: _*))
          .drop("pfx")
      }
    // map-side form: the historical store never shuffles, whatever its
    // size — the per-batch cost a long-lived stream actually pays.
    // r17 single-materialization: the onBatch call is the batch's ONE
    // pass over the survivors — it runs before the digest write below,
    // so it reads the pre-batch store (the pin the old separate count()
    // bought with an extra job per batch) — and the survivor count the
    // store-layout decision needs rides that same action's observed
    // metrics instead of its own job.
    val obs = new org.apache.spark.sql.Observation()
    val kept = graft.operators.Curation
      .incrementalDedupDigestsMapSide(batch, pruned, idCol, textCol)
      .observe(obs, count(lit(1)).as("n"))
      .persist()
    onBatch(kept, batchId)
    val nKept = observedLong(obs)(kept.count())
    // a PARTITIONED write of zero rows leaves a schemaless dir parquet
    // cannot re-read (the semDedupBatch lesson) — empty and
    // below-threshold batches write flat, with pfx as a DATA column so
    // the schema still unions. Bucketed batches repartition(pfx) first:
    // without it every task writes every bucket (tasks × 16 small files
    // per batch); with it each bucket is ONE file, so the probe's
    // per-bucket read cost is footers it actually needs. The shuffle is
    // batch-digest-sized — the store never moves. Flat batches coalesce
    // to one file (small by definition — see writeBucketed).
    // The WRITE layout also counts the batch's own digests (~33 B each
    // in snappy parquet, the same density behind the 32 MiB ≈ 10⁶
    // threshold): a large first/backfill micro-batch against an empty
    // store would otherwise take the flat path and funnel everything
    // through a single coalesce(1) write task.
    val writeBucketed =
      bucketed || storeBytes + nKept * DigestBytesPerRowEst >=
        bucketMinStoreBytes
    val out = kept.select(col("content_hash"), digestPfx)
    (if (nKept > 0 && writeBucketed)
       out.repartition(col("pfx")).write.mode("overwrite").partitionBy("pfx")
     else if (nKept > 0) out.coalesce(1).write.mode("overwrite")
     else out.write.mode("overwrite"))
      .parquet(store.batchPath(batchId))
    kept.unpersist()
    // compaction infers the layout from the source dirs, so a store that
    // has crossed the bucketing threshold keeps its pfx pruning
    store.compactIfDue(batchId, minDirs = compactMinDirs)
  }

  /** Streaming SemDeDup: each micro-batch is cell-assigned, scored
    * against the accumulated assignment store (q97 semantics via
    * [[graft.operators.Similarity.semDedupIncrement]]), emitted to
    * `onBatch` as (vec_id, cell, dup_of, kept), and appended to the
    * store. Under monotone ids (ingest-sequence ids — arrival order is
    * canonicality) the union of emissions equals the batch
    * [[graft.operators.Similarity.semDedup]] over everything streamed
    * (StreamingSpec asserts it).
    *
    * Scale: the store is PARTITIONED BY CELL and each batch reads only
    * the partitions for cells it touches (a micro-batch hits at most
    * |batch| of the k cells; the touched-cell list is model-scale, never
    * row data). So per-batch work is |batch| × (same-cell state), the
    * cell-confined quadratic the published design bounds by growing k
    * with the corpus — an unbalanced HOT cell is the thing to watch,
    * and [[graft.operators.Similarity.ivfCellStats]] over the store is
    * the diagnostic. `onBatch` must consume the emission eagerly: the
    * store advances when it returns.
    */
  def semDedupStream(vecs: DataFrame, centroids: Seq[Seq[Double]],
                     threshold: Double, stateDir: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding")(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(vecs, stateDir) { (batch, batchId) =>
      semDedupBatch(batch, batchId, centroids, threshold, stateDir,
        idCol, vecCol)(onBatch)
    }

  /** One micro-batch of [[semDedupStream]] — replay-idempotent: the
    * state store is batchId-keyed (`b<batchId>` subdirs, cell-
    * partitioned inside); a replay excludes its own subdir from the
    * prior and overwrites it, converging to the same store and the same
    * emission (the [[incrementalDedupBatch]] recipe).
    */
  private[graft] def semDedupBatch(
      batch: DataFrame, batchId: Long, centroids: Seq[Seq[Double]],
      threshold: Double, stateDir: String, idCol: String, vecCol: String,
      compactMinDirs: Int = BatchStore.CompactMinDirs)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val store = new BatchStore(batch.sparkSession, stateDir)
    val assigned = graft.operators.Similarity
      .assignCells(batch, centroids, idCol, vecCol)
      .persist()
    // ONE action materializes the persist and returns both the batch
    // size and the touched-cell list (bounded by min(|batch|, k) — a
    // model-scale result, safe to collect); r16 folded the separate
    // count() + distinct-collect pair into this rollup, one fewer
    // pass over the batch per micro-batch
    val cellCounts = assigned.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n")).collect()
    val nBatch = cellCounts.map(_.getLong(1)).sum
    val touched = cellCounts.map(_.getLong(0)).toSeq
    // the cell filter pushes through the history union into each scan's
    // partition pruning
    val prior = store.history(exceptBatch = batchId)
      .map(_.filter(col("cell").isin(touched: _*)))
      .getOrElse(assigned.limit(0))
    val result = graft.operators.Similarity
      .semDedupAgainst(prior, assigned, threshold)
    // r17 single-materialization: onBatch is the batch's one pass over
    // the result (the gates write it to parquet). It runs BEFORE the
    // state write and compaction below, so the prior union it reads is
    // still the pre-batch store — the pin the old persist+count pair
    // bought with an extra job per batch. onBatch must consume eagerly:
    // a deferred read could race compaction's source-dir deletes.
    onBatch(result, batchId)
    // an EMPTY batch must not write: a partitioned parquet write of zero
    // rows leaves a directory with no schema file, and every later
    // batch's store read dies on UNABLE_TO_INFER_SCHEMA
    if (nBatch > 0)
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(store.batchPath(batchId))
    assigned.unpersist()
    // Seq("cell") pins the layout so touched-cell pruning keeps working
    // on the compacted dir
    store.compactIfDue(batchId, Seq("cell"), compactMinDirs)
  }

  /** The accumulated [[semDedupStream]] assignment store (all batches). */
  def semDedupStore(spark: SparkSession, stateDir: String)
      : Option[DataFrame] = new BatchStore(spark, stateDir).history()

  /** The full digest store as one DataFrame (union of all batch subdirs).
    * The `pfx` bucket column is a LAYOUT detail — consumers see only the
    * digest column.
    */
  def digestStore(spark: SparkSession, digestDir: String): DataFrame =
    new BatchStore(spark, digestDir).history().map(_.select("content_hash"))
      .getOrElse(spark.range(0).select(lit("").as("content_hash")))

  /** Per-micro-batch benchmark contamination (q79 semantics): the
    * benchmark gram set is static and broadcast, each batch probes it
    * map-side — stateless, so the streaming report is exactly the batch
    * report of each micro-batch.
    */
  def contaminationStream(docs: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, n: Int, flagThreshold: Double)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs) { (batch, batchId) =>
      onBatch(graft.operators.Curation.contaminationReport(
        batch, bench, idCol, textCol, n, flagThreshold), batchId)
    }

  /** Streaming mixture maintenance: keep a running per-source (docs,
    * tokens) inventory across micro-batches and re-emit the mixture plan
    * (q84 semantics — uniform-share downsampling rates) after each one.
    * State is the |sources|-row inventory in parquet (constant size
    * however much streams through); each batch adds its own partial
    * aggregate — the arithmetic is exact longs, so the running plan is
    * IDENTICAL to the batch plan over everything seen so far
    * (StreamingSpec asserts it). `onBatch` must consume the plan eagerly:
    * the store advances when it returns.
    */
  def mixturePlanStream(docs: DataFrame, sourceCol: String,
                        tokenCount: org.apache.spark.sql.Column,
                        stateDir: String)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, stateDir) { (batch, batchId) =>
      mixturePlanBatch(batch, batchId, sourceCol, tokenCount, stateDir)(
        onBatch)
    }

  /** One micro-batch of [[mixturePlanStream]] — replay-idempotent.
    *
    * foreachBatch is at-least-once: a crash between the `v<batchId>` write
    * and the checkpoint commit replays the batch with the same batchId, and
    * "read the LATEST version" would then merge the batch into the replay's
    * own half-committed output — double-counting it in the inventory
    * forever. The merge therefore reads the latest version STRICTLY BELOW
    * the current batchId (the last state any previous batch committed) and
    * overwrites `v<batchId>`, so any number of replays converge to the same
    * inventory.
    */
  private[graft] def mixturePlanBatch(
      batch: DataFrame, batchId: Long, sourceCol: String,
      tokenCount: org.apache.spark.sql.Column, stateDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit =
    mixtureUpkeepBatch(batch, batchId, sourceCol, tokenCount, stateDir,
      inv => graft.operators.Curation
        .mixturePlanFromInventory(inv, sourceCol))(onBatch)

  /** Streaming TEMPERATURE-based mixture maintenance — the q100 twin of
    * [[mixturePlanStream]]: the same exact-long running inventory, with
    * the α-tempered plan
    * ([[graft.operators.Curation.mixturePlanTemperatureFromInventory]])
    * re-emitted after each micro-batch. α is fixed config for the
    * stream's lifetime; the emitted plan over everything seen so far is
    * IDENTICAL to the batch q100 plan on the same rows (StreamingSpec
    * asserts it — the inventory arithmetic is exact, and the tempered
    * shares are a pure function of the inventory). `onBatch` must
    * consume the plan eagerly: the store advances when it returns.
    */
  def mixturePlanTemperatureStream(docs: DataFrame, sourceCol: String,
                                   tokenCount: org.apache.spark.sql.Column,
                                   stateDir: String, alpha: Double = 0.5)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, stateDir) { (batch, batchId) =>
      mixtureUpkeepBatch(batch, batchId, sourceCol, tokenCount, stateDir,
        inv => graft.operators.Curation
          .mixturePlanTemperatureFromInventory(inv, sourceCol, alpha))(
        onBatch)
    }

  /** Shared micro-batch body of the mixture-upkeep streams: merge the
    * batch's per-source partial aggregate into the replay-safe versioned
    * inventory, then emit `planOf(inventory)`. Retention keeps {prior,
    * new}.
    */
  private[graft] def mixtureUpkeepBatch(
      batch: DataFrame, batchId: Long, sourceCol: String,
      tokenCount: org.apache.spark.sql.Column, stateDir: String,
      planOf: DataFrame => DataFrame)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val store = new BatchStore(batch.sparkSession, stateDir)
    val batchAgg = batch.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount.cast("long")).as("n_tokens"))
    val priorId = store.prior(batchId)
    val merged = (priorId.map(store.version) match {
      case Some(prev) =>
        prev.union(batchAgg)
          .groupBy(col(sourceCol))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
      case None => batchAgg
    }).persist()
    // the version write doubles as the cache pin (r17: the separate
    // count job removed) — the merge reads the version strictly BELOW
    // batchId, which this write never touches, and onBatch's plan then
    // reads the materialized cache
    merged.write.mode("overwrite").parquet(store.versionPath(batchId))
    onBatch(planOf(merged), batchId)
    // prune AFTER onBatch: a cache miss on the plan read can still
    // recompute merged from the prior version
    store.retain(priorId)
    merged.unpersist()
    ()
  }

  /** Streaming perplexity-filter scoring — the full CCNet deployment
    * loop: each micro-batch is scored against the LM of EVERYTHING
    * INGESTED BEFORE IT ([[graft.operators.Curation
    * .unigramCrossEntropyAgainst]], add-k smoothing — early batches are
    * mostly OOV against a young LM and the `oov_tokens` column says so),
    * then folded into the versioned LM store
    * ([[graft.operators.Curation.unigramLmMerge]] — exact-long counts,
    * so the maintained snapshot equals `unigramLm` over the
    * concatenated history). State is VOCAB-sized (Heaps-sublinear),
    * never corpus-sized; one (term) shuffle per batch. `onBatch` must
    * consume the scores eagerly: the store advances when it returns.
    */
  def unigramCeStream(docs: DataFrame, idCol: String, textCol: String,
                      lmDir: String, addK: Double = 1.0)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, lmDir) { (batch, batchId) =>
      unigramCeBatch(batch, batchId, idCol, textCol, lmDir, addK)(onBatch)
    }

  /** One micro-batch of [[unigramCeStream]] — replay-idempotent: scores
    * against (and merges onto) the latest LM version STRICTLY BELOW the
    * current batchId, overwriting `v<batchId>` — the [[mixturePlanBatch]]
    * recipe, so replays re-emit the same scores and converge to the
    * same LM. Retention keeps {prior, new}.
    */
  private[graft] def unigramCeBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      lmDir: String, addK: Double)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val s = batch.sparkSession
    val store = new BatchStore(s, lmDir)
    val priorId = store.prior(batchId)
    val prior = priorId.map(store.version)
      .getOrElse(s.range(0).select(lit("").as("term"), lit(0L).as("cf")))
    // ONE tokenization per batch: the tf rollup feeds both the scorer
    // and the LM delta from cache
    val tf = graft.operators.Curation.docTermFreq(batch, idCol, textCol)
      .persist()
    val scored = graft.operators.Curation
      .unigramCrossEntropyAgainstTf(tf, prior, addK)
    // r17 single-materialization: onBatch is the one pass over the
    // PRIOR-LM scores — it runs before the store advances below, and the
    // prior read is the version strictly below batchId, untouched by the
    // v<batchId> write either way
    onBatch(scored, batchId)
    graft.operators.Curation
      .unigramLmMerge(prior, graft.operators.Curation.unigramLmOfTf(tf))
      .write.mode("overwrite").parquet(store.versionPath(batchId))
    store.retain(priorId)
    tf.unpersist()
    ()
  }

  /** The latest maintained LM snapshot under `lmDir`, if any. */
  def unigramLmSnapshot(spark: SparkSession, lmDir: String)
      : Option[DataFrame] = new BatchStore(spark, lmDir).latest

  /** Streaming semantic decontamination — the q150 frozen-snapshot
    * surface in the [[unigramCeStream]] loop shape. One stream carries
    * both sides, distinguished by a boolean `benchFlagCol` (benchmark
    * updates arrive rarely, on the same bus): each micro-batch's TRAIN
    * rows are scored MAP-SIDE against the benchmark snapshot version
    * strictly below the current batchId
    * ([[graft.operators.Similarity.semanticContaminationAgainst]] —
    * the snapshot broadcasts, the batch never shuffles before the
    * per-vector rollup), then the batch's BENCHMARK rows merge into the
    * next snapshot version (`v<batchId>`, overwrite — the
    * [[unigramCeBatch]] replay recipe, so at-least-once redelivery
    * re-emits the same scores and converges to the same store).
    *
    * Store hygiene for the common mostly-train bus: a batch with ZERO
    * benchmark rows writes NOTHING (the prior version already covers
    * it — replay still converges because the prior lookup is strictly
    * below batchId), and a batch that does write prunes every version
    * older than the one it read, keeping {prior, new}. The prior must
    * survive: a crash can replay only the current batch, whose
    * strictly-below lookup reads exactly that version. So the store
    * holds at most two snapshot copies at any time instead of one per
    * micro-batch. `onBatch` must consume the scores eagerly: the store
    * advances when it returns.
    */
  def decontamStream(vecs: DataFrame, benchFlagCol: String,
                     centroids: Seq[Seq[Double]], threshold: Double,
                     snapDir: String, idCol: String = "vec_id",
                     vecCol: String = "embedding")(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(vecs, snapDir) { (batch, batchId) =>
      decontamBatch(batch, batchId, benchFlagCol, centroids, threshold,
        snapDir, idCol, vecCol)(onBatch)
    }

  /** One micro-batch of [[decontamStream]]. */
  private[graft] def decontamBatch(
      batch: DataFrame, batchId: Long, benchFlagCol: String,
      centroids: Seq[Seq[Double]], threshold: Double, snapDir: String,
      idCol: String, vecCol: String)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val store = new BatchStore(batch.sparkSession, snapDir)
    val priorId = store.prior(batchId)
    // before any benchmark arrives, the snapshot is EMPTY (nothing to
    // be contaminated by) — same schema, zero rows
    val snap = priorId.map(store.version).getOrElse(graft.operators
      .Similarity.benchmarkSnapshot(batch.filter(lit(false)), centroids,
        idCol, vecCol))
    // onBatch is the batch's one pass over the scores; it runs before
    // the snapshot write, so it reads the prior snapshot
    val scored = graft.operators.Similarity.semanticContaminationAgainst(
        batch.filter(!col(benchFlagCol)), snap, centroids, threshold,
        idCol, vecCol)
    onBatch(scored, batchId)
    // a train-only batch (the common case) leaves the store untouched —
    // no O(snapshot) rewrite per micro-batch. The store write is decided
    // by its own probe, never by metrics of onBatch's action: a partial
    // action (limit, show) would undercount them and drop benchmark rows.
    val bench = batch.filter(col(benchFlagCol))
    if (!bench.isEmpty) {
      // benchmark rows are immutable per id, so the replay-dedup keeps
      // content-identical rows whichever copy survives
      val newBench = graft.operators.Similarity.benchmarkSnapshot(
        bench, centroids, idCol, vecCol)
      snap.unionByName(newBench).dropDuplicates("bench_id")
        .write.mode("overwrite").parquet(store.versionPath(batchId))
      store.retain(priorId)
    }
  }

  /** The latest maintained benchmark snapshot under `snapDir`, if any. */
  def decontamSnapshot(spark: SparkSession, snapDir: String)
      : Option[DataFrame] = new BatchStore(spark, snapDir).latest

  /** Streaming BROADCAST-BLOOM n-gram decontamination — the q159
    * map-only surface in the [[decontamStream]] loop shape. One stream
    * carries both sides, distinguished by `benchFlagCol`: each
    * micro-batch's TRAIN documents probe the Bloom bit array maintained
    * from all benchmark rows in versions strictly below the current
    * batchId (the probe is ONE codegen'd projection per batch — no
    * explode, no join, no shuffle), and the batch's BENCHMARK rows
    * OR-merge into the next store version.
    *
    * The store is the filter's SPARSE word table — at most mBits/64
    * `(w, bits)` rows, ~32 KB of parquet at the gate's 2^22 — and
    * merging is `union → groupBy(w) → bit_or`, so folding a benchmark
    * update in costs one bounded rollup and never rebuilds from raw
    * text or grows with benchmark history. Same replay discipline as
    * [[decontamBatch]]: strictly-below lookup + versioned overwrite
    * (at-least-once redelivery re-emits identical scores), train-only
    * batches write nothing, and a writing batch prunes to {prior, new}.
    * `onBatch` must consume the scores eagerly: the store advances when
    * it returns.
    */
  def bloomDecontamStream(docs: DataFrame, benchFlagCol: String,
                          storeDir: String, n: Int = 4,
                          mBits: Int = 1 << 22, k: Int = 3,
                          flagThreshold: Double = 0.05,
                          idCol: String = "doc_id",
                          textCol: String = "text")(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, storeDir) { (batch, batchId) =>
      bloomDecontamBatch(batch, batchId, benchFlagCol, storeDir,
        n, mBits, k, flagThreshold, idCol, textCol)(onBatch)
    }

  /** Streaming incremental corpus statistics — the q160 deterministic
    * HLL in the loop shape: each micro-batch's `(group, value)` rows
    * fold into a per-group register store by MAX-MERGE
    * ([[graft.operators.Sketches.hllRegisters]] — registers are
    * max-mergeable, so the merged table equals the single-pass table
    * over everything seen), and the batch emits the RUNNING per-group
    * estimates from the merged registers. Store is at most
    * groups × 2^p rows of (group, bucket, reg) parquet; every batch
    * writes (stats always move), pruning to {prior, new}. Replay is
    * idempotent: the prior lookup is strictly below batchId, so a
    * redelivered batch re-merges the same inputs into the same store
    * and re-emits the same estimates. `onBatch` must consume the
    * estimates eagerly: the store advances when it returns.
    */
  def hllStatsStream(rows: DataFrame, groupCol: String, valueCol: String,
                     p: Int, storeDir: String)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(rows, storeDir) { (batch, batchId) =>
      hllStatsBatch(batch, batchId, groupCol, valueCol, p, storeDir)(onBatch)
    }

  /** One micro-batch of [[hllStatsStream]]. */
  private[graft] def hllStatsBatch(
      batch: DataFrame, batchId: Long, groupCol: String, valueCol: String,
      p: Int, storeDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val store = new BatchStore(batch.sparkSession, storeDir)
    val priorId = store.prior(batchId)
    val batchRegs = graft.operators.Sketches.hllRegisters(
      batch, Seq(groupCol), valueCol, p)
    val merged = (priorId.map(store.version) match {
      case Some(prior) => prior.unionByName(batchRegs)
        .groupBy(col(groupCol), col("bucket"))
        .agg(max(col("reg")).as("reg"))
      case None => batchRegs
    }).persist()
    onBatch(graft.operators.Sketches.hllEstimateFromRegisters(
      merged, Seq(groupCol), p), batchId)
    merged.write.mode("overwrite").parquet(store.versionPath(batchId))
    store.retain(priorId)
    merged.unpersist()
    ()
  }

  /** One micro-batch of [[bloomDecontamStream]]. */
  private[graft] def bloomDecontamBatch(
      batch: DataFrame, batchId: Long, benchFlagCol: String,
      storeDir: String, n: Int, mBits: Int, k: Int,
      flagThreshold: Double, idCol: String, textCol: String)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val store = new BatchStore(batch.sparkSession, storeDir)
    val priorId = store.prior(batchId)
    val priorWords = priorId.map(store.version)
    // before any benchmark arrives the filter is EMPTY: zero bits set,
    // every probe reports zero hits
    val bits = graft.operators.Curation.bloomBitsFromWordRows(
      priorWords.map(_.collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1)))).getOrElse(Seq.empty),
      mBits)
    // the decontamBatch recipe: onBatch is the one pass over the
    // prior-filter scores, and the store write is decided by its own probe
    val scored = graft.operators.Curation.bloomProbeReport(
        batch.filter(!col(benchFlagCol)), bits, idCol, textCol,
        n, mBits, k, flagThreshold)
    onBatch(scored, batchId)
    val bench = batch.filter(col(benchFlagCol))
    if (!bench.isEmpty) {
      val newWords = graft.operators.Curation.bloomWordRows(
        bench, textCol, n, mBits, k)
      val merged = priorWords match {
        case Some(p) => p.unionByName(newWords)
          .groupBy("w").agg(expr("bit_or(bits)").as("bits"))
        case None => newWords
      }
      merged.write.mode("overwrite").parquet(store.versionPath(batchId))
      store.retain(priorId)
    }
  }

  /** Streaming upsert sink: each micro-batch merges into the latest
    * parquet snapshot via [[graft.operators.Snapshot.mergeSnapshot]]
    * (keep-highest-`versionCol` per key) and writes a NEW snapshot
    * version directory — readers never see a half-written snapshot, and
    * the previous version stays readable until the new one commits (the
    * manifest-swap idiom; a table format replaces the directory listing
    * in a real deployment, and partition-overwrite bounds the rewrite).
    *
    * Unlike the other version stores it keeps its WHOLE chain (one
    * `v<batchId>` per micro-batch, never pruned): readers of an older
    * version are never broken, and the q121 gate reads every version.
    */
  def upsertStream(delta: DataFrame, keys: Seq[String], versionCol: String,
                   snapshotDir: String) =
    microBatches(delta, snapshotDir) { (batch, batchId) =>
      val store = new BatchStore(batch.sparkSession, snapshotDir)
      // replay safety: merge against the last version committed by a
      // PREVIOUS batch, never the replaying batch's own output (see
      // mixturePlanBatch for the failure mode).
      val merged = store.prior(batchId).map(store.version) match {
        case Some(prev) =>
          graft.operators.Snapshot.mergeSnapshot(prev, batch, keys,
            versionCol)
        case None =>
          graft.operators.Snapshot.keepLatest(batch, keys, versionCol)
      }
      merged.write.mode("overwrite").parquet(store.versionPath(batchId))
    }

  /** Latest committed snapshot version under `snapshotDir`, if any. */
  def latestSnapshot(spark: SparkSession, snapshotDir: String)
      : Option[DataFrame] = new BatchStore(spark, snapshotDir).latest

  /** Input row for the streaming samplers: a document's stratum, id, and
    * (for the weighted variant) sampling weight.
    */
  final case class SampleIn(stratum: String, docId: Long, weight: Double)

  /** Running weighted-sample membership emitted by
    * [[weightedSampleStream]] after each micro-batch that touches the
    * stratum; `version` increments per emission, so the CURRENT sample is
    * the max-version row set per stratum.
    */
  final case class WeightedSampleOut(stratum: String, doc_id: Long,
      sample_rank: Int, sample_key: Double, version: Long)

  /** Running quota-sample membership emitted by [[quotaSampleStream]]. */
  final case class QuotaSampleOut(stratum: String, doc_id: Long,
      sample_rank: Int, version: Long)

  /** Reservoir state: the per-stratum top-k race entries (key, id),
    * sorted. Public — the state encoder codegen needs accessible
    * accessors. `skey` is the numeric race key for the weighted sampler
    * and NaN for the quota sampler (which races on the md5 hex string in
    * `hkey`).
    */
  final case class ReservoirState(entries: List[(Double, String, Long)],
      version: Long)

  private def md5HexLocal(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** The batch [[graft.operators.Curation.weightedSample]] race key for a
    * doc id: E = −ln(u)/w with u = first 60 md5 bits of the id string as a
    * fraction. Arithmetic mirrors the Column form operation-for-operation
    * (parseLong→toDouble = conv(...).cast per IEEE round-to-nearest), so
    * the streaming race replays the batch draw bit-exactly.
    */
  private[graft] def weightedKey(docId: Long, weight: Double): Double = {
    val u = java.lang.Long.parseLong(
      md5HexLocal(docId.toString).substring(0, 15), 16)
      .toDouble / 1.152921504606846976e18
    -math.log(u) / weight
  }

  /** Streaming Efraimidis–Spirakis weighted sampling — the continuous twin
    * of the batch `weightedSample` (q94 semantics). A-ES is reservoir-
    * friendly BY CONSTRUCTION: membership is "the k smallest race keys
    * seen so far", and each doc's key is a pure function of (id, weight) —
    * so per-stratum state is just the current top-k (k entries, never the
    * stream), and the running sample over everything seen equals the batch
    * sample over the same rows (StreamingSpec asserts the replay).
    * Non-positive weights are excluded exactly as in batch. Emits the full
    * membership per touched stratum per micro-batch in Update mode.
    */
  def weightedSampleStream(docs: Dataset[SampleIn], k: Int)
      : Dataset[WeightedSampleOut] = {
    import docs.sparkSession.implicits._
    docs.filter(_.weight > 0d)
      .groupByKey(_.stratum)
      .flatMapGroupsWithState[ReservoirState, WeightedSampleOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (stratum: String, rows: Iterator[SampleIn],
         state: GroupState[ReservoirState]) =>
          val prev = state.getOption.getOrElse(ReservoirState(Nil, 0L))
          // one entry per docId: a re-delivery with a DIFFERENT weight
          // yields a different race key, and a tuple-level distinct would
          // keep both (the same doc twice in the top-k). Keep the
          // smallest key per doc — the doc's best draw ever seen.
          val merged = (prev.entries.iterator ++ rows.map(r =>
              (weightedKey(r.docId, r.weight), "", r.docId)))
            .toList
            .groupBy { case (_, _, id) => id }
            .valuesIterator.map(_.minBy { case (key, _, _) => key })
            .toList
            .sortBy { case (key, _, id) => (key, id) }
            .take(k)
          val version = prev.version + 1
          state.update(ReservoirState(merged, version))
          merged.iterator.zipWithIndex.map { case ((key, _, id), i) =>
            // HALF_UP to 6 places — the same rounding Spark's round() uses,
            // so emitted keys compare equal to the batch q94 column
            WeightedSampleOut(stratum, id, i + 1,
              BigDecimal(key).setScale(6,
                scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble,
              version)
          }
      }
  }

  /** Streaming deterministic quota sampling — the continuous twin of the
    * batch `quotaSample` (q83 semantics): per stratum, the `quota` docs
    * with the smallest md5(id) hex (full 32-char lexicographic compare,
    * matching the batch window's string ordering), maintained as a
    * constant-size reservoir.
    */
  def quotaSampleStream(docs: Dataset[SampleIn], quota: Int)
      : Dataset[QuotaSampleOut] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.stratum)
      .flatMapGroupsWithState[ReservoirState, QuotaSampleOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (stratum: String, rows: Iterator[SampleIn],
         state: GroupState[ReservoirState]) =>
          val prev = state.getOption.getOrElse(ReservoirState(Nil, 0L))
          val merged = (prev.entries.iterator ++ rows.map(r =>
              (Double.NaN, md5HexLocal(r.docId.toString), r.docId)))
            .toList.distinct
            .sortBy { case (_, hex, id) => (hex, id) }
            .take(quota)
          val version = prev.version + 1
          state.update(ReservoirState(merged, version))
          merged.iterator.zipWithIndex.map { case ((_, _, id), i) =>
            QuotaSampleOut(stratum, id, i + 1, version)
          }
      }
  }

  /** Session record emitted by [[sessionize]]. */
  final case class Session(
      userId: Long, sessionStart: Long, sessionEnd: Long, nEvents: Long)

  /** Per-user event for sessionization (epoch millis). */
  final case class UserEvent(userId: Long, ms: Long)

  /** Running-session state for [[sessionize]] (public — the state encoder
    * codegen needs accessible accessors).
    */
  final case class SessionState(start: Long, end: Long, n: Long)

  /** Gap-based sessionization with explicit state: events more than
    * `gapMs` apart open a new session; sessions close (and emit) on
    * event-time timeout. Batch-equivalent logic is q12's lag + running-sum
    * window; this is the unbounded-stream formulation.
    */
  def sessionize(events: Dataset[UserEvent], gapMs: Long = 1800000L)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_utc", timestamp_millis(col("ms")))
      .withWatermark("ts_utc", "1 hour")
      .as[(Long, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(userId, s.start, s.end, s.n)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { ms =>
              cur match {
                case Some(s) if ms - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, ms), n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.end, s.n)
                  cur = Some(SessionState(ms, ms, 1))
                case None =>
                  cur = Some(SessionState(ms, ms, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  // ------------------------------------------------------------------
  // Streaming MinHash near-dup dedup (q26's continuous form)
  // ------------------------------------------------------------------

  /** Streaming NEAR-dup dedup — the missing member between the exact
    * family ([[incrementalDedupStream]]: digest equality) and the
    * semantic family ([[semDedupStream]]: embedding cosine): MinHash+LSH
    * over word shingles, the C4/RefinedWeb fuzzy-dedup workhorse,
    * applied per micro-batch against an accumulated band-bucket store.
    *
    * Per batch: shingle + MinHash signatures for the batch (one
    * tokenize; [[graft.operators.Dedup.hashedShingleSets]] +
    * the native MinHash kernel); candidate PRIOR docs come from the
    * band store via the map-side probe shape (store rows semi-join a
    * BROADCAST of the batch's band keys, then inner-join the broadcast
    * band rows — the store never shuffles); candidates verify by EXACT
    * Jaccard against the shingle store, which is likewise pruned
    * map-side to candidate ids before any join. Within-batch pairs run
    * the standard banded self-join (batch-sized). A document's
    * `dup_of` is the MINIMUM id over all earlier matches (prior
    * batches, or same batch with a smaller id) at `threshold`; docs
    * with no match are `kept`. ALL batch docs append to ONE wide store —
    * (id, shingles, bands array) rows in batchId-keyed subdirs (r17: the
    * former separate band and shingle stores cost two writes, listings
    * and compactions per batch; parquet column pruning keeps each probe
    * path as narrow as the split stores were). Replay overwrites its own
    * subdir, so the emission is idempotent; the store auto-compacts.
    *
    * Scale: per-batch cost is batch-sized work plus one map-side scan
    * of each store; shuffle never carries store rows. State is
    * O(corpus shingles) — the price of EXACT verification (the
    * digest-only store of the exact family cannot answer near-dup);
    * a deployment trading exactness for state can store signatures
    * only and verify by signature agreement. Recall is LSH's
    * (bands × rows-per-band trade; the q26 gate corpus measures 1.0 at
    * 32×2, and the oracle is the exact-Jaccard replay, so any recall
    * loss fails the gate loudly).
    *
    * `onBatch` must consume the emission eagerly: the store advances when
    * it returns. A state dir in the legacy split layout (batch dirs under
    * `bands/` or `shingles/`, none under `store/`) fails the batch with an
    * IllegalStateException instead of silently re-admitting every
    * previously seen document.
    */
  def minHashDedupStream(docs: DataFrame, idCol: String, textCol: String,
                         stateDir: String, n: Int = 3,
                         threshold: Double = 0.4, numHashes: Int = 64,
                         bands: Int = 32)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, s"$stateDir/store") { (batch, batchId) =>
      minHashDedupBatch(batch, batchId, idCol, textCol, stateDir, n,
        threshold, numHashes, bands)(onBatch)
    }

  private[graft] def minHashDedupBatch(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      stateDir: String, n: Int, threshold: Double, numHashes: Int,
      bands: Int)(onBatch: (DataFrame, Long) => Unit): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val s = batch.sparkSession
    val store = new BatchStore(s, s"$stateDir/store")
    if (store.historyDirs().isEmpty)
      for (legacy <- Seq("bands", "shingles")
           if new BatchStore(s, s"$stateDir/$legacy").historyDirs().nonEmpty)
        throw new IllegalStateException(
          s"$stateDir/$legacy holds minHashDedupStream state in the " +
            s"legacy split band/shingle layout, but $stateDir/store is " +
            "empty. Replay the source into a fresh state dir to migrate, " +
            s"or delete $stateDir/bands and $stateDir/shingles to restart " +
            "the dedup history.")
    val rowsPer = numHashes / bands
    // eager localCheckpoint, NOT lazy persist: the emission plan builds
    // several BROADCASTS from these frames concurrently, and racing
    // broadcast jobs each recompute an unmaterialized cache (measured
    // r17: persist here made q148 62→94 jobs, jobWall 2.5→4.7 s)
    val sets = graft.operators.Dedup
      .hashedShingleSets(batch, idCol, textCol, n)
      .localCheckpoint(true) // feeds bands, verify, and the store write
    val cur = sets.filter(size(col("shingles")) > 0)
      .withColumn("sig", graft.plans.SetExpressions
        .minHashLongs(col("shingles"), numHashes))
    // ONE wide row per doc — (id, shingles, bands array) — is both the
    // store row and the source of the exploded band view (r17: the band
    // and shingle stores were two dirs with two writes, two listings and
    // two compactions per batch; parquet column pruning keeps the two
    // probe paths as narrow as the split stores were)
    val curWide = cur.select(col("id"), col("shingles"),
        array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPer + 1, rowsPer))
              .as("bh"))
        }: _*).as("bands"))
      .localCheckpoint(true)
    val curBands = curWide.select(col("id"), col("shingles"),
        explode(col("bands")).as("bb"))
      .select(col("id"), col("shingles"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    val priorWide = store.history(exceptBatch = batchId).getOrElse(
      s.range(0).select(lit(0L).as("id"),
        lit(Array.empty[Long]).as("shingles"),
        expr("CAST(array() AS array<struct<band: int, bh: bigint>>)")
          .as("bands")))
    val priorBands = priorWide
      .select(col("id"), explode(col("bands")).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bh").as("bh"), col("id"))
    val priorSh = priorWide.select(col("id"), col("shingles"))
    // cross-batch candidates: store scans stay map-side (semi vs the
    // broadcast batch band keys, then inner vs the broadcast band rows)
    val batchKeys = curBands.select(col("band"), col("bh")).distinct()
    val candPairs = priorBands
      .join(broadcast(batchKeys), Seq("band", "bh"), "left_semi")
      .join(broadcast(curBands.select(col("band"), col("bh"),
        col("id").as("new_id"))), Seq("band", "bh"))
      .select(col("id").as("prior_id"), col("new_id"))
      .distinct()
    val candPriorIds = candPairs.select(col("prior_id").as("id")).distinct()
    val jac = graft.plans.SetExpressions.sortedLongIntersectCount(
      col("psh"), col("nsh")).cast("double") /
      (size(col("psh")) + size(col("nsh")) -
        graft.plans.SetExpressions.sortedLongIntersectCount(
          col("psh"), col("nsh"))).cast("double")
    val crossMatches = candPairs
      .join(priorSh.join(broadcast(candPriorIds), Seq("id"), "left_semi")
        .select(col("id").as("prior_id"), col("shingles").as("psh")),
        Seq("prior_id"))
      .join(broadcast(cur.select(col("id").as("new_id"),
        col("shingles").as("nsh"))), Seq("new_id"))
      .filter(jac >= threshold)
      .select(col("new_id").as("id"), col("prior_id").as("m"))
    // within-batch pairs: banded self-join, batch-sized; earlier = lower id
    val withinMatches = curBands.as("a")
      .join(curBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("b.id").as("id"), col("a.id").as("m"),
        col("a.shingles").as("psh"), col("b.shingles").as("nsh"))
      .filter(jac >= threshold)
      .select(col("id"), col("m"))
    val dupOf = crossMatches.unionByName(withinMatches)
      .groupBy(col("id")).agg(min(col("m")).as("dup_of"))
    val emission = sets.select(col("id"))
      .join(dupOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("kept"))
    // onBatch is the batch's one pass over the emission — it runs before
    // the store writes below, so the band/shingle store reads underneath
    // are still the pre-batch stores (the pin the old eager checkpoint
    // bought with an extra job); must consume eagerly (compaction below
    // deletes merged source dirs).
    onBatch(emission, batchId)
    curWide.coalesce(1).write.mode("overwrite")
      .parquet(store.batchPath(batchId))
    store.compactIfDue(batchId)
  }

  // ------------------------------------------------------------------
  // Streaming domain-quality rollup (q138's continuous form)
  // ------------------------------------------------------------------

  /** Incremental [[graft.operators.WebCuration.domainQualityRollup]]:
    * the per-domain blocklist signals (dup rate × keep rate × mean
    * words → block_score) refresh per micro-batch WITHOUT a corpus
    * rescan. Two batchId-keyed stores:
    *
    *   - `pairs`: md5 digests of the distinct (domain, canonical URL)
    *     pairs seen so far — probed map-side per batch
    *     ([[graft.operators.Curation.firstSeenMapSide]]: the STORE never
    *     shuffles), so each batch learns exactly its FIRST-SEEN pairs;
    *   - `counters`: a RUNNING per-domain counter table (docs,
    *     parseable, keep, words, new-canonical) maintained as versioned
    *     snapshots (r17, the mixture-inventory recipe): each batch
    *     merges its partial sums into the latest version strictly below
    *     its batchId and prunes to {prior, new} — O(domains) rows live
    *     whatever the stream age.
    *
    * The per-batch rollup handed to `onBatch` is a projection of the
    * merged counter table (domains rows, never documents or batches),
    * computing exactly the batch operator's rounded rates: after any
    * prefix of micro-batches the emission equals `domainQualityRollup`
    * over the union of those batches (StreamingSpec asserts it; q145
    * gates the whole emission history against DuckDB — long partial
    * sums are associative, so running totals are bit-identical to a
    * whole-store aggregation). Replay-idempotent: the pairs store keys
    * its subdirs by batchId and overwrites on replay (auto-compacting
    * like the digest store); the counter store replays by the
    * strictly-below version lookup. `onBatch` must consume the rollup
    * eagerly: the stores advance when it returns.
    */
  def domainQualityStream(docs: DataFrame, urlCol: String, idCol: String,
                          keepCol: String, wordsCol: String,
                          stateDir: String,
                          psl: Seq[graft.operators.WebCuration.PslRule] =
                            graft.operators.WebCuration.defaultPsl)(
      onBatch: (DataFrame, Long) => Unit) =
    microBatches(docs, s"$stateDir/pairs", s"$stateDir/counters") {
      (batch, batchId) =>
        domainQualityBatch(batch, batchId, urlCol, idCol, keepCol,
          wordsCol, stateDir, psl)(onBatch)
    }

  private[graft] def domainQualityBatch(
      batch: DataFrame, batchId: Long, urlCol: String, idCol: String,
      keepCol: String, wordsCol: String, stateDir: String,
      psl: Seq[graft.operators.WebCuration.PslRule])(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.WebCuration
    val s = batch.sparkSession
    val pairStore = new BatchStore(s, s"$stateDir/pairs")
    val ctrStore = new BatchStore(s, s"$stateDir/counters")
    val proj = batch.select(
        WebCuration.registrableDomain(
          WebCuration.urlHost(col(urlCol)), psl).as("domain"),
        WebCuration.canonicalizeUrl(col(urlCol)).as("c"),
        col(keepCol).cast("int").as("_keep"),
        col(wordsCol).cast("long").as("_words"))
      .filter(col("domain").isNotNull)
      // eager localCheckpoint, NOT lazy persist: the pairs path builds
      // nested broadcasts from this frame, and racing broadcast jobs
      // each recompute an unmaterialized cache (measured r17: persists
      // here made q145 52→61 jobs, jobWall 2.1→3.4 s)
      .localCheckpoint(true) // consumed twice (pairs + counters)
    // first-seen (domain, canonical) pairs vs the digest store —
    // map-side: the store never shuffles
    val pairs = proj.filter(col("c").isNotNull)
      .select(col("domain"),
        // NUL separator via escape, not a raw byte (file stays reviewable
        // text); compile-time identical string, stored digests unchanged
        md5(concat_ws("\u0000", col("domain"), col("c")))
          .as("content_hash"))
      .distinct()
    val seen = pairStore.history(exceptBatch = batchId)
      .getOrElse(s.range(0).select(lit("").as("content_hash")))
    val newPairs = graft.operators.Curation.firstSeenMapSide(pairs, seen)
      .localCheckpoint(true) // written to the store AND counted
    // per-batch per-domain partial sums — model-scale
    val counters = proj.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("c")).as("parseable"),
        sum(col("_keep")).as("keep_sum"),
        sum(col("_words")).as("words_sum"))
      .join(newPairs.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_canon_new")),
        Seq("domain"), "left")
      .withColumn("n_canon_new", coalesce(col("n_canon_new"), lit(0L)))
    // r17: RUNNING counter store (the mixtureUpkeepBatch recipe) — the
    // batch's partial sums merge into the latest version strictly below
    // batchId and write as v<batchId>, so the per-batch rollup read is
    // O(domains), never O(batches × domains): the old b-keyed append
    // store re-scanned and re-aggregated EVERY batch subdir per rollup,
    // a per-batch cost that grew with stream age. Long sums are
    // associative, so the running totals (and every rate derived from
    // them) are bit-identical to the old whole-store aggregation.
    // Replay-idempotent by the strictly-below argument; a writing batch
    // prunes to {prior, new} (the prior must survive — only the current
    // batch can replay, and it reads exactly that version).
    val prevCtr = ctrStore.prior(batchId)
    val merged = (prevCtr.map(ctrStore.version) match {
      case Some(prev) => prev.unionByName(counters)
        .groupBy(col("domain"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("parseable")).as("parseable"),
          sum(col("keep_sum")).as("keep_sum"),
          sum(col("words_sum")).as("words_sum"),
          sum(col("n_canon_new")).as("n_canon_new"))
      case None => counters
    }).persist()
    // the version write doubles as the cache pin (the mixture recipe)
    merged.coalesce(1).write.mode("overwrite")
      .parquet(ctrStore.versionPath(batchId))
    newPairs.select("content_hash").coalesce(1).write.mode("overwrite")
      .parquet(pairStore.batchPath(batchId))
    val g = greatest(col("parseable"), lit(1L)).cast("double")
    val rollup = merged.select(col("domain"), col("n_docs"),
        col("parseable"), col("n_canon_new").as("n_canonical"),
        round(col("keep_sum").cast("double") /
          col("n_docs").cast("double"), 6).as("keep_rate"),
        round(col("words_sum").cast("double") /
          col("n_docs").cast("double"), 6).as("avg_words"),
        round((col("parseable") - col("n_canon_new")).cast("double") / g, 6)
          .as("dup_rate"))
      .withColumn("block_score",
        round((col("dup_rate") + (lit(1d) - col("keep_rate"))) / 2d, 6))
    onBatch(rollup, batchId)
    // retention: keep {prior, new} (a replay of THIS batch reads the
    // prior); prune AFTER onBatch so a cache miss on the rollup read can
    // still recompute merged from the prior version
    ctrStore.retain(prevCtr)
    merged.unpersist()
    pairStore.compactIfDue(batchId)
  }
}

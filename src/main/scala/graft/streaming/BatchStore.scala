package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One streaming state dir — the on-disk layout every state store in
  * [[StreamingPipeline]] shares. Each micro-batch runs as an ordinary
  * batch plan, so a store is just parquet subdirs named by batchId
  * (`<kind><id>`, id zero-padded to 5 digits, always ordered
  * NUMERICALLY) that those plans read and write. Two disciplines:
  *
  *   - APPEND HISTORY (`b<id>` batch dirs, `c<id>` compacted merges,
  *     invisible `t<id>` scratch): a batch writes [[batchPath]] and reads
  *     [[history]] — every `b`/`c` dir except its own `b` dir, so a
  *     foreachBatch replay sees exactly what its first attempt saw and
  *     overwrites its own dir instead of double-appending. [[compactIfDue]]
  *     keeps the dir count bounded.
  *   - VERSIONS (`v<id>`): a batch merges onto [[prior]], the latest
  *     version STRICTLY below its batchId (a replay reads the same prior,
  *     so it converges instead of merging into its own half-committed
  *     output), writes a full snapshot to [[versionPath]], and
  *     [[retain]]s {prior, new}: only the current batch can replay, and
  *     it reads exactly the prior, so every older version is dead.
  *
  * Caller contract: `onBatch` must consume its frame eagerly; the store
  * advances when it returns. Emission frames read the store lazily, and
  * the write, retention and compaction that follow `onBatch` add this
  * batch's rows and delete source dirs — a deferred read sees the wrong
  * state or a missing file.
  */
private[graft] final class BatchStore(spark: SparkSession, dir: String) {
  import BatchStore._

  private val root = new File(dir)

  /** The dir batch `id` writes under the append-history discipline. */
  def batchPath(id: Long): String = file('b', id).getPath

  /** The dir version `id` is written to under the version discipline. */
  def versionPath(id: Long): String = file('v', id).getPath

  private def file(kind: Char, id: Long): File =
    new File(root, f"$kind$id%05d")

  /** `<kind><digits>` subdirs of any of `kinds`, id-sorted; at equal id
    * `c` sorts AFTER `b`, so a half-finished compaction (rename landed,
    * source `b` dir not yet deleted) resolves to the replay branch of
    * [[compact]], never a rename collision.
    */
  private def list(kinds: String): Seq[(Long, File)] =
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter { f =>
        val n = f.getName
        f.isDirectory && n.length > 1 && kinds.contains(n.head) &&
          n.tail.forall(_.isDigit)
      }
      .map(f => (f.getName.tail.toLong, f))
      .sortBy { case (id, f) => (id, f.getName) }

  private def hist(exceptBatch: Long): Seq[(Long, File)] =
    list("bc").filterNot { case (id, f) =>
      id == exceptBatch && f.getName.head == 'b'
    }

  /** Every `b`/`c` dir except batch `exceptBatch`'s own `b` dir. */
  def historyDirs(exceptBatch: Long = -1L): Seq[File] =
    hist(exceptBatch).map(_._2)

  /** The union of [[historyDirs]]; None while the history is empty. One
    * read per dir, unioned by name: dirs legitimately mix layouts
    * (partitioned, flat, compacted), which multi-root partition
    * discovery rejects. Filters still push through the union into every
    * child scan's partition pruning.
    */
  def history(exceptBatch: Long = -1L): Option[DataFrame] =
    union(historyDirs(exceptBatch))

  private def union(dirs: Seq[File]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(dirs.map(d => spark.read.parquet(d.getPath))
      .reduce(_.unionByName(_, allowMissingColumns = true)))

  /** Id of the latest version strictly below `batchId`, if any. */
  def prior(batchId: Long): Option[Long] =
    list("v").map(_._1).filter(_ < batchId).lastOption

  def version(id: Long): DataFrame = spark.read.parquet(versionPath(id))

  /** The highest version, if any. */
  def latest: Option[DataFrame] = prior(Long.MaxValue).map(version)

  /** Deletes every version older than `prior`, leaving {prior, new}. */
  def retain(prior: Option[Long]): Unit =
    prior.foreach(p =>
      list("v").filter(_._1 < p).foreach(v => deleteRecursively(v._2)))

  /** Compacts the history once it holds `minDirs` dirs (this batch's own
    * included): every dir with id strictly below `batchId` merges into
    * one (see [[compact]]). Micro-batches run serially, so every lower
    * id is checkpoint-committed and merging them is replay-safe — a
    * replay of THIS batch still finds its own dir excluded and the
    * compacted history intact. Without it a trickle stream's per-batch
    * read unions O(batches) dirs and its planning cost grows without
    * bound; with it the dir count stays ≤ `minDirs` + 1.
    */
  def compactIfDue(batchId: Long, partitionCols: Seq[String] = Nil,
                   minDirs: Int = CompactMinDirs): Unit =
    if (hist(-1L).length >= minDirs) { compact(batchId, partitionCols); () }

  /** Merges every history dir with id STRICTLY BELOW `beforeId` into one
    * `c<id>` dir keeping the highest merged id; returns the number of
    * dirs removed.
    *
    * Safety: pass `beforeId` ≤ the stream's last COMMITTED batchId (ids
    * only move forward, so no replay will ever rewrite a compacted dir).
    * Crash-safe: a source dir is deleted ONLY while a complete,
    * reader-visible merged dir covering it exists. The merge is written
    * to an invisible `t<id>` scratch dir, atomically RENAMED to the
    * visible `c<id>` slot (same-parent dir rename), and only then are
    * the sources deleted — a crash at any point leaves either the
    * originals intact (before the rename) or a complete compacted dir
    * plus leftover sources (after it). A replay that finds `c<id>`
    * already present just finishes the deletes. The duplicate-rows
    * window between rename and deletes is harmless: every
    * append-history reader tolerates duplicates (the digest anti-join
    * ignores duplicate build keys; the semDedup dup rollup and the
    * minhash dup_of are mins, idempotent under row duplication).
    *
    * `partitionCols` preserves the store's layout (`Seq("cell")` keeps
    * the semDedup store's touched-cell pruning); when empty, partition
    * columns are INFERRED from the union of ALL source dirs' `k=v`
    * subdirs (sources legitimately mix flat and bucketed layouts), so a
    * bucketed digest store keeps its `pfx` pruning without the caller
    * knowing the layout.
    */
  def compact(beforeId: Long, partitionCols: Seq[String] = Nil): Int = {
    val dirs = hist(-1L).filter(_._1 < beforeId)
    if (dirs.length < 2) return 0
    val (lastId, last) = dirs.last
    val target = file('c', lastId)
    if (last.getName == target.getName) {
      // replay of a completed compaction (the rename landed; a crash
      // then left some sources behind): everything with id <= lastId is
      // covered by the target, so just finish the deletes
      dirs.init.foreach(d => deleteRecursively(d._2))
      return dirs.length - 1
    }
    val layout =
      if (partitionCols.nonEmpty) partitionCols
      else dirs.iterator.flatMap { case (_, d) =>
          Option(d.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.contains("="))
            .map(_.getName.takeWhile(_ != '='))
        }.distinct.toSeq
    val merged = union(dirs.map(_._2)).get
      .persist() // one source read feeds both the count and the write
    val nRows = merged.count()
    // zero rows → write FLAT even if the sources were partitioned (a
    // partitioned zero-row write leaves a schemaless unreadable dir);
    // otherwise repartition on the layout so the compacted store has one
    // file per partition value, not sourceTasks × partitions small files
    val partitioned = layout.nonEmpty && nRows > 0
    val scratch = file('t', lastId)
    deleteRecursively(scratch) // stale scratch from a crashed attempt
    val writer =
      (if (partitioned) merged.repartition(layout.map(col): _*) else merged)
        .write.mode("overwrite")
    (if (partitioned) writer.partitionBy(layout: _*) else writer)
      .parquet(scratch.getPath)
    merged.unpersist()
    require(scratch.renameTo(target),
      s"BatchStore.compact: rename $scratch -> $target failed")
    dirs.foreach(d => deleteRecursively(d._2))
    dirs.length - 1
  }
}

private[graft] object BatchStore {

  /** Auto-compaction cadence of every append-history store. */
  val CompactMinDirs: Int = 16

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }
}

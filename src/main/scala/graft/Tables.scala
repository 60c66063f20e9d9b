package graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All engine operators are table-in/table-out; these helpers are the only
  * place that knows the on-disk layout (`<sfDir>/<name>.parquet`). At cluster
  * scale the same API would point at a partitioned warehouse path — scans stay
  * columnar (parquet) so Catalyst pushes filters + prunes columns into the
  * file source.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loads `<sfDir>/<name>.parquet` with its schema memoized per session
    * and per listing signature ([[listing]]), so only the first load of a
    * table in a session runs Spark's parquet schema-inference job, and a
    * table regenerated in place infers again. The memo is per session
    * because [[events]]' legacy fallback changes how the same files infer.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val memo = schemaMemo.synchronized(schemaMemo.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, StructType]()))
    val schema = memo.computeIfAbsent(listing(spark, path)._2,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val schemaMemo = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, StructType]]()

  /** The parquet files under `path` and a signature that folds every
    * file's name, length and mtime: a dataset regenerated in-session gets
    * a new signature. Driver-side listing only, no job.
    */
  private def listing(spark: SparkSession, path: String)
      : (Seq[FileStatus], String) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(hPath))
    val sig = files.map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(path + "|", ",", "")
    (files, sig)
  }

  /** Table row count from parquet FOOTER metadata — no scan, no job.
    *
    * For adaptive strategy picks (q67's window-vs-scalable ntile) a full
    * `count()` action is a complete pass over the fact table charged to
    * every invocation; the footers carry the exact count for free.
    * Driver-side O(files) footer reads, memoized per [[listing]]
    * signature, so a dataset REGENERATED in-session invalidates its entry
    * instead of driving a strategy pick off a stale count. The listing
    * itself is re-read per call — that is the cheap part; the memo only
    * skips the O(files) footer OPENS.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val (files, sig) = listing(spark, s"$sfDir/$name.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    rowCountCache.computeIfAbsent(sig, { _ =>
      files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })
  }

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Events loader, schema-adaptive over the on-disk type of `ts`.
    *
    * Contract for every downstream consumer (engine queries + the DuckDB
    * oracle run on the same files):
    *   - `ts`     — LONG nanos-since-epoch, for integer event-time arithmetic
    *                (ordering, gaps, `ts DIV 1000000` millisecond buckets).
    *   - `ts_utc` — TimestampType (UTC session), for calendar functions,
    *                `date_trunc`, and streaming watermarks.
    *
    * The driver's testdata has served `ts` both as parquet TIMESTAMP(NANOS)
    * (readable only as raw long via the `nanosAsLong` legacy conf) and, since
    * round 6, as timestamp[us]. Branch on the loaded schema so either file
    * layout yields the identical two-column contract:
    *   - timestamp (with/without tz): `ts_utc := ts` (NTZ cast to UTC-session
    *     TimestampType is value-preserving — all entry points pin
    *     spark.sql.session.timeZone=UTC), `ts := unix_micros(ts_utc) * 1000`
    *     (exact — micros source has no sub-micro digits).
    *   - long (legacy nanos): `ts_utc := timestamp_micros(ts DIV 1000)`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw =
      try load(s, d, "events")
      catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          // Legacy TIMESTAMP(NANOS) files: Spark's reader rejects the type
          // unless the legacy conf maps it to raw long. The conf must stay set
          // for task-time footer conversion, so it is only touched on this
          // (now-dead) path — the common path has no session side effects.
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts_utc", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts_utc")) * 1000L)
      case LongType =>
        raw.withColumn("ts_utc", timestamp_micros(expr("ts DIV 1000")))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other (expected timestamp or long nanos)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Schema._

/** Load stage (load_to_db.py): refined transactions → the
  * `all_transactions` warehouse table.
  *
  * SQLite is replaced by parquet (SURVEY §1.4): the 4 B-tree indexes
  * (load_to_db.py:125-128) become parquet min/max statistics;
  * `if_exists='replace'` becomes
  * `mode("overwrite")` — same idempotent-snapshot contract (K2).
  */
object Load {

  /** Surrogate key (X13, load_to_db.py:26-43): md5 over date + merchant +
    * card + amount + type, with `safe_str` null discipline (null → '',
    * else trimmed string).
    *
    * Amount rendering: Java's double→string ('123.0', '0.05') — declared as
    * THIS engine's canonical format (SURVEY §7.4.5: intra-engine stability,
    * not byte-compat with Python's repr on every edge case).
    */
  def transactionId(date: Column, merchant: Column, cardNo: Column,
                    amount: Column, txnType: Column): Column = {
    def safe(c: Column): Column = coalesce(trim(c.cast("string")), lit(""))
    md5(concat(safe(date), safe(merchant), safe(cardNo), safe(amount),
      safe(txnType)))
  }

  /** Refined → database-shaped frame: id column, snake_case rename (P4),
    * typed dates. Column order follows load_to_db.py:81-97.
    */
  def toWarehouseShape(refined: DataFrame): DataFrame = {
    val withId = refined.withColumn("transaction_id",
      transactionId(col(TxnDate), col(Merchant), col(CardNo),
        col(PayAmount), col(TxnType)))
    val renamed = snakeCaseRename.foldLeft(withId) {
      case (d, (from, to)) =>
        if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val dateCols = Seq("transaction_date", "posting_date", "conversion_date")
    val typed = dateCols.foldLeft(renamed) { (d, c) =>
      // dates ride as DateType in parquet; '' (the refined-stage null) → null
      d.withColumn(c, try_to_date(col(c)))
    }
    typed.select((snakeCaseRename.map(_._2) :+ "transaction_id")
      .map(col): _*)
  }

  /** K1: single-file CSV export with fixed column order and an optional
    * UTF-8 BOM (the reference's `encoding='utf-8-sig'`, etl.py:500 — the
    * BOM exists solely so Excel opens CJK content correctly). Spark's csv
    * writer cannot emit a BOM, so the part file is renamed/prefixed
    * driver-side. Export-sized outputs only (RFM reports, refined samples);
    * warehouse-scale data stays parquet.
    */
  def writeCsv(df: DataFrame, path: String, bom: Boolean = true): Unit = {
    val tmp = path + "_spark_tmp"
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException(s"no csv part in $tmp"))
    val out = new java.io.File(path)
    if (out.exists()) out.delete()
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val stream = new java.io.FileOutputStream(out)
    try {
      if (bom) stream.write(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
      stream.write(bytes)
    } finally stream.close()
    part.getParentFile.listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }

  /** S6: typed re-read of a unified/refined stage CSV (the reference's
    * inter-stage file contract, refine.py:384 / load_to_db.py:66) — all
    * columns as strings; `Refine.canonicalize` applies the type coercion.
    */
  def readStageCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** The literal `Bills.db` sink (load_to_db.py:113-135): write the
    * warehouse-shaped frame into a REAL SQLite database file
    * (`Sqlite.writeTables`, replace semantics) and return the row count —
    * the reference's post-load `SELECT count(*)` verification. Existing
    * SQLite consumers of the reference's output open this file unchanged.
    *
    * The reference's four `CREATE INDEX` statements (load_to_db.py:125-128)
    * are replicated as real index B-trees, so a SQLite consumer doing
    * point lookups on date/merchant/card/id gets indexed access — a true
    * drop-in. At engine scale the table stays the `all_transactions`
    * parquet that `Pipeline.run` writes (SURVEY §2.2 K3).
    */
  def loadToSqlite(refined: DataFrame, dbPath: String,
                   table: String = "bills"): Long =
    Sqlite.writeTables(dbPath, Seq(table -> toWarehouseShape(refined)),
      indexes = Seq(
        Sqlite.IndexSpec("idx_txn_date", table, "transaction_date"),
        Sqlite.IndexSpec("idx_merchant", table, "merchant_name"),
        Sqlite.IndexSpec("idx_card_no", table, "card_no"),
        Sqlite.IndexSpec("idx_txn_id", table, "transaction_id")))(table)
}

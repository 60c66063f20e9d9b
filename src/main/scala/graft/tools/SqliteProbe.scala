package graft.tools

import graft.Session
import graft.etl.Sqlite

/** One-off: write sample SQLite files for external validation with the
  * system sqlite3 (driver-side python). Run:
  * sbt "runMain graft.tools.SqliteProbe /tmp/probe.db"
  */
object SqliteProbe {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/probe.db")
    val spark = Session.local(Session.cpus)
    import spark.implicits._

    // multi-page table: > 4096 bytes of records forces interior levels;
    // every 1000th note is a multi-overflow-page TEXT
    val big = (1 to 5000).map(i =>
      (i.toLong, s"merchant-中文-$i", i * 1.5,
        if (i % 1000 == 0) s"長文-$i-" + ("久" * 3000)
        else if (i % 7 == 0) null
        else s"note $i"))
      .toDF("txn_id", "merchant", "amount", "note")
    // small typed table incl. bool/date
    val small = Seq(
      (1L, "玉山", true, java.sql.Date.valueOf("2024-01-15"), 99.5),
      (2L, "國泰", false, null.asInstanceOf[java.sql.Date], -3.25))
      .toDF("id", "bank", "flag", "d", "v")
    val empty = spark.emptyDataFrame
      .withColumn("a", org.apache.spark.sql.functions.lit(1))
      .limit(0)
    val counts = Sqlite.writeTables(out, Seq(
      "bills" -> big, "banks" -> small, "nothing" -> empty),
      // every storage class + a null-carrying column, à la the
      // reference's four CREATE INDEX calls (load_to_db.py:125-128)
      indexes = Seq(
        Sqlite.IndexSpec("idx_merchant", "bills", "merchant"),
        Sqlite.IndexSpec("idx_amount", "bills", "amount"),
        Sqlite.IndexSpec("idx_txn_id", "bills", "txn_id"),
        Sqlite.IndexSpec("idx_note", "bills", "note"),
        Sqlite.IndexSpec("idx_bank", "banks", "bank")))
    println(s"[sqliteprobe] wrote $counts to $out")
    // second fixture: enough leaves for TWO interior levels (fan-out 200)
    // and a multi-level INDEX b-tree over the text column
    import org.apache.spark.sql.functions.{col, concat, lit}
    val deep = spark.range(1, 40001).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    val n2 = Sqlite.writeTables(s"$out.deep", Seq("deep" -> deep),
      indexes = Seq(Sqlite.IndexSpec("idx_deep_s", "deep", "s")))("deep")
    println(s"[sqliteprobe] wrote deep=$n2 to $out.deep")
    spark.stop()
  }
}

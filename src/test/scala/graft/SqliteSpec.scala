package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.Sqlite

/** The SQLite sink. In-JVM assertions cover the file format invariants
  * our writer controls (header, page count, determinism, limits); two
  * fixtures are also opened with the REAL sqlite3 library through
  * `tools/check_sqlite.py` (PRAGMA integrity_check, a scan and a rowid
  * lookup per table, and every index used by the query planner), so the
  * suite needs `python3` with its standard `sqlite3` module.
  */
class SqliteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("sqlite-spec").resolve(name).toString

  private def header(path: String): Array[Byte] = {
    val all = Files.readAllBytes(Paths.get(path))
    java.util.Arrays.copyOfRange(all, 0, 100)
  }

  test("header: magic, page size, page count match the file") {
    val p = tmp("h.db")
    val n = Sqlite.writeTable(p, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(n == 2)
    val h = header(p)
    assert(new String(h, 0, 15, "US-ASCII") == "SQLite format 3")
    assert(h(15) == 0) // NUL-terminated magic
    val pageSize = ((h(16) & 0xff) << 8) | (h(17) & 0xff)
    assert(pageSize == 4096)
    val pages = java.nio.ByteBuffer.wrap(h, 28, 4).getInt
    assert(Files.size(Paths.get(p)) == pages.toLong * 4096)
    assert(java.nio.ByteBuffer.wrap(h, 56, 4).getInt == 1) // UTF-8
  }

  test("multi-page tables build interior levels; counts are exact") {
    val p = tmp("big.db")
    val df = spark.range(1, 40001)
      .select(col("id"), concat(lit("row-"), col("id")).as("s"),
        (col("id") * 2.5).as("v"))
    val n = Sqlite.writeTable(p, "big", df)
    assert(n == 40000)
    // ~145 rows/leaf → ~275 leaves → TWO interior levels (fan-out 200);
    // the file must span hundreds of pages and stay page-aligned
    val size = Files.size(Paths.get(p))
    assert(size % 4096 == 0 && size / 4096 > 250)
  }

  test("deterministic: same frame → identical bytes") {
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("a", "b", "c")
    val p1 = tmp("d1.db")
    val p2 = tmp("d2.db")
    Sqlite.writeTable(p1, "t", df)
    Sqlite.writeTable(p2, "t", df)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(p1)), Files.readAllBytes(Paths.get(p2))))
  }

  test("replace semantics: rewriting drops the previous content") {
    val p = tmp("r.db")
    Sqlite.writeTable(p, "t", spark.range(1000).toDF("id"))
    val sizeBig = Files.size(Paths.get(p))
    Sqlite.writeTable(p, "t", spark.range(3).toDF("id"))
    assert(Files.size(Paths.get(p)) < sizeBig) // fresh file, not append
  }

  test("empty frames and NULL cells are representable") {
    val p = tmp("e.db")
    val withNulls = Seq((1L, Some("a")), (2L, None))
      .toDF("id", "s")
    val counts = Sqlite.writeTables(p, Seq(
      "has_nulls" -> withNulls,
      "empty" -> withNulls.limit(0)))
    assert(counts == Map("has_nulls" -> 2L, "empty" -> 0L))
  }

  test("oversized records spill to overflow chains (structural checks; " +
    "real-sqlite3 validation in tools/check_sqlite.py)") {
    val p = tmp("o.db")
    // 3 sizes straddling one and several overflow pages, mixed with
    // small rows so local cells and spilled cells share leaf pages
    val rows = Seq(
      (1L, "small"),
      (2L, "y" * 5000),
      (3L, "also small"),
      (4L, "z" * 100000),
      (5L, "x" * 4061)) // exactly maxLocal: must NOT spill
    val n = Sqlite.writeTable(p, "t", rows.toDF("id", "s"))
    assert(n == 5)
    val size = Files.size(Paths.get(p))
    // 100000/4092 ≈ 25 overflow pages + 5000 ≈ 2 more, page-aligned
    assert(size % 4096 == 0 && size / 4096 >= 28)
  }

  test("secondary indexes land in sqlite_master with index-page roots " +
    "(structural; real-sqlite3 validation in tools/check_sqlite.py)") {
    val p = tmp("i.db")
    // enough rows for a multi-level index b-tree; nulls sort first
    val df = (1 to 3000).map(i =>
      (i.toLong, s"m-${i % 100}", if (i % 11 == 0) null else s"c-$i"))
      .toDF("id", "merchant", "card")
    Sqlite.writeTables(p, Seq("bills" -> df), indexes = Seq(
      Sqlite.IndexSpec("idx_m", "bills", "merchant"),
      Sqlite.IndexSpec("idx_c", "bills", "card")))
    val all = Files.readAllBytes(Paths.get(p))
    val body = new String(all, java.nio.charset.StandardCharsets.ISO_8859_1)
    // master rows carry the CREATE INDEX sql verbatim
    assert(body.contains("CREATE INDEX \"idx_m\" ON \"bills\" (\"merchant\")"))
    assert(body.contains("CREATE INDEX \"idx_c\" ON \"bills\" (\"card\")"))
    // index page types present: leaf 0x0a always; interior 0x02 once the
    // entry count outgrows one page (3000 entries do)
    val pageTypes = (1 until all.length / 4096).map(i => all(i * 4096))
    assert(pageTypes.contains(10.toByte), "no index leaf pages")
    assert(pageTypes.contains(2.toByte), "no index interior pages")
    // deterministic like the table path
    val p2 = tmp("i2.db")
    Sqlite.writeTables(p2, Seq("bills" -> df), indexes = Seq(
      Sqlite.IndexSpec("idx_m", "bills", "merchant"),
      Sqlite.IndexSpec("idx_c", "bills", "card")))
    assert(java.util.Arrays.equals(all, Files.readAllBytes(Paths.get(p2))))
  }

  // expected reader-side value of a DataFrame cell under the writer's
  // storage classes (record(): integral→INTEGER, fractional→REAL,
  // boolean→INTEGER, everything else→TEXT)
  private def storageValue(v: Any): Any = v match {
    case null => null
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case b: Boolean => if (b) 1L else 0L
    case f: Float => f.toDouble
    case d: Double => d
    case dec: java.math.BigDecimal => dec.doubleValue()
    case other => other.toString
  }

  test("Bills.db point lookup through EACH reference index returns the " +
    "parquet-side filter's rows (load_to_db.py:125-128 drop-in)") {
    // the real pipeline output, exactly what loadToSqlite indexes
    val dir = Files.createTempDirectory("graft-sqlite-etl").toString
    graft.etl.ExampleData.write(dir)
    val cfg = graft.etl.Pipeline.loadConfigs(spark, s"$dir/configs")
    val refined = graft.etl.Refine.refine(
      graft.etl.Extract.extractAll(spark, s"$dir/data", cfg.banks),
      cfg.cards, cfg.payments, cfg.merchants, cfg.keywords)
    val p = tmp("bills.db")
    val n = graft.etl.Load.loadToSqlite(refined, p)
    val shaped = graft.etl.Load.toWarehouseShape(refined).cache()
    assert(n == shaped.count())
    val colsOf = shaped.columns
    def frameRows(filterCol: String, key: Any): Set[Seq[Any]] =
      shaped.filter(col(filterCol) <=> lit(key)).collect().toSet[
        org.apache.spark.sql.Row].map(r =>
        colsOf.indices.map(i => storageValue(r.get(i))))
    // one point lookup per reference index, keys taken FROM the data so
    // each lookup returns at least one row
    val probes = Seq("idx_txn_date" -> "transaction_date",
      "idx_merchant" -> "merchant_name", "idx_card_no" -> "card_no",
      "idx_txn_id" -> "transaction_id")
    probes.foreach { case (idx, c) =>
      val key = shaped.filter(col(c).isNotNull).select(col(c)).head().get(0)
      val lookupKey = storageValue(key)
      val got = Sqlite.Reader.indexPointLookup(p, idx, lookupKey)
        .map(_._2).toSet
      val want = frameRows(c, key)
      assert(want.nonEmpty, s"$idx probe key $key matched nothing in-frame")
      assert(got == want,
        s"$idx lookup($lookupKey): got ${got.size} rows, want ${want.size}")
    }
    // negative probe: a key present in no row resolves to zero rowids
    assert(Sqlite.Reader.indexPointLookup(p, "idx_merchant",
      "no-such-merchant-乑").isEmpty)
    shaped.unpersist()
  }

  test("reader: master catalog, table scan and rowid lookups round-trip " +
    "a multi-page indexed db bit-for-bit") {
    val p = tmp("rt.db")
    // multi-page (3000 rows), nulls, CJK text, doubles, negative ints
    val df = (1 to 3000).map(i =>
      (i.toLong - 1500L, s"m-中文-${i % 97}",
        if (i % 11 == 0) null else s"c-$i", i * 1.25))
      .toDF("id", "merchant", "card", "amt")
    Sqlite.writeTables(p, Seq("t" -> df), indexes = Seq(
      Sqlite.IndexSpec("idx_m", "t", "merchant")))
    val names = Sqlite.Reader.masterRows(p).map(r => (r._1, r._2)).toSet
    assert(names == Set(("table", "t"), ("index", "idx_m")))
    val back = Sqlite.Reader.tableRows(p, "t")
    assert(back.size == 3000)
    assert(back.map(_._1) == (1L to 3000L)) // rowids dense, in order
    val want = df.collect().toSeq.map(r =>
      Seq(r.get(0), r.get(1), r.get(2), r.get(3)).map(storageValue))
    // compare a sample of rows end-to-end (full table already size-checked)
    Seq(0, 1, 1499, 2998, 2999).foreach { i =>
      assert(back(i)._2 == want(i), s"row $i mismatch")
    }
    // every merchant key: index lookup row-set == full-scan filter
    val byMerchant = back.groupBy(_._2(1))
    byMerchant.foreach { case (m, rows) =>
      val got = Sqlite.Reader.indexPointLookup(p, "idx_m", m).toSet
      assert(got == rows.toSet, s"merchant $m: ${got.size} vs ${rows.size}")
    }
  }

  test("reader: index keys on overflow chains (payload > 1002B) still " +
    "descend and resolve") {
    val p = tmp("of.db")
    // 120 rows whose indexed TEXT exceeds the index-page local-payload
    // limit (1002 bytes at 4096-byte pages), forcing every index entry
    // (and its interior separators) onto overflow chains; 3 duplicates
    // per key so equality search must return multiple rowids
    val df = (0 until 120).map { i =>
      val key = s"k${i / 3}-" + ("長" * 600) + s"-${i / 3}"
      (i.toLong, key, i * 2.5)
    }.toDF("id", "note", "amt")
    Sqlite.writeTables(p, Seq("t" -> df),
      indexes = Seq(Sqlite.IndexSpec("idx_n", "t", "note")))
    val want = df.collect().toSeq.groupBy(_.getString(1))
    want.foreach { case (k, rows) =>
      val got = Sqlite.Reader.indexPointLookup(p, "idx_n", k)
      assert(got.size == rows.size, s"key ${k.take(12)}…: ${got.size}")
      assert(got.map(_._2(0)).toSet == rows.map(_.getLong(0)).toSet)
      // full row decode through the table b-tree, overflow included
      assert(got.map(_._2(1)).toSet == Set(k))
    }
    assert(Sqlite.Reader.indexPointLookup(p, "idx_n", "missing").isEmpty)
  }

  /** Runs `tools/check_sqlite.py` (the real sqlite3 library) on `db` and
    * returns its last output line, failing on a non-zero exit.
    */
  private def realSqliteCheck(db: String): String = {
    import scala.sys.process._
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l + "\n", l => out ++= l + "\n")
    val code = Seq("python3", "tools/check_sqlite.py", db) ! log
    assert(code == 0, s"check_sqlite.py failed on $db:\n$out")
    out.toString.trim.split("\n").last
  }

  test("real sqlite3 accepts overflow TEXT, NULLs, typed columns, an " +
    "empty table and five indexes") {
    val p = tmp("probe.db")
    // > 4096 bytes of records forces interior levels; every 1000th note
    // is a multi-overflow-page TEXT
    val bills = (1 to 5000).map(i =>
      (i.toLong, s"merchant-中文-$i", i * 1.5,
        if (i % 1000 == 0) s"長文-$i-" + ("久" * 3000)
        else if (i % 7 == 0) null
        else s"note $i"))
      .toDF("txn_id", "merchant", "amount", "note")
    val banks = Seq(
      (1L, "玉山", true, java.sql.Date.valueOf("2024-01-15"), 99.5),
      (2L, "國泰", false, null.asInstanceOf[java.sql.Date], -3.25))
      .toDF("id", "bank", "flag", "d", "v")
    val nothing = spark.emptyDataFrame.withColumn("a", lit(1)).limit(0)
    val counts = Sqlite.writeTables(p, Seq(
      "bills" -> bills, "banks" -> banks, "nothing" -> nothing),
      // every storage class and a null-carrying column, as in the
      // reference's four CREATE INDEX calls (load_to_db.py:125-128)
      indexes = Seq(
        Sqlite.IndexSpec("idx_merchant", "bills", "merchant"),
        Sqlite.IndexSpec("idx_amount", "bills", "amount"),
        Sqlite.IndexSpec("idx_txn_id", "bills", "txn_id"),
        Sqlite.IndexSpec("idx_note", "bills", "note"),
        Sqlite.IndexSpec("idx_bank", "banks", "bank")))
    assert(counts == Map("bills" -> 5000L, "banks" -> 2L, "nothing" -> 0L))
    assert(realSqliteCheck(p) == "3 tables, 5 indexes OK, integrity ok")
  }

  test("real sqlite3 accepts two interior table levels and a multi-level " +
    "text index") {
    val p = tmp("deep.db")
    // enough leaves for TWO interior levels (fan-out 200)
    val deep = spark.range(1, 40001).select(col("id"),
      concat(lit("row-"), col("id")).as("s"))
    val n = Sqlite.writeTables(p, Seq("deep" -> deep),
      indexes = Seq(Sqlite.IndexSpec("idx_deep_s", "deep", "s")))("deep")
    assert(n == 40000L)
    assert(realSqliteCheck(p) == "1 tables, 1 indexes OK, integrity ok")
  }
}

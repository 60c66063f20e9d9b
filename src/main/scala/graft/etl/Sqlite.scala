package graft.etl

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Dependency-free SQLite 3 database writer — the reference's `Bills.db`
  * sink (`/root/reference/load_to_db.py:113-135`, `df.to_sql(...,
  * if_exists='replace')`) as a drop-in file any existing SQLite consumer
  * opens unchanged.
  *
  * Implements the public file format (sqlite.org/fileformat2): 4096-byte
  * pages, table B-trees bulk-built bottom-up (leaf pages filled in rowid
  * order, interior levels stacked until a single root), record cells with
  * varint serial types, and a `sqlite_master` catalog on page 1. UTF-8
  * text encoding, schema format 1 — readable by every SQLite since 3.0.
  *
  * Secondary indexes ([[IndexSpec]]) build real index b-trees — true
  * B-trees whose interior cells carry entries — sorted in SQLite record
  * order (NULL < numeric < TEXT/BINARY memcmp, rowid tiebreak), matching
  * the reference's `CREATE INDEX` calls (`load_to_db.py:125-128`) so
  * indexed point lookups work unchanged.
  *
  * Scale posture: a single SQLite file is inherently single-node, so this
  * is a driver-streamed COMPATIBILITY EXPORT (`toLocalIterator`, O(pages)
  * bookkeeping, rows never all materialized) for the bounded outputs the
  * reference actually ships to SQLite — refined bills and RFM group
  * tables; an index additionally buffers its (key, rowid) pairs for the
  * sort, the same bound sqlite's own CREATE INDEX pays. Warehouse-scale
  * data stays the `all_transactions` parquet that `Pipeline.run` writes
  * (SURVEY §2.2 K3).
  *
  * Large records spill to real overflow-page chains (spec K-local-bytes
  * split), so arbitrarily long TEXT loads correctly. The one asserted
  * limit: catalog rows (CREATE TABLE statements) must fit page 1.
  */
object Sqlite {

  private val PageSize = 4096
  // File-format constants at usable size U = 4096: payloads over maxLocal
  // spill to an overflow chain, keeping K local bytes where
  // K = minLocal + (P - minLocal) % (U - 4), clamped back to minLocal if
  // that exceeds maxLocal (sqlite.org/fileformat2). Table leaves and index
  // pages have different maxLocal; minLocal is shared.
  private val MaxLeafPayload = PageSize - 35 // 4061
  private val MaxIndexPayload = (PageSize - 12) * 64 / 255 - 23 // 1002
  private val MinPayload = (PageSize - 12) * 32 / 255 - 23 // 489

  // B-tree page-type bytes (file format §1.6)
  private val TableLeaf = 13
  private val TableInterior = 5
  private val IndexLeaf = 10
  private val IndexInterior = 2

  /** A secondary index to build over one written table — the reference's
    * `CREATE INDEX idx ON bills (col)` calls (load_to_db.py:125-128).
    */
  final case class IndexSpec(name: String, table: String, column: String)

  /** Write `tables` into a fresh SQLite database file (replace semantics —
    * the reference's `if_exists='replace'`). Returns rows written per
    * table. Column typing: integral → INTEGER, fractional/decimal → REAL,
    * boolean → INTEGER 0/1, date/timestamp → TEXT (ISO — the reference
    * stringifies dates before loading, load_to_db.py:107-110), everything
    * else → TEXT. NULLs stay NULL.
    */
  def writeTables(path: String, tables: Seq[(String, DataFrame)],
                  indexes: Seq[IndexSpec] = Nil): Map[String, Long] = {
    Files.deleteIfExists(Paths.get(path))
    val raf = new RandomAccessFile(path, "rw")
    try {
      // page 1 reserved for header + sqlite_master; data pages follow
      var nextPage = 2
      val counts = mutable.Map.empty[String, Long]
      // (type, name, tbl_name, rootpage, sql)
      val master = mutable.ArrayBuffer.empty[(String, String, String, Int, String)]

      tables.foreach { case (name, df) =>
        val schema = df.schema
        val leafInfo = mutable.ArrayBuffer.empty[(Int, Long)] // (page, lastRowid)
        var rowid = 0L

        // secondary indexes over this table: buffer (key, rowid) pairs
        // during the single streamed pass. Bounded-export posture: the
        // table rows stream, but an index is a SORT of its keys — the
        // same driver-side bound sqlite's own CREATE INDEX pays.
        val idxsHere = indexes.filter(_.table == name)
        val idxFieldAt = idxsHere.map(ix => schema.fieldIndex(ix.column))
        val idxKeys = idxsHere.map(_ =>
          mutable.ArrayBuffer.empty[(Any, Long)])

        // ---- leaf level: fill pages in rowid order
        val page = new PageBuilder(TableLeaf)
        var lastInPage = 0L // highest rowid actually ADDED to `page`
        def flushLeaf(): Unit = if (page.cells > 0) {
          writePage(raf, nextPage, page.render())
          leafInfo += ((nextPage, lastInPage))
          nextPage += 1
          page.reset()
        }
        val it = df.toLocalIterator()
        while (it.hasNext) {
          rowid += 1
          val row = it.next()
          idxsHere.indices.foreach { j =>
            val i = idxFieldAt(j)
            val key = if (row.isNullAt(i)) null
              else sortableKey(row, i, schema.fields(i).dataType)
            idxKeys(j) += ((key, rowid))
          }
          val rec = record(row, schema)
          val (local, used) =
            localizePayload(raf, rec, MaxLeafPayload, nextPage)
          nextPage += used
          val cell = varint(rec.length.toLong) ++ varint(rowid) ++ local
          if (!page.fits(cell)) flushLeaf()
          page.add(cell)
          lastInPage = rowid
        }
        flushLeaf()
        if (leafInfo.isEmpty) { // empty table: one empty leaf root
          writePage(raf, nextPage, page.render())
          leafInfo += ((nextPage, 0L))
          nextPage += 1
        }

        // ---- interior levels until a single root. Fan-out 200 keeps the
        // 12 + 2n + Σ|cell| bound comfortably under the page (cells are
        // ≤ 13 bytes); the last chunk is never a single child (an interior
        // page with only a right pointer would be structurally degenerate)
        var level = leafInfo.toVector
        while (level.length > 1) {
          val chunks = mutable.ArrayBuffer.empty[Vector[(Int, Long)]]
          var i = 0
          while (i < level.length) {
            var end = math.min(i + 200, level.length)
            if (level.length - end == 1) end -= 1
            chunks += level.slice(i, end)
            i = end
          }
          level = chunks.toVector.map { children =>
            val ip = new PageBuilder(TableInterior)
            children.init.foreach { case (child, maxKey) =>
              ip.add(interiorCell(child, maxKey))
            }
            ip.rightMost = children.last._1
            writePage(raf, nextPage, ip.render())
            nextPage += 1
            (nextPage - 1, children.last._2)
          }
        }
        val root = level.head._1
        counts(name) = rowid
        master += (("table", name, name, root, createSql(name, schema)))

        // ---- index b-trees: sort entries by SQLite record order (key
        // per storage class, rowid tiebreak via stable sort), bulk-build
        idxsHere.zipWithIndex.foreach { case (ix, j) =>
          val sorted = idxKeys(j).sortWith((a, b) => keyCompare(a._1, b._1) < 0)
          val payloads = sorted.iterator.map { case (k, rid) =>
            indexRecord(k, rid)
          }
          val (idxRoot, np) = buildIndexBtree(raf, payloads, nextPage)
          nextPage = np
          master += (("index", ix.name, name, idxRoot,
            s"""CREATE INDEX "${ix.name}" ON "$name" ("${ix.column}")"""))
        }
      }

      // ---- page 1: header + sqlite_master leaf
      val masterPage = new PageBuilder(TableLeaf, headerOffset = 100)
      master.zipWithIndex.foreach {
        case ((entryType, name, tblName, root, sql), i) =>
          val rec = masterRecord(entryType, name, tblName, root, sql)
          val cell = leafCell(i + 1L, rec)
          require(masterPage.fits(cell),
            s"sqlite_master overflow: too many/large tables for page 1")
          masterPage.add(cell)
      }
      val totalPages = nextPage - 1
      val page1 = ByteBuffer.allocate(PageSize)
      page1.put(fileHeader(totalPages))
      page1.put(masterPage.render(), 100, PageSize - 100)
      writePage(raf, 1, page1.array())
      counts.toMap
    } finally raf.close()
  }

  /** Single-table convenience — the `df.to_sql(TABLE_NAME, conn,
    * if_exists='replace')` shape.
    */
  def writeTable(path: String, table: String, df: DataFrame): Long =
    writeTables(path, Seq(table -> df))(table)

  // ------------------------------------------------------------ building

  /** One B-tree page under construction. Cells pack from the tail; the
    * pointer array grows from the head — `fits` is the spec's free-space
    * rule, no fragmentation (bulk build never deletes).
    */
  private final class PageBuilder(pageType: Int, headerOffset: Int = 0) {
    private val leaf = pageType == TableLeaf || pageType == IndexLeaf
    private val headerSize = if (leaf) 8 else 12
    private val buf = mutable.ArrayBuffer.empty[Array[Byte]]
    private var cellBytes = 0
    var rightMost = 0 // interior pages only
    def cells: Int = buf.length
    def fitsBytes(n: Int): Boolean =
      headerOffset + headerSize + 2 * (buf.length + 1) +
        cellBytes + n <= PageSize
    def fits(cell: Array[Byte]): Boolean = fitsBytes(cell.length)
    def add(cell: Array[Byte]): Unit = { buf += cell; cellBytes += cell.length }
    def reset(): Unit = { buf.clear(); cellBytes = 0; rightMost = 0 }

    /** Render WITHOUT the headerOffset prefix zeroed region — callers at
      * offset 0 use the array as the whole page; page 1 copies from
      * offset 100.
      */
    def render(): Array[Byte] = {
      val page = ByteBuffer.allocate(PageSize)
      val contentStart = {
        var off = PageSize
        buf.foreach(c => off -= c.length)
        off
      }
      page.position(headerOffset)
      page.put(pageType.toByte)
      page.putShort(0) // no freeblocks
      page.putShort(buf.length.toShort)
      page.putShort((contentStart & 0xffff).toShort)
      page.put(0.toByte) // fragmented bytes
      if (!leaf) page.putInt(rightMost)
      var off = contentStart
      buf.foreach { c =>
        page.putShort(off.toShort)
        off += c.length
      }
      var w = contentStart
      buf.foreach { c =>
        page.position(w)
        page.put(c)
        w += c.length
      }
      page.array()
    }
  }

  private def writePage(raf: RandomAccessFile, pageNo: Int,
                        bytes: Array[Byte]): Unit = {
    raf.seek((pageNo - 1).toLong * PageSize)
    raf.write(bytes)
  }

  private def leafCell(rowid: Long, rec: Array[Byte]): Array[Byte] = {
    require(rec.length <= MaxLeafPayload,
      s"record of ${rec.length} bytes exceeds the single-cell limit " +
        s"($MaxLeafPayload); the caller must spill payloads over the limit " +
        "to an overflow chain (as writeTables does) before building the cell")
    varint(rec.length.toLong) ++ varint(rowid) ++ rec
  }

  private def interiorCell(child: Int, key: Long): Array[Byte] =
    ByteBuffer.allocate(4).putInt(child).array() ++ varint(key)

  // ------------------------------------------------------------ overflow

  private def localK(p: Int, maxLocal: Int): Int = {
    val cand = MinPayload + (p - MinPayload) % (PageSize - 4)
    if (cand <= maxLocal) cand else MinPayload
  }

  /** In-cell payload footprint: the payload itself when local, else the
    * K local bytes plus the 4-byte overflow pointer. Lets placement be
    * DECIDED before any overflow page is written (an entry that moves up
    * a level must not leave an orphaned chain behind — integrity_check
    * reports never-used pages).
    */
  private def localSize(p: Int, maxLocal: Int): Int =
    if (p <= maxLocal) p else localK(p, maxLocal) + 4

  /** payload → (in-cell bytes, overflow pages consumed): the whole
    * payload when it fits locally, else the K-byte local prefix + 4-byte
    * pointer to a fresh chain written starting at `firstPage` (4-byte
    * next-page + data per page, spec K-local-bytes split).
    */
  private def localizePayload(raf: RandomAccessFile, payload: Array[Byte],
                              maxLocal: Int, firstPage: Int)
      : (Array[Byte], Int) =
    if (payload.length <= maxLocal) (payload, 0)
    else {
      val k = localK(payload.length, maxLocal)
      val tail = java.util.Arrays.copyOfRange(payload, k, payload.length)
      val perPage = PageSize - 4
      val nPages = (tail.length + perPage - 1) / perPage
      (0 until nPages).foreach { i =>
        val pageBuf = ByteBuffer.allocate(PageSize)
        pageBuf.putInt(if (i == nPages - 1) 0 else firstPage + i + 1)
        pageBuf.put(tail, i * perPage,
          math.min(perPage, tail.length - i * perPage))
        writePage(raf, firstPage + i, pageBuf.array())
      }
      (java.util.Arrays.copyOfRange(payload, 0, k) ++
        ByteBuffer.allocate(4).putInt(firstPage).array(), nPages)
    }

  // ------------------------------------------------------------ indexes

  /** Typed sort key mirroring [[record]]'s storage classes: integral and
    * boolean → Long (INTEGER), fractional → Double (REAL), everything
    * else → the UTF-8 bytes the TEXT column will carry.
    */
  private def sortableKey(row: Row, i: Int, dt: DataType): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      row.get(i) match {
        case b: Byte => b.toLong
        case s: Short => s.toLong
        case n: Int => n.toLong
        case l: Long => l
      }
    case BooleanType => if (row.getBoolean(i)) 1L else 0L
    case FloatType | DoubleType | _: DecimalType =>
      row.get(i) match {
        case fl: Float => fl.toDouble
        case d: Double => d
        case dec: java.math.BigDecimal => dec.doubleValue()
      }
    case _ => row.get(i).toString.getBytes(StandardCharsets.UTF_8)
  }

  /** SQLite key order for single-column index entries: NULL first, then
    * INTEGER/REAL compared numerically across classes, then TEXT under
    * the default BINARY collation (unsigned memcmp of the UTF-8 bytes).
    * Rowid ties are preserved by the caller's stable sort.
    */
  private def keyCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
    case (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y)
    case (_: Long | _: Double, _) => -1 // numeric before text
    case (_, _: Long | _: Double) => 1
    case _ => 0
  }

  /** Index entry record: the key column followed by the rowid as a plain
    * integer column (index b-trees have no rowid field of their own).
    */
  private def indexRecord(key: Any, rowid: Long): Array[Byte] = {
    val serials = mutable.ArrayBuffer.empty[Array[Byte]]
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]
    key match {
      case null => serials += varint(0L)
      case l: Long =>
        val (st, b) = encodeInt(l)
        serials += varint(st); bodies += b
      case d: Double =>
        serials += varint(7L)
        bodies += ByteBuffer.allocate(8).putDouble(d).array()
      case b: Array[Byte] =>
        serials += varint(13L + 2L * b.length); bodies += b
      case other => throw new IllegalArgumentException(
        s"unsupported index key ${other.getClass}")
    }
    val (st, b) = encodeInt(rowid)
    serials += varint(st); bodies += b
    assemble(serials, bodies)
  }

  /** Bulk-build an index b-tree from payload records pre-sorted in key
    * order; returns (rootPage, nextFreePage).
    *
    * Index b-trees are true B-trees, not B+-trees: interior cells CARRY
    * entries, each entry living exactly once in the whole tree. So the
    * bulk load fills a leaf until the next entry no longer fits, and that
    * entry moves UP as the separator between this leaf and the next —
    * recursively at every level.
    */
  private def buildIndexBtree(raf: RandomAccessFile,
                              payloads: Iterator[Array[Byte]],
                              firstFreePage: Int): (Int, Int) = {
    var nextPage = firstFreePage

    def leafCellOf(p: Array[Byte]): Array[Byte] = {
      val (local, used) = localizePayload(raf, p, MaxIndexPayload, nextPage)
      nextPage += used
      varint(p.length.toLong) ++ local
    }
    def leafCellSize(p: Array[Byte]): Int =
      varint(p.length.toLong).length + localSize(p.length, MaxIndexPayload)

    // ---- leaf level. `dangling` holds an entry that closed a page and
    // becomes the up-separator IF another entry follows; if the stream
    // ends first it becomes a final one-entry leaf instead (a separator
    // needs a right sibling).
    var pages = Vector.empty[Int]
    var seps = Vector.empty[Array[Byte]]
    val pb = new PageBuilder(IndexLeaf)
    var dangling: Option[Array[Byte]] = None
    def flushLeafPage(): Unit = {
      writePage(raf, nextPage, pb.render())
      pages :+= nextPage
      nextPage += 1
      pb.reset()
    }
    payloads.foreach { p =>
      dangling.foreach { d => seps :+= d; dangling = None }
      if (pb.cells > 0 && !pb.fitsBytes(leafCellSize(p))) {
        flushLeafPage()
        dangling = Some(p)
      } else pb.add(leafCellOf(p))
    }
    dangling match {
      case Some(d) => pb.add(leafCellOf(d)); flushLeafPage()
      case None => if (pb.cells > 0 || pages.isEmpty) flushLeafPage()
    }

    // ---- interior levels. Cell i pairs (child i, separator i); a page
    // covering children a..b materializes cells a..b-1 with rightmost
    // child b, and separator b moves up. Boundaries are PLANNED from cell
    // sizes first so overflow chains are written exactly once, then a
    // boundary landing on the last cell is shifted left (it would leave
    // the final page with only a right pointer — structurally degenerate).
    while (pages.length > 1) {
      val children = pages
      val ss = seps
      val m = ss.length // == children.length - 1 cells at this level
      val boundaries = mutable.ArrayBuffer.empty[Int]
      var used = 0
      var cellsInPage = 0
      var i = 0
      while (i < m) {
        val sz = 4 + varint(ss(i).length.toLong).length +
          localSize(ss(i).length, MaxIndexPayload) + 2 // +2 pointer slot
        if (cellsInPage > 0 && used + sz > PageSize - 12) {
          boundaries += i
          used = 0
          cellsInPage = 0
        } else {
          used += sz
          cellsInPage += 1
        }
        i += 1
      }
      if (boundaries.nonEmpty && boundaries.last == m - 1) {
        require(boundaries.length < 2 || boundaries(boundaries.length - 2)
          < m - 2, "index interior boundary collision")
        boundaries(boundaries.length - 1) = m - 2
      }
      val bset = boundaries.toSet
      val newPages = Vector.newBuilder[Int]
      val newSeps = Vector.newBuilder[Array[Byte]]
      val ip = new PageBuilder(IndexInterior)
      def flushInterior(rightMost: Int): Unit = {
        ip.rightMost = rightMost
        writePage(raf, nextPage, ip.render())
        newPages += nextPage
        nextPage += 1
        ip.reset()
      }
      var j = 0
      while (j < m) {
        if (bset(j)) {
          flushInterior(children(j))
          newSeps += ss(j)
        } else {
          val (local, usedPages) =
            localizePayload(raf, ss(j), MaxIndexPayload, nextPage)
          nextPage += usedPages
          ip.add(ByteBuffer.allocate(4).putInt(children(j)).array() ++
            varint(ss(j).length.toLong) ++ local)
        }
        j += 1
      }
      flushInterior(children.last)
      pages = newPages.result()
      seps = newSeps.result()
    }
    (pages.head, nextPage)
  }

  // ------------------------------------------------------------ records

  /** SQLite record: varint header (serial types) + big-endian body. */
  private def record(row: Row, schema: StructType): Array[Byte] = {
    val serials = mutable.ArrayBuffer.empty[Array[Byte]]
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) serials += varint(0L)
      else f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val v = row.get(i) match {
            case b: Byte => b.toLong
            case s: Short => s.toLong
            case n: Int => n.toLong
            case l: Long => l
          }
          val (st, body) = encodeInt(v)
          serials += varint(st)
          bodies += body
        case BooleanType =>
          val (st, body) = encodeInt(if (row.getBoolean(i)) 1L else 0L)
          serials += varint(st)
          bodies += body
        case FloatType | DoubleType | _: DecimalType =>
          val d = row.get(i) match {
            case fl: Float => fl.toDouble
            case d: Double => d
            case dec: java.math.BigDecimal => dec.doubleValue()
          }
          serials += varint(7L)
          bodies += ByteBuffer.allocate(8).putDouble(d).array()
        case _ => // TEXT: strings, dates, timestamps, anything else
          val s = row.get(i).toString
          val b = s.getBytes(StandardCharsets.UTF_8)
          serials += varint(13L + 2L * b.length)
          bodies += b
      }
    }
    assemble(serials, bodies)
  }

  private def masterRecord(entryType: String, name: String, tblName: String,
                           root: Int, sql: String): Array[Byte] = {
    val serials = mutable.ArrayBuffer.empty[Array[Byte]]
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]
    def text(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      serials += varint(13L + 2L * b.length)
      bodies += b
    }
    text(entryType); text(name); text(tblName)
    val (st, body) = encodeInt(root.toLong)
    serials += varint(st)
    bodies += body
    text(sql)
    assemble(serials, bodies)
  }

  private def assemble(serials: mutable.ArrayBuffer[Array[Byte]],
                       bodies: mutable.ArrayBuffer[Array[Byte]])
      : Array[Byte] = {
    val serialLen = serials.map(_.length).sum
    // the header-size varint includes its own length — iterate to the
    // fixpoint (monotone, converges in ≤ 2 rounds at cell-size limits)
    var total = serialLen + 1
    var stable = false
    while (!stable) {
      val t = serialLen + varint(total.toLong).length
      if (t == total) stable = true else total = t
    }
    val hdrVar = varint(total.toLong)
    val out = ByteBuffer.allocate(
      hdrVar.length + serialLen + bodies.map(_.length).sum)
    out.put(hdrVar)
    serials.foreach(out.put)
    bodies.foreach(out.put)
    out.array()
  }

  /** Smallest SQLite integer serial type holding `v`. */
  private def encodeInt(v: Long): (Long, Array[Byte]) = {
    def be(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var x = v
      var i = n - 1
      while (i >= 0) { b(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
      b
    }
    if (v >= Byte.MinValue && v <= Byte.MaxValue) (1L, be(1))
    else if (v >= Short.MinValue && v <= Short.MaxValue) (2L, be(2))
    else if (v >= -(1L << 23) && v < (1L << 23)) (3L, be(3))
    else if (v >= Int.MinValue && v <= Int.MaxValue) (4L, be(4))
    else if (v >= -(1L << 47) && v < (1L << 47)) (5L, be(6))
    else (6L, be(8))
  }

  /** SQLite varint: 1-9 bytes, high bit = continuation, big-endian 7-bit
    * groups (9th byte carries 8 bits — not needed for non-negative page
    * counts/rowids under 2^56, which is all we emit).
    */
  private def varint(v: Long): Array[Byte] = {
    require(v >= 0, s"negative varint $v")
    if (v < 128) Array(v.toByte)
    else {
      val groups = mutable.ArrayBuffer.empty[Byte]
      var x = v
      while (x > 0) { groups += (x & 0x7f).toByte; x >>= 7 }
      val out = groups.reverse.toArray
      (0 until out.length - 1).foreach(i =>
        out(i) = (out(i) | 0x80).toByte)
      out
    }
  }

  private def sqlType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType =>
      "INTEGER"
    case FloatType | DoubleType | _: DecimalType => "REAL"
    case _ => "TEXT"
  }

  private def createSql(name: String, schema: StructType): String =
    schema.fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""")
      .mkString(s"""CREATE TABLE "$name" (""", ", ", ")")

  // ------------------------------------------------------------ reader

  /** Dependency-free SQLite READER — the write path's inverse, built from
    * the same public file format (sqlite.org/fileformat2).
    *
    * Purpose: prove the files this sink writes are genuinely NAVIGABLE —
    * a point lookup descends the index b-tree exactly as sqlite3 would
    * (interior separators prune subtrees, carried entries hit, rowids
    * resolve through the table b-tree), so an index whose ordering or
    * interior cells were wrong fails loudly here, not in a consumer's
    * sqlite3. Driver-side, whole-file reads — a verification/debug tool
    * for the bounded compatibility exports this sink produces, not a
    * distributed source (warehouse-scale reads stay parquet).
    */
  object Reader {

    /** Decoded cell value: null, java.lang.Long, java.lang.Double, or
      * String (TEXT); BLOBs come back as Array[Byte].
      */
    def masterRows(path: String): Seq[(String, String, String, Long, String)] = {
      val db = Files.readAllBytes(Paths.get(path))
      tableScan(db, 1).map { case (_, vals) =>
        (vals(0).asInstanceOf[String], vals(1).asInstanceOf[String],
          vals(2).asInstanceOf[String], vals(3).asInstanceOf[Long],
          vals(4).asInstanceOf[String])
      }
    }

    /** All (rowid, values) of `table`, in rowid order. */
    def tableRows(path: String, table: String): Seq[(Long, Seq[Any])] = {
      val db = Files.readAllBytes(Paths.get(path))
      tableScan(db, rootOf(db, "table", table).toInt)
    }

    /** Point lookup THROUGH a secondary index: descend the index b-tree
      * for `key` (equality; duplicates all returned), then resolve each
      * matching rowid through the table b-tree. Key types: String,
      * Long/Int, Double, or null.
      */
    def indexPointLookup(path: String, index: String, key: Any)
        : Seq[(Long, Seq[Any])] = {
      val db = Files.readAllBytes(Paths.get(path))
      val masters = tableScan(db, 1)
      val idxRow = masters.find(r =>
        r._2(0) == "index" && r._2(1) == index).getOrElse(
        throw new IllegalArgumentException(s"no index '$index' in $path"))
      val tbl = idxRow._2(2).asInstanceOf[String]
      val tblRoot = masters.find(r =>
        r._2(0) == "table" && r._2(1) == tbl).get._2(3).asInstanceOf[Long]
      val k = key match {
        case null => null
        case i: Int => i.toLong
        case l: Long => l
        case d: Double => d
        case s: String => s.getBytes(StandardCharsets.UTF_8)
        case b: Array[Byte] => b
        case other => throw new IllegalArgumentException(
          s"unsupported lookup key ${other.getClass}")
      }
      indexSearch(db, idxRow._2(3).asInstanceOf[Long].toInt, k)
        .map(rid => rid -> rowidLookup(db, tblRoot.toInt, rid).getOrElse(
          throw new IllegalStateException(
            s"index '$index' points at rowid $rid absent from '$tbl'")))
    }

    private def rootOf(db: Array[Byte], entryType: String,
                       name: String): Long =
      tableScan(db, 1).find(r =>
        r._2(0) == entryType && r._2(1) == name).map(
        _._2(3).asInstanceOf[Long]).getOrElse(
        throw new IllegalArgumentException(s"no $entryType '$name'"))

    private def pageOff(page: Int): Int = (page - 1) * PageSize

    // (pageType, cellOffsets) — absolute offsets of each cell's start
    private def pageCells(db: Array[Byte], page: Int): (Int, Seq[Int], Int) = {
      val base = pageOff(page)
      val hdr = base + (if (page == 1) 100 else 0)
      val tpe = db(hdr) & 0xff
      val nCells = ((db(hdr + 3) & 0xff) << 8) | (db(hdr + 4) & 0xff)
      val ptrArray = hdr + (if (tpe == TableLeaf || tpe == IndexLeaf) 8
                            else 12)
      val offs = (0 until nCells).map { i =>
        base + (((db(ptrArray + 2 * i) & 0xff) << 8) |
          (db(ptrArray + 2 * i + 1) & 0xff))
      }
      val rightMost =
        if (tpe == TableInterior || tpe == IndexInterior)
          beInt(db, hdr + 8)
        else 0
      (tpe, offs, rightMost)
    }

    private def beInt(db: Array[Byte], off: Int): Int =
      ((db(off) & 0xff) << 24) | ((db(off + 1) & 0xff) << 16) |
        ((db(off + 2) & 0xff) << 8) | (db(off + 3) & 0xff)

    // varint at off → (value, bytesUsed); 9-byte form not emitted by the
    // writer but handled for completeness
    private def readVarint(db: Array[Byte], off: Int): (Long, Int) = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = db(off + i) & 0xff
        v = (v << 7) | (b & 0x7f)
        i += 1
        if ((b & 0x80) == 0) return (v, i)
      }
      ((v << 8) | (db(off + 8) & 0xff), 9)
    }

    /** Payload bytes of a cell whose (payloadLen varint already read);
      * follows the overflow chain when the payload exceeds maxLocal.
      */
    private def payload(db: Array[Byte], off: Int, len: Int,
                        maxLocal: Int): Array[Byte] =
      if (len <= maxLocal)
        java.util.Arrays.copyOfRange(db, off, off + len)
      else {
        val k = localK(len, maxLocal)
        val out = new Array[Byte](len)
        System.arraycopy(db, off, out, 0, k)
        var written = k
        var next = beInt(db, off + k)
        while (next != 0 && written < len) {
          val pbase = pageOff(next)
          next = beInt(db, pbase)
          val take = math.min(PageSize - 4, len - written)
          System.arraycopy(db, pbase + 4, out, written, take)
          written += take
        }
        require(written == len, s"overflow chain truncated at $written/$len")
        out
      }

    /** Decode a record payload → column values. */
    private def decodeRecord(rec: Array[Byte]): Seq[Any] = {
      val (hdrLen, h0) = readVarint(rec, 0)
      var sOff = h0
      val serials = mutable.ArrayBuffer.empty[Long]
      while (sOff < hdrLen) {
        val (st, n) = readVarint(rec, sOff)
        serials += st
        sOff += n
      }
      var bOff = hdrLen.toInt
      serials.toSeq.map { st =>
        def beLong(n: Int): Long = {
          var v = if ((rec(bOff) & 0x80) != 0) -1L else 0L
          (0 until n).foreach(i => v = (v << 8) | (rec(bOff + i) & 0xff))
          bOff += n
          v
        }
        st match {
          case 0L => null
          case 1L => beLong(1): java.lang.Long
          case 2L => beLong(2): java.lang.Long
          case 3L => beLong(3): java.lang.Long
          case 4L => beLong(4): java.lang.Long
          case 5L => beLong(6): java.lang.Long
          case 6L => beLong(8): java.lang.Long
          case 7L =>
            java.lang.Double.longBitsToDouble(beLong(8)): java.lang.Double
          case 8L => 0L: java.lang.Long
          case 9L => 1L: java.lang.Long
          case t if t >= 13 && t % 2 == 1 =>
            val n = ((t - 13) / 2).toInt
            val s = new String(rec, bOff, n, StandardCharsets.UTF_8)
            bOff += n
            s
          case t if t >= 12 =>
            val n = ((t - 12) / 2).toInt
            val b = java.util.Arrays.copyOfRange(rec, bOff, bOff + n)
            bOff += n
            b
          case t => throw new IllegalStateException(s"serial type $t")
        }
      }
    }

    /** In-order scan of a TABLE b-tree → (rowid, values). */
    private def tableScan(db: Array[Byte], root: Int)
        : Seq[(Long, Seq[Any])] = {
      val (tpe, cells, rightMost) = pageCells(db, root)
      tpe match {
        case TableLeaf =>
          cells.map { c =>
            val (pLen, n1) = readVarint(db, c)
            val (rowid, n2) = readVarint(db, c + n1)
            rowid -> decodeRecord(
              payload(db, c + n1 + n2, pLen.toInt, MaxLeafPayload))
          }
        case TableInterior =>
          cells.flatMap(c => tableScan(db, beInt(db, c))) ++
            tableScan(db, rightMost)
        case t => throw new IllegalStateException(s"table page type $t")
      }
    }

    /** Rowid point lookup: interior cells carry (child, maxRowidInChild),
      * so descend into the first child whose key covers the rowid.
      */
    private def rowidLookup(db: Array[Byte], root: Int,
                            rowid: Long): Option[Seq[Any]] = {
      val (tpe, cells, rightMost) = pageCells(db, root)
      tpe match {
        case TableLeaf =>
          cells.iterator.map { c =>
            val (pLen, n1) = readVarint(db, c)
            val (rid, n2) = readVarint(db, c + n1)
            (rid, c + n1 + n2, pLen.toInt)
          }.find(_._1 == rowid).map { case (_, off, len) =>
            decodeRecord(payload(db, off, len, MaxLeafPayload))
          }
        case TableInterior =>
          val child = cells.iterator.map { c =>
            (beInt(db, c), readVarint(db, c + 4)._1)
          }.find(_._2 >= rowid).map(_._1).getOrElse(rightMost)
          rowidLookup(db, child, rowid)
        case t => throw new IllegalStateException(s"table page type $t")
      }
    }

    // index entry at cell offset → (keyValue, rowid)
    private def indexEntry(db: Array[Byte], c: Int): (Any, Long) = {
      val (pLen, n1) = readVarint(db, c)
      val vals = decodeRecord(payload(db, c + n1, pLen.toInt,
        MaxIndexPayload))
      val k = vals(0) match {
        case s: String => s.getBytes(StandardCharsets.UTF_8)
        case other => other
      }
      (k, vals(1).asInstanceOf[Long])
    }

    private def cmpKey(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) =>
        java.lang.Long.compare(x, y)
      case (x: java.lang.Long, y: java.lang.Double) =>
        java.lang.Double.compare(x.toDouble, y)
      case (x: java.lang.Double, y: java.lang.Long) =>
        java.lang.Double.compare(x, y.toDouble)
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.compare(x, y)
      case other => keyCompare(
        other._1 match { case l: java.lang.Long => l.longValue
                         case d: java.lang.Double => d.doubleValue
                         case x => x },
        other._2 match { case l: java.lang.Long => l.longValue
                         case d: java.lang.Double => d.doubleValue
                         case x => x })
    }

    /** Equality search down an INDEX b-tree. True B-tree descent:
      * separators prune (children strictly after a separator > key are
      * never visited), carried interior entries are themselves hits.
      */
    private def indexSearch(db: Array[Byte], root: Int,
                            key: Any): Seq[Long] = {
      val (tpe, cells, rightMost) = pageCells(db, root)
      tpe match {
        case IndexLeaf =>
          cells.flatMap { c =>
            val (k, rid) = indexEntry(db, c)
            if (cmpKey(k, key) == 0) Some(rid) else None
          }
        case IndexInterior =>
          val out = mutable.ArrayBuffer.empty[Long]
          var pruned = false
          var i = 0
          while (i < cells.length && !pruned) {
            val c = cells(i)
            val child = beInt(db, c)
            val (k, rid) = indexEntry(db, c + 4)
            val cmp = cmpKey(key, k)
            if (cmp <= 0) out ++= indexSearch(db, child, key)
            if (cmp == 0) out += rid
            if (cmp < 0) pruned = true
            i += 1
          }
          if (!pruned) out ++= indexSearch(db, rightMost, key)
          out.toSeq
        case t => throw new IllegalStateException(s"index page type $t")
      }
    }
  }

  private def fileHeader(totalPages: Int): Array[Byte] = {
    val h = ByteBuffer.allocate(100)
    h.put("SQLite format 3\u0000".getBytes(StandardCharsets.US_ASCII))
    h.putShort(PageSize.toShort) // 4096
    h.put(1.toByte).put(1.toByte) // write/read version: legacy journal
    h.put(0.toByte) // reserved bytes per page
    h.put(64.toByte).put(32.toByte).put(32.toByte) // payload fractions
    h.putInt(1) // file change counter
    h.putInt(totalPages)
    h.putInt(0).putInt(0) // freelist: none
    h.putInt(1) // schema cookie
    h.putInt(1) // schema format 1 (max compatibility)
    h.putInt(0) // default cache size
    h.putInt(0) // largest root page (no vacuum)
    h.putInt(1) // text encoding: UTF-8
    h.putInt(0).putInt(0).putInt(0) // user version, inc-vacuum, app id
    h.position(92)
    h.putInt(1) // version-valid-for
    h.putInt(3045000) // sqlite version number
    h.array()
  }
}

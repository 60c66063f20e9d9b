package graft.etl

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Dependency-free legacy BIFF8 `.xls` source (SURVEY §2.1 S5).
  *
  * The reference's file routing accepts `.xls` alongside `.xlsx`
  * (/root/reference/etl.py:463-482, regex at 467) and reads it with the
  * same `pd.read_excel` call (etl.py:311-316) — pandas dispatches to xlrd
  * for the legacy container. This is the one reference input the engine
  * used to reject; this reader closes that gap with the same public-spec
  * parsing xlrd does:
  *
  *  - [[Cfb]]: the OLE2 Compound File Binary container ([MS-CFB]) —
  *    header, DIFAT → FAT, directory tree, and the miniFAT/ministream
  *    path small workbook streams actually live in.
  *  - [[Xls.readSheets]]: the `Workbook` stream as BIFF8 records
  *    ([MS-XLS]): BOUNDSHEET sheet offsets, the shared-string table with
  *    its CONTINUE-split encoding (the flag byte restates itself at every
  *    split inside character data), XF/FORMAT date-format detection,
  *    DATEMODE 1904 handling, and the cell records NUMBER / RK / MULRK /
  *    LABELSST / LABEL / BOOLERR / FORMULA(+STRING).
  *
  * Output is the exact [[Xlsx.Sheet]] contract (all-string cells, date
  * serials rendered ISO), so `Xlsx.readSheets`/`firstSheet` dispatch
  * on the OLE2 magic and every downstream consumer is container-agnostic.
  * Like the XLSX path, statement files are KB-sized monthly exports: the
  * decode is driver-side, the parsed body becomes a DataFrame, and
  * everything after is distributed Spark.
  *
  * [[Xls.writeFirstSheet]] is a test-grade BIFF8+CFB writer (fixtures /
  * round-trip specs only — the reference never writes `.xls` either).
  */
object Xls {

  // =========================================================== CFB layer

  /** [MS-CFB] compound-file reader — just enough structure to pull named
    * streams out of a legacy Office file: DIFAT → FAT → sector chains,
    * directory entries, and the ministream for streams under the 4096-byte
    * cutoff.
    */
  private[etl] object Cfb {
    private val EndOfChain = 0xfffffffe
    private val FreeSect = 0xffffffff

    final case class Entry(name: String, objType: Int, startSector: Int,
                           size: Long)

    def streams(data: Array[Byte]): Map[String, Array[Byte]] = {
      val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
      require(data.length >= 512, "not a compound file: too short")
      val sectorShift = bb.getShort(30).toInt
      val miniShift = bb.getShort(32).toInt
      require(sectorShift >= 7 && sectorShift <= 12 &&
        miniShift >= 4 && miniShift <= sectorShift,
        s"implausible sector shifts $sectorShift/$miniShift")
      val sectorSize = 1 << sectorShift
      val miniSize = 1 << miniShift
      val numFat = bb.getInt(44)
      val firstDir = bb.getInt(48)
      val miniCutoff = bb.getInt(56)
      val firstMiniFat = bb.getInt(60)
      val numMiniFat = bb.getInt(64)
      val firstDifat = bb.getInt(68)
      val numDifat = bb.getInt(72)

      def sectorAt(id: Int): Int = (id + 1) * sectorSize
      def readSector(id: Int): Array[Byte] = {
        val off = sectorAt(id)
        require(off >= 0 && off + sectorSize <= data.length,
          s"sector $id out of file")
        java.util.Arrays.copyOfRange(data, off, off + sectorSize)
      }

      // DIFAT: 109 header entries + chained DIFAT sectors
      val fatSectorIds = {
        val ids = mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < 109) {
          val v = bb.getInt(76 + i * 4)
          if (v != FreeSect && v != EndOfChain) ids += v
          i += 1
        }
        var difat = firstDifat
        var hops = 0
        while (difat != EndOfChain && difat != FreeSect &&
               hops <= numDifat + 1) {
          val sec = readSector(difat)
          val sbb = ByteBuffer.wrap(sec).order(ByteOrder.LITTLE_ENDIAN)
          var j = 0
          while (j < sectorSize / 4 - 1) {
            val v = sbb.getInt(j * 4)
            if (v != FreeSect && v != EndOfChain) ids += v
            j += 1
          }
          difat = sbb.getInt(sectorSize - 4)
          hops += 1
        }
        ids.toVector
      }

      val fat: Array[Int] = {
        val out = mutable.ArrayBuffer.empty[Int]
        fatSectorIds.foreach { id =>
          val sec = readSector(id)
          val sbb = ByteBuffer.wrap(sec).order(ByteOrder.LITTLE_ENDIAN)
          (0 until sectorSize / 4).foreach(j => out += sbb.getInt(j * 4))
        }
        out.toArray
      }

      def chain(start: Int): Vector[Int] = {
        val out = Vector.newBuilder[Int]
        var cur = start
        var hops = 0
        while (cur != EndOfChain && cur != FreeSect) {
          require(cur >= 0 && cur < fat.length, s"FAT chain escapes: $cur")
          require(hops <= fat.length, "FAT chain loops")
          out += cur
          cur = fat(cur)
          hops += 1
        }
        out.result()
      }

      def readChain(start: Int, size: Long): Array[Byte] = {
        val sectors = chain(start)
        val buf = new Array[Byte](sectors.length * sectorSize)
        sectors.zipWithIndex.foreach { case (id, i) =>
          System.arraycopy(readSector(id), 0, buf, i * sectorSize, sectorSize)
        }
        if (size >= 0 && size < buf.length)
          java.util.Arrays.copyOfRange(buf, 0, size.toInt)
        else buf
      }

      // Directory entries: 128 bytes each across the directory chain
      val dirBytes = readChain(firstDir, -1)
      val entries = (0 until dirBytes.length / 128).flatMap { i =>
        val ebb = ByteBuffer.wrap(dirBytes, i * 128, 128)
          .order(ByteOrder.LITTLE_ENDIAN)
        val nameLen = ebb.getShort(i * 128 + 64).toInt
        val objType = dirBytes(i * 128 + 66).toInt
        if (nameLen < 2 || objType == 0) None
        else {
          val name = new String(dirBytes, i * 128, nameLen - 2,
            StandardCharsets.UTF_16LE)
          val start = ebb.getInt(i * 128 + 116)
          val size = ebb.getLong(i * 128 + 120)
          Some(Entry(name, objType, start, size))
        }
      }

      // The ministream is the ROOT entry's chain in the regular FAT;
      // miniFAT maps minisector ids within it.
      val root = entries.find(_.objType == 5)
      lazy val miniStream = root.map(r => readChain(r.startSector, r.size))
        .getOrElse(Array.emptyByteArray)
      lazy val miniFat: Array[Int] =
        if (firstMiniFat == EndOfChain || firstMiniFat == FreeSect ||
            numMiniFat == 0) Array.emptyIntArray
        else {
          val raw = readChain(firstMiniFat, -1)
          val mbb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
          Array.tabulate(raw.length / 4)(j => mbb.getInt(j * 4))
        }

      def readMiniChain(start: Int, size: Long): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        var cur = start
        var hops = 0
        while (cur != EndOfChain && cur != FreeSect) {
          require(cur >= 0 && cur < miniFat.length,
            s"miniFAT chain escapes: $cur")
          require(hops <= miniFat.length, "miniFAT chain loops")
          val off = cur * miniSize
          require(off + miniSize <= miniStream.length,
            s"minisector $cur out of ministream")
          out.write(miniStream, off, miniSize)
          cur = miniFat(cur)
          hops += 1
        }
        val buf = out.toByteArray
        if (size < buf.length) java.util.Arrays.copyOfRange(buf, 0, size.toInt)
        else buf
      }

      entries.collect {
        case e if e.objType == 2 =>
          val body =
            if (e.size < miniCutoff) readMiniChain(e.startSector, e.size)
            else readChain(e.startSector, e.size)
          e.name -> body
      }.toMap
    }
  }

  // ========================================================== BIFF layer

  // record ids
  private val RecBof = 0x0809
  private val RecEof = 0x000a
  private val RecBoundSheet = 0x0085
  private val RecSst = 0x00fc
  private val RecContinue = 0x003c
  private val RecXf = 0x00e0
  private val RecFormat = 0x041e
  private val RecDateMode = 0x0022
  private val RecNumber = 0x0203
  private val RecRk = 0x027e
  private val RecMulRk = 0x00bd
  private val RecLabelSst = 0x00fd
  private val RecLabel = 0x0204
  private val RecBoolErr = 0x0205
  private val RecFormula = 0x0006
  private val RecString = 0x0207

  private final case class Rec(id: Int, data: Array[Byte], end: Int)

  private def recordAt(s: Array[Byte], pos: Int): Rec = {
    require(pos + 4 <= s.length, "truncated BIFF record header")
    val bb = ByteBuffer.wrap(s).order(ByteOrder.LITTLE_ENDIAN)
    val id = bb.getShort(pos) & 0xffff
    val len = bb.getShort(pos + 2) & 0xffff
    require(pos + 4 + len <= s.length,
      s"truncated BIFF record 0x${id.toHexString}")
    Rec(id, java.util.Arrays.copyOfRange(s, pos + 4, pos + 4 + len),
      pos + 4 + len)
  }

  /** Cursor over a record payload plus its CONTINUE payloads. BIFF
    * guarantees fixed-width fields never straddle a segment boundary;
    * character data may, and each continuation of character data restates
    * a fresh flag byte ([MS-XLS] 2.5.293 XLUnicodeRichExtendedString).
    */
  private final class SegCursor(segments: Vector[Array[Byte]]) {
    private var seg = 0
    private var pos = 0
    private def cur = segments(seg)
    private def remInSeg = cur.length - pos
    private def hop(): Unit = {
      while (seg < segments.length && remInSeg == 0 &&
             seg + 1 < segments.length) { seg += 1; pos = 0 }
    }
    def hasMore: Boolean = { hop(); seg < segments.length && remInSeg > 0 }
    def u8(): Int = { hop(); val v = cur(pos) & 0xff; pos += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = (u16().toLong | (u16().toLong << 16)) & 0xffffffffL
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        hop()
        require(remInSeg > 0, "CONTINUE underrun while skipping")
        val take = math.min(left, remInSeg.toLong).toInt
        pos += take
        left -= take
      }
    }
    /** One XLUnicodeRichExtendedString (SST/LABEL flavor). */
    def readString(): String = {
      val cch = u16()
      readStringBody(cch)
    }
    /** String body after an externally-read cch (STRING record flavor
      * shares it). Any break inside the character array — including one
      * right after the header — restates the flag byte at the start of
      * the continuation segment.
      */
    def readStringBody(cch: Int): String = {
      val grbit = u8()
      val rich = (grbit & 0x08) != 0
      val ext = (grbit & 0x04) != 0
      val cRun = if (rich) u16() else 0
      val cbExt = if (ext) u32() else 0L
      val sb = new StringBuilder(cch)
      var remaining = cch
      var high = (grbit & 0x01) != 0
      while (remaining > 0) {
        if (remInSeg == 0) {
          // crossing into a continuation: fresh flag byte
          require(seg + 1 < segments.length, "SST string underrun")
          hop()
          high = (u8() & 0x01) != 0
        }
        val bytesPerChar = if (high) 2 else 1
        val charsHere = math.min(remaining, remInSeg / bytesPerChar)
        require(charsHere > 0 || remInSeg == 0, "SST string split mid-char")
        if (high) {
          var i = 0
          while (i < charsHere) {
            sb.append(((cur(pos) & 0xff) | ((cur(pos + 1) & 0xff) << 8)).toChar)
            pos += 2
            i += 1
          }
        } else {
          var i = 0
          while (i < charsHere) {
            sb.append((cur(pos) & 0xff).toChar) // "compressed" = Latin-1
            pos += 1
            i += 1
          }
        }
        remaining -= charsHere
      }
      skip(cRun * 4L)
      skip(cbExt)
      sb.toString
    }
  }

  // ------------------------------------------------------------ reading

  /** All worksheets of a legacy `.xls`, in BOUNDSHEET order, as the same
    * all-string [[Xlsx.Sheet]] rows the XLSX reader produces.
    */
  def readSheets(path: String): Seq[Xlsx.Sheet] = {
    val streams = Cfb.streams(Files.readAllBytes(Paths.get(path)))
    val wb = streams.getOrElse("Workbook", streams.getOrElse("Book",
      throw new IllegalArgumentException(
        s"$path: no Workbook stream in compound file")))

    // ---- globals substream
    val bof = recordAt(wb, 0)
    require(bof.id == RecBof, s"$path: Workbook stream does not start with BOF")
    val biffVersion = ByteBuffer.wrap(bof.data).order(ByteOrder.LITTLE_ENDIAN)
      .getShort(0) & 0xffff
    require(biffVersion == 0x0600,
      s"$path: BIFF version 0x${biffVersion.toHexString} unsupported " +
        "(only BIFF8 / Excel 97-2003)")

    var sheets = Vector.empty[(String, Int)] // (name, stream offset)
    var sst = Vector.empty[String]
    val xfFmts = Vector.newBuilder[Int]
    val customFmts = mutable.Map.empty[Int, String]
    var date1904 = false

    var pos = bof.end
    var done = false
    while (!done && pos < wb.length) {
      val r = recordAt(wb, pos)
      var end = r.end
      r.id match {
        case RecEof => done = true
        case RecDateMode =>
          date1904 = (r.data(0) & 0xff) == 1
        case RecBoundSheet =>
          val bb = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
          val off = bb.getInt(0)
          val dt = r.data(5) & 0xff // sheet type; 0 = worksheet
          val cch = r.data(6) & 0xff
          val uni = (r.data(7) & 0x01) != 0
          val name =
            if (uni) new String(r.data, 8, cch * 2, StandardCharsets.UTF_16LE)
            else new String(r.data.slice(8, 8 + cch)
              .map(b => (b & 0xff).toChar))
          if (dt == 0) sheets :+= ((name, off))
        case RecSst =>
          // gather CONTINUE payloads belonging to this SST
          val segs = Vector.newBuilder[Array[Byte]]
          segs += r.data
          var p = r.end
          var more = true
          while (more && p < wb.length) {
            val c = recordAt(wb, p)
            if (c.id == RecContinue) { segs += c.data; p = c.end }
            else more = false
          }
          end = p
          val cursor = new SegCursor(segs.result())
          cursor.u32() // total refs
          val unique = cursor.u32()
          val out = Vector.newBuilder[String]
          var i = 0L
          while (i < unique) { out += cursor.readString(); i += 1 }
          sst = out.result()
        case RecXf =>
          xfFmts += (ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
            .getShort(2) & 0xffff)
        case RecFormat =>
          val bb = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
          val fmtId = bb.getShort(0) & 0xffff
          val cursor = new SegCursor(Vector(
            java.util.Arrays.copyOfRange(r.data, 2, r.data.length)))
          customFmts(fmtId) = cursor.readString()
        case _ => ()
      }
      pos = end
    }

    val dateXfs: Set[Int] = {
      def isDate(fmtId: Int): Boolean =
        Xlsx.builtinDateFmts(fmtId) ||
          customFmts.get(fmtId).exists(Xlsx.isDateFormatCode)
      xfFmts.result().zipWithIndex.collect {
        case (fmt, i) if isDate(fmt) => i
      }.toSet
    }

    sheets.map { case (name, off) =>
      val rows = readSheetCells(wb, off, sst, dateXfs, date1904)
      // pad every row to the sheet's width, exactly like the XLSX path
      // (Xlsx.readSheets): a data row whose trailing cells are blank must
      // still carry one Option per header column, or downstream row
      // construction indexes past the end (pandas/xlrd pad with NaN).
      val width = if (rows.isEmpty) 0 else rows.map(_.length).max
      Xlsx.Sheet(name, rows.map(_.padTo(width, None)))
    }
  }

  /** General-format rendering of a BIFF double — integral values print
    * without a decimal point, matching the text a CSV/XLSX export carries.
    */
  private def renderNumber(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15 && !d.isNaN) d.toLong.toString
    else d.toString

  private def decodeRk(rk: Long): Double = {
    val d100 = (rk & 1L) != 0
    val isInt = (rk & 2L) != 0
    val v =
      if (isInt) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xfffffffcL) << 32)
    if (d100) v / 100.0 else v
  }

  private def readSheetCells(wb: Array[Byte], off: Int, sst: Vector[String],
                             dateXfs: Set[Int], date1904: Boolean)
      : Vector[Vector[Option[String]]] = {
    val cells = mutable.SortedMap.empty[Int, mutable.SortedMap[Int, String]]
    def put(row: Int, colIdx: Int, v: String): Unit =
      cells.getOrElseUpdate(row, mutable.SortedMap.empty) += (colIdx -> v)
    def numeric(row: Int, colIdx: Int, xf: Int, d: Double): Unit =
      put(row, colIdx,
        if (dateXfs(xf)) Xlsx.serialToDateTimeString(d.toString, date1904)
        else renderNumber(d))

    val first = recordAt(wb, off)
    require(first.id == RecBof, "BOUNDSHEET offset does not point at BOF")
    var pos = first.end
    var done = false
    var pendingStringCell: Option[(Int, Int)] = None // FORMULA string result
    while (!done && pos < wb.length) {
      val r = recordAt(wb, pos)
      val bb = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
      r.id match {
        case RecEof => done = true
        case RecNumber =>
          numeric(bb.getShort(0) & 0xffff, bb.getShort(2) & 0xffff,
            bb.getShort(4) & 0xffff, bb.getDouble(6))
        case RecRk =>
          numeric(bb.getShort(0) & 0xffff, bb.getShort(2) & 0xffff,
            bb.getShort(4) & 0xffff,
            decodeRk(bb.getInt(6).toLong & 0xffffffffL))
        case RecMulRk =>
          val row = bb.getShort(0) & 0xffff
          val colFirst = bb.getShort(2) & 0xffff
          val n = (r.data.length - 6) / 6
          (0 until n).foreach { i =>
            val xf = bb.getShort(4 + i * 6) & 0xffff
            val rk = bb.getInt(6 + i * 6).toLong & 0xffffffffL
            numeric(row, colFirst + i, xf, decodeRk(rk))
          }
        case RecLabelSst =>
          val isst = bb.getInt(6)
          sst.lift(isst).foreach(s =>
            put(bb.getShort(0) & 0xffff, bb.getShort(2) & 0xffff, s))
        case RecLabel =>
          val cursor = new SegCursor(Vector(
            java.util.Arrays.copyOfRange(r.data, 6, r.data.length)))
          put(bb.getShort(0) & 0xffff, bb.getShort(2) & 0xffff,
            cursor.readString())
        case RecBoolErr =>
          val isErr = (r.data(7) & 0xff) == 1
          if (!isErr) // errors render as blank, like pandas' NaN
            put(bb.getShort(0) & 0xffff, bb.getShort(2) & 0xffff,
              if ((r.data(6) & 0xff) == 1) "TRUE" else "FALSE")
        case RecFormula =>
          val row = bb.getShort(0) & 0xffff
          val colIdx = bb.getShort(2) & 0xffff
          val xf = bb.getShort(4) & 0xffff
          if ((bb.getShort(12) & 0xffff) == 0xffff) {
            (r.data(6) & 0xff) match {
              case 0 => pendingStringCell = Some((row, colIdx)) // STRING next
              case 1 => put(row, colIdx,
                if ((r.data(8) & 0xff) == 1) "TRUE" else "FALSE")
              case _ => () // error / empty-string results render blank
            }
          } else numeric(row, colIdx, xf, bb.getDouble(6))
        case RecString =>
          pendingStringCell.foreach { case (row, colIdx) =>
            // a formula string result longer than one record spills into
            // CONTINUE records — gather them like the SST path does
            val segs = Vector.newBuilder[Array[Byte]]
            segs += r.data
            var p = r.end
            var more = true
            while (more && p < wb.length) {
              val c = recordAt(wb, p)
              if (c.id == RecContinue) { segs += c.data; p = c.end }
              else more = false
            }
            val cursor = new SegCursor(segs.result())
            val cch = cursor.u16()
            put(row, colIdx, cursor.readStringBody(cch))
          }
          pendingStringCell = None
        case _ => ()
      }
      pos = r.end
    }

    // One output row per row that HAS cells, columns padded to the row's
    // own width here; readSheets pads to the sheet width afterwards (same
    // densification contract as the XLSX path).
    cells.toVector.map { case (_, byCol) =>
      val width = byCol.lastKey + 1
      val row = Vector.fill[Option[String]](width)(None)
      byCol.foldLeft(row) { case (acc, (c, v)) => acc.updated(c, Some(v)) }
    }
  }

  // ------------------------------------------------------------ writing

  /** Test-grade `.xls` writer: one worksheet, BIFF8 records inside a
    * minimal CFB container (ministream when the stream is under the 4096
    * cutoff — the layout Excel itself uses for small files — regular
    * sectors above it). Strings go through a real SST that splits into
    * CONTINUE records between strings when the payload exceeds the BIFF
    * record cap. Cell types: String → LABELSST, Double/Int/Long → NUMBER,
    * Boolean → BOOLERR, java.time.LocalDate → date-styled NUMBER (xf 1,
    * numFmtId 14), null/None → no record.
    */
  def writeFirstSheet(path: String, sheetName: String,
                      rows: Seq[Seq[Any]]): Unit = {
    val le = ByteOrder.LITTLE_ENDIAN
    def rec(id: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + body.length).order(le)
      bb.putShort(id.toShort).putShort(body.length.toShort).put(body)
      bb.array()
    }

    // ---- shared strings (anything that is not a number/bool/date/blank
    // serializes as its toString — same fallback the XLSX writer uses)
    def strOf(v0: Any): Option[String] = {
      val v = v0 match { case Some(x) => x; case x => x }
      v match {
        case s: String => Some(s)
        case null | None | _: Number | _: Boolean |
             _: java.time.LocalDate => None
        case other => Some(other.toString)
      }
    }
    val strings = mutable.LinkedHashMap.empty[String, Int]
    var totalRefs = 0
    rows.foreach(_.foreach { v =>
      strOf(v).foreach { s =>
        totalRefs += 1
        strings.getOrElseUpdate(s, strings.size)
      }
    })
    def encStr(s: String): Array[Byte] = {
      val compressed = s.forall(_ < 256)
      val chars =
        if (compressed) s.map(_.toByte).toArray
        else s.getBytes(StandardCharsets.UTF_16LE)
      val bb = ByteBuffer.allocate(3 + chars.length).order(le)
      bb.putShort(s.length.toShort)
        .put((if (compressed) 0 else 1).toByte).put(chars)
      bb.array()
    }
    // SST payload split between strings at the 8224-byte record cap
    val sstRecords: Array[Byte] = {
      val cap = 8224
      val head = ByteBuffer.allocate(8).order(le)
        .putInt(totalRefs).putInt(strings.size).array()
      val chunks = mutable.ArrayBuffer.empty[Array[Byte]]
      var curChunk = mutable.ArrayBuffer.empty[Byte] ++ head
      strings.keys.foreach { s =>
        val enc = encStr(s)
        if (curChunk.length + enc.length > cap && curChunk.nonEmpty) {
          chunks += curChunk.toArray
          curChunk = mutable.ArrayBuffer.empty[Byte]
        }
        curChunk ++= enc
      }
      chunks += curChunk.toArray
      chunks.zipWithIndex.flatMap { case (c, i) =>
        rec(if (i == 0) RecSst else RecContinue, c)
      }.toArray
    }

    // ---- sheet substream
    def cellRecs: Array[Byte] = {
      val out = mutable.ArrayBuffer.empty[Byte]
      def rc(row: Int, colIdx: Int, xf: Int): ByteBuffer =
        ByteBuffer.allocate(6).order(le).putShort(row.toShort)
          .putShort(colIdx.toShort).putShort(xf.toShort)
      rows.zipWithIndex.foreach { case (row, ri) =>
        row.zipWithIndex.foreach { case (v0, ci) =>
          val v = v0 match { case Some(x) => x; case x => x }
          v match {
            case null | None => ()
            case s: String =>
              val bb = ByteBuffer.allocate(10).order(le)
              bb.put(rc(ri, ci, 0).array()).putInt(strings(s))
              out ++= rec(RecLabelSst, bb.array())
            case d: java.time.LocalDate =>
              val serial = java.time.temporal.ChronoUnit.DAYS.between(
                java.time.LocalDate.of(1899, 12, 30), d).toDouble
              val bb = ByteBuffer.allocate(14).order(le)
              bb.put(rc(ri, ci, 1).array()).putDouble(serial)
              out ++= rec(RecNumber, bb.array())
            case b: Boolean =>
              val bb = ByteBuffer.allocate(8).order(le)
              bb.put(rc(ri, ci, 0).array())
                .put((if (b) 1 else 0).toByte).put(0.toByte)
              out ++= rec(RecBoolErr, bb.array())
            case n: Number =>
              val bb = ByteBuffer.allocate(14).order(le)
              bb.put(rc(ri, ci, 0).array()).putDouble(n.doubleValue())
              out ++= rec(RecNumber, bb.array())
            case other =>
              val bb = ByteBuffer.allocate(10).order(le)
              bb.put(rc(ri, ci, 0).array()).putInt(strings(other.toString))
              out ++= rec(RecLabelSst, bb.array())
          }
        }
      }
      out.toArray
    }

    def bof(dt: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(16).order(le)
      bb.putShort(0x0600.toShort).putShort(dt.toShort)
        .putShort(0x0dbb.toShort).putShort(0x07cc.toShort)
        .putInt(0).putInt(0)
      rec(RecBof, bb.array())
    }
    val eof = rec(RecEof, Array.emptyByteArray)
    def xf(fmtId: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(20).order(le)
      bb.putShort(0).putShort(fmtId.toShort).putShort(0x0001.toShort)
      rec(RecXf, bb.array())
    }
    val dateMode = rec(RecDateMode, Array[Byte](0, 0))

    val sheetBytes = bof(0x0010) ++ cellRecs ++ eof
    val nameBytes = {
      val compressed = sheetName.forall(_ < 256)
      val chars =
        if (compressed) sheetName.map(_.toByte).toArray
        else sheetName.getBytes(StandardCharsets.UTF_16LE)
      Array(sheetName.length.toByte,
        (if (compressed) 0 else 1).toByte) ++ chars
    }
    def boundSheet(offset: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(6 + nameBytes.length).order(le)
      bb.putInt(offset).putShort(0).put(nameBytes)
      rec(RecBoundSheet, bb.array())
    }
    // globals length depends only on the (fixed-size) BOUNDSHEET record
    val globalsLen = bof(5).length + dateMode.length + xf(0).length * 2 +
      sstRecords.length + boundSheet(0).length + eof.length
    val globals = bof(5) ++ dateMode ++ xf(0) ++ xf(14) ++ sstRecords ++
      boundSheet(globalsLen) ++ eof
    require(globals.length == globalsLen, "globals length miscount")
    val stream = globals ++ sheetBytes

    Files.write(Paths.get(path), cfbWrap("Workbook", stream))
  }

  /** Wrap one stream into a v3 CFB file (512-byte sectors; ministream
    * for streams under the 4096 cutoff). Test-grade: supports files up to
    * one FAT sector (~64 KB) — plenty for fixtures.
    */
  private[graft] def cfbWrap(streamName: String,
                             stream: Array[Byte]): Array[Byte] = {
    val le = ByteOrder.LITTLE_ENDIAN
    val EndOfChain = 0xfffffffe
    val FreeSect = 0xffffffff
    val mini = stream.length < 4096

    def dirEntry(name: String, objType: Int, start: Int, size: Long)
        : Array[Byte] = {
      val bb = ByteBuffer.allocate(128).order(le)
      val n = name.getBytes(StandardCharsets.UTF_16LE)
      bb.put(n)
      bb.putShort(64, (n.length + 2).toShort)
      bb.put(66, objType.toByte)
      bb.put(67, 1.toByte) // black
      bb.putInt(68, FreeSect) // left sibling
      bb.putInt(72, FreeSect) // right sibling
      bb.putInt(76, if (objType == 5) 1 else FreeSect) // child
      bb.putInt(116, start)
      bb.putLong(120, size)
      bb.array()
    }

    // sector plan (all regular sectors 512 B):
    //   [payload sectors][miniFAT sector?][directory][FAT]
    val payload: Array[Byte] =
      if (mini) { // ministream container, 64 B minisectors
        val nMini = (stream.length + 63) / 64
        java.util.Arrays.copyOf(stream, nMini * 64)
      } else stream
    val nPayload = (payload.length + 511) / 512
    val miniFatSector = if (mini) nPayload else -1
    val dirSector = nPayload + (if (mini) 1 else 0)
    val fatSector = dirSector + 1
    val totalSectors = fatSector + 1
    require(totalSectors <= 128, "cfbWrap supports one FAT sector only")

    val out = ByteBuffer.allocate(512 * (1 + totalSectors)).order(le)
    // ---- header
    out.putLong(0, 0xe11ab1a1e011cfd0L) // magic, little-endian
    out.putShort(24, 0x003e.toShort) // minor
    out.putShort(26, 0x0003.toShort) // major (v3)
    out.putShort(28, 0xfffe.toShort) // byte order
    out.putShort(30, 9.toShort) // 512 B sectors
    out.putShort(32, 6.toShort) // 64 B minisectors
    out.putInt(44, 1) // FAT sector count
    out.putInt(48, dirSector)
    out.putInt(56, 4096) // mini cutoff
    out.putInt(60, if (mini) miniFatSector else EndOfChain)
    out.putInt(64, if (mini) 1 else 0)
    out.putInt(68, EndOfChain) // no DIFAT chain
    out.putInt(72, 0)
    out.putInt(76, fatSector) // DIFAT[0]
    (1 until 109).foreach(i => out.putInt(76 + i * 4, FreeSect))

    def sectorBase(id: Int) = 512 * (1 + id)
    // ---- payload sectors
    out.position(sectorBase(0))
    out.put(payload)
    // ---- miniFAT
    if (mini) {
      val nMini = payload.length / 64
      out.position(sectorBase(miniFatSector))
      (0 until 128).foreach { i =>
        out.putInt(
          if (i < nMini - 1) i + 1
          else if (i == nMini - 1) EndOfChain
          else FreeSect)
      }
    }
    // ---- directory
    out.position(sectorBase(dirSector))
    out.put(dirEntry("Root Entry", 5,
      if (mini) 0 else EndOfChain,
      if (mini) payload.length.toLong else 0L))
    out.put(dirEntry(streamName, 2,
      if (mini) 0 else 0, stream.length.toLong))
    // two free entries remain zeroed
    // ---- FAT
    out.position(sectorBase(fatSector))
    (0 until 128).foreach { i =>
      val v =
        if (i < nPayload - 1) i + 1
        else if (i == nPayload - 1) EndOfChain
        else if (i == miniFatSector) EndOfChain
        else if (i == dirSector) EndOfChain
        else if (i == fatSector) 0xfffffffd // FATSECT
        else FreeSect
      out.putInt(v)
    }
    out.array()
  }
}

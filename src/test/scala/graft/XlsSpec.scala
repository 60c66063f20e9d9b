package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Ingest, Xls, Xlsx}

/** Legacy BIFF8 `.xls` source: CFB container + BIFF record layer.
  * Round-trips go through the real writer (which itself exercises the
  * ministream layout for small files); the CONTINUE-split and RK cases
  * are hand-crafted byte streams, since the writer never emits them.
  */
class XlsSpec extends AnyFunSuite {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("xls-spec")
    d.resolve(name).toString
  }

  test("round-trip: strings (ascii + CJK), numbers, dates, booleans") {
    val path = tmp("basic.xls")
    Xls.writeFirstSheet(path, "Sheet1", Seq(
      Seq("日期", "商店", "金額", "備註", "旗標"),
      Seq(java.time.LocalDate.of(2024, 1, 15), "全聯福利中心", 1234.5,
        "中文字串 with ascii", true),
      Seq(java.time.LocalDate.of(2024, 2, 1), "COSTCO", 42, null, false)))
    val sheets = Xls.readSheets(path)
    assert(sheets.map(_.name) == Seq("Sheet1"))
    val rows = sheets.head.rows
    assert(rows.length == 3)
    assert(rows(0).flatten == Seq("日期", "商店", "金額", "備註", "旗標"))
    assert(rows(1) == Vector(Some("2024-01-15"), Some("全聯福利中心"),
      Some("1234.5"), Some("中文字串 with ascii"), Some("TRUE")))
    assert(rows(2) == Vector(Some("2024-02-01"), Some("COSTCO"),
      Some("42"), None, Some("FALSE")))
  }

  test("Xlsx.readSheets dispatches .xls by OLE2 magic, not extension") {
    // misleading extension on purpose: magic decides
    val path = tmp("statement.xlsx")
    Xls.writeFirstSheet(path, "帳單", Seq(Seq("h1", "h2"), Seq("a", 7)))
    val sheets = Xlsx.readSheets(path)
    assert(sheets.map(_.name) == Seq("帳單"))
    assert(sheets.head.rows == Vector(
      Vector(Some("h1"), Some("h2")), Vector(Some("a"), Some("7"))))
  }

  test("firstSheet yields the (header, rows) statement contract") {
    val path = tmp("frame.xls")
    Xls.writeFirstSheet(path, "S", Seq(
      Seq("消費日", "金額", ""),
      Seq("2024/01/03", 100, "x"),
      Seq("2024/01/04", 200.25, "y")))
    val (header, rows) = Xlsx.firstSheet(path)
    assert(Ingest.columnNames(header) == Seq("消費日", "金額", "Unnamed: 2"))
    assert(rows == Seq(Seq("2024/01/03", "100", "x"),
      Seq("2024/01/04", "200.25", "y")))
  }

  test("large string table splits into CONTINUE records and reads back") {
    val path = tmp("sst.xls")
    // > 8224 bytes of SST payload forces at least one CONTINUE
    val vals = (0 until 600).map(i => s"merchant-$i-" + "x" * 20)
    val rows = Seq(vals.take(300), vals.drop(300))
    Xls.writeFirstSheet(path, "big", rows)
    val got = Xls.readSheets(path).head.rows.map(_.flatten)
    assert(got == rows.map(_.toVector))
  }

  test("SST strings split mid-characters across CONTINUE restate the flag") {
    // hand-crafted: SST(total=2, unique=2) where string B's character
    // data crosses into a CONTINUE segment that restates the flag byte
    // with a DIFFERENT width (compressed run then utf-16 run)
    def seg(bytes: Int*) = bytes.map(_.toByte).toArray
    val a = "abcd"
    // string B: 6 chars, first 2 compressed in SST record, last 4 as
    // UTF-16 in the CONTINUE (flag byte 0x01 restated)
    val sstBody = ByteBuffer.allocate(8 + 3 + 4 + 3 + 2).order(
      ByteOrder.LITTLE_ENDIAN)
    sstBody.putInt(2).putInt(2)
    sstBody.putShort(a.length.toShort).put(0.toByte)
      .put(a.getBytes("ISO-8859-1"))
    sstBody.putShort(6.toShort).put(0.toByte).put(seg('e', 'f'))
    val cont = ByteBuffer.allocate(1 + 8).order(ByteOrder.LITTLE_ENDIAN)
    cont.put(1.toByte) // fresh flag: high-byte on
    "語言文字".foreach(c => cont.putShort(c.toShort))
    val stream = biffStream(sstBody.array(), cont.array(),
      cells = Seq((0, 0, Left(0)), (0, 1, Left(1))))
    val path = tmp("cont.xls")
    Files.write(java.nio.file.Paths.get(path),
      invokeCfbWrap("Workbook", stream))
    val rows = Xls.readSheets(path).head.rows
    assert(rows == Vector(Vector(Some("abcd"), Some("ef語言文字"))))
  }

  test("trailing blank cells pad to the sheet width") {
    // a data row whose TRAILING cells are blank (no record emitted) must
    // still read back at the sheet's full width — pandas/xlrd pad with NaN;
    // an unpadded row breaks row construction lazily at job execution
    val path = tmp("trailing.xls")
    Xls.writeFirstSheet(path, "S", Seq(
      Seq("h1", "h2", "h3"),
      Seq("a", 1, "x"),
      Seq("b", null, null)))
    val rows = Xls.readSheets(path).head.rows
    assert(rows.forall(_.length == 3))
    assert(rows(2) == Vector(Some("b"), None, None))
    // and the statement rows keep the short row at full width
    assert(Xlsx.firstSheet(path)._2 == Seq(Seq("a", "1", "x"),
      Seq("b", null, null)))
  }

  test("FORMULA string results spill into CONTINUE records") {
    val le = ByteOrder.LITTLE_ENDIAN
    def rec(id: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + body.length).order(le)
      bb.putShort(id.toShort).putShort(body.length.toShort).put(body)
      bb.array()
    }
    // FORMULA at (0,0) with a string result: num field byte0 = 0 (string),
    // bytes 6-7 of num = 0xffff marker; empty rgce
    val formula = {
      val bb = ByteBuffer.allocate(22).order(le)
      bb.putShort(0.toShort).putShort(0.toShort).putShort(0.toShort) // r,c,xf
      bb.put(Array[Byte](0, 0, 0, 0, 0, 0, -1, -1)) // string-result marker
      bb.putShort(0.toShort).putInt(0).putShort(0.toShort) // grbit, chn, cce
      rec(0x0006, bb.array())
    }
    // STRING carries cch=10 but only 'abcd'; CONTINUE restates the flag
    // byte and carries 'efghij' — the gathered SegCursor must join them
    val strRec = {
      val bb = ByteBuffer.allocate(3 + 4).order(le)
      bb.putShort(10.toShort).put(0.toByte).put("abcd".getBytes("ISO-8859-1"))
      rec(0x0207, bb.array())
    }
    val contRec = rec(0x003c,
      Array(0.toByte) ++ "efghij".getBytes("ISO-8859-1"))
    val sstBody = ByteBuffer.allocate(8).order(le).putInt(0).putInt(0).array()
    val stream = biffStream(sstBody, Array.emptyByteArray, cells = Seq.empty,
      extraCellBytes = formula ++ strRec ++ contRec)
    val path = tmp("formula-string.xls")
    Files.write(java.nio.file.Paths.get(path),
      invokeCfbWrap("Workbook", stream))
    val rows = Xls.readSheets(path).head.rows
    assert(rows == Vector(Vector(Some("abcdefghij"))))
  }

  test("RK and MULRK cells decode all four encodings") {
    // RK encodings: int, int/100, double, double/100
    def rkInt(v: Int, d100: Boolean): Int = (v << 2) | (if (d100) 3 else 2)
    def rkDouble(v: Double, d100: Boolean): Int = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (((bits >>> 32) & 0xfffffffcL) | (if (d100) 1 else 0)).toInt
    }
    val le = ByteOrder.LITTLE_ENDIAN
    def rec(id: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + body.length).order(le)
      bb.putShort(id.toShort).putShort(body.length.toShort).put(body)
      bb.array()
    }
    def rk(row: Int, c: Int, enc: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(10).order(le)
      bb.putShort(row.toShort).putShort(c.toShort).putShort(0.toShort)
        .putInt(enc)
      rec(0x027e, bb.array())
    }
    val mulrk = {
      val bb = ByteBuffer.allocate(4 + 6 * 2 + 2).order(le)
      bb.putShort(1.toShort).putShort(0.toShort) // row 1, colFirst 0
      bb.putShort(0.toShort).putInt(rkInt(77, d100 = false))
      bb.putShort(0.toShort).putInt(rkDouble(2.5, d100 = false))
      bb.putShort(1.toShort) // colLast
      rec(0x00bd, bb.array())
    }
    val cellBytes = rk(0, 0, rkInt(1234, d100 = false)) ++
      rk(0, 1, rkInt(12345, d100 = true)) ++
      rk(0, 2, rkDouble(3.75, d100 = false)) ++
      rk(0, 3, rkDouble(1.25, d100 = true)) ++ mulrk
    val sstBody = ByteBuffer.allocate(8).order(le).putInt(0).putInt(0).array()
    val stream = biffStream(sstBody, Array.emptyByteArray,
      cells = Seq.empty, extraCellBytes = cellBytes)
    val path = tmp("rk.xls")
    Files.write(java.nio.file.Paths.get(path),
      invokeCfbWrap("Workbook", stream))
    val rows = Xls.readSheets(path).head.rows
    assert(rows(0).flatten == Seq("1234", "123.45", "3.75", "0.0125"))
    assert(rows(1).flatten == Seq("77", "2.5"))
  }

  test("malformed compound files fail with a clear message") {
    val p1 = tmp("junk.xls")
    Files.write(java.nio.file.Paths.get(p1), Array[Byte](1, 2, 3))
    val e1 = intercept[IllegalArgumentException](Xls.readSheets(p1))
    assert(e1.getMessage.contains("too short"))
    val p2 = tmp("nostream.xls")
    Files.write(java.nio.file.Paths.get(p2),
      invokeCfbWrap("NotAWorkbook", Array[Byte](1, 2, 3, 4)))
    val e2 = intercept[IllegalArgumentException](Xls.readSheets(p2))
    assert(e2.getMessage.contains("no Workbook stream"))
  }

  test("large streams bypass the ministream (regular-FAT path)") {
    val path = tmp("bigstream.xls")
    // > 4096-byte workbook stream → regular sectors, no miniFAT
    val rows = Seq(Seq("h")) ++ (0 until 400).map(i => Seq(s"row-$i-payload"))
    Xls.writeFirstSheet(path, "big", rows)
    val got = Xls.readSheets(path).head.rows.map(_.flatten)
    assert(got.length == 401 && got.last == Seq("row-399-payload"))
  }

  // ------------------------------------------------------------ helpers

  /** Assemble a minimal BIFF8 stream: globals (BOF, SST [+CONTINUE],
    * BOUNDSHEET, EOF) + one sheet whose cells are LABELSST indexes
    * (`Left(sstIdx)`) or raw pre-encoded cell record bytes.
    */
  private def biffStream(sstBody: Array[Byte], contBody: Array[Byte],
                         cells: Seq[(Int, Int, Either[Int, Double])],
                         extraCellBytes: Array[Byte] = Array.emptyByteArray)
      : Array[Byte] = {
    val le = ByteOrder.LITTLE_ENDIAN
    def rec(id: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + body.length).order(le)
      bb.putShort(id.toShort).putShort(body.length.toShort).put(body)
      bb.array()
    }
    def bof(dt: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(16).order(le)
      bb.putShort(0x0600.toShort).putShort(dt.toShort)
      rec(0x0809, bb.array())
    }
    val eof = rec(0x000a, Array.emptyByteArray)
    val cellRecs = cells.flatMap { case (r0, c0, v) =>
      v match {
        case Left(idx) =>
          val bb = ByteBuffer.allocate(10).order(le)
          bb.putShort(r0.toShort).putShort(c0.toShort).putShort(0.toShort)
            .putInt(idx)
          rec(0x00fd, bb.array()).toSeq
        case Right(d) =>
          val bb = ByteBuffer.allocate(14).order(le)
          bb.putShort(r0.toShort).putShort(c0.toShort).putShort(0.toShort)
            .putDouble(d)
          rec(0x0203, bb.array()).toSeq
      }
    }.toArray
    val sheet = bof(0x0010) ++ cellRecs ++ extraCellBytes ++ eof
    val name = "S"
    val bsName = Array(name.length.toByte, 0.toByte) ++ name.getBytes
    def boundSheet(off: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(6 + bsName.length).order(le)
      bb.putInt(off).putShort(0.toShort).put(bsName)
      rec(0x0085, bb.array())
    }
    val sstRecs = rec(0x00fc, sstBody) ++
      (if (contBody.nonEmpty) rec(0x003c, contBody) else Array.emptyByteArray)
    val globalsLen = bof(5).length + sstRecs.length +
      boundSheet(0).length + eof.length
    bof(5) ++ sstRecs ++ boundSheet(globalsLen) ++ eof ++ sheet
  }

  private def invokeCfbWrap(name: String, stream: Array[Byte]): Array[Byte] =
    Xls.cfbWrap(name, stream)
}

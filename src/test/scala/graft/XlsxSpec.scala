package graft

import java.nio.file.Files
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Ingest, Xlsx}

/** S5 Excel source unit tests: OOXML round-trip (shared strings, date
  * serials, numbers, blanks), pandas read_excel header shape, and the
  * convert_model.py multi-sheet config exporter semantics.
  */
class XlsxSpec extends AnyFunSuite {

  private def tmp(suffix: String): String =
    Files.createTempFile("graft-xlsx", suffix).toString

  test("round-trip: shared strings, date serials, numbers, sparse blanks") {
    val f = tmp(".xlsx")
    Xlsx.writeSheets(f, Seq(
      "s1" -> Seq(
        Seq("日期", "商店", "金額", "備註"),
        Seq(LocalDate.of(2024, 3, 5), "全聯, \"特價\"", 123.45, null),
        Seq(LocalDate.of(2023, 12, 31), "咖啡店", 680, "加註"))))
    val sheets = Xlsx.readSheets(f)
    assert(sheets.map(_.name) == Seq("s1"))
    val rows = sheets.head.rows
    assert(rows.head.flatten == Seq("日期", "商店", "金額", "備註"))
    // date style (numFmtId 14) turns the serial back into ISO text
    assert(rows(1)(0).contains("2024-03-05"))
    assert(rows(1)(1).contains("全聯, \"特價\"")) // escaping round-trips
    assert(rows(1)(2).contains("123.45"))
    assert(rows(1)(3).isEmpty) // null cell → missing → None, row padded
    assert(rows(2)(0).contains("2023-12-31"))
    assert(rows(2)(2).contains("680"))
  }

  test("firstSheet: pandas header shape + row order + blank cells") {
    val f = tmp(".xlsx")
    Xlsx.writeSheets(f, Seq(
      "m" -> Seq(
        Seq("a", null, "c"),
        Seq("r1a", "r1b", 1),
        Seq(null, "r2b", 2))))
    val (header, rows) = Xlsx.firstSheet(f)
    assert(Ingest.columnNames(header) == Seq("a", "Unnamed: 1", "c"))
    assert(rows == Seq(Seq("r1a", "r1b", "1"), Seq(null, "r2b", "2")))
  }

  test("exportConfigCsvs: dropna(all) on rows+cols, BOM, missing skipped") {
    val f = tmp(".xlsx")
    val outDir = Files.createTempDirectory("graft-xlsx-out").toString
    Xlsx.writeSheets(f, Seq(
      "卡片設定" -> Seq(
        Seq("對應卡片", null, "卡號"),  // middle column all-empty
        Seq("玉山Unicard", null, "4444"),
        Seq(null, null, null),          // all-empty row dropped
        Seq("國泰CUBE", null, "1111/2222")),
      "ignored_sheet" -> Seq(Seq("x"), Seq("1"))))
    val exported = Xlsx.exportConfigCsvs(f, outDir, Seq(
      "卡片設定" -> "cards.csv",
      "不存在的表" -> "missing.csv"))
    assert(exported == Seq(("cards.csv", 2))) // data rows, header excluded
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/cards.csv"))
    assert(bytes.take(3).sameElements(
      Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))) // utf-8-sig
    val text = new String(bytes.drop(3), "UTF-8")
    assert(text == "對應卡片,卡號\n玉山Unicard,4444\n國泰CUBE,1111/2222\n")
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/missing.csv")))
  }

  test("ConvertModel: real workbook beats template, known sheets export") {
    val work = Files.createTempDirectory("graft-cm").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$work/configs"))
    // template exists with one known sheet…
    Xlsx.writeSheets(s"$work/${graft.etl.ConvertModel.ExampleSourceFile}",
      Seq("卡號對照表(mapping table)" ->
        Seq(Seq("對應卡片", "卡號"), Seq("template卡", "0000"))))
    assert(graft.etl.ConvertModel.sourceFile(work).get.contains("範本"))
    // …but the real workbook wins once present
    Xlsx.writeSheets(s"$work/${graft.etl.ConvertModel.RealSourceFile}",
      Seq(
        "卡號對照表(mapping table)" ->
          Seq(Seq("對應卡片", "卡號"), Seq("玉山Unicard", "4444"),
            Seq("國泰CUBE", "1111/2222")),
        "外幣匯率紀錄(維度表)" ->
          Seq(Seq("幣別", "匯率"), Seq("JPY", "0.21")),
        "無關的表" -> Seq(Seq("x"), Seq("1"))))
    val got = graft.etl.ConvertModel.run(work).toMap
    assert(got == Map("card_mapping.csv" -> 2, "exchange_rates.csv" -> 1))
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/configs/card_mapping.csv")), "UTF-8")
    assert(text.contains("玉山Unicard,4444")) // real data, not template
  }

  test("OLE2 magic dispatches to the BIFF reader; corrupt OLE2 still " +
    "errors clearly, not as an opaque ZIP failure") {
    // a real legacy .xls now round-trips through Xlsx.readSheets
    // (full coverage in XlsSpec; this pins the dispatch itself)
    val ok = tmp(".xls")
    graft.etl.Xls.writeFirstSheet(ok, "S", Seq(Seq("h"), Seq("v")))
    assert(Xlsx.readSheets(ok).head.rows ==
      Vector(Vector(Some("h")), Vector(Some("v"))))
    // truncated OLE2 header + filler: fails in the CFB layer with a
    // compound-file message, never an opaque "not a ZIP" deep in the scan
    val bad = tmp(".xls")
    val bytes = Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1, 0x1a, 0xe1)
      .map(_.toByte) ++ Array.fill(64)(0.toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), bytes)
    val e = intercept[IllegalArgumentException](Xlsx.readSheets(bad))
    assert(e.getMessage.contains("compound file"))
  }

  test("multi-sheet workbooks keep workbook order") {
    val f = tmp(".xlsx")
    Xlsx.writeSheets(f, Seq(
      "one" -> Seq(Seq("a"), Seq("1")),
      "two" -> Seq(Seq("b"), Seq("2")),
      "three" -> Seq(Seq("c"), Seq("3"))))
    assert(Xlsx.readSheets(f).map(_.name) == Seq("one", "two", "three"))
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.etl._

/** Ingest edge cases: header-scan fallback, filename year parsing
  * (including the reference's ROC-regex quirk, reproduced faithfully),
  * file routing, the driver-side CSV tokenizer against Spark's reader,
  * the one header rule, and the no-Spark-job ingest contract.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("smart csv falls back to plain read when keyword is absent") {
    val f = Files.createTempFile("graft", ".csv")
    Files.write(f, "a,b\n1,2\n3,4\n".getBytes("UTF-8"))
    val (header, rows) = Ingest.csvFile(f.toString, "utf-8", "不存在")
    assert(header == Seq("a", "b"))
    assert(rows == Seq(Seq("1", "2"), Seq("3", "4")))
  }

  test("header scan only looks at the first ~50 lines") {
    val lines = (1 to 60).map(i => s"junk_$i") ++
      Seq("交易日期,金額", "01/05,100")
    val f = Files.createTempFile("graft", ".csv")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    // keyword beyond line 50 → fallback plain read, junk_1 becomes header
    val (header, _) = Ingest.csvFile(f.toString, "utf-8", "交易日期")
    assert(header == Seq("junk_1"))
  }

  test("filename year/month: western, ROC, and the ROC-regex quirk") {
    assert(Ingest.parseFilenameYearMonth("玉山202403帳單.csv") == (2024, 3))
    assert(Ingest.parseFilenameYearMonth("玉山113年1月.csv") == (2024, 1))
    assert(Ingest.parseFilenameYearMonth("nothing.csv") == (2024, 1))
    // reference quirk (etl.py:274-282): a western year in ROC format
    // matches the ROC regex on its last digits — '2024年01月' → 024+1911.
    // Faithfully reproduced; real filenames use one convention or the other.
    assert(Ingest.parseFilenameYearMonth("華南2024年01月.html") == (1935, 1))
  }

  test("routing keeps statement extensions and skips unknown banks") {
    val d = Files.createTempDirectory("graft-route").toString
    for (n <- Seq("玉山202401.csv", "國泰202401.csv", "富邦202401.csv",
        "玉山.txt", ".玉山202402.csv"))
      Files.write(Paths.get(s"$d/$n"), "x".getBytes)
    val routed = Ingest.routeFiles(d).map { case (p, b) =>
      (p.split('/').last, b) }.toSet
    assert(routed == Set(
      ("玉山202401.csv", "esun_bank"), ("國泰202401.csv", "cube_bank")))
  }

  test("csvRows tokenizes like Spark's CSV reader with header and " +
    "DROPMALFORMED") {
    val lines = Seq(
      "",
      "a,b,c",
      "1,\"x, y\",3",           // quoted comma
      "2,\"say \"\"hi\"\"\",4",  // "" escape
      "3,\"back \\\"slash\\\"\",5", // \" escape
      "4,crlf,6\r",             // CRLF line end left on the line
      "5,,7",                   // empty field
      "6,\"\",8",               // quoted-empty field
      "7,short",                // fewer fields than the header
      "8,long,9,10",            // more fields than the header
      "   ",                    // blank line
      "a,b,c",                  // repeated header line
      "9, padded ,\"\"")
    val (header, rows) = Ingest.csvRows(lines)
    val df = spark.read.option("header", "true")
      .option("mode", "DROPMALFORMED").csv(lines.toDS())
    assert(header == df.columns.toSeq)
    val want = df.collect().toSeq.map(_.toSeq.map(_.asInstanceOf[String]))
    assert(rows == want)
    assert(rows.map(_.head) == Seq("1", "2", "3", "4", "5", "6", "9"))
    assert(rows(4)(1) == null && rows(5)(1) == null)
  }

  /** The three formats share pandas' header rule: trimmed, a blank cell is
    * `Unnamed: i`, a repeat gets `.1`; the first copy of a repeated mapped
    * header keeps its name, so its column is mapped, and the second copy
    * maps by its `.1` name. `path` is a sinopac statement alone in its dir.
    */
  private def assertHeaderRule(file: (Seq[String], Seq[Seq[String]]),
                               path: String, fileType: String): Unit = {
    assert(Ingest.columnNames(file._1) ==
      Seq("交易日期", "Unnamed: 1", "金額", "金額.1"))
    assert(file._2 == Seq(Seq("01/05", "x", "100", "200")))
    val cfg = EtlConfigs.BankConfig("sinopac_bank", "test", fileType,
      "utf-8", "交易日期", Seq("交易日期" -> Schema.TxnDate,
        "金額" -> Schema.Amount, "金額.1" -> Schema.PayAmount))
    val got = Extract.extractAll(spark, Paths.get(path).getParent.toString,
      Map("sinopac_bank" -> cfg))
      .select(Schema.TxnDate, Schema.Amount, Schema.PayAmount).collect().toSeq
    assert(got == Seq(Row(java.sql.Date.valueOf("2024-01-05"), 100.0, 200.0)))
  }

  private def statement(dir: Path, name: String, text: String): String = {
    val f = dir.resolve(name)
    Files.write(f, text.getBytes("UTF-8"))
    f.toString
  }

  test("header rule: CSV") {
    val d = Files.createTempDirectory("graft-hdr")
    val f = statement(d, "永豐202401.csv",
      " 交易日期 ,,金額,金額\n01/05,x,100,200\n")
    assertHeaderRule(Ingest.csvFile(f, "utf-8", "交易日期"), f, "csv")
  }

  test("header rule: HTML") {
    val d = Files.createTempDirectory("graft-hdr")
    val f = statement(d, "永豐202401.html",
      "<table><tr><th> 交易日期 </th><th> </th><th>金額</th><th>金額</th></tr>" +
        "<tr><td>01/05</td><td>x</td><td>100</td><td>200</td></tr></table>")
    assertHeaderRule(Ingest.htmlFile(f, "utf-8", "交易日期"), f, "html")
  }

  test("header rule: XLSX") {
    val f = Files.createTempDirectory("graft-hdr").resolve("永豐202401.xlsx")
      .toString
    Xlsx.writeSheets(f, Seq("s" -> Seq(
      Seq(" 交易日期 ", null, "金額", "金額"),
      Seq("01/05", "x", "100", "200"))))
    assertHeaderRule(Xlsx.firstSheet(f), f, "excel")
  }

  test("header rule: repeats compare exactly") {
    assert(Ingest.columnNames(Seq("a", "A", "a.1", "", "a", "_row_idx")) ==
      Seq("a", "A", "a.1", "Unnamed: 3", "a.1.1", "_row_idx"))
  }

  test("rule tables: BOM dropped, a repeated column's first copy is read, " +
    "blank and repeated header lines skipped") {
    val d = Files.createTempDirectory("graft-rules")
    val f = statement(d, "payment_gateway.csv",
      "\uFEFFPattern,Category,Prefix_Label,Priority,Pattern\r\n" +
        "LINE.*PAY,Line Pay,LinePay－,25,ignored\r\n\r\n" +
        "Pattern,Category,Prefix_Label,Priority,Pattern\r\n" +
        "街口,JKOPay,JKOPAY－,30,ignored\r\n")
    assert(EtlConfigs.loadPaymentRules(f) == Seq(
      EtlConfigs.PaymentRule("街口", "JKOPay", "JKOPAY－", 30.0),
      EtlConfigs.PaymentRule("LINE.*PAY", "Line Pay", "LinePay－", 25.0)))
  }

  test("loading configs and decoding statements runs no Spark job") {
    val d = Files.createTempDirectory("graft-ingest").toString
    ExampleData.write(d)
    val (extracted, jobs, _) = observe {
      val cfg = Pipeline.loadConfigs(spark, s"$d/configs")
      Extract.extractAll(spark, s"$d/data", cfg.banks)
    }
    assert(jobs == 0)
    assert(extracted.count() == 13) // EtlPipelineSpec's extract count
  }

  /** Offences against the ingest contract in one `graft/etl` source: a
    * driver-side Dataset, a partition-assigned or stored row id, a
    * DataFrame built outside `Ingest.table`, a Spark CSV read outside
    * `readStageCsv`, or a window or union, which would split the one
    * statement table by file again. `Mock` samples and perturbs extracted
    * frames, not statement files, so its windows and unions stay.
    */
  private def offences(file: String, text: String): Seq[String] = {
    val readStageCsv = "defreadStageCsv(spark:SparkSession,path:String)" +
      """:DataFrame=spark.read.option("header","true").csv(path)"""
    val flat = text.replaceAll("\\s+", "") match {
      case t if file == "Load.scala" => t.replace(readStageCsv, "")
      case t => t
    }
    val csvRead =
      """\.read(?:\.option\([^)]*\))*\.(?:csv\(|format\("csv"\))""".r
    val perFile = """\bWindow\b|\bunionByName\b""".r
    Seq("createDataset", "monotonically_increasing_id", "_row_idx")
      .filter(flat.contains) ++
      Seq("createDataFrame").filter(c =>
        file != "Ingest.scala" && flat.contains(c)) ++
      csvRead.findAllIn(flat).toSeq ++
      (if (file == "Mock.scala") Nil else perFile.findAllIn(text).toSeq)
  }

  test("under graft/etl, Ingest.table alone builds driver-parsed frames " +
    "and readStageCsv is the one Spark CSV read") {
    val dir = Paths.get("src/main/scala/graft/etl")
    val walk = Files.list(dir)
    val files = try walk.iterator().asScala.toList finally walk.close()
    val texts = files.filter(_.toString.endsWith(".scala")).map(p =>
      p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    assert(texts.map(_._1).contains("Load.scala"))
    val found = texts.flatMap { case (f, t) => offences(f, t).map(f -> _) }
    assert(found.isEmpty, s"ingest contract broken: $found")
    // the scan sees the forms it forbids
    val old = "val ds = spark.createDataset(lines).coalesce(1)\n" +
      "val df = spark.read\n  .option(\"header\", \"true\")\n" +
      "  .option(\"mode\", \"DROPMALFORMED\")\n  .csv(ds)\n" +
      ".withColumn(RowIdx, monotonically_increasing_id())\n" +
      "spark.createDataFrame(rdd, schema)"
    assert(offences("Xlsx.scala", old).size == 4)
    val perFile = "import org.apache.spark.sql.expressions.Window\n" +
      "val RowIdx = \"_row_idx\"\n" +
      "frames.reduce(_.unionByName(_, allowMissingColumns = true))"
    assert(offences("Extract.scala", perFile) ==
      Seq("_row_idx", "Window", "unionByName"))
    assert(offences("Mock.scala", perFile) == Seq("_row_idx"))
    assert(offences("Analyze.scala", "Rfm.dualWindow(df)").isEmpty)
    assert(offences("EtlConfigs.scala",
      "spark.read.option(\"header\", \"true\").csv(path)").size == 1)
    assert(offences("Load.scala", texts.toMap.apply("Load.scala")
      .replace("readStageCsv", "readOther")).size == 1)
  }
}

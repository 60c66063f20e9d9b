package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Classify, Rfm}

class RfmSpec extends SparkSpec {
  import spark.implicits._

  // (cust, date, txn, amount)
  private lazy val txns = Seq(
    (1L, "2024-01-10", "t1", 100.0),
    (1L, "2024-03-01", "t2", 50.0),
    (2L, "2023-01-01", "t3", 999.0),
    (3L, "2024-02-28", "t4", 10.0),
    (3L, "2024-02-28", "t5", 10.0)
  ).toDF("cust", "d", "txn", "amt")

  test("analysis date is max date + 1 day") {
    assert(Rfm.analysisDate(txns, "d") == Date.valueOf("2024-03-02"))
  }

  test("rfm aggregate computes recency/frequency/monetary per key") {
    val ad = Rfm.analysisDate(txns, "d")
    val got = Rfm.aggregate(txns, Seq("cust"), "d", "txn", "amt", ad)
      .orderBy("cust")
      .select("recency_days", "frequency", "monetary")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 150.0), (426L, 1L, 999.0), (3L, 2L, 20.0)))
  }

  test("dual window fills short-window misses with 0 / 9999") {
    val got = Rfm.dualWindow(txns, Seq("cust"), "d", "txn", "amt")
      .filter(col("cust") === 2L)
      .select("short_recency_days", "short_frequency", "short_monetary")
      .as[(Long, Long, Double)].head()
    assert(got == ((9999L, 0L, 0.0)))
  }

  test("the RFM recipe lives in Rfm and PandasRank keeps two rank paths") {
    def scan(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val home = Paths.get("src/main/scala/graft/operators/Rfm.scala")
    val self = Paths.get("src/test/scala/graft/RfmSpec.scala")
    val sources = scan("src")
    // self-check: the scan sees the recipe where it belongs
    assert(sources.contains(home) && sources.contains(self) &&
      text(home).contains("PandasRank") && text(home).contains("datediff("))
    val inEtl = for {
      p <- sources if p.startsWith("src/main/scala/graft/etl")
      n <- Seq("PandasRank", "datediff(", "na.fill") if text(p).contains(n)
    } yield s"$p: $n"
    assert(inEtl.isEmpty, s"the etl analyses take RFM from Rfm: $inEtl")
    val removed = for {
      p <- sources if p != self
      n <- Seq("pctRankJoined", "pctRankScalable(", "sqlExpr",
        "pctRankTable", "autoThreshold")
      if text(p).contains(n)
    } yield s"$p: $n"
    assert(removed.isEmpty, s"use pctRank or pctRankScalableAll: $removed")
  }

  test("card segment ladder: dormancy beats rank splits") {
    val df = Seq(
      (200, 0.9, 0.9), // dormant despite high ranks
      (10, 0.9, 0.9),  // main driver
      (10, 0.2, 0.9),  // sniper
      (10, 0.9, 0.2),  // utility
      (10, 0.2, 0.2)   // inefficient
    ).toDF("recency_days", "f_rank", "m_rank")
    val labels = Seq("Dormant", "Main Driver", "Sniper", "Utility",
      "Inefficient")
    val got = df.select(Rfm.cardSegment(labels).as("s")).as[String]
      .collect().toSeq
    assert(got == labels)
  }

  test("avg ticket truncates toward zero like pandas astype(int)") {
    val df = Seq((7.0, 2L)).toDF("monetary", "frequency")
    assert(df.select(Rfm.avgTicket.as("t")).as[Long].head() == 3L)
  }

  test("classification cascade is first-match-wins with default") {
    val cls = Classify.cascade(Seq(
      (col("v") < 0) -> "refund",
      (col("v") === 0) -> "zero",
      (col("v") < 100) -> "small"), "regular")
    val got = Seq(-5.0, 0.0, 50.0, 500.0).toDF("v")
      .select(cls.as("c")).as[String].collect().toSeq
    assert(got == Seq("refund", "zero", "small", "regular"))
  }

  test("keyword regex: empty list never matches, keywords are (?i)") {
    val df = Seq("PayPal payment", "other").toDF("s")
    val got = df.select(
      Classify.matchesAny(col("s"), Seq("paypal", "stripe")).as("a"),
      Classify.matchesAny(col("s"), Seq.empty).as("b"))
      .as[(Boolean, Boolean)].collect().toSeq
    assert(got == Seq((true, false), (false, false)))
  }
}

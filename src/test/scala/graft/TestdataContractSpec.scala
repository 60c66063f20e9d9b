package graft

import org.apache.spark.sql.types.{LongType, TimestampType}

/** Testdata contract: every driver table loads with a usable schema and every
  * registered query still *analyzes* against the current parquet files.
  *
  * Round 6 shipped 15 broken queries because `events.ts` changed its on-disk
  * type (TIMESTAMP(NANOS) → timestamp[us]) and nothing cheap asserted "each
  * query's plan resolves against today's schemas". This spec is that cheap
  * assertion: DataFrame construction in Spark is eagerly analyzed, so merely
  * building each query surfaces any DATATYPE_MISMATCH / UNRESOLVED_COLUMN
  * without executing the (possibly expensive) physical plan.
  */
class TestdataContractSpec extends SparkSpec {

  test("all driver tables load and expose non-empty schemas") {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sf) else Tables.load(spark, sf, n)
      assert(df.schema.nonEmpty, s"table $n has empty schema")
    }
  }

  test("a table's schema is inferred once per session, and again after " +
    "its files are rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (_, inferJobs, _) = observe(Tables.load(spark, dir, "t"))
    assert(inferJobs > 0, "the probe must see the schema-inference job")
    val (again, jobs, _) = observe(Tables.load(spark, dir, "t"))
    assert(jobs == 0, s"second load ran $jobs jobs")
    assert(again.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    Seq((2L, "b", 3.0)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.columns.toSeq == Seq("k", "v", "w"))
    assert(rewritten.as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "b", 3.0)))
  }

  test("events loader normalizes ts to long nanos and ts_utc to TimestampType") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == LongType,
      s"events.ts must be long nanos, got ${ev.schema("ts").dataType}")
    assert(ev.schema("ts_utc").dataType == TimestampType,
      s"events.ts_utc must be TimestampType, got ${ev.schema("ts_utc").dataType}")
    // Value-level: ts is exactly nanos of ts_utc (micros source → *1000).
    val bad = ev.selectExpr("count(*) AS n")
      .crossJoin(ev.where("ts != unix_micros(ts_utc) * 1000")
        .selectExpr("count(*) AS mismatched"))
      .collect()(0)
    assert(bad.getLong(0) > 0, "events table is empty")
    assert(bad.getLong(1) == 0, s"${bad.getLong(1)} rows where ts != nanos(ts_utc)")
  }

  test("every registered query analyzes against the current testdata schemas") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        // Construction is eager analysis; touching `analyzed` makes the
        // intent explicit. No action is run.
        q(spark, sf).queryExecution.analyzed
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }
}

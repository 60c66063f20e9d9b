package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CurationQueries, ExtendedQueries, MultimodalQueries, RelationalQueries, ScaleQueries, StreamingQueries, TextQueries, VectorQueries, WebQueries, WindowSetQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus the
  * beyond-reference corpus/vector operators) to a DataFrame query over the
  * driver test tables; `oracleSql` carries the DuckDB-equivalent SQL for
  * hash comparison. Queries without SQL equivalents (xxhash64-based dedup,
  * approximate ANN) get rows-only checks and ScalaTest baselines instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Card-style RFM — the reference's minimum end-to-end slice (SURVEY §7.2):
    * filter → groupBy agg → pandas pct ranks → segment ladder → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q06_rfm_card_style")(
      spark, "/root/testdata/sf0.001")

  /** Every query family: the `*Queries` object that registers its queries. */
  def families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("relational" -> RelationalQueries.queries,
      "text" -> TextQueries.queries,
      "vector" -> VectorQueries.queries,
      "scale" -> ScaleQueries.queries,
      "analytics" -> AnalyticsQueries.queries,
      "windowset" -> WindowSetQueries.queries,
      "extended" -> ExtendedQueries.queries,
      "curation" -> CurationQueries.queries,
      "multimodal" -> MultimodalQueries.queries,
      "streaming" -> StreamingQueries.queries,
      "web" -> WebQueries.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ TextQueries.oracleSql ++
      VectorQueries.oracleSql ++ ScaleQueries.oracleSql ++
      AnalyticsQueries.oracleSql ++ WindowSetQueries.oracleSql ++
      ExtendedQueries.oracleSql ++ CurationQueries.oracleSql ++
      MultimodalQueries.oracleSql ++ StreamingQueries.oracleSql ++
      WebQueries.oracleSql
}

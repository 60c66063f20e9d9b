package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** Deterministic scale-up generator for the driver test tables.
  *
  * Replicates `<src>` (normally /root/testdata/sf0.1) `factor`× into
  * `<out>`, preserving the per-table distributional shape while keeping the
  * replicas semantically DISTINCT — the point is to measure how the engine's
  * plans scale, not to hand the dedup operators a corpus that is 90%
  * verbatim copies (which would grow candidate pairs quadratically for a
  * reason that says nothing about the plans):
  *
  *  - every surrogate key is offset by `rep * (max(key)+1)` so replicas
  *    never collide and foreign-key joins stay 1:1 with the source shape
  *    (orders⋈customer, lineitem⋈orders/part/supplier, events.user_id);
  *  - document text gets a replica-unique marker token spliced into every
  *    4th word (rep > 0), so no 3/5-word shingle window survives intact and
  *    cross-replica Jaccard/MinHash/SimHash similarity collapses to noise,
  *    while length, vocabulary shape, and within-replica near-dup structure
  *    are preserved; `n_chars` is recomputed to stay consistent;
  *  - embeddings get a per-replica deterministic coordinate sign flip
  *    (`x * (1-2*(xxhash64(rep,i) mod 2))`, rep > 0): an isometry, so every
  *    within-replica distance/cosine is bit-preserved (ANN difficulty and
  *    cluster structure scale honestly) while cross-replica cosines drop to
  *    ~N(0, 1/√d) — no artificial near-dup mass;
  *  - `region`/`nation` are genuine fixed dimensions and are copied as-is.
  *
  * Query-side probe filters in the bench (vec_id < 100, doc_id ranges)
  * keep their source-scale selectivity because replica 0 is the identity
  * copy — so "100 ANN probes against a K× corpus" measures exactly the
  * corpus-side scaling it should.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {

  private def withRep(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(
      spark(df).range(factor.toLong).withColumnRenamed("id", "rep"))

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  private def maxKey(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  /** key + rep*stride, preserving the column name. */
  private def off(c: String, stride: Long): Column =
    (col(c) + col("rep") * stride).as(c)

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val s = Session.local(Session.cpus)

    // optional table subset (comma-separated) for targeted large-factor
    // runs where the full set would not fit the box — e.g.
    // SPARK_GRAFT_TABLES=lineitem,embeddings for a ×1000 probe
    val onlyTables = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def read(name: String): DataFrame = s.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      if (onlyTables.forall(_.contains(name))) {
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$out/$name.parquet")
        System.err.println(s"[scalegen] wrote $name x$factor")
      } else System.err.println(s"[scalegen] skip $name")
    }

    // dimension tables: fixed-cardinality by nature — copy verbatim
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val cust = read("customer"); val strideC = maxKey(cust, "c_custkey") + 1
    val supp = read("supplier"); val strideS = maxKey(supp, "s_suppkey") + 1
    val part_ = read("part");    val strideP = maxKey(part_, "p_partkey") + 1
    val ord = read("orders");    val strideO = maxKey(ord, "o_orderkey") + 1
    val ev = read("events")
    val strideU = maxKey(ev, "user_id") + 1
    val strideE = maxKey(ev, "event_id") + 1
    val docs = read("documents"); val strideD = maxKey(docs, "doc_id") + 1
    val emb = read("embeddings"); val strideV = maxKey(emb, "vec_id") + 1

    write(withRep(cust, factor).select(
      off("c_custkey", strideC), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), "customer", 4)

    write(withRep(supp, factor).select(
      off("s_suppkey", strideS), col("s_name"), col("s_nationkey"),
      col("s_acctbal")), "supplier", 2)

    write(withRep(part_, factor).select(
      off("p_partkey", strideP), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "part", 4)

    write(withRep(ord, factor).select(
      off("o_orderkey", strideO), off("o_custkey", strideC),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8 * factor min 64)

    write(withRep(read("lineitem"), factor).select(
      off("l_orderkey", strideO), off("l_partkey", strideP),
      off("l_suppkey", strideS), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 16 * factor min 128)

    write(withRep(ev, factor).select(
      off("event_id", strideE), col("ts"), off("user_id", strideU),
      col("event_type"), col("value"), col("props")),
      "events", 8 * factor min 64)

    // documents: splice a replica-unique marker into every 4th word so no
    // shingle window crosses replicas intact (see object scaladoc).
    val scaledText = expr(
      """CASE WHEN rep = 0 THEN text ELSE array_join(
        |  zip_with(split(text, ' '),
        |           sequence(0, size(split(text, ' ')) - 1),
        |           (w, i) -> CASE WHEN i % 4 = 3
        |                     THEN concat(w, ' zzr', rep, 'w', i)
        |                     ELSE w END),
        |  ' ') END""".stripMargin).as("text")
    write(withRep(docs, factor)
      .select(off("doc_id", strideD), scaledText, col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 4 * factor min 32)

    // embeddings: per-replica coordinate sign flip — an isometry (see
    // object scaladoc). rep 0 is the identity copy.
    val flipped = expr(
      """transform(embedding, (x, i) ->
        |  CASE WHEN rep = 0 THEN x
        |       ELSE CAST(x * (1 - 2 * pmod(xxhash64(rep, i), 2)) AS FLOAT)
        |  END)""".stripMargin).as("embedding")
    write(withRep(emb, factor)
      .select(off("vec_id", strideV), flipped, col("label")),
      "embeddings", 4 * factor min 32)

    s.stop()
  }
}

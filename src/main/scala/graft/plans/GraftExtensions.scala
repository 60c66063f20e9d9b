package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql` users get the same codegen'd kernels as the Scala API:
  *
  *   vec_dot(a, b)                Σ aᵢ·bᵢ over array<double>
  *   vec_l2sq(a, b)               Σ (aᵢ−bᵢ)²
  *   sorted_intersect_count(a, b) |a ∩ b| for sorted distinct array<string>
  *   minhash(arr, k)              k-wide MinHash signature (k literal)
  *   sorted_last_leq(arr, t)      last index with arr[i] <= t (as-of probe)
  *   join_tokens_except_sorted(t, cov)  span-removal rewrite kernel
  *   hashed_word_shingles(s, n)   sorted distinct xxhash64 word n-grams
  *   simhash_xx64(s)              64-bit xxhash64-token SimHash
  *   simhash_md5(s)               60-bit md5-token SimHash (oracle-portable)
  *   nfc_normalize(s)             Unicode canonical composition (NFC)
  *
  * Deploy either via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (applies at session build) or [[GraftExtensions.register]] on a live
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // opt-in range-join rewrite (spark.graft.rangeJoin.bucketWidth > 0)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // whole-operator as-of join (TemporalJoin.asOfMerge)
    ext.injectPlannerStrategy(_ => AsOfJoin.AsOfJoinStrategy)
    // whole-operator pandas pct-rank (PandasRank.pctRankScalableAll)
    ext.injectPlannerStrategy(_ => PctRank.PctRankStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private[plans] val definitions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("vec_dot", info("vec_dot", "dot product of two array<double>"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("vec_l2sq", info("vec_l2sq", "squared L2 distance of two array<double>"),
      (args: Seq[Expression]) => L2SquaredDistance(args(0), args(1))),
    ("sorted_intersect_count",
      info("sorted_intersect_count",
        "intersection size of two sorted distinct array<string>"),
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))),
    ("minhash", info("minhash", "k-wide MinHash signature of array<string>"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(k: Int, _) => MinHashArray(args(0), k)
        case other => throw new IllegalArgumentException(
          s"minhash k must be an integer literal, got $other")
      }),
    ("sorted_last_leq",
      info("sorted_last_leq",
        "index of last element <= t in a sorted array<bigint>, -1 if none"),
      (args: Seq[Expression]) => SortedLastLeq(args(0), args(1))),
    ("join_tokens_except_sorted",
      info("join_tokens_except_sorted",
        "space-join tokens whose 1-based index is absent from a sorted " +
          "array<bigint>"),
      (args: Seq[Expression]) => JoinTokensExceptSorted(args(0), args(1))),
    ("hashed_word_shingles",
      info("hashed_word_shingles",
        "sorted distinct xxhash64 word-n-gram shingles of a string (n literal)"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(n: Int, _) => HashedWordShingles(args(0), n)
        case other => throw new IllegalArgumentException(
          s"hashed_word_shingles n must be an integer literal, got $other")
      }),
    ("positional_word_shingles",
      info("positional_word_shingles",
        "xxhash64 word-n-gram hashes in document order (n literal)"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(n: Int, _) => PositionalWordShingles(args(0), n)
        case other => throw new IllegalArgumentException(
          s"positional_word_shingles n must be an integer literal, got $other")
      }),
    ("simhash_xx64",
      info("simhash_xx64", "64-bit xxhash64-token SimHash of a string"),
      (args: Seq[Expression]) => SimHashXx64Words(args(0))),
    ("simhash_md5",
      info("simhash_md5",
        "60-bit md5-token SimHash of a string (oracle-portable)"),
      (args: Seq[Expression]) => SimHashMd5Words(args(0))),
    ("nfc_normalize",
      info("nfc_normalize",
        "Unicode canonical composition (NFC) of a string"),
      (args: Seq[Expression]) => NfcNormalize(args(0))))

  /** Register the functions, optimizer rule and planner strategies on a
    * live session (sessions built without `spark.sql.extensions`).
    */
  def register(spark: SparkSession): Unit = {
    definitions.foreach { case (name, einfo, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), einfo, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeJoinRewrite
    val missing = Seq(AsOfJoin.AsOfJoinStrategy, PctRank.PctRankStrategy)
      .filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies ++ missing
  }
}

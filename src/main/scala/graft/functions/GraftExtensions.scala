package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.types.{LongType, StringType}

/**
 * SparkSessionExtensions entry point: registers graft's SQL functions so
 * plain `spark.sql(...)` text can use the engine's primitives.
 *
 * Activate with
 * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
 * (Verify/Bench do) or `SparkSession.builder().withExtensions(...)`.
 *
 *  - `graft_cosine(a, b)`  — native fused cosine over array<float>
 *  - `graft_h60(x)`        — the engine-wide 60-bit md5 hash (identical
 *                            across Spark and DuckDB; see TextOps.h60)
 *  - [[graft.plans.SemijoinReduction]] optimizer rule (opt-in via
 *    `spark.graft.semijoinReduction=true`): Yannakakis reduction for
 *    multiway inner-join SQL
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def h60(e: Expression): Expression =
    // the fused codegen form (r16) — bit-equal to the old
    // conv(substring(md5(cast to binary),1,15),16,10) chain, with the
    // same cast (a string input hashes its UTF-8 bytes; illegal input
    // types still fail analysis at the cast, exactly as before)
    H60Expr(Cast(e, org.apache.spark.sql.types.BinaryType))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, null, "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two float arrays", ""),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[Md5].getName, null, "graft_h60",
        "graft_h60(x) - deterministic 60-bit md5-derived hash", ""),
      (args: Seq[Expression]) => h60(args(0))))
    ext.injectOptimizerRule(_ => graft.plans.SemijoinReduction)
  }
}

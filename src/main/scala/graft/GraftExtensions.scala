package graft

import graft.functions.{CharGramsExpr, LshBandKeys, VecCosine, VecDot, VecL2Sq, VecScaledL2, WinnowFingerprint, WordShinglesExpr}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark SQL integration point: `spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`) registers the codegen'd
  * vector kernels as SQL functions, so `spark.sql("SELECT vec_cosine(a,b)
  * ...")` works anywhere the DataFrame API does.
  *
  * This is the (c) extension route of the design rules: custom Catalyst
  * expressions surfaced through SparkSessionExtensions — no fork, no
  * UDF registry, full codegen. For an already-running session (where
  * the extensions config can no longer apply) use
  * `GraftFunctions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // bounded-memory rewrite of row_number-window top-k (plans.WindowTopKRule)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRule)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - left-fold dot product of two vectors"),
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    (FunctionIdentifier("vec_l2sq"),
      info("vec_l2sq", "vec_l2sq(a, b) - squared L2 distance"),
      (args: Seq[Expression]) => VecL2Sq(args(0), args(1))),
    (FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity"),
      (args: Seq[Expression]) => VecCosine(args(0), args(1))),
    (FunctionIdentifier("vec_scaled_l2"),
      info("vec_scaled_l2", "vec_scaled_l2(a, b, scale) - sum (a-b)^2/scale"),
      (args: Seq[Expression]) => VecScaledL2(args(0), args(1), args(2))),
    (FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint",
        "winnow_fingerprint(text) - struct(n_grams, min_fp, n_fp) winnowing fingerprint"),
      (args: Seq[Expression]) => WinnowFingerprint(args(0))),
    (FunctionIdentifier("char_grams"),
      info("char_grams", "char_grams(text, k) - distinct character k-grams, first-occurrence order"),
      (args: Seq[Expression]) => CharGramsExpr(args(0), intArg(args(1), "char_grams"))),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(words, n) - distinct n-word shingles, first-occurrence order"),
      (args: Seq[Expression]) => WordShinglesExpr(args(0), intArg(args(1), "word_shingles"))),
    (FunctionIdentifier("lsh_band_keys"),
      info("lsh_band_keys",
        "lsh_band_keys(vec[, nPlanes[, dim]]) - hyperplane-LSH band keys of an embedding " +
          "(defaults: 64 planes over a 64d bank; pass dim for non-64d corpora)"),
      (args: Seq[Expression]) => args.length match {
        case 1 => LshBandKeys(args(0))
        case 2 => LshBandKeys(args(0), intArg(args(1), "lsh_band_keys"))
        case _ => LshBandKeys(args(0), intArg(args(1), "lsh_band_keys"),
          intArg(args(2), "lsh_band_keys"))
      }))

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: the size argument must be an integer literal, got $other")
  }

  /** Register into a live session's function registry. */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.Bridge.registerFunctions(spark, all)
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{RollingHash, SimHash64, WordNGrams, VecExprs}

/** SparkSessionExtensions entry point: plans graft's as-of join,
  * sorts small results in one task (`SingleTaskSort`), and registers
  * graft's native expressions as SQL functions so the engine is
  * usable from pure SQL (`spark.sql("SELECT rolling_hash(text) ...")`)
  * and from spark.sql.extensions config:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * Functions: rolling_hash(str), simhash64(array<string>),
  * word_ngrams(array<string>, n), vec_dot(a, b), vec_norm(a),
  * minhash_sig(array<string>).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(_ => graft.plans.SingleTaskSort)
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      info("rolling_hash", "rolling_hash(str) - polynomial fingerprint mod 1e9+7"),
      (args: Seq[Expression]) => RollingHash(args.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(tokens, n) - distinct word n-gram shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable,
          "word_ngrams(tokens, n): n must be a literal")
        val n = args(1).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.intValue()
          case s: java.lang.Short => s.intValue()
          case other => throw new IllegalArgumentException(
            s"word_ngrams: n must be an integral literal, got $other")
        }
        WordNGrams(args.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - double dot product of two arrays"),
      (args: Seq[Expression]) => VecExprs.DotProduct(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_elem_product"),
      info("vec_elem_product",
        "vec_elem_product(a, b) - element-wise double products of two arrays"),
      (args: Seq[Expression]) => VecExprs.ElemProduct(args.head, args(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of an array"),
      (args: Seq[Expression]) => VecExprs.L2Norm(args.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(shingles) - 64-long K-min MinHash signature (q32/q71 hash family)"),
      (args: Seq[Expression]) => graft.plans.MinHashSigExpr.MinHashSig(
        args.head, graft.operators.Dedup.minhashK,
        graft.operators.Dedup.minhashP, graft.operators.Dedup.minhashC)))
  }
}

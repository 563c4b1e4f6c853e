package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Recommendation-adjacent relational operators.
  *
  * `biasBaseline` is the deterministic bias model of the MF/GCMC
  * family (global mean + user bias) — the reference's matrix-
  * completion stack (contrib/graph_convolutional_matrix_completion
  * .py) learns exactly these biases plus a low-rank interaction; the
  * low-rank part lives in MlOps.alsRecommend (rows-only), while the
  * bias part is closed-form aggregation and therefore oracle-exact.
  */
object Recommend {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** customer × part rating matrix (decimal-exact strengths) —
    * disk artifact per (session, corpus), like MlOps.ratings: the
    * double strengths roundtrip parquet exactly, so q56's oracle
    * parity is unaffected while reps survive cache clears. */
  def ratingsExact(spark: SparkSession, dir: String): DataFrame =
    graft.SessionRegistry.artifact(spark, "ratings_exact", dir)(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("rating"))
        .write.parquet(_)).read()

  /** Bias-baseline matrix completion: μ (global train mean) and the
    * top-20 user biases b_u = Σr/n − μ, computed in the algebraic
    * form (exact decimal sums, one double division) so the result is
    * partition-order-independent. Deterministic key-hash train split. */
  def biasBaseline(spark: SparkSession, dir: String): DataFrame = {
    val r = ratingsExact(spark, dir)
      .withColumn("is_train", pmod(col("user") * 31 + col("item"), lit(10)) < 8)
    val train = r.filter(col("is_train"))
    // ONE pass over the rating matrix: the global mean's numerator
    // and denominator are exact-decimal sums of the per-user sums
    // (decimal addition is associative), so μ comes from a tiny
    // second-level agg over |users| rows instead of a second scan
    // of the join
    val byUser = train.groupBy(col("user"))
      .agg(count(lit(1)).as("n_train"),
        sum(dec(col("rating"))).as("sum_user_dec"))
    // users-sized; μ and the output join share its exchange
    val glob = byUser.agg(
      sum(col("n_train")).as("n_global"),
      sum(col("sum_user_dec")).as("sum_global_dec"))
    byUser.crossJoin(broadcast(glob))
      .withColumn("mu", col("sum_global_dec").cast("double") / col("n_global"))
      .withColumn("bias",
        round(col("sum_user_dec").cast("double") / col("n_train") - col("mu"), 6))
      .select(col("user"), col("n_train"), col("bias"))
      .orderBy(col("bias").desc, col("user"))
      .limit(20)
  }
}

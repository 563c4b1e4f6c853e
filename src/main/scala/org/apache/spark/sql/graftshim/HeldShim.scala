package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

/** The halves of a held artifact table (`SessionRegistry.held`): a
  * frame's rows as an RDD, and a sized relation over that RDD — the
  * Catalyst internals it takes, kept in one file like ColumnShim's. */
object HeldShim {
  /** The frame's rows as copied `UnsafeRow`s (Spark reuses buffers). */
  def rows(df: DataFrame): RDD[InternalRow] = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val project = UnsafeProjection.create(schema)
      it.map(r => project(r).copy(): InternalRow)
    }
  }

  def bytes(it: Iterator[InternalRow]): Long =
    it.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum

  /** `df`'s output over `rows`, sized for the optimizer's join choices. */
  def relation(df: DataFrame, rows: RDD[InternalRow], sizeInBytes: Long): LogicalPlan =
    LogicalRDD(df.queryExecution.analyzed.output, rows)(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(Statistics(sizeInBytes = BigInt(math.max(sizeInBytes, 1L)))), None)
}

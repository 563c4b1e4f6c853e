package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types._

/** Access to Spark 4's `private[sql]` abstract-type machinery so
  * graft's native expressions can declare `inputTypes` and fail at
  * ANALYSIS time on wrong input shapes (instead of reading arrays
  * with the wrong byte stride at runtime).
  */
object TypeShim {
  def vecType: AbstractDataType =
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
  def vecPair: Seq[AbstractDataType] = Seq(vecType, vecType)
  def vecOne: Seq[AbstractDataType] = Seq(vecType)
  def stringArrayOne: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  def stringOne: Seq[AbstractDataType] = Seq(StringType)
  def longOne: Seq[AbstractDataType] = Seq(LongType)
  /** Either of two array types (PairExprs' posting arrays). */
  def arrayOf(a: DataType, b: DataType): Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(a), ArrayType(b)))
}

package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.{ColumnShim, TypeShim}
import org.apache.spark.sql.types._

/** Ordered-pair explosion of a posting array — the inverted-index
  * "posting list → candidate pairs" step as ONE codegen kernel.
  *
  * The composable form (nested `transform` + `slice` lambdas) is
  * interpreted (CodegenFallback) and allocates a lambda frame per
  * element; it ran once per posting array on every pair-generation
  * path (q31/q32 dedup, q34 embedding near-dups, the co-click pairs
  * behind q48/q142/q145/q155/q177). Here the posting rows pair up in
  * a tight quadratic loop over the (df-capped, so bounded) array.
  *
  * Two element types, one loop: `array<struct<id: long, w: long>>`
  * (weighted postings) pairs into (doc_a, na, doc_b, nb), and a plain
  * `array<long>` of ids pairs into (id_a, id_b).
  *
  * Pair order matches the replaced lambdas exactly: (i, j) for i<j
  * in array order — DedupSpec's q31 oracle hash pins this.
  */
object PairExprs {

  /** All ordered pairs of an array whose elements are `width` longs
    * (1: a plain id, 2: an (id, w) struct). Static so generated code
    * calls it directly. */
  def pairsCompute(arr: ArrayData, width: Int): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val v = new Array[Long](n * width)
    var i = 0
    while (i < n) {
      if (width == 1) v(i) = arr.getLong(i)
      else {
        val r = arr.getStruct(i, 2)
        v(2 * i) = r.getLong(0); v(2 * i + 1) = r.getLong(1)
      }
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new Array[Any](2 * width)
        var c = 0
        while (c < width) {
          row(c) = v(i * width + c); row(width + c) = v(j * width + c); c += 1
        }
        out(k) = new GenericInternalRow(row)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val weighted = StructType(Seq(
    StructField("id", LongType), StructField("w", LongType)))
  private def field(name: String) = StructField(name, LongType, nullable = false)

  case class PostingPairs(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = TypeShim.arrayOf(weighted, LongType)
    private def width: Int = child.dataType match {
      case ArrayType(LongType, _) => 1
      case _ => 2
    }
    override def dataType: DataType = ArrayType(StructType(
      if (width == 1) Seq(field("id_a"), field("id_b"))
      else Seq(field("doc_a"), field("na"), field("doc_b"), field("nb"))),
      containsNull = false)
    override def prettyName: String = "posting_pairs"
    override def nullSafeEval(a: Any): Any =
      pairsCompute(a.asInstanceOf[ArrayData], width)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.PairExprs.pairsCompute($c, $width);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def postingPairs(arr: Column): Column =
    ColumnShim.column(PostingPairs(ColumnShim.expression(arr)))
}

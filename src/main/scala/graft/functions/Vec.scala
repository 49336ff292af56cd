package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Vector SQL functions for the similarity operators, each bound to its
  * [[SqlKernels]] fold by [[KernelCall]]: a tight primitive loop over the
  * ArrayData inside WholeStageCodegen, no per-element lambda. */
case class DotF(children: Seq[Expression]) extends KernelCall("dot_f", "dot", DoubleType,
    Seq("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType))) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** Sum of squares (squared L2 norm) of a float vector. */
case class Norm2F(children: Seq[Expression]) extends KernelCall("norm2_f", "norm2", DoubleType,
    Seq("a" -> ArrayType(FloatType))) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** Peak magnitude max|x| of a float vector, NULL for an empty one — the
  * compiled form of `array_max(transform(pcm, x -> abs(x)))`, whose
  * per-element lambda measured ~100× slower over decoded audio. */
case class PeakF(children: Seq[Expression]) extends KernelCall("peak_f", "peak", DoubleType,
    Seq("a" -> ArrayType(FloatType))) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

object VecFunctions {
  def register(spark: SparkSession): Unit =
    KernelCall.register(spark, "dot_f" -> DotF, "norm2_f" -> Norm2F, "peak_f" -> PeakF)

  def dot_f(a: Column, b: Column): Column = call_function("dot_f", a, b)

  def norm2_f(a: Column): Column = call_function("norm2_f", a)

  def peak_f(a: Column): Column = call_function("peak_f", a)
}

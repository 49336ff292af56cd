package graft.functions

import org.apache.spark.sql.{Column, GraftPlans, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.audio.Rules

/** One custom SQL function bound to Catalyst the way Spark's own built-ins
  * are: a `RuntimeReplaceable` whose replacement is a single `StaticInvoke`
  * of `kernel` on [[SqlKernels]]. The optimizer swaps the replacement in,
  * so `StaticInvoke`'s codegen keeps the call inside WholeStageCodegen and
  * its interpreted eval reflects the same method — each kernel is written
  * once, in Scala. Any null argument gives null. The subclasses exist for
  * their names: `prettyName`, and so auto-generated column names and the
  * analyzed plan, is the class name.
  *
  * `params` are the SQL parameter names and types. The trailing
  * `defaults.size` parameters are optional; the replacement fills their
  * defaults in, so every arity binds the same kernel. A wrong arity fails
  * analysis, as does a wrong argument type. */
abstract class KernelCall(fn: String, kernel: String, result: DataType,
                          params: Seq[(String, DataType)], defaults: Seq[Any] = Nil)
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  private val required = params.size - defaults.size
  private def arityOk = children.size >= required && children.size <= params.size

  // none on a wrong arity: the implicit-cast rule rebuilds the expression
  // from children zipped with these
  override def inputTypes: Seq[DataType] = if (arityOk) params.map(_._2).take(children.size) else Nil

  override def checkInputDataTypes(): TypeCheckResult =
    if (arityOk) super.checkInputDataTypes()
    else {
      val (req, opt) = params.map(_._1).splitAt(required)
      val arity = if (opt.isEmpty) s"$required" else s"$required-${params.size}"
      TypeCheckFailure(s"$fn requires $arity arguments (${req.mkString(", ")}" +
        s"${opt.map("[, " + _).mkString}${"]" * opt.size}), got ${children.size}")
    }

  override lazy val replacement: Expression = {
    val call = StaticInvoke(SqlKernels.getClass, result, kernel,
      children ++ defaults.takeRight(params.size - children.size).map(Literal(_)))
    // a primitive result is null only when an argument is
    if (call.method.getReturnType.isPrimitive) call.copy(returnNullable = false) else call
  }
}

object KernelCall {
  /** The leading (bytes, codec) parameters of every clip-reading function. */
  val Clip: Seq[(String, DataType)] = Seq("bytes" -> BinaryType, "codec" -> StringType)

  def register(spark: SparkSession, fns: (String, Seq[Expression] => Expression)*): Unit =
    fns.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }

  /** The call `build(args)` as a Column, bound without the function
    * registry — for plans built in sessions that never [[register]]. */
  def column(build: Seq[Expression] => Expression, args: Column*): Column =
    GraftPlans.column(build(args.map(GraftPlans.expression)))
}

/** The rule-match kernel ([[SqlKernels.ruleMatch]]) over a transcript and a
  * [[Rules.literal]] rule array. Not a registered SQL function: the events
  * plans build it with [[KernelCall.column]]. */
case class RuleMatch(children: Seq[Expression]) extends KernelCall("rule_match", "ruleMatch",
    Rules.ruleArray, Seq("transcript" -> StringType, "rules" -> Rules.ruleArray)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** Every custom SQL function's kernel in Catalyst's physical types — the
  * one method each [[KernelCall]] invokes. The audio entries are thin
  * adapters over [[PcmCodec]]: a `UTF8String` codec becomes a `String`,
  * primitive-array results become `UnsafeArrayData`. The vector kernels
  * fold `ArrayData` in place, as the ascending left fold in doubles the
  * DuckDB oracle's `list_reduce` computes (bit-identical results, so the
  * ×10000 rounding stays flake-free); the generic HOF route
  * (`aggregate(zip_with(...))`) interprets a lambda per element. */
object SqlKernels {
  private def arr(a: Array[Float]): ArrayData = if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a)
  private def arr(a: Array[Double]): ArrayData = if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a)
  private def arr(a: Array[Long]): ArrayData = if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a)

  def synth(freqHz: Double, srHz: Int, durMs: Int, codec: UTF8String): Array[Byte] =
    PcmCodec.synth(freqHz, srHz, durMs, codec.toString)

  def decode(bytes: Array[Byte], codec: UTF8String): ArrayData =
    arr(PcmCodec.decode(bytes, codec.toString))

  def energy(bytes: Array[Byte], codec: UTF8String): java.lang.Double =
    PcmCodec.energy(bytes, codec.toString)

  def features(bytes: Array[Byte], codec: UTF8String): ArrayData =
    arr(PcmCodec.features(bytes, codec.toString))

  def segments(bytes: Array[Byte], codec: UTF8String, srHz: Int, frameMs: Int,
               threshX1000: Int): ArrayData =
    arr(PcmCodec.segments(bytes, codec.toString, srHz, frameMs, threshX1000))

  def gain(bytes: Array[Byte], codec: UTF8String, gainX1000: Int): Array[Byte] =
    PcmCodec.gain(bytes, codec.toString, gainX1000)

  def clipRatio(bytes: Array[Byte], codec: UTF8String, threshX1000: Int,
                gainX1000: Int): java.lang.Double =
    PcmCodec.clipRatioGained(bytes, codec.toString, threshX1000, gainX1000)

  def dominantFreq(bytes: Array[Byte], codec: UTF8String, srHz: Int, f0: Double, df: Double,
                   nCands: Int, maxSamples: Int, gainX1000: Int): java.lang.Double =
    PcmCodec.dominantFreqWindowed(bytes, codec.toString, srHz, f0, df, nCands, maxSamples, gainX1000)

  def resample(pcm: ArrayData, srcHz: Int, dstHz: Int): ArrayData =
    arr(PcmCodec.resample(pcm.toFloatArray(), srcHz, dstHz))

  private val RuleFields = Rules.ruleStruct.length
  private val PatternOrdinal = Rules.ruleStruct.fieldIndex("pattern")

  /** The elements of `rules` (a [[Rules.literal]] array) whose `pattern`
    * occurs in `transcript`, in rule order. The elements are returned as
    * they are, not copied. */
  def ruleMatch(transcript: UTF8String, rules: ArrayData): ArrayData = {
    val n = rules.numElements()
    val hits = new Array[Any](n)
    var k = 0
    var i = 0
    while (i < n) {
      val rule = rules.getStruct(i, RuleFields)
      if (transcript.contains(rule.getUTF8String(PatternOrdinal))) { hits(k) = rule; k += 1 }
      i += 1
    }
    new GenericArrayData(hits.take(k))
  }

  /** Σ x·y over the common prefix. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Σ x² (squared L2 norm). */
  def norm2(x: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = x.getFloat(i).toDouble; acc += v * v; i += 1 }
    acc
  }

  /** max|x|; null for an empty array, like `array_max(transform(x, abs))`
    * (a zero-sample clip must not report a fake 0.0 peak). */
  def peak(x: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n == 0) return null
    var acc = 0.0
    var i = 0
    while (i < n) { val v = math.abs(x.getFloat(i).toDouble); if (v > acc) acc = v; i += 1 }
    acc
  }
}

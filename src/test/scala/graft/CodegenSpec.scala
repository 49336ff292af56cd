package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** Every custom SQL function is a [[KernelCall]] whose replacement is one
  * `StaticInvoke` of its [[SqlKernels]] method. These tests force actual
  * code generation for each replacement (GenerateUnsafeProjection.generate
  * throws if the emitted Java fails to compile) and assert parity with the
  * replacement's interpreted eval, including the null paths; a
  * `RuntimeReplaceable` itself is never evaluated. */
class CodegenSpec extends AnyFunSuite {

  private def farr(xs: Float*): ArrayData = ArrayData.toArrayData(xs.toArray)
  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def refs(types: DataType*): Seq[Expression] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }

  test("DotF/Norm2F codegen compiles and matches interpreted eval") {
    val Seq(a, b) = refs(ArrayType(FloatType, containsNull = false), ArrayType(FloatType, containsNull = false))
    val dot = DotF(Seq(a, b)).replacement
    val proj = GenerateUnsafeProjection.generate(Seq(dot, Norm2F(Seq(a)).replacement))
    val out = proj(InternalRow(farr(1.0f, 2.5f, -3f), farr(0.5f, 2f, 4f)))
    assert(out.getDouble(0) == 1.0 * 0.5 + 2.5 * 2.0 + -3.0 * 4.0)
    assert(out.getDouble(1) == 1.0 + 6.25 + 9.0)
    // interpreted parity on the same inputs
    assert(out.getDouble(0) == dot.eval(InternalRow(farr(1.0f, 2.5f, -3f), farr(0.5f, 2f, 4f))))
    // null input propagates
    val out2 = proj(InternalRow(null, farr(1f)))
    assert(out2.isNullAt(0) && out2.isNullAt(1))
  }

  test("RuleMatch codegen compiles, matches eval, keeps rule order, null transcript gives null") {
    val Seq(tr) = refs(StringType)
    val rules = org.apache.spark.sql.GraftPlans.expression(graft.audio.Rules.literal(graft.audio.Rules.all))
    val m = RuleMatch(Seq(tr, rules)).replacement
    val proj = GenerateUnsafeProjection.generate(Seq(m))
    def ids(a: ArrayData): Seq[String] =
      (0 until a.numElements()).map(i => a.getStruct(i, graft.audio.Rules.ruleStruct.length).getString(0))
    val row = InternalRow(str("user 4, then access denied"))
    assert(ids(proj(row).getArray(0)) == Seq("r-access-denied", "r-malformed"))
    assert(ids(m.eval(row).asInstanceOf[ArrayData]) == Seq("r-access-denied", "r-malformed"))
    assert(ids(proj(InternalRow(str("nothing"))).getArray(0)).isEmpty)
    assert(proj(InternalRow(null)).isNullAt(0) && m.eval(InternalRow(null)) == null)
  }

  test("PcmSynth/PcmDecode codegen compiles, matches eval, handles nulls") {
    val Seq(freq, sr, dur, codec) = refs(DoubleType, IntegerType, IntegerType, StringType)
    val synth = PcmSynth(Seq(freq, sr, dur, codec))
    // the optimizer replaces every nested KernelCall; done by hand here
    val decode = PcmDecode(Seq(synth.replacement, codec)).replacement
    val proj = GenerateUnsafeProjection.generate(Seq(synth.replacement, decode))

    def row(c: Any) = InternalRow(440.0, 8000, 50, c)
    val out = proj(row(str("pcm_s16le")))
    assert(out.getBinary(0).length == 2 * 400)
    val arr = out.getArray(1)
    assert(arr.numElements() == 400)
    val expected = PcmCodec.decode(PcmCodec.synth(440.0, 8000, 50, "pcm_s16le"), "pcm_s16le")
    (0 until 400).foreach(i => assert(arr.getFloat(i) == expected(i)))
    // interpreted parity
    val interpreted = decode.eval(row(str("pcm_s16le"))).asInstanceOf[ArrayData].toFloatArray()
    assert(interpreted.sameElements(expected))

    // wav container round-trips through the generated code too
    val outWav = proj(row(str("wav")))
    assert(outWav.getBinary(0).length == 44 + 2 * 400)
    assert(outWav.getArray(1).numElements() == 400)

    // unsupported codec → null result, not a crash (tolerant semantics)
    val outStub = proj(row(str("opus-stub")))
    assert(outStub.isNullAt(0) && outStub.isNullAt(1))

    // null input → null result
    val outNull = proj(InternalRow(null, 8000, 50, str("wav")))
    assert(outNull.isNullAt(0) && outNull.isNullAt(1))
  }

  /** One registered function: its SQL name, class, bound parameter types,
    * rows of valid arguments (Catalyst physical values), the codec
    * position if it reads clips, and its kernel. */
  private case class Fn(sql: String, build: Seq[Expression] => KernelCall, types: Seq[DataType],
                        rows: Seq[Seq[Any]], codecAt: Option[Int], kernel: String)

  private val clip = PcmCodec.synth(440.0, 8000, 250, "pcm_s16le")
  private val wav = PcmCodec.synth(440.0, 8000, 250, "wav")
  private def clipRows(extra: Any*): Seq[Seq[Any]] =
    Seq(Seq(clip, str("pcm_s16le")) ++ extra, Seq(wav, str("wav")) ++ extra)
  private val ClipT = Seq(BinaryType, StringType)
  private val FloatsT = ArrayType(FloatType, containsNull = false)
  private val pcm = farr(0.5f, -0.25f, 1f, 0f, -1f)

  private val fns = Seq(
    Fn("pcm_synth", PcmSynth, Seq(DoubleType, IntegerType, IntegerType, StringType),
      Seq(Seq(440.0, 8000, 50, str("pcm_s16le")), Seq(440.0, 8000, 50, str("wav"))), Some(3), "synth"),
    Fn("pcm_decode", PcmDecode, ClipT, clipRows(), Some(1), "decode"),
    Fn("pcm_energy", PcmEnergy, ClipT, clipRows(), Some(1), "energy"),
    Fn("pcm_features", PcmFeatures, ClipT, clipRows(), Some(1), "features"),
    Fn("pcm_segments", PcmSegments, ClipT ++ Seq(IntegerType, IntegerType, IntegerType),
      clipRows(8000, 20, 100), Some(1), "segments"),
    Fn("pcm_gain", PcmGain, ClipT :+ IntegerType, clipRows(3000), Some(1), "gain"),
    Fn("pcm_clip_ratio", PcmClipRatio, ClipT :+ IntegerType, clipRows(999), Some(1), "clipRatio"),
    Fn("pcm_clip_ratio", PcmClipRatio, ClipT ++ Seq(IntegerType, IntegerType),
      clipRows(999, 3000), Some(1), "clipRatio"),
    Fn("pcm_dominant_freq", PcmDominantFreq,
      ClipT ++ Seq(IntegerType, DoubleType, DoubleType, IntegerType),
      clipRows(8000, 220.0, 55.0, 16), Some(1), "dominantFreq"),
    Fn("pcm_dominant_freq", PcmDominantFreq,
      ClipT ++ Seq(IntegerType, DoubleType, DoubleType, IntegerType, IntegerType),
      clipRows(8000, 220.0, 55.0, 16, 2000), Some(1), "dominantFreq"),
    Fn("pcm_dominant_freq", PcmDominantFreq,
      ClipT ++ Seq(IntegerType, DoubleType, DoubleType, IntegerType, IntegerType, IntegerType),
      clipRows(8000, 220.0, 55.0, 16, 2000, 1500), Some(1), "dominantFreq"),
    Fn("pcm_resample", PcmResample, Seq(FloatsT, IntegerType, IntegerType),
      Seq(Seq(pcm, 8000, 16000), Seq(pcm, 16000, 16000), Seq(pcm, 0, 16000)), None, "resample"),
    Fn("dot_f", DotF, Seq(FloatsT, FloatsT), Seq(Seq(pcm, farr(1f, 2f)), Seq(farr(), pcm)), None, "dot"),
    Fn("norm2_f", Norm2F, Seq(FloatsT), Seq(Seq(pcm), Seq(farr())), None, "norm2"),
    Fn("peak_f", PeakF, Seq(FloatsT), Seq(Seq(pcm), Seq(farr())), None, "peak"))

  /** A comparable Scala value of a result slot (null stays null). */
  private def value(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (ArrayType(et, _), a: ArrayData) => a.toSeq[Any](et)
    case (BinaryType, b: Array[Byte]) => b.toSeq
    case (DoubleType, d: Double) => java.lang.Double.doubleToLongBits(d)
    case _ => v
  }

  test("every function: StaticInvoke of its kernel, codegen == eval incl. nulls and bad codecs") {
    assert(fns.map(_.sql).distinct.size == 12)
    fns.foreach { f =>
      val repl = f.build(refs(f.types: _*)).replacement
      repl match {
        case s: StaticInvoke =>
          assert(s.staticObject == SqlKernels.getClass && s.functionName == f.kernel, f.sql)
        case other => fail(s"${f.sql}: replacement is not a StaticInvoke: $other")
      }
      val proj = GenerateUnsafeProjection.generate(Seq(repl))
      def check(args: Seq[Any]): Any = {
        val row = InternalRow.fromSeq(args)
        val out = proj(row)
        val compiled = value(repl.dataType, if (out.isNullAt(0)) null else out.get(0, repl.dataType))
        val interpreted = value(repl.dataType, repl.eval(row))
        assert(compiled == interpreted, s"${f.sql} on $args: codegen $compiled, eval $interpreted")
        compiled
      }
      assert(f.rows.map(check).exists(_ != null), s"${f.sql}: every valid row gave null")
      val args = f.rows.head
      args.indices.foreach { i =>
        assert(check(args.updated(i, null)) == null, s"${f.sql}: null argument $i must give null")
      }
      f.codecAt.foreach { i =>
        assert(check(args.updated(i, str("opus-stub"))) == null, s"${f.sql}: unsupported codec")
      }
    }
  }

  test("optional arguments: the replacement fills the defaults in") {
    val Seq(b, c, sr, f0, df, n, win, g) = refs(BinaryType, StringType, IntegerType, DoubleType,
      DoubleType, IntegerType, IntegerType, IntegerType)
    val row = InternalRow(wav, str("wav"), 8000, 220.0, 55.0, 16, Int.MaxValue, 1000)
    def eval(e: KernelCall) = e.replacement.eval(row)
    val full = eval(PcmDominantFreq(Seq(b, c, sr, f0, df, n, win, g)))
    assert(full == 440.0)
    assert(eval(PcmDominantFreq(Seq(b, c, sr, f0, df, n))) == full)
    assert(eval(PcmDominantFreq(Seq(b, c, sr, f0, df, n, win))) == full)
    val Seq(t, gain) = refs(IntegerType, IntegerType, IntegerType, IntegerType).drop(2)
    val ratio = InternalRow(PcmCodec.gain(wav, "wav", 3000), str("pcm_s16le"), 999, 1000)
    val gainless = PcmClipRatio(Seq(b, c, t)).replacement.eval(ratio)
    assert(gainless.asInstanceOf[Double] > 0.5)
    assert(PcmClipRatio(Seq(b, c, t, gain)).replacement.eval(ratio) == gainless)
  }

  test("wrong arity or argument type fails at analysis for every function, never at runtime") {
    val spark = TestSpark.spark
    AudioFunctions.register(spark)
    VecFunctions.register(spark)
    val floats = "array(CAST(0.5 AS FLOAT), CAST(-1 AS FLOAT))"
    // (name, shortest valid argument list, number of optional arguments)
    val calls = Seq(
      ("pcm_synth", Seq("440.0", "8000", "50", "'wav'"), 0),
      ("pcm_decode", Seq("X'0102'", "'pcm_s16le'"), 0),
      ("pcm_energy", Seq("X'0102'", "'pcm_s16le'"), 0),
      ("pcm_features", Seq("X'0102'", "'pcm_s16le'"), 0),
      ("pcm_segments", Seq("X'0102'", "'pcm_s16le'", "8000", "20", "100"), 0),
      ("pcm_gain", Seq("X'0102'", "'pcm_s16le'", "1000"), 0),
      ("pcm_clip_ratio", Seq("X'0102'", "'pcm_s16le'", "999"), 1),
      ("pcm_dominant_freq", Seq("X'0102'", "'pcm_s16le'", "8000", "220.0", "55.0", "16"), 2),
      ("pcm_resample", Seq(floats, "8000", "16000"), 0),
      ("dot_f", Seq(floats, floats), 0),
      ("norm2_f", Seq(floats), 0),
      ("peak_f", Seq(floats), 0))
    assert(calls.size == 12)
    def sql(name: String, args: Seq[String]) = s"SELECT $name(${args.mkString(", ")}) AS r"
    calls.foreach { case (name, args, optional) =>
      // every valid arity resolves to a KernelCall replaced by the
      // kernel's StaticInvoke, and runs
      (0 to optional).foreach { k =>
        val df = spark.sql(sql(name, args ++ Seq.fill(k)("1000")))
        val replaced = df.queryExecution.analyzed.expressions.flatMap(_.collect {
          case e: KernelCall => e.replacement
        })
        assert(replaced.size == 1 && replaced.head.isInstanceOf[StaticInvoke], s"$name: $replaced")
        df.collect()
      }
      // spark.sql analyzes eagerly: each failure below is raised before
      // anything executes
      val tooFew = intercept[AnalysisException](spark.sql(sql(name, args.init)))
      assert(tooFew.getMessage.contains(s"$name requires"), tooFew.getMessage)
      val tooMany = intercept[AnalysisException](
        spark.sql(sql(name, args ++ Seq.fill(optional + 1)("1"))))
      assert(tooMany.getMessage.contains(s"$name requires"), tooMany.getMessage)
      val badType = intercept[AnalysisException](spark.sql(sql(name, "map(1, 2)" +: args.tail)))
      assert(badType.getMessage.contains("DATATYPE_MISMATCH"), badType.getMessage)
    }
  }
}

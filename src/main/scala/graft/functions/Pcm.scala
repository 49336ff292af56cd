package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Pure-JVM PCM synthesis/decoding for the audio graft. Codecs supported:
  * `pcm_s16le` (raw 16-bit little-endian mono) and `wav` (RIFF container
  * around the same PCM). Anything else (e.g. the deliberately-unsupported
  * `opus-stub`) returns null — the gate filter's pass-through path.
  *
  * The per-row invariant (BASELINE.json input_hint): decode(synth(x)) must
  * be allclose to the reference float signal at SNR ≥ 30 dB; 16-bit
  * quantization at amplitude 0.5 yields ~90 dB, comfortably above.
  */
object PcmCodec {
  val SupportedCodecs: Set[String] = Set("pcm_s16le", "wav")

  def sampleCount(srHz: Int, durMs: Int): Int = (srHz.toLong * durMs / 1000L).toInt

  /** Reference float signal: sine at `freqHz`, amplitude 0.5 (FIXTURES §1).
    * Complex-rotation recurrence instead of math.sin per sample (~20× faster
    * in the synth hot path; cumulative drift over 10^5 samples is ~1e-11,
    * far below the 16-bit quantization floor). */
  def sine(freqHz: Double, srHz: Int, durMs: Int): Array[Float] = {
    val n = sampleCount(srHz, durMs)
    val out = new Array[Float](n)
    val w = 2.0 * math.Pi * freqHz / srHz
    val cw = math.cos(w); val sw = math.sin(w)
    var re = 1.0; var im = 0.0 // e^{i·w·0}
    var i = 0
    while (i < n) {
      out(i) = (0.5 * im).toFloat
      val nr = re * cw - im * sw
      im = re * sw + im * cw
      re = nr
      i += 1
    }
    out
  }

  def toPcm16(signal: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](signal.length * 2)
    var i = 0
    while (i < signal.length) {
      val s = math.max(-32768, math.min(32767, math.round(signal(i) * 32767f))).toShort
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def wrapWav(pcm: Array[Byte], srHz: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("ASCII"))
      .put("fmt ".getBytes("ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(srHz).putInt(srHz * 2).putShort(2).putShort(16)
      .put("data".getBytes("ASCII")).putInt(pcm.length)
      .put(pcm)
    out.array()
  }

  /** Fused sine→s16 quantization: byte-identical to
    * `toPcm16(sine(freqHz, srHz, durMs))` (same rotation recurrence, same
    * float truncation, same round/clamp — PcmSpec-pinned) without the
    * intermediate float[] — at sf0.1 the two-step form allocated ~6 GB of
    * floats per audio-query pass whose only purpose was to be quantized
    * and discarded, and that garbage was the cross-query GC debt the
    * in-suite timings kept paying. */
  private def synthPcm16(freqHz: Double, srHz: Int, durMs: Int): Array[Byte] = {
    val n = sampleCount(srHz, durMs)
    val out = new Array[Byte](2 * n)
    val w = 2.0 * math.Pi * freqHz / srHz
    val cw = math.cos(w); val sw = math.sin(w)
    var re = 1.0; var im = 0.0 // e^{i·w·0}
    var i = 0
    while (i < n) {
      val f = (0.5 * im).toFloat
      val s = math.max(-32768, math.min(32767, math.round(f * 32767f))).toShort
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      val nr = re * cw - im * sw
      im = re * sw + im * cw
      re = nr
      i += 1
    }
    out
  }

  /** Deterministic clip bytes per FIXTURES §1; null for unsupported codec. */
  def synth(freqHz: Double, srHz: Int, durMs: Int, codec: String): Array[Byte] =
    codec match {
      case "pcm_s16le" => synthPcm16(freqHz, srHz, durMs)
      case "wav"       => wrapWav(synthPcm16(freqHz, srHz, durMs), srHz)
      case _           => null
    }

  private def pcm16ToFloats(bytes: Array[Byte], off: Int, len: Int): Array[Float] = {
    val n = len / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val lo = bytes(off + 2 * i) & 0xff
      val hi = bytes(off + 2 * i + 1)
      out(i) = ((hi << 8) | lo).toShort / 32768f
      i += 1
    }
    out
  }

  /** `(offset << 32) | byteLength` of the 16-bit sample region for
    * `codec`, or -1 for unsupported codec / malformed container. The ONE
    * RIFF chunk walker: [[decode]] and the fused [[energy]] must agree
    * bit-for-bit on which inputs are decodable (PcmSpec pins
    * `energy == norm2_f(decode)` incl. null parity), so both consume this
    * single definition of "decodable". */
  private def sampleRange(bytes: Array[Byte], codec: String): Long = codec match {
    case "pcm_s16le" if bytes != null => bytes.length.toLong // offset 0
    case "wav" if bytes != null && bytes.length >= 44 &&
        new String(bytes, 0, 4, "ASCII") == "RIFF" =>
      // walk RIFF chunks from offset 12 to the data chunk
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var r = -1L
      var malformed = false
      while (r < 0 && !malformed && pos + 8 <= bytes.length) {
        val id = new String(bytes, pos, 4, "ASCII")
        val size = bb.getInt(pos + 4)
        // a negative chunk size is corrupt input: advancing by 8+size
        // could loop forever (size = -8 advances by zero); overflow-safe
        // long math on the bound — 0x7FFFFFFF would wrap an int sum and
        // pass the check, then read past the array
        if (size < 0) malformed = true
        else if (id == "data" && pos + 8L + size <= bytes.length)
          r = ((pos + 8).toLong << 32) | size.toLong
        else {
          // long math on the skip too: a huge non-data size would wrap
          // pos negative, pass the loop bound, and crash the id read
          val next = pos.toLong + 8L + size + (size & 1)
          if (next > Int.MaxValue) malformed = true else pos = next.toInt
        }
      }
      if (malformed) -1L else r
    case _ => -1L
  }

  /** Decode clip bytes to float PCM; null for unsupported codec or
    * malformed container (tolerant semantics, like the JSON decode). */
  def decode(bytes: Array[Byte], codec: String): Array[Float] = {
    val range = sampleRange(bytes, codec)
    if (range < 0) null
    else pcm16ToFloats(bytes, (range >> 32).toInt, (range & 0xffffffffL).toInt)
  }

  /** Fused decode→energy: Σ((double)sample)² over exactly the samples (and
    * in exactly the left-fold order) that [[decode]] → Norm2F would
    * produce, WITHOUT materializing the float array. Operator fusion for
    * the feature path: the per-row byte[]→float[] copy is pure allocation
    * — the one cost that does NOT scale with cores in a shared-heap
    * local[N] (or a real executor's GC) — so the fused form is both
    * faster and width-scalable. Returns null (boxed) for undecodable
    * input, mirroring [[decode]]'s tolerant semantics. */
  def energy(bytes: Array[Byte], codec: String): java.lang.Double = {
    val range = sampleRange(bytes, codec)
    if (range < 0) null
    else {
      val off = (range >> 32).toInt
      val n = (range & 0xffffffffL).toInt / 2
      var acc = 0.0
      var i = 0
      while (i < n) {
        val lo = bytes(off + 2 * i) & 0xff
        val hi = bytes(off + 2 * i + 1)
        val v = (((hi << 8) | lo).toShort / 32768f).toDouble
        acc += v * v
        i += 1
      }
      acc
    }
  }

  /** Fused decode→multi-feature: ONE pass over the encoded bytes computing
    * the per-clip quality stats a training-data pipeline filters on —
    * `[n_samples, energy Σx², peak max|x|, zero_crossings, dc_mean]` —
    * with zero float[] materialization (same fusion rationale as
    * [[energy]]; `features(b,c)(1) == energy(b,c)` bit-for-bit, pinned in
    * PcmSpec). Zero crossings count strict sign flips of the <0 predicate
    * between consecutive samples (an exact 0 sample carries the
    * non-negative sign), so a pure sine at f Hz over d ms counts
    * ~2·f·d/1000. Returns null for undecodable input, mirroring
    * [[decode]]. Raises per-byte arithmetic intensity ~4× over the single
    * Σx² — relevant at width 32, where the byte-streaming decode alone is
    * DRAM-bound (see BENCH/BASELINE.md round 5). */
  def features(bytes: Array[Byte], codec: String): Array[Double] = {
    val range = sampleRange(bytes, codec)
    if (range < 0) null
    else {
      val off = (range >> 32).toInt
      val n = (range & 0xffffffffL).toInt / 2
      var energy = 0.0
      var peak = 0.0
      var sum = 0.0
      var zcr = 0L
      var prevNeg = false
      var i = 0
      while (i < n) {
        val lo = bytes(off + 2 * i) & 0xff
        val hi = bytes(off + 2 * i + 1)
        val v = (((hi << 8) | lo).toShort / 32768f).toDouble
        energy += v * v
        val a = if (v < 0) -v else v
        if (a > peak) peak = a
        sum += v
        val neg = v < 0
        if (i > 0 && neg != prevNeg) zcr += 1
        prevNeg = neg
        i += 1
      }
      Array(n.toDouble, energy, peak, zcr.toDouble,
        if (n == 0) 0.0 else sum / n)
    }
  }

  /** Fused decode→segmentation (VAD-lite): split a clip into contiguous
    * ACTIVE runs of non-overlapping `frameMs` frames whose frame
    * rms·1000 ≥ `threshX1000` — the silence-trim / speech-segmentation
    * primitive of an audio training pipeline (drop silence, split long
    * clips at pauses). ONE pass over the encoded bytes, like [[energy]]
    * and [[features]]: per-frame energy accumulates in registers, no
    * float[] materialization.
    *
    * Returns packed `[start_ms, end_ms, start_ms, end_ms, …]`, empty when
    * the whole clip is below threshold, null for undecodable input or
    * non-positive srHz/frameMs. Boundary semantics (mirrored by the
    * oracle's closed form): frames are `floor(srHz·frameMs/1000)` samples
    * long and all timestamps derive from SAMPLE indices
    * (`sampleIdx·1000/srHz`, integer division) — never from the frame
    * count, so rates where `srHz·frameMs` is not a multiple of 1000
    * (e.g. 11025 Hz) cannot drift. The final (possibly partial) frame is
    * judged on its own samples, and a segment reaching the clip's end
    * closes at `(n·1000)/srHz` ms — segments never overrun the real clip
    * length and starts are always ≤ ends. */
  def segments(bytes: Array[Byte], codec: String, srHz: Int, frameMs: Int,
               threshX1000: Int): Array[Long] = {
    if (srHz <= 0 || frameMs <= 0) return null
    val range = sampleRange(bytes, codec)
    if (range < 0) return null
    val off = (range >> 32).toInt
    val n = (range & 0xffffffffL).toInt / 2
    val frameLen = math.max(1, (srHz.toLong * frameMs / 1000L).toInt)
    val clipEndMs = n.toLong * 1000L / srHz
    // active iff rms ≥ thresh/1000 ⇔ energy·1e6 ≥ thresh²·len (exact in
    // doubles for every reachable magnitude; avoids a sqrt per frame)
    val t2 = threshX1000.toDouble * threshX1000
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var segStart = -1L // ms; -1 = not inside a segment
    var i = 0
    while (i < n) {
      val end = math.min(i + frameLen, n)
      var energy = 0.0
      var j = i
      while (j < end) {
        val lo = bytes(off + 2 * j) & 0xff
        val hi = bytes(off + 2 * j + 1)
        val v = (((hi << 8) | lo).toShort / 32768f).toDouble
        energy += v * v
        j += 1
      }
      val active = energy * 1e6 >= t2 * (end - i)
      val frameStartMs = i.toLong * 1000L / srHz
      val frameEndMs = if (end == n) clipEndMs else end.toLong * 1000L / srHz
      if (active && segStart < 0) segStart = frameStartMs
      if (!active && segStart >= 0) { out += segStart; out += frameStartMs; segStart = -1L }
      if (active && end == n) { out += segStart; out += frameEndMs; segStart = -1L }
      i = end
    }
    out.toArray
  }

  /** Fused decode→gain: scale every sample by `gainX1000/1000` with s16
    * SATURATION (the loudness-normalization primitive: a training corpus
    * is levelled to one target RMS before feature extraction). One pass
    * over the encoded bytes; output is RAW `pcm_s16le` bytes regardless
    * of the input container (normalization re-encodes; a WAV wrapper
    * would carry a stale data-size header anyway). Per-sample math is
    * `clamp(round(v·g), ±32767/-32768)` in doubles — deterministic and
    * mirrored by the oracle's closed forms. Null for undecodable input
    * or negative gain; gain 0 is valid (silence). */
  def gain(bytes: Array[Byte], codec: String, gainX1000: Int): Array[Byte] = {
    if (gainX1000 < 0) return null
    val range = sampleRange(bytes, codec)
    if (range < 0) return null
    val off = (range >> 32).toInt
    val n = (range & 0xffffffffL).toInt / 2
    val out = new Array[Byte](n * 2)
    val g = gainX1000.toDouble / 1000.0
    var i = 0
    while (i < n) {
      val lo = bytes(off + 2 * i) & 0xff
      val hi = bytes(off + 2 * i + 1)
      val v = ((hi << 8) | lo).toShort
      val scaled = math.round(v.toDouble * g)
      val s = (if (scaled > 32767L) 32767L else if (scaled < -32768L) -32768L else scaled).toShort
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Fused decode→clipping-detector: the fraction of samples whose
    * normalized magnitude `|s|/32768` is ≥ `threshX1000/1000` — the
    * standard distortion screen (a clip recorded too hot saturates and
    * is useless as training data). One pass, no float[] materialization.
    * Returns 0.0 for an empty clip, null for undecodable input or a
    * non-positive threshold. */
  def clipRatio(bytes: Array[Byte], codec: String, threshX1000: Int): java.lang.Double = {
    if (threshX1000 <= 0) return null
    val range = sampleRange(bytes, codec)
    if (range < 0) return null
    val off = (range >> 32).toInt
    val n = (range & 0xffffffffL).toInt / 2
    if (n == 0) return 0.0
    // integer-exact comparison: |s|/32768 ≥ t/1000 ⇔ |s|·1000 ≥ t·32768
    val rhs = threshX1000.toLong * 32768L
    var hits = 0L
    var i = 0
    while (i < n) {
      val lo = bytes(off + 2 * i) & 0xff
      val hi = bytes(off + 2 * i + 1)
      val v = ((hi << 8) | lo).toShort.toLong
      val a = if (v < 0) -v else v
      if (a * 1000L >= rhs) hits += 1
      i += 1
    }
    hits.toDouble / n
  }

  /** Fused gain→clipping-detector: bit-identical to
    * `clipRatio(gain(bytes, codec, gainX1000), "pcm_s16le", threshX1000)`
    * — per sample the SAME `clamp(round(v·g), ±32767/-32768)` as [[gain]],
    * compared with [[clipRatio]]'s integer-exact threshold — WITHOUT
    * materializing the gained byte[] copy. The overdrive screen
    * (mm_clip_detect) was the single most expensive suite query and half
    * its cost was that copy: a full write+rewalk of every clip's bytes
    * whose only consumer was this counter. Same null semantics as the
    * two-step form (undecodable input, negative gain, non-positive
    * threshold → null; empty clip → 0.0). gainX1000 = 1000 is a bit-exact
    * identity (round(v·1.0) = v, the clamp never fires) and takes the
    * gain-free [[clipRatio]] scan. */
  def clipRatioGained(bytes: Array[Byte], codec: String, threshX1000: Int,
                      gainX1000: Int): java.lang.Double = {
    if (gainX1000 == 1000) return clipRatio(bytes, codec, threshX1000)
    if (threshX1000 <= 0 || gainX1000 < 0) return null
    val range = sampleRange(bytes, codec)
    if (range < 0) return null
    val off = (range >> 32).toInt
    val n = (range & 0xffffffffL).toInt / 2
    if (n == 0) return 0.0
    val rhs = threshX1000.toLong * 32768L
    val g = gainX1000.toDouble / 1000.0
    var hits = 0L
    var i = 0
    while (i < n) {
      val lo = bytes(off + 2 * i) & 0xff
      val hi = bytes(off + 2 * i + 1)
      val v = ((hi << 8) | lo).toShort
      val scaled = math.round(v.toDouble * g)
      val s = if (scaled > 32767L) 32767L else if (scaled < -32768L) -32768L else scaled
      val a = if (s < 0) -s else s
      if (a * 1000L >= rhs) hits += 1
      i += 1
    }
    hits.toDouble / n
  }

  /** Fused decode→Goertzel scan: dominant frequency among `nCands`
    * candidates `f0 + k·df` (k = 0…nCands-1) by single-bin DFT power —
    * the cheap pitch/tone detector (content screening, fixture
    * validation) that needs no FFT library. All nCands filters advance
    * in ONE pass over the encoded bytes (2 mul + 2 add per filter per
    * sample — deliberately ALU-dense, the regime where width scaling is
    * near-linear; see BENCH/BASELINE.md). Returns the winning candidate
    * frequency; null for undecodable/empty input or a non-positive
    * rate/candidate count (cap 64 keeps the state in L1). */
  def dominantFreq(bytes: Array[Byte], codec: String, srHz: Int,
                   f0: Double, df: Double, nCands: Int): java.lang.Double =
    dominantFreqWindowed(bytes, codec, srHz, f0, df, nCands, Int.MaxValue, 1000)

  /** [[dominantFreq]] with the analysis window and re-levelling gain FUSED
    * into the one Goertzel pass: scans only the first `maxSamples` samples
    * of the decodable region, applying pcm_gain's exact per-sample math
    * (`clamp(round(v·g), ±32767/-32768)`, then /32768f) in registers.
    * Bit-identical to the builder chain it replaces —
    * `dominantFreq(gain(bytes, codec, g).slice(window), "pcm_s16le", …)` —
    * because gain order/offsets and the floor-of-min window arithmetic are
    * reproduced exactly (PcmSpec sweeps the grid), but with ZERO
    * intermediate byte[] materializations: the old chain re-wrote the
    * window (and for container codecs the WHOLE clip) per row only for
    * this scan to re-read it. gainX1000 = 1000 is a bit-exact identity
    * (round(v·1.0) = v) — the gain-free window path. Null for
    * undecodable/empty input, non-positive rate/candidates/window, or a
    * negative gain (mirroring [[gain]]). */
  def dominantFreqWindowed(bytes: Array[Byte], codec: String, srHz: Int,
                           f0: Double, df: Double, nCands: Int,
                           maxSamples: Int, gainX1000: Int): java.lang.Double = {
    if (srHz <= 0 || nCands <= 0 || nCands > 64) return null
    if (maxSamples <= 0 || gainX1000 < 0) return null
    val range = sampleRange(bytes, codec)
    if (range < 0) return null
    val off = (range >> 32).toInt
    val n = math.min((range & 0xffffffffL).toInt / 2, maxSamples)
    if (n == 0) return null
    val coef = new Array[Double](nCands)
    var k = 0
    while (k < nCands) {
      coef(k) = 2.0 * math.cos(2.0 * math.Pi * (f0 + k * df) / srHz)
      k += 1
    }
    val identityGain = gainX1000 == 1000
    val g = gainX1000.toDouble / 1000.0
    val s1 = new Array[Double](nCands)
    val s2 = new Array[Double](nCands)
    var i = 0
    while (i < n) {
      val lo = bytes(off + 2 * i) & 0xff
      val hi = bytes(off + 2 * i + 1)
      val raw = ((hi << 8) | lo).toShort
      val v =
        if (identityGain) (raw / 32768f).toDouble
        else {
          val scaled = math.round(raw.toDouble * g)
          val s = (if (scaled > 32767L) 32767L else if (scaled < -32768L) -32768L else scaled).toShort
          (s / 32768f).toDouble
        }
      k = 0
      while (k < nCands) {
        val s0 = v + coef(k) * s1(k) - s2(k)
        s2(k) = s1(k)
        s1(k) = s0
        k += 1
      }
      i += 1
    }
    var best = 0
    var bestP = java.lang.Double.NEGATIVE_INFINITY
    k = 0
    while (k < nCands) {
      val p = s1(k) * s1(k) + s2(k) * s2(k) - coef(k) * s1(k) * s2(k)
      if (p > bestP) { bestP = p; best = k }
      k += 1
    }
    f0 + best * df
  }

  /** Linear-interpolation resample src→dst Hz; null on non-positive rates.
    * Output i reads source position i·src/dst (exact double math), clamped
    * interpolation at the tail. */
  def resample(pcm: Array[Float], srcHz: Int, dstHz: Int): Array[Float] = {
    if (srcHz <= 0 || dstHz <= 0) return null
    if (srcHz == dstHz) return pcm // identity: 70% of fixture rows are 16 kHz already
    val n = pcm.length
    val outLen = n.toLong * dstHz / srcHz
    if (outLen > Int.MaxValue) return null // would overflow an array; tolerant null
    val outN = outLen.toInt
    val out = new Array[Float](outN)
    val step = srcHz.toDouble / dstHz
    var i = 0
    while (i < outN) {
      val pos = i * step
      val j = pos.toInt
      if (j >= n - 1) out(i) = pcm(n - 1)
      else {
        val frac = pos - j
        out(i) = (pcm(j) * (1.0 - frac) + pcm(j + 1) * frac).toFloat
      }
      i += 1
    }
    out
  }

  /** Signal-to-noise ratio in dB between a reference signal and a decode. */
  def snrDb(ref: Array[Float], got: Array[Float]): Double = {
    require(ref.length == got.length, s"length mismatch ${ref.length} vs ${got.length}")
    var sig = 0.0; var err = 0.0; var i = 0
    while (i < ref.length) {
      sig += ref(i).toDouble * ref(i)
      val d = ref(i).toDouble - got(i)
      err += d * d
      i += 1
    }
    if (err == 0) Double.PositiveInfinity else 10.0 * math.log10(sig / err)
  }
}

/** pcm_synth(freq_hz, sr_hz, dur_ms, codec) → binary: deterministic
  * (replay-stable) clip bytes per FIXTURES §1. Like every audio function
  * below, bound to its [[SqlKernels]] method by [[KernelCall]], and null
  * on any null argument, an unsupported codec or a malformed container —
  * the gate filter's pass-through path. */
case class PcmSynth(children: Seq[Expression]) extends KernelCall("pcm_synth", "synth",
    BinaryType, Seq("freq_hz" -> DoubleType, "sr_hz" -> IntegerType,
      "dur_ms" -> IntegerType, "codec" -> StringType)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_decode(bytes, codec) → array<float>: the north rule's registered
  * decode expression (SURVEY §2.2 UDF surface). */
case class PcmDecode(children: Seq[Expression]) extends KernelCall("pcm_decode", "decode",
    ArrayType(FloatType, containsNull = false), KernelCall.Clip) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_energy(bytes, codec) → double: fused decode→Σx², bit-identical to
  * `norm2_f(pcm_decode(bytes, codec))` with no per-row float[]. */
case class PcmEnergy(children: Seq[Expression]) extends KernelCall("pcm_energy", "energy",
    DoubleType, KernelCall.Clip) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_features(bytes, codec) → array<double> `[n_samples, energy, peak,
  * zero_crossings, dc_mean]` in one pass over the encoded bytes. */
case class PcmFeatures(children: Seq[Expression]) extends KernelCall("pcm_features", "features",
    ArrayType(DoubleType, containsNull = false), KernelCall.Clip) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_segments(bytes, codec, sr_hz, frame_ms, thresh_x1000) →
  * array<bigint> packed `[start_ms, end_ms, …]`: VAD-lite segmentation.
  * Empty array = all-silence clip. */
case class PcmSegments(children: Seq[Expression]) extends KernelCall("pcm_segments", "segments",
    ArrayType(LongType, containsNull = false), KernelCall.Clip ++ Seq("sr_hz" -> IntegerType,
      "frame_ms" -> IntegerType, "thresh_x1000" -> IntegerType)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_gain(bytes, codec, gain_x1000) → binary raw `pcm_s16le`: fused
  * decode→scale with s16 saturation, the loudness-normalization primitive. */
case class PcmGain(children: Seq[Expression]) extends KernelCall("pcm_gain", "gain",
    BinaryType, KernelCall.Clip :+ ("gain_x1000" -> IntegerType)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_clip_ratio(bytes, codec, thresh_x1000[, gain_x1000]) → double: the
  * fraction of samples at/above the normalized magnitude threshold after
  * an optional gain (default 1000, the identity) applied inside the one
  * pass — bit-identical to `pcm_clip_ratio(pcm_gain(bytes, codec, g),
  * 'pcm_s16le', t)` without the gained byte[] copy. */
case class PcmClipRatio(children: Seq[Expression]) extends KernelCall("pcm_clip_ratio", "clipRatio",
    DoubleType, KernelCall.Clip ++ Seq("thresh_x1000" -> IntegerType, "gain_x1000" -> IntegerType),
    defaults = Seq(1000)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_dominant_freq(bytes, codec, sr_hz, f0, df, n_cands[, max_samples[,
  * gain_x1000]]) → double: the winning Goertzel candidate `f0 + k·df`, with
  * the analysis window (default: the whole clip) and re-levelling gain
  * (default 1000, the identity) fused into the same single pass. */
case class PcmDominantFreq(children: Seq[Expression]) extends KernelCall("pcm_dominant_freq",
    "dominantFreq", DoubleType, KernelCall.Clip ++ Seq("sr_hz" -> IntegerType,
      "f0" -> DoubleType, "df" -> DoubleType, "n_cands" -> IntegerType,
      "max_samples" -> IntegerType, "gain_x1000" -> IntegerType),
    defaults = Seq(Int.MaxValue, 1000)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** pcm_resample(pcm, src_hz, dst_hz) → array<float>: linear-interpolation
  * resampling, the audio analog of the multimodal "resize" op;
  * n_out = floor(n_in · dst / src). */
case class PcmResample(children: Seq[Expression]) extends KernelCall("pcm_resample", "resample",
    ArrayType(FloatType, containsNull = false), Seq("pcm" -> ArrayType(FloatType, containsNull = false),
      "src_hz" -> IntegerType, "dst_hz" -> IntegerType)) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

object AudioFunctions {
  /** Column builders resolve through the function registry at analysis
    * time, so callers must have run [[register]] on the session first —
    * every engine entry point (SparkEntry/Verify/Bench/streaming jobs)
    * does. Spark 4's Column is API-agnostic and no longer exposes a public
    * Expression constructor; registry resolution is the supported path. */
  def pcm_synth(freqHz: Column, srHz: Column, durMs: Column, codec: Column): Column =
    call_function("pcm_synth", freqHz, srHz, durMs, codec)

  def pcm_decode(bytes: Column, codec: Column): Column =
    call_function("pcm_decode", bytes, codec)

  def pcm_resample(pcm: Column, srcHz: Column, dstHz: Column): Column =
    call_function("pcm_resample", pcm, srcHz, dstHz)

  def pcm_energy(bytes: Column, codec: Column): Column =
    call_function("pcm_energy", bytes, codec)

  def pcm_features(bytes: Column, codec: Column): Column =
    call_function("pcm_features", bytes, codec)

  def pcm_segments(bytes: Column, codec: Column, srHz: Column,
                   frameMs: Column, threshX1000: Column): Column =
    call_function("pcm_segments", bytes, codec, srHz, frameMs, threshX1000)

  def pcm_gain(bytes: Column, codec: Column, gainX1000: Column): Column =
    call_function("pcm_gain", bytes, codec, gainX1000)

  /** Fraction of samples at/above `threshX1000`/1000 after `gainX1000`
    * (default 1000, the identity) — the gain applied inside the one pass,
    * bit-identical to `pcm_clip_ratio(pcm_gain(b, c, g), 'pcm_s16le', t)`
    * without the gained byte[] copy (PcmSpec-pinned parity). */
  def pcm_clip_ratio(bytes: Column, codec: Column, threshX1000: Column,
                     gainX1000: Column = lit(1000)): Column =
    call_function("pcm_clip_ratio", bytes, codec, threshX1000, gainX1000)

  /** Goertzel dominant-tone scan over the first `maxSamples` samples
    * (default: the whole clip), re-levelled by `gainX1000` (default 1000,
    * the identity) — window and gain fused into the one pass
    * ([[PcmCodec.dominantFreqWindowed]]), bit-identical to
    * `pcm_dominant_freq(analysisWindow(…), 'pcm_s16le', …)` (PcmSpec-pinned)
    * with zero intermediate byte[] copies. */
  def pcm_dominant_freq(bytes: Column, codec: Column, srHz: Column,
                        f0: Column, df: Column, nCands: Column,
                        maxSamples: Column = lit(Int.MaxValue),
                        gainX1000: Column = lit(1000)): Column =
    call_function("pcm_dominant_freq", bytes, codec, srHz, f0, df, nCands, maxSamples, gainX1000)

  /** round(1000·rms(pcm)) as bigint via the INTERPRETED SQL-lambda fold —
    * retained purely as the reference definition for the PcmSpec parity
    * pin (`rmsX1000(pcm) == rmsX1000FromEnergy(norm2_f(pcm), size(pcm))`
    * bit-for-bit). Shipped queries use the codegen'd norm2_f/pcm_energy
    * path: this lambda interprets per element and measured ~100× slower
    * over decoded audio (round-5 honest-timing fix). */
  def rmsX1000(pcm: Column): Column = {
    import org.apache.spark.sql.functions._
    round(lit(1000) * sqrt(
      aggregate(transform(pcm, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v) / size(pcm))).cast("bigint")
  }

  /** Target RMS (×1000) every normalized training clip is levelled to. */
  val TargetRmsX1000: Long = 250L

  /** Loudness-normalized raw-pcm bytes: per-clip gain derived from the
    * fused energy so the output RMS lands at [[TargetRmsX1000]]/1000.
    * ONE definition shared by the batch oracle query (mm_loudnorm) and
    * the streaming ingest (audioprep) so the target and the silent-clip
    * edge cannot drift apart. A clip with zero energy (silence) or zero
    * samples has NO defined gain — the result is null, which callers
    * must drop or flag (a corpus row with no audio is not trainable). */
  def normalizedPcm(bytes: Column, codec: Column, n: Column): Column =
    normalizedPcmFromEnergy(bytes, codec, pcm_energy(bytes, codec), n)

  /** [[normalizedPcm]] with the energy supplied by the caller — the ONE
    * gain formula stays here (batch mm_loudnorm and the streaming ingest
    * cannot drift), while a caller that already computed Σx² (e.g. from a
    * pcm_features pass it also gates on) avoids a second walk of the
    * bytes just to re-derive it. */
  def normalizedPcmFromEnergy(bytes: Column, codec: Column, energy: Column, n: Column): Column = {
    import org.apache.spark.sql.functions._
    val g = when(energy > 0.0 && n > 0,
      round(lit(TargetRmsX1000.toDouble) / sqrt(energy / n))).cast("int")
    pcm_gain(bytes, codec, g) // null gain (silent/empty) propagates to null
  }

  /** The 250ms analysis window in SAMPLES — the `max_samples` operand of
    * the fused pcm_dominant_freq, and the ONE shared window definition
    * every tone-detection consumer derives from (a retune cannot leave a
    * site behind). Until r6 this was a byte-level builder (slice sr/2
    * bytes, gain, re-materialize); the fused Goertzel form is
    * bit-identical — floor(sr/4) samples ≡ the count a
    * `substr(1, floor(sr/2))` byte slice decodes to, including
    * odd-length edge cases (PcmSpec pins fused == builder chain over the
    * whole fixture grid) — with zero per-row window copies. */
  def analysisWindowSamples(srHz: Column): Column =
    (srHz.cast("double") / 4.0).cast("int")

  /** Same rms·1000 from a fused energy Σx² and sample count (identical
    * value: [[PcmCodec.features]] accumulates the same left-fold sum). */
  def rmsX1000FromEnergy(energy: Column, n: Column): Column = {
    import org.apache.spark.sql.functions._
    round(lit(1000) * sqrt(energy / n)).cast("bigint")
  }

  /** Acceptance bands of the amplitude-0.5 sine fixture, shared by every
    * audio-quality query (rms·1000 ≈ 353.6, peak·1000 ≈ 500 after 16-bit
    * quantization and sample-phase coverage). A tweak here moves every
    * Spark-side flag at once and MUST keep the oracle's constant-1 flags
    * true on the whole fixture — one definition, no drift between
    * queries. */
  val RmsX1000Band: (Long, Long) = (350L, 358L)
  val PeakX1000Band: (Long, Long) = (495L, 501L)

  /** 1 when `c` lies in the closed band, else 0 — the flag convention. */
  def inBand(c: Column, band: (Long, Long)): Column = {
    import org.apache.spark.sql.functions._
    when(c.between(band._1, band._2), 1L).otherwise(0L)
  }

  /** SQL registration so `spark.sql("... pcm_decode(bytes, codec) ...")`
    * works (SparkSessionExtensions-style function injection). */
  def register(spark: SparkSession): Unit = KernelCall.register(spark,
    "pcm_synth" -> PcmSynth, "pcm_decode" -> PcmDecode, "pcm_resample" -> PcmResample,
    "pcm_energy" -> PcmEnergy, "pcm_features" -> PcmFeatures, "pcm_segments" -> PcmSegments,
    "pcm_gain" -> PcmGain, "pcm_clip_ratio" -> PcmClipRatio, "pcm_dominant_freq" -> PcmDominantFreq)

  /** The FIXTURES §1 frequency rule: 220 + (i % 16)·55 Hz. */
  def clipFreq(eventId: Column): Column =
    lit(220.0) + (eventId % 16).cast("double") * 55.0
}

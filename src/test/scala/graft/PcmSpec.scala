package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{AudioFunctions, PcmCodec}

/** The per-row invariant from BASELINE.json input_hint: decoded PCM must be
  * allclose to the reference float signal at SNR ≥ 30 dB, for every codec
  * the engine supports, through the registered Catalyst expression. */
class PcmSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    AudioFunctions.register(s)
    s
  }

  test("pcm_s16le round-trip SNR >= 30 dB (plain JVM)") {
    val ref = PcmCodec.sine(440.0, 16000, 500)
    val got = PcmCodec.decode(PcmCodec.synth(440.0, 16000, 500, "pcm_s16le"), "pcm_s16le")
    assert(got.length == ref.length)
    assert(PcmCodec.snrDb(ref, got) >= 30.0)
  }

  test("wav round-trip SNR >= 30 dB and container is well-formed") {
    val ref = PcmCodec.sine(330.0, 44100, 700)
    val bytes = PcmCodec.synth(330.0, 44100, 700, "wav")
    assert(new String(bytes, 0, 4, "ASCII") == "RIFF")
    assert(bytes.length == 44 + ref.length * 2)
    val got = PcmCodec.decode(bytes, "wav")
    assert(PcmCodec.snrDb(ref, got) >= 30.0)
  }

  test("resample (multimodal resize): SNR >= 30 dB vs direct synth at target rate") {
    // integer-ratio decimation (48k→16k): output instants coincide with
    // source instants — only quantization noise remains
    val got48 = PcmCodec.resample(PcmCodec.sine(440.0, 48000, 200), 48000, 16000)
    val ref16 = PcmCodec.sine(440.0, 16000, 200)
    assert(got48.length == ref16.length)
    assert(PcmCodec.snrDb(ref16, got48) >= 30.0)
    // non-integer ratio (44.1k→16k): true linear interpolation
    val got441 = PcmCodec.resample(PcmCodec.sine(440.0, 44100, 200), 44100, 16000)
    assert(got441.length == (44100L * 200 / 1000 * 16000 / 44100).toInt)
    val ref = PcmCodec.sine(440.0, 16000, 200)
    assert(PcmCodec.snrDb(ref.take(got441.length), got441.take(ref.length)) >= 30.0)
    // degenerate rates → null, not a crash
    assert(PcmCodec.resample(Array(0.1f), 0, 16000) == null)
  }

  test("pcm_resample through a DataFrame plan (codegen path)") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, 48000, 200), (2L, 44100, 300), (3L, 16000, 500))
      .toDF("id", "sr_hz", "dur_ms")
    val out = rows
      .withColumn("pcm", AudioFunctions.pcm_decode(
        AudioFunctions.pcm_synth(lit(440.0), col("sr_hz"), col("dur_ms"), lit("pcm_s16le")),
        lit("pcm_s16le")))
      .withColumn("pcm16k", AudioFunctions.pcm_resample(col("pcm"), col("sr_hz"), lit(16000)))
      .select(col("id"), size(col("pcm")).as("n"), size(col("pcm16k")).as("n16"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((9600, 3200)))
    assert(out(2L) == ((13230, 4800)))
    assert(out(3L) == ((8000, 8000))) // identity ratio
  }

  test("unsupported codec decodes to null (gate pass-through path)") {
    assert(PcmCodec.synth(220.0, 8000, 200, "opus-stub") == null)
    assert(PcmCodec.decode(Array[Byte](1, 2, 3), "opus-stub") == null)
    assert(PcmCodec.decode(Array[Byte](1, 2, 3), "wav") == null) // malformed RIFF
  }

  test("malformed WAV chunk sizes: negative/overflowing sizes → null, never a hang or crash") {
    // a 60-byte RIFF shell whose first chunk header carries a poisoned size
    def wavWith(id: String, size: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("ASCII")); b.putInt(52); b.put("WAVE".getBytes("ASCII"))
      b.put(id.getBytes("ASCII")); b.putInt(size)
      b.array()
    }
    // size = -8 made the old walker advance by ZERO each iteration — an
    // executor task wedged forever on adversarial bytes through a
    // registered SQL function (decode threw NegativeArraySize instead:
    // the two paths also disagreed)
    for (sz <- Seq(-8, -9, -1)) {
      assert(PcmCodec.decode(wavWith("data", sz), "wav") == null)
      assert(PcmCodec.energy(wavWith("data", sz), "wav") == null)
      assert(PcmCodec.decode(wavWith("fmt ", sz), "wav") == null)
      assert(PcmCodec.energy(wavWith("fmt ", sz), "wav") == null)
    }
    // Int.MaxValue wrapped the int bounds check (data chunk) or wrapped
    // pos negative (skip branch) and crashed past the array
    for (id <- Seq("data", "fmt ")) {
      assert(PcmCodec.decode(wavWith(id, Int.MaxValue), "wav") == null)
      assert(PcmCodec.energy(wavWith(id, Int.MaxValue), "wav") == null)
    }
  }

  test("Catalyst expressions: synth + decode through a DataFrame plan") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, 16000, 200, "pcm_s16le"), (1L, 8000, 300, "wav"),
        (2L, 48000, 400, "opus-stub"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("bytes", AudioFunctions.pcm_synth(
        AudioFunctions.clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("pcm", AudioFunctions.pcm_decode(col("bytes"), col("codec")))
      .select(col("event_id"), col("sr_hz"), col("dur_ms"), size(col("pcm")).as("n"))
    val rows = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    assert(rows(0L).contains(16000 * 200 / 1000))
    assert(rows(1L).contains(8000 * 300 / 1000))
    assert(rows(2L).isEmpty) // unsupported codec → null bytes → null size
  }

  test("pcm_energy: fused decode+feature is bit-identical to norm2_f(pcm_decode)") {
    val s = spark
    import s.implicits._
    graft.functions.VecFunctions.register(s)
    AudioFunctions.register(s)
    // both codecs, several rates/durations, plus an unsupported codec row
    val df = Seq((0L, 16000, 200, "pcm_s16le"), (1L, 8000, 300, "wav"),
        (2L, 48000, 400, "wav"), (3L, 44100, 250, "pcm_s16le"),
        (4L, 16000, 100, "opus-stub"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("bytes", AudioFunctions.pcm_synth(
        AudioFunctions.clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("fused", AudioFunctions.pcm_energy(col("bytes"), col("codec")))
      .withColumn("staged", graft.functions.VecFunctions.norm2_f(
        AudioFunctions.pcm_decode(col("bytes"), col("codec"))))
    val rows = df.select("event_id", "fused", "staged").collect()
    rows.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2))
        assert(r.isNullAt(1) && r.isNullAt(2), s"null-parity broke: $r")
      else
        // BIT-identical, not approximately equal: same samples, same
        // left-fold order, so the doubles must match exactly
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
               java.lang.Double.doubleToLongBits(r.getDouble(2)), s"fold drift: $r")
    }
    assert(rows.count(r => !r.isNullAt(1)) == 4 && rows.count(_.isNullAt(1)) == 1)
    // interpreted eval path agrees too (plain helper call)
    val b = PcmCodec.synth(275.0, 16000, 200, "wav")
    val viaArrays = { var a = 0.0; PcmCodec.decode(b, "wav").foreach(v => a += v.toDouble * v.toDouble); a }
    assert(java.lang.Double.doubleToLongBits(PcmCodec.energy(b, "wav")) ==
           java.lang.Double.doubleToLongBits(viaArrays))
  }

  test("pcm_features: one fused pass matches decode-then-compute reference, incl. closed forms") {
    val s = spark
    import s.implicits._
    AudioFunctions.register(s)
    val df = Seq((0L, 16000, 200, "pcm_s16le"), (1L, 8000, 300, "wav"),
        (7L, 44100, 250, "wav"), (15L, 16000, 1000, "pcm_s16le"),
        (4L, 16000, 100, "opus-stub"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("bytes", AudioFunctions.pcm_synth(
        AudioFunctions.clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("ft", AudioFunctions.pcm_features(col("bytes"), col("codec")))
      .withColumn("energy", AudioFunctions.pcm_energy(col("bytes"), col("codec")))
    val rows = df.select("event_id", "sr_hz", "dur_ms", "ft", "energy", "bytes", "codec").collect()
    assert(rows.count(_.isNullAt(3)) == 1, "unsupported codec must feature to null")
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val ft = r.getSeq[Double](3)
      assert(ft.length == 5)
      val Seq(n, energy, peak, zcr, dc) = ft
      // n and energy: exact agreement with the independent paths
      assert(n == PcmCodec.sampleCount(r.getInt(1), r.getInt(2)).toDouble)
      assert(java.lang.Double.doubleToLongBits(energy) ==
             java.lang.Double.doubleToLongBits(r.getDouble(4)), s"energy drift: $r")
      // peak/zcr/dc: reference recompute over the decoded floats
      val pcm = PcmCodec.decode(r.getAs[Array[Byte]](5), r.getString(6))
      val refPeak = pcm.map(v => math.abs(v.toDouble)).max
      val refZcr = pcm.toSeq.map(_ < 0f).sliding(2).count { case Seq(a, b) => a != b }
      val refDc = pcm.map(_.toDouble).sum / pcm.length
      assert(peak == refPeak, s"peak drift: $peak vs $refPeak")
      assert(zcr == refZcr.toDouble, s"zcr drift: $zcr vs $refZcr")
      assert(math.abs(dc - refDc) < 1e-12, s"dc drift: $dc vs $refDc")
      // closed forms of the amplitude-0.5 sine (what mm_clip_quality banks on)
      val freq = 220.0 + (r.getLong(0) % 16) * 55.0
      assert(math.abs(zcr - 2.0 * freq * n / r.getInt(1)) <= 2.0, s"zcr off closed form: $r")
      assert(math.abs(math.sqrt(energy / n) - 0.5 / math.sqrt(2.0)) < 0.005)
      assert(peak >= 0.495 && peak <= 0.501 && math.abs(dc) <= 0.1)
    }
  }

  test("norm2_f fold is bit-identical to the interpreted rmsX1000 lambda it replaced") {
    // shipped queries compute rms via rmsX1000FromEnergy(norm2_f(pcm), n);
    // AudioFunctions.rmsX1000 is the retained interpreted REFERENCE — if
    // either fold order ever drifts, this pin fails instead of the rms
    // silently shifting inside the oracle acceptance band
    val s = spark
    import s.implicits._
    AudioFunctions.register(s)
    graft.functions.VecFunctions.register(s)
    val rows = Seq((3L, 16000, 250, "pcm_s16le"), (9L, 44100, 330, "wav"),
        (14L, 8000, 900, "pcm_s16le"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("pcm", expr(
        "pcm_decode(pcm_synth(220.0 + CAST(event_id % 16 AS DOUBLE) * 55.0, sr_hz, dur_ms, codec), codec)"))
      .select(
        expr("aggregate(transform(pcm, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)").as("sum_ref"),
        graft.functions.VecFunctions.norm2_f(col("pcm")).as("sum_fast"),
        AudioFunctions.rmsX1000(col("pcm")).as("rms_ref"),
        AudioFunctions.rmsX1000FromEnergy(
          graft.functions.VecFunctions.norm2_f(col("pcm")), size(col("pcm"))).as("rms_fast"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"fold drift: $r")
      assert(r.getLong(2) == r.getLong(3), s"rms drift: $r")
    }
  }

  test("peak_f: codegen'd max|x| is bit-identical to the interpreted HOF it replaces") {
    val s = spark
    import s.implicits._
    AudioFunctions.register(s)
    graft.functions.VecFunctions.register(s)
    val rows = Seq((3L, 16000, 250, "pcm_s16le"), (9L, 44100, 330, "wav"),
        (14L, 8000, 900, "pcm_s16le"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("pcm", expr(
        "pcm_decode(pcm_synth(220.0 + CAST(event_id % 16 AS DOUBLE) * 55.0, sr_hz, dur_ms, codec), codec)"))
      .select(expr("peak_f(pcm)").as("fast"),
        expr("array_max(transform(pcm, x -> abs(CAST(x AS DOUBLE))))").as("ref"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // empty-array parity (ADVICE r5): array_max over zero elements is NULL
    // — a zero-sample clip must not report a fake 0.0 peak. Both the
    // interpreted eval and the codegen path must agree.
    val empty = Seq(Tuple1(Array.empty[Float])).toDF("pcm")
      .select(expr("peak_f(pcm)").as("fast"),
        expr("array_max(transform(pcm, x -> abs(CAST(x AS DOUBLE))))").as("ref"))
      .collect()(0)
    assert(empty.isNullAt(0) && empty.isNullAt(1),
      s"peak_f of an empty array must be NULL like its HOF reference: $empty")
  }

  test("pcm_clip_ratio 4-arg: fused gain is bit-identical to the pcm_gain two-step") {
    // the mm_clip_detect overdrive screen — the fused form must reproduce
    // clipRatio(gain(bytes, codec, g), 'pcm_s16le', t) EXACTLY over the
    // whole reachable fixture grid (both codecs) and several gains,
    // including saturating ones
    (0L until 80L).foreach { eid =>
      val freq = 220.0 + (eid % 16) * 55.0
      val sr = (eid % 10) match {
        case 7 => 8000; case 8 => 44100; case 9 => 48000; case _ => 16000
      }
      val dur = (200 + (eid % 10) * 100).toInt
      val codec = if (eid % 2 == 0) "pcm_s16le" else "wav"
      val bytes = PcmCodec.synth(freq, sr, dur, codec)
      Seq(0, 500, 1000, 2250, 3000).foreach { g =>
        val twoStep = PcmCodec.clipRatio(
          PcmCodec.gain(bytes, codec, g), "pcm_s16le", 999)
        val fused = PcmCodec.clipRatioGained(bytes, codec, 999, g)
        assert(java.lang.Double.doubleToLongBits(twoStep.doubleValue) ==
          java.lang.Double.doubleToLongBits(fused.doubleValue),
          s"eid=$eid codec=$codec g=$g: two-step=$twoStep fused=$fused")
        // gain 1000 (the builders' default) takes the gain-free scan
        if (g == 1000) assert(fused == PcmCodec.clipRatio(bytes, codec, 999))
      }
    }
    // null/edge contracts mirror the two-step chain
    assert(PcmCodec.clipRatioGained(Array[Byte](1, 2), "opus-stub", 999, 3000) == null)
    assert(PcmCodec.clipRatioGained(Array[Byte](1, 2), "pcm_s16le", 0, 3000) == null)
    assert(PcmCodec.clipRatioGained(Array[Byte](1, 2), "pcm_s16le", 999, -1) == null)
    assert(PcmCodec.clipRatioGained(Array.emptyByteArray, "pcm_s16le", 999, 3000).doubleValue == 0.0)
    // codegen path through a DataFrame plan + SQL registration
    val s = spark
    AudioFunctions.register(s)
    val r = s.sql(
      """SELECT pcm_clip_ratio(b, 'pcm_s16le', 999, 3000) AS fused,
        |       pcm_clip_ratio(pcm_gain(b, 'pcm_s16le', 3000), 'pcm_s16le', 999) AS twostep
        |FROM (SELECT pcm_synth(440.0, 16000, 100, 'pcm_s16le') AS b)""".stripMargin)
      .collect()(0)
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
  }

  test("pcm_segments: VAD-lite boundaries, silence handling, codegen path") {
    val s = spark
    import s.implicits._
    AudioFunctions.register(s)
    // spliced 16kHz clip: 100ms silence | 200ms sine | 60ms silence
    // (all exact 20ms-frame multiples → crisp expected boundaries)
    val sr = 16000
    val sine = PcmCodec.toPcm16(PcmCodec.sine(440.0, sr, 200))
    val sil100 = new Array[Byte](2 * sr / 10)
    val sil60 = new Array[Byte](2 * sr * 60 / 1000)
    val spliced = sil100 ++ sine ++ sil60
    assert(PcmCodec.segments(spliced, "pcm_s16le", sr, 20, 100).toSeq == Seq(100L, 300L))
    // two active runs with a silent gap → two segments
    val gapped = sine ++ sil100 ++ sine
    assert(PcmCodec.segments(gapped, "pcm_s16le", sr, 20, 100).toSeq ==
      Seq(0L, 200L, 300L, 500L))
    // all-silence → empty; absurd threshold → empty; undecodable → null
    assert(PcmCodec.segments(sil100, "pcm_s16le", sr, 20, 100).isEmpty)
    assert(PcmCodec.segments(spliced, "pcm_s16le", sr, 20, 2000).isEmpty)
    assert(PcmCodec.segments(spliced, "opus-stub", sr, 20, 100) == null)
    assert(PcmCodec.segments(spliced, "pcm_s16le", 0, 20, 100) == null)
    // whole-clip sine through the DataFrame/codegen path (both codecs):
    // ONE segment [0, clip end in integer ms]
    val rows = Seq((3L, 16000, 250, "pcm_s16le"), (9L, 44100, 330, "wav"),
        (1L, 16000, 100, "opus-stub"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("bytes", AudioFunctions.pcm_synth(
        AudioFunctions.clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("segs", AudioFunctions.pcm_segments(
        col("bytes"), col("codec"), col("sr_hz"), lit(20), lit(100)))
      .select("sr_hz", "dur_ms", "segs").collect()
    assert(rows.count(_.isNullAt(2)) == 1, "unsupported codec must segment to null")
    rows.filter(!_.isNullAt(2)).foreach { r =>
      val (srH, dur) = (r.getInt(0), r.getInt(1))
      val segs = r.getSeq[Long](2)
      val totalMs = (srH.toLong * dur / 1000L) * 1000L / srH
      assert(segs.length == 2 && segs.head == 0L, s"want one segment from 0: $r")
      assert(segs(1) >= totalMs - 20 && segs(1) <= totalMs,
        s"segment end ${segs(1)} outside [$totalMs-20, $totalMs]")
    }
  }

  test("pcm_segments: no ms-axis drift at rates where srHz·frameMs % 1000 != 0") {
    // 11025 Hz, 20ms frames: frameLen truncates to 220 samples (a true
    // 20ms frame is 220.5), so a frame-count ms axis gains 0.045ms per
    // frame. 10s of silence with ONLY the final partial frame active used
    // to emit the inverted segment [10020, 10000]; timestamps must derive
    // from sample indices instead.
    val sr = 11025
    val n = sr * 10 // exactly 10s → clipEndMs = 10000; 501 full frames + 30
    val bytes = new Array[Byte](2 * n)
    var i = 501 * 220 // loud tail: the final partial frame only
    while (i < n) { bytes(2 * i) = 0x00; bytes(2 * i + 1) = 0x40; i += 1 } // 0.5
    val segs = PcmCodec.segments(bytes, "pcm_s16le", sr, 20, 100)
    assert(segs.length == 2, s"want one segment: ${segs.toSeq}")
    assert(segs(0) <= segs(1), s"inverted segment: ${segs.toSeq}")
    assert(segs(1) == 10000L, s"end must clamp to the real clip length: ${segs.toSeq}")
    assert(segs(0) >= 10000L - 20L, s"start outside the final frame: ${segs.toSeq}")
    // and a fully-active 11025 Hz clip still spans [0, clip end]
    val sine = PcmCodec.toPcm16(PcmCodec.sine(440.0, sr, 1000))
    assert(PcmCodec.segments(sine, "pcm_s16le", sr, 20, 100).toSeq == Seq(0L, 1000L))
  }

  test("fused synth is byte-identical to toPcm16(sine(...)) over the fixture grid") {
    // r6 fuses quantization into the rotation loop (no intermediate
    // float[]); the two-step reference form must stay bit-exact
    (0L until 80L).foreach { eid =>
      val freq = 220.0 + (eid % 16) * 55.0
      val sr = (eid % 10) match {
        case 7 => 8000; case 8 => 44100; case 9 => 48000; case _ => 16000
      }
      val dur = (200 + (eid % 10) * 100).toInt
      val fused = PcmCodec.synth(freq, sr, dur, "pcm_s16le")
      val twoStep = PcmCodec.toPcm16(PcmCodec.sine(freq, sr, dur))
      assert(java.util.Arrays.equals(fused, twoStep),
        s"fused synth drifted from the two-step reference: eid=$eid sr=$sr dur=$dur")
      val wav = PcmCodec.synth(freq, sr, dur, "wav")
      assert(java.util.Arrays.equals(wav, PcmCodec.wrapWav(twoStep, sr)),
        s"fused wav synth drifted: eid=$eid")
    }
  }

  test("pcm_gain / pcm_clip_ratio / pcm_dominant_freq: fixture-grid sweep pins the oracle bands") {
    // event_id mod 80 covers every reachable (sr, dur, freq) combination
    // of the fixture rules (sr/dur keyed by eid%10, freq by eid%16) — the
    // mm_dominant_freq/mm_loudnorm/mm_clip_detect oracles assert constant
    // flags over the WHOLE table, so the bands must hold on the whole
    // grid, not a sample
    (0L until 80L).foreach { eid =>
      val freq = 220.0 + (eid % 16) * 55.0
      val sr = (eid % 10) match {
        case 7 => 8000; case 8 => 44100; case 9 => 48000; case _ => 16000
      }
      val dur = (200 + (eid % 10) * 100).toInt
      val bytes = PcmCodec.synth(freq, sr, dur, "pcm_s16le")
      // dominant frequency: exact winner among the 16 candidates
      assert(PcmCodec.dominantFreq(bytes, "pcm_s16le", sr, 220.0, 55.0, 16)
        .doubleValue == freq, s"eid=$eid sr=$sr dur=$dur freq=$freq")
      // the pristine amplitude-0.5 fixture never clips at 0.999
      assert(PcmCodec.clipRatio(bytes, "pcm_s16le", 999).doubleValue == 0.0)
      // overdriven 3×: clipped fraction ≈ 1 − (2/π)·asin(0.666) ≈ 0.537
      val hot = PcmCodec.gain(bytes, "pcm_s16le", 3000)
      val r = PcmCodec.clipRatio(hot, "pcm_s16le", 999).doubleValue
      assert(r >= 0.50 && r <= 0.575, s"eid=$eid sr=$sr dur=$dur ratio=$r")
      // loudness-normalization round trip: re-measured rms lands at 250±2
      val n = PcmCodec.sampleCount(sr, dur)
      val e = PcmCodec.energy(bytes, "pcm_s16le").doubleValue
      val g = math.round(250.0 / math.sqrt(e / n)).toInt
      val normed = PcmCodec.gain(bytes, "pcm_s16le", g)
      assert(normed.length == 2 * n)
      val rms1000 = math.round(1000.0 * math.sqrt(
        PcmCodec.energy(normed, "pcm_s16le").doubleValue / n))
      assert(rms1000 >= 248 && rms1000 <= 252, s"eid=$eid rms1000=$rms1000")
    }
    // tolerant-null contracts + container stripping + saturation
    assert(PcmCodec.gain(Array[Byte](1, 2), "opus-stub", 1000) == null)
    assert(PcmCodec.gain(Array[Byte](1, 2), "pcm_s16le", -1) == null)
    assert(PcmCodec.clipRatio(Array.emptyByteArray, "pcm_s16le", 999).doubleValue == 0.0)
    assert(PcmCodec.clipRatio(Array[Byte](1, 2), "pcm_s16le", 0) == null)
    assert(PcmCodec.dominantFreq(Array[Byte](1, 2), "pcm_s16le", 0, 220.0, 55.0, 16) == null)
    assert(PcmCodec.dominantFreq(Array.emptyByteArray, "pcm_s16le", 16000, 220.0, 55.0, 16) == null)
    val wav = PcmCodec.synth(440.0, 16000, 100, "wav")
    val stripped = PcmCodec.gain(wav, "wav", 3000)
    assert(stripped.length == 2 * PcmCodec.sampleCount(16000, 100),
      "wav container must strip to raw pcm")
    val peak = PcmCodec.features(stripped, "pcm_s16le")(2)
    assert(peak >= 0.999, s"3x overdrive must saturate at full scale: $peak")
  }

  test("gain-invariant fingerprint: re-levelled bytes differ, dominant tone survives") {
    // the dedup_audio_fp contract: two clips of the SAME recording
    // (freq, sr, dur) re-levelled with different per-clip gains must (a)
    // no longer be byte-identical — exact/content dedup would miss them —
    // and (b) still fingerprint to the same dominant tone. The worst case
    // for (b) is the highest gain (2250 → amplitude 1.125, mild
    // saturation whose odd harmonics land ON other candidates: 3·220 =
    // 660 = 220 + 8·55) — the fundamental must still win.
    val sr = 16000
    (0 until 16).foreach { k =>
      val freq = 220.0 + k * 55.0
      val bytes = PcmCodec.synth(freq, sr, 400, "pcm_s16le")
      val gains = Seq(750, 1000, 1250, 1500, 1750, 2000, 2250)
      val relevelled = gains.map(g => PcmCodec.gain(bytes, "pcm_s16le", g))
      relevelled.combinations(2).foreach { case Seq(a, b) =>
        assert(!java.util.Arrays.equals(a, b), s"gains must break byte identity (k=$k)")
      }
      relevelled.foreach { r =>
        assert(PcmCodec.dominantFreq(r, "pcm_s16le", sr, 220.0, 55.0, 16)
          .doubleValue == freq, s"fingerprint lost under re-levelling (k=$k)")
      }
    }
    // the dedup_audio_fp oracle is EXACT over the whole table, so the
    // invariance must hold on the whole reachable grid (eid%80 covers
    // every (sr, dur, freq) combination incl. the wav container), not
    // just one (sr, dur). Sweep the extreme gains — 750 (quietest) and
    // 2250 (most saturated, whose odd harmonics land on candidates).
    (0L until 80L).foreach { eid =>
      val freq = 220.0 + (eid % 16) * 55.0
      val srG = (eid % 10) match {
        case 7 => 8000; case 8 => 44100; case 9 => 48000; case _ => 16000
      }
      val dur = (200 + (eid % 10) * 100).toInt
      val codec = if (eid % 2 == 0) "pcm_s16le" else "wav"
      val bytes = PcmCodec.synth(freq, srG, dur, codec)
      Seq(750, 2250).foreach { g =>
        val r = PcmCodec.gain(bytes, codec, g) // strips the wav container
        // the query fingerprints a 250ms analysis window (sr/2 BYTES of
        // raw pcm), not the whole clip — pin exactly that form
        val win = java.util.Arrays.copyOfRange(r, 0, math.min(r.length, srG / 2))
        assert(PcmCodec.dominantFreq(win, "pcm_s16le", srG, 220.0, 55.0, 16)
          .doubleValue == freq, s"grid fingerprint flip: eid=$eid g=$g sr=$srG dur=$dur")
        // the r6 FUSED form (window + gain inside the one Goertzel pass —
        // what dedup_audio_fp ships) must agree with the builder chain
        // above on the whole grid
        assert(PcmCodec.dominantFreqWindowed(bytes, codec, srG, 220.0, 55.0, 16,
          srG / 4, g).doubleValue == freq,
          s"fused fingerprint flip: eid=$eid g=$g sr=$srG dur=$dur")
      }
      // gain-free window parity (mm_dominant_freq / audioDedupStream form):
      // fused 7-arg == slice-then-scan builder chain, bit-identical winner
      val winBytes = (srG / 2.0).toInt
      val raw = PcmCodec.gain(bytes, codec, 1000) // identity gain strips container
      val sliced = java.util.Arrays.copyOfRange(raw, 0, math.min(raw.length, winBytes))
      assert(PcmCodec.dominantFreqWindowed(bytes, codec, srG, 220.0, 55.0, 16,
        srG / 4, 1000).doubleValue ==
        PcmCodec.dominantFreq(sliced, "pcm_s16le", srG, 220.0, 55.0, 16).doubleValue,
        s"gain-free fused window drift: eid=$eid sr=$srG dur=$dur")
    }
    // fused-form null contracts mirror the builder chain
    assert(PcmCodec.dominantFreqWindowed(Array[Byte](1, 2), "pcm_s16le",
      16000, 220.0, 55.0, 16, 0, 1000) == null, "non-positive window must null")
    assert(PcmCodec.dominantFreqWindowed(Array[Byte](1, 2), "pcm_s16le",
      16000, 220.0, 55.0, 16, 4000, -1) == null, "negative gain must null")
  }

  test("pcm_gain / pcm_clip_ratio / pcm_dominant_freq through a DataFrame plan (codegen)") {
    val s = spark
    import s.implicits._
    AudioFunctions.register(s)
    import graft.functions.AudioFunctions._
    val rows = Seq((3L, 16000, 250, "pcm_s16le"), (9L, 44100, 330, "wav"),
        (1L, 16000, 100, "opus-stub"))
      .toDF("event_id", "sr_hz", "dur_ms", "codec")
      .withColumn("bytes", pcm_synth(clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .select(col("event_id"), col("sr_hz"), col("dur_ms"),
        pcm_dominant_freq(col("bytes"), col("codec"), col("sr_hz"),
          lit(220.0), lit(55.0), lit(16)).as("f"),
        pcm_clip_ratio(col("bytes"), col("codec"), lit(999)).as("r"),
        pcm_gain(col("bytes"), col("codec"), lit(3000)).as("hot"))
      .collect()
    assert(rows.count(_.isNullAt(3)) == 1, "unsupported codec must null through all three")
    rows.filter(!_.isNullAt(3)).foreach { row =>
      val expected = 220.0 + (row.getLong(0) % 16) * 55.0
      assert(row.getDouble(3) == expected, s"codegen dominant freq drift: $row")
      assert(row.getDouble(4) == 0.0)
      val n = PcmCodec.sampleCount(row.getInt(1), row.getInt(2))
      assert(row.getAs[Array[Byte]](5).length == 2 * n)
    }
    // SQL registration: the functions resolve by name
    val viaSql = s.sql(
      "SELECT pcm_clip_ratio(pcm_gain(pcm_synth(440.0, 16000, 100, 'pcm_s16le'), 'pcm_s16le', 3000), 'pcm_s16le', 999) AS r")
      .head().getDouble(0)
    assert(viaSql >= 0.50 && viaSql <= 0.575, s"sql path ratio: $viaSql")
  }

  test("SQL-registered functions work in spark.sql") {
    AudioFunctions.register(spark)
    val n = spark.sql(
      "SELECT size(pcm_decode(pcm_synth(220.0, 16000, 250, 'pcm_s16le'), 'pcm_s16le')) AS n")
      .collect()(0).getInt(0)
    assert(n == 4000)
  }

  test("pcm_synth wrong arity is an analysis error, not a runtime crash") {
    AudioFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT pcm_synth(220.0, 16000, 250)").collect()
    }
    assert(e.getMessage.contains("4 arguments"),
      s"expected the arity TypeCheckFailure, got: ${e.getMessage}")
  }

  test("distributed SNR check over many synthesized clips") {
    val s = spark
    import s.implicits._
    val df = s.range(0, 64).select(
      col("id").as("event_id"),
      (lit(8000) + (col("id") % 4).cast("int") * 8000).as("sr_hz"),
      (lit(200) + (col("id") % 10).cast("int") * 100).as("dur_ms"),
      when(col("id") % 2 === 0, "pcm_s16le").otherwise("wav").as("codec"))
    val withPcm = df
      .withColumn("bytes", AudioFunctions.pcm_synth(
        AudioFunctions.clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("pcm", AudioFunctions.pcm_decode(col("bytes"), col("codec")))
    val rows = withPcm.select("event_id", "sr_hz", "dur_ms", "pcm").as[(Long, Int, Int, Array[Float])].collect()
    assert(rows.length == 64)
    rows.foreach { case (id, sr, dur, pcm) =>
      val ref = PcmCodec.sine(220.0 + (id % 16) * 55.0, sr, dur)
      assert(PcmCodec.snrDb(ref, pcm) >= 30.0, s"clip $id SNR below 30dB")
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Cep, Pipeline}

/** Typed rows crossing the flatMapGroupsWithState boundary. */
final case class CepRow(event_key: String, clip_id: String, rule_id: String,
                        event_time: java.sql.Timestamp)
final case class CepState(lastAUs: Long) // -1 = disarmed

object StreamingJobs {

  private def tsUs(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** Transformed event stream from a streaming clip source. The rule set
    * is folded into the plan ([[Pipeline.matching]]), so the stream is
    * stateless and map-only — no join, no shuffle; the whole
    * normalize/classify/enrich stage scales linearly with executors (the
    * reference's "scale up replicas" model). */
  def events(spark: SparkSession, clipStream: DataFrame,
             statusFilter: Seq[String] = Nil): DataFrame =
    // watermarks demand TIMESTAMP (LTZ); parquet sources may carry NTZ —
    // the cast preserves wall time under the engine's UTC session TZ
    Pipeline.events(spark, clipStream, statusFilter)
      .withColumn("event_time", col("event_time").cast("timestamp"))

  /** [[events]] with the labeled error counters observed on the clip
    * stream (processing_errors_total{error_type} analog): matches the
    * tolerant decode skips are counted per micro-batch by error type,
    * collected by [[graft.metrics.Metrics.Listener]]. */
  def eventsObserved(spark: SparkSession, clipStream: DataFrame,
                     statusFilter: Seq[String] = Nil): DataFrame =
    events(spark, graft.metrics.Metrics.observeErrors(clipStream), statusFilter)

  /** Watermarked tumbling-window aggregate (append mode: windows emit once
    * finalized; late rows beyond the watermark are dropped). */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), "10 minutes"), col("event_key"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("risk_score") * 10).cast("bigint")).as("risk_x10"))
      .select(col("window.start").as("window_start"), col("event_key"),
        col("n_events"), col("risk_x10"))

  /** Watermarked session-window aggregate (30-minute gap). */
  def sessionCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), "30 minutes"), col("event_key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("event_key"), col("n_events"))

  /** Watermarked stream-stream inner join: clip events ⋈ rolling rule
    * activations within ±1h. Both sides watermarked so Spark can expire
    * join state (north rule: stateful join with bounded state). */
  def streamStreamJoin(events: DataFrame, activations: DataFrame): DataFrame = {
    val ev = events.withWatermark("event_time", "2 hours")
      .select(col("rule_id"), col("clip_id"), col("event_time"))
    val act = activations.withWatermark("active_from", "2 hours")
      .select(col("rule_id").as("act_rule_id"), col("act_id"), col("active_from"))
    ev.join(act,
      col("rule_id") === col("act_rule_id") &&
        col("event_time") >= col("active_from") - expr("INTERVAL 1 HOUR") &&
        col("event_time") <= col("active_from") + expr("INTERVAL 1 HOUR"))
      .select(col("rule_id"), col("clip_id"), col("act_id"),
        col("event_time"), col("active_from"))
  }

  /** Streaming audio preparation — the training-corpus ingest shape for
    * the audio tier, end to end in ONE stateless map-only stage (no
    * shuffle, no state: scales linearly with executors and streams in
    * append mode by construction): gate → synthesize/decode → derive the
    * per-clip gain from the fused energy → loudness-normalize to a 0.25
    * target RMS ([[graft.functions.PcmCodec.gain]], s16 saturation) →
    * fused quality features + VAD segment count + Goertzel dominant tone
    * over the NORMALIZED bytes. Emits the prepared clip rows (normalized
    * audio + quality metadata) a downstream trainer consumes; pair with
    * the exactly-once sink for the full ingest pipeline. */
  def audioPrep(spark: SparkSession, clipStream: DataFrame): DataFrame = {
    import graft.functions.AudioFunctions._
    clipStream.filter(Pipeline.gate)
      .withColumn("bytes", pcm_synth(clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      .withColumn("n", expr("CAST(sr_hz AS BIGINT) * dur_ms div 1000"))
      // a silent or zero-length clip has NO defined gain: DROP it — a
      // corpus row with null audio and null features is worse than no
      // row (same drop-not-fail contract as the tolerant decode). r5
      // gated on a SEPARATE pcm_energy scan because Catalyst pushes
      // predicates through projections by INLINING the aliased
      // expression (a null-check on the gained bytes would recompute the
      // whole synth→energy→gain chain twice). r6 removes that extra walk
      // with the generator barrier: explode(array(…)) plans a Generate
      // node, whose output attribute a Filter references WITHOUT
      // inlining — the raw-bytes energy is computed exactly once and
      // both the silent-clip gate and the gain derive from it.
      .withColumn("raw_energy", explode(array(pcm_energy(col("bytes"), col("codec")))))
      .filter(col("n") > 0 && col("raw_energy") > 0.0)
      // shared normalization formula — see AudioFunctions
      // .normalizedPcmFromEnergy (its silent/empty guard is vacuous here:
      // the filter above holds)
      .withColumn("norm_bytes", normalizedPcmFromEnergy(
        col("bytes"), col("codec"), col("raw_energy"), col("n")))
      .withColumn("ft", pcm_features(col("norm_bytes"), lit("pcm_s16le")))
      .select(col("clip_id"), col("tenant_id"), col("sr_hz"), col("dur_ms"),
        col("event_time"), col("norm_bytes"),
        rmsX1000FromEnergy(element_at(col("ft"), 2), element_at(col("ft"), 1)).as("rms_x1000"),
        round(element_at(col("ft"), 3) * 1000).cast("bigint").as("peak_x1000"),
        // tone over the 250ms prefix of the ALREADY-raw normalized bytes
        // (the windowed-Goertzel idiom; the full-clip scan would pay ~4×
        // the job's dominant per-sample cost for no extra tone fidelity).
        // Window FUSED into the scan (7-arg form, length from the ONE
        // shared definition) — no substr copy of the prefix per row.
        round(pcm_dominant_freq(
          col("norm_bytes"), lit("pcm_s16le"), col("sr_hz"),
          lit(220.0), lit(55.0), lit(16),
          analysisWindowSamples(col("sr_hz")))).cast("bigint").as("tone_hz"),
        expr("size(pcm_segments(norm_bytes, 'pcm_s16le', sr_hz, 20, 100)) div 2")
          .cast("bigint").as("n_segments"))
  }

  /** Streaming AUDIO near-dup suppression — the streaming form of the
    * batch `dedup_audio_fp` clustering: drop clips whose gain-invariant
    * spectral fingerprint (Goertzel dominant tone over the shared 250ms
    * analysis window × sample rate × duration) was already seen within
    * the watermark horizon. Byte-level dedup misses re-levelled copies
    * of the same recording; the fingerprint catches them, and
    * dropDuplicatesWithinWatermark keeps state bounded at corpus scale
    * (exact dedup over ALL history stays with the batch path). */
  def audioDedupStream(spark: SparkSession, clipStream: DataFrame,
                       watermark: String = "1 hour"): DataFrame = {
    import graft.functions.AudioFunctions._
    clipStream.filter(Pipeline.gate)
      // a clip with no samples (sr·dur < 1000 ⇒ n = 0) or a nonsense rate
      // has NO defined fingerprint; dropDuplicatesWithinWatermark treats
      // null keys as EQUAL, so without this guard two unrelated
      // no-fingerprint clips would dedup against each other and the
      // first would flow on with fp_hz null. Cheap metadata predicate —
      // a post-hoc fp_hz IS NOT NULL filter would inline and recompute
      // the Goertzel scan when pushed through the projection.
      .filter(col("sr_hz") > 0 && expr("CAST(sr_hz AS BIGINT) * dur_ms >= 1000"))
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withColumn("bytes", pcm_synth(clipFreq(col("event_id")), col("sr_hz"), col("dur_ms"), col("codec")))
      // window fused into the Goertzel pass (7-arg form, shared window
      // definition) — same fingerprint as the batch dedup_audio_fp path
      .withColumn("fp_hz", round(pcm_dominant_freq(
        col("bytes"), col("codec"), col("sr_hz"),
        lit(220.0), lit(55.0), lit(16),
        analysisWindowSamples(col("sr_hz")))).cast("bigint"))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("fp_hz", "sr_hz", "dur_ms")
      .drop("bytes")
  }

  /** Streaming exact deduplication over a content key — the training-data
    * dedup operator in its streaming form: state holds one key per seen
    * clip within the watermark horizon, so duplicates arriving across
    * micro-batches are dropped exactly once and state is evicted as event
    * time advances (bounded state at 10^12 scale; exact dedup over ALL
    * history belongs to the batch `Dedup.exact` + compaction path). */
  def dedupStream(clipStream: DataFrame, watermark: String = "1 hour"): DataFrame =
    clipStream
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withWatermark("event_time", watermark)
      // dedup on the content COLUMNS, not a concat_ws hash: concat_ws
      // skips NULL fields and a transcript containing the separator shifts
      // field boundaries, so distinct records could collide and be
      // silently dropped
      .dropDuplicatesWithinWatermark("transcript", "codec", "sr_hz")

  /** Streaming CEP: A-then-B-within-T per event key via
    * flatMapGroupsWithState, same transition function as the batch form
    * ([[Cep.step]]). State = the armed A timestamp; watermark-driven
    * event-time timeout evicts idle keys so state stays bounded at 10^12
    * scale (hot keys are already spread by the clip_id-derived key).
    *
    * Within a micro-batch the group iterator is sorted by (event_time,
    * clip_id, rule_id) — the same total order the batch oracle uses. */
  def streamingCep(spark: SparkSession, events: DataFrame,
                   withinS: Long = Cep.DefaultWithinS): Dataset[Cep.Detection] = {
    import spark.implicits._
    // grouped by the column, not a typed key lambda: no per-row
    // deserialize-call-serialize of the key (AppendColumns) before the
    // shuffle; the groups and the state key are the same
    cepRows(events).groupBy(col("event_key")).as[String, CepRow]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        cepGroup(withinS) _)
  }

  /** The CEP operator's input: the A and B events under a 1 h watermark,
    * with the columns of [[CepRow]]. */
  private[graft] def cepRows(events: DataFrame): DataFrame =
    events
      .filter(col("rule_id").isin(Cep.RuleA, Cep.RuleB))
      .withWatermark("event_time", "1 hour")
      .select(col("event_key"), col("clip_id"), col("rule_id"), col("event_time"))

  /** One key's rows of one micro-batch through [[Cep.step]], from and back
    * to its state. */
  private[graft] def cepGroup(withinS: Long)(key: String, it: Iterator[CepRow],
                                             state: GroupState[CepState]): Iterator[Cep.Detection] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = it.toSeq.sortBy(r => (tsUs(r.event_time), r.clip_id, r.rule_id))
      var st = state.getOption match {
        case Some(CepState(us)) if us >= 0 => Cep.ArmState(Some(us))
        case _ => Cep.ArmState(None)
      }
      val out = Seq.newBuilder[Cep.Detection]
      var maxUs = Long.MinValue
      sorted.foreach { r =>
        val (next, det) = Cep.step(st,
          Cep.SeqEvent(r.event_key, r.clip_id, r.rule_id, tsUs(r.event_time)), withinS)
        st = next
        det.foreach(out += _)
        maxUs = math.max(maxUs, tsUs(r.event_time))
      }
      state.update(CepState(st.lastAUs.getOrElse(-1L)))
      if (maxUs != Long.MinValue) {
        // A group whose newest event already trails the watermark
        // (wide event-time span within one micro-batch) would set a
        // timeout in the past — an engine error. Clamp to just past
        // the watermark: the armed A is expired anyway, this evicts
        // it at the next trigger.
        val wantMs = maxUs / 1000L + withinS * 1000L
        state.setTimeoutTimestamp(math.max(wantMs, state.getCurrentWatermarkMs() + 1L))
      }
      out.result().iterator
    }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-pattern CEP: A-then-B-within-T detection keyed by the
  * clip_id-derived event key (north rule).
  *
  * Semantics (pinned by FIXTURES §4.2 and by the batch oracle): iterate a
  * key's events in (event_time, clip_id, rule_id) order; every A re-arms the
  * detector; a B fires iff the most recent preceding event of either type is
  * an A no older than T. Firing consumes the armed A (so A,B,B ⇒ one
  * detection; A,A,B ⇒ one detection — the second A re-armed).
  *
  * The SAME transition function drives both the batch implementation (window
  * functions over a sorted partition — used by the oracle-checked query) and
  * the streaming implementation (`flatMapGroupsWithState`, see
  * [[graft.streaming.StreamingJobs.streamingCep]]).
  */
object Cep {

  val RuleA = "r-access-denied"
  val RuleB = "r-priv-esc"
  val DefaultWithinS = 3600L

  /** One step of the detector; shared by batch spec tests and streaming. */
  final case class ArmState(lastAUs: Option[Long])
  final case class SeqEvent(eventKey: String, clipId: String, ruleId: String, tsUs: Long)
  final case class Detection(event_key: String, b_clip_id: String, a_ts_s: Long, b_ts_s: Long)

  def step(state: ArmState, e: SeqEvent, withinS: Long): (ArmState, Option[Detection]) =
    e.ruleId match {
      case RuleA => (ArmState(Some(e.tsUs)), None)
      case RuleB =>
        state.lastAUs match {
          case Some(a) if e.tsUs >= a && e.tsUs - a <= withinS * 1000000L =>
            (ArmState(None), Some(Detection(e.eventKey, e.clipId, a / 1000000L, e.tsUs / 1000000L)))
          case Some(a) if e.tsUs < a =>
            // Out-of-order B BEHIND the armed A (only reachable across
            // micro-batches, where late rows still reach the function): in
            // event-time order this B precedes the A, so it can neither
            // fire nor consume it — ignore. Without the lower bound the
            // negative delta passed `<= withinS` and emitted a B-before-A
            // detection the batch oracle never produces.
            (state, None)
          case _ => (ArmState(None), None) // B without (fresh) A disarms
        }
      case _ => (state, None)
    }

  /** Batch form: equivalent to the sequential machine because "most recent
    * preceding A, newer than the most recent preceding B, within T" is
    * exactly the armed-A condition at each B. Pure window functions — one
    * shuffle on event_key, no driver-side iteration. */
  def detectBatch(events: DataFrame, withinS: Long = DefaultWithinS): DataFrame = {
    // exact µs (a double detour would round at 2^53); NTZ→LTZ is safe
    // because the engine pins session TZ to UTC
    val tsUs = unix_micros(col("event_time").cast("timestamp_ltz"))
    val w = Window.partitionBy("event_key")
      .orderBy(col("ts_us"), col("clip_id"), col("rule_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("rule_id").isin(RuleA, RuleB))
      .select(col("event_key"), col("clip_id"), col("rule_id"), tsUs.as("ts_us"))
      .withColumn("last_a_us", max(when(col("rule_id") === RuleA, col("ts_us"))).over(w))
      .withColumn("last_b_us", max(when(col("rule_id") === RuleB, col("ts_us"))).over(w))
      .filter(col("rule_id") === RuleB &&
        col("last_a_us").isNotNull &&
        (col("ts_us") - col("last_a_us") <= withinS * 1000000L) &&
        (col("last_b_us").isNull || col("last_b_us") < col("last_a_us")))
      .select(col("event_key"),
        col("clip_id").as("b_clip_id"),
        (col("last_a_us") / lit(1000000L)).cast("bigint").as("a_ts_s"),
        (col("ts_us") / lit(1000000L)).cast("bigint").as("b_ts_s"))
  }

  /** DuckDB oracle mirroring detectBatch over the `ev` CTE. */
  def detectSql(withinS: Long = DefaultWithinS): String = s"""
SELECT event_key, clip_id AS b_clip_id,
       last_a_us // 1000000 AS a_ts_s,
       ts_us // 1000000 AS b_ts_s
FROM (
  SELECT event_key, clip_id, rule_id, ts_us,
    MAX(CASE WHEN rule_id = '$RuleA' THEN ts_us END) OVER w AS last_a_us,
    MAX(CASE WHEN rule_id = '$RuleB' THEN ts_us END) OVER w AS last_b_us
  FROM (
    SELECT event_key, clip_id, rule_id, epoch_us(event_time) AS ts_us
    FROM ev WHERE rule_id IN ('$RuleA', '$RuleB')) t
  WINDOW w AS (PARTITION BY event_key ORDER BY ts_us, clip_id, rule_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
) t2
WHERE rule_id = '$RuleB'
  AND last_a_us IS NOT NULL
  AND ts_us - last_a_us <= ${withinS}000000
  AND (last_b_us IS NULL OR last_b_us < last_a_us)"""
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audio.{RuleDef, Rules}
import graft.functions.{KernelCall, RuleMatch}

/** The reference's per-record normalize/classify/enrich pipeline
  * (reference: /root/reference/internal/openreports/processor.go:50-320 and
  * :345-460) re-expressed as pure Catalyst column algebra over the clip
  * table. Every lookup table / template / edge case is reproduced verbatim,
  * including the intentional-looking inconsistency where an unknown
  * severity maps to finding_severity=MEDIUM but risk_score=0.0
  * (processor.go:463-493; pinned by processor_test.go:398 vs :431).
  *
  * Scale notes: the static rule set is folded into the plan as one literal
  * array ([[Rules.literal]]) that also carries every event column depending
  * only on the rule, computed once per rule in Scala. Rule matching is one
  * compiled kernel call per row ([[matching]]) — no join, no exchange, no
  * JSON parsing, no lambda — and the mapping reads the per-rule columns as
  * struct fields. The whole match+explode+transform is one map-only
  * WholeStageCodegen stage over a single scan (PlanSpec-pinned) —
  * embarrassingly parallel, which is what makes the N→4N ≥0.8 scaling
  * criterion reachable.
  */
object Pipeline {

  // ---------------------------------------------------------------- F1 gate
  /** Gate predicate (F1) — analog of kind=="Report" && apiVersion==...
    * (reference processor.go:280-296): clip is eligible iff its codec is
    * decodable and it has a transcript. Cheap, evaluated before any join. */
  val gate: Column =
    col("codec").isin("pcm_s16le", "wav") && col("transcript").isNotNull

  // ------------------------------------------- X1+X3+F2: the match kernel
  /** The rule-match kernel every events path shares: per clip, the array of
    * `rules` whose pattern occurs in the transcript, in rule order (X1
    * substring match over the rule set folded into the plan by
    * [[Rules.literal]]); NULL when the gate fails. Tolerant decode (X3) and
    * status filter (F2) are properties of the static rules, decided when
    * choosing `rules` ([[Rules.surviving]]), so the row loop does one
    * `contains` per candidate rule and never parses JSON. The call is a
    * `StaticInvoke` of [[graft.functions.SqlKernels.ruleMatch]], so it
    * compiles into the surrounding WholeStageCodegen stage. */
  def matching(rules: Seq[RuleDef]): Column =
    when(gate, KernelCall.column(RuleMatch, col("transcript"), Rules.literal(rules)))

  /** How many of `rules` match the clip; 0 when the gate fails. */
  def matchCount(rules: Seq[RuleDef]): Column =
    // coalesce BEFORE size: with ANSI off, legacy size(null) = -1 would
    // slip through a post-size coalesce and silently corrupt the counters
    size(coalesce(matching(rules), Rules.literal(Nil)))

  /** The kernel's explode: one row per (clip, matching rule) carrying the
    * rule's `rule_id`, decoded payload struct `r` and rule-only event
    * columns `e`. */
  def explodeMatches(clips: DataFrame, rules: Seq[RuleDef]): DataFrame =
    clips.withColumn("m", explode(matching(rules)))
      .withColumn("rule_id", col("m.rule_id"))
      .withColumn("r", col("m.r"))
      .withColumn("e", col("m.e"))
      .drop("m")

  // ------------------------------------------------------- E2: event key
  /** clip_id-derived event key (E2 analog of pod-name workload inference,
    * reference processor.go:561-620): split on '-', drop the last two
    * segments, rejoin; needs ≥3 segments to produce anything.
    *
    * Computed without splitting: the last two segments are the text after
    * the second-to-last '-' (`substring_index(.., -2)`, the whole id when
    * it has fewer than two dashes), so the key is the prefix before that
    * dash — no per-row array of segments, no rejoin. */
  def eventKey(clipId: Column): Column = {
    val tail = substring_index(clipId, "-", -2)
    when(length(tail) < length(clipId),
      clipId.substr(lit(1), length(clipId) - length(tail) - 1))
  }

  // ------------------------------------------------------- E1: owner refs
  /** Workload extraction from owner references (E1): first ref whose kind is
    * a workload kind wins; Pod/Service skipped; tolerant JSON decode.
    * Pure higher-order array functions — no UDF, stays in codegen. */
  val workloadKinds: Seq[String] =
    Seq("Deployment", "StatefulSet", "DaemonSet", "Job", "CronJob", "ReplicaSet")

  def firstWorkloadRef(ownerRefs: Column): Column = {
    val refSchema = "struct<kind:string,name:string,uid:string>"
    val decoded = transform(ownerRefs, s => from_json(s, org.apache.spark.sql.types.DataType.fromDDL(refSchema).asInstanceOf[org.apache.spark.sql.types.StructType]))
    val wl = filter(decoded, r => r.isNotNull && r.getField("kind").isin(workloadKinds: _*))
    try_element_at(wl, lit(1))
  }

  // ----------------------------------------------- full transform (M1-M11)
  /** The complete field mapping (reference transformToSecurityEvent,
    * processor.go:345-460 + MAPPING.md) as (name → expression) pairs,
    * shared verbatim by [[events]] and [[fullPipeline]] (which wraps the
    * non-carry columns in a pass-through guard). Expects columns `clip_id
    * sr_hz dur_ms codec tenant_id event_id event_time rule_id` plus the
    * rule element's decoded payload struct `r` and its rule-only event
    * columns `e` (the severity/risk/compliance lookups M4-M6, the title and
    * the description template M3, derived once per rule by
    * [[Rules.literal]]). Event ids are content-derived (sha256) instead of
    * UUIDv4 — replay-stable exactly-once output requires deterministic ids
    * (SURVEY §7.6.2); documented divergence from reference M2. */
  def eventFields: Seq[(String, Column)] = {
    val off = col("r.ts_offset_s")
    // whole seconds added to the micros, in event_time's own type
    val rewritten = when(off > 0, timestamp_add("SECOND", off, col("event_time")))
      .otherwise(col("event_time"))
    Seq(
      "clip_id" -> col("clip_id"),
      "sr_hz" -> col("sr_hz"),
      "dur_ms" -> col("dur_ms"),
      "codec" -> col("codec"),
      "tenant_id" -> col("tenant_id"),
      "src_event_id" -> col("event_id"),
      "rule_id" -> col("rule_id"),
      "event_uid" -> sha2(concat_ws("|", col("clip_id"), col("rule_id")), 256),
      "event_version" -> lit("1.309"),
      "event_category" -> lit("COMPLIANCE"),
      "event_name" -> lit("Compliance finding event"),
      "event_type" -> lit("COMPLIANCE_FINDING"),
      "event_description" -> concat(col("e.description_prefix"), col("clip_id"), col("e.description_suffix")),
      "product_name" -> lit(""),
      "product_vendor" -> lit(""),
      "smartscape_type" -> when(col("codec") === "wav", "AUDIO_CLIP"),
      "risk_score" -> col("e.risk_score"),
      "object_id" -> concat(lit("uid-"), md5(col("clip_id"))),
      "object_type" -> col("codec"),
      "finding_description" -> col("r.message"),
      "finding_id" -> sha2(concat_ws("|", col("clip_id"), col("rule_id"), lit("finding")), 256),
      "finding_severity" -> col("e.finding_severity"),
      "finding_time_created" -> when(off > 0, date_format(rewritten, "yyyy-MM-dd'T'HH:mm:ss'Z'")),
      "finding_title" -> col("e.finding_title"),
      "finding_type" -> col("e.finding_type"),
      "finding_url" -> lit(""),
      "compliance_control" -> col("e.compliance_control"),
      "compliance_requirements" -> col("e.compliance_requirements"),
      "compliance_standards" -> col("e.compliance_standards"),
      "compliance_status" -> col("e.compliance_status"),
      "body" -> col("r.message"),
      "event_key" -> eventKey(col("clip_id")),
      "event_time" -> rewritten,
      "match_status" -> col("r.result"))
  }

  /** Columns the R2 pass-through branch carries through unchanged; every
    * other event column is null on a pass-through row. `event_time` is in
    * the carry set because its event expression (the ts_offset rewrite)
    * already degrades to the raw event_time when the payload struct is
    * null. */
  private val carryCols: Set[String] =
    Set("clip_id", "sr_hz", "dur_ms", "codec", "tenant_id", "src_event_id", "event_time")

  /** match → tolerant decode → status filter → transform, one call: the
    * kernel's explode over the surviving rules, then the field mapping. */
  def events(spark: SparkSession, clips: DataFrame, allowed: Seq[String] = Nil): DataFrame = {
    Rules.validateStatusFilter(allowed).left.foreach(e => throw new IllegalArgumentException(e))
    explodeMatches(clips, Rules.surviving(allowed))
      .select(eventFields.map { case (n, c) => c.as(n) }: _*)
  }

  // --------------------------------------------- R2: identity pass-through
  /** Full pipeline with pass-through union (R2): clips that fail the gate,
    * match no rule, or whose matches were ALL status-filtered out pass
    * through unchanged (reference processor.go:190-209 — the easy-to-miss
    * semantic).
    *
    * Single-scan, map-only: each clip computes its surviving-rule array
    * with the [[matching]] kernel, then one outer explode emits either the
    * transformed events or a single pass-through marker row — no second scan, no distinct, no anti-join, no broadcast
    * of matched ids (the round-2 plan broadcast ALL matched clip_ids,
    * which cannot broadcast at 10^12 clips). The executed plan is one
    * parquet scan with zero joins and zero exchanges (PlanSpec-pinned). */
  def fullPipeline(spark: SparkSession, clips: DataFrame, allowed: Seq[String] = Nil): DataFrame = {
    Rules.validateStatusFilter(allowed).left.foreach(e => throw new IllegalArgumentException(e))
    // explode_outer emits one NULL rule for a null (gate failed) or empty
    // (nothing survived) array: that row is the pass-through marker
    val exploded = clips
      .withColumn("mrule", explode_outer(matching(Rules.surviving(allowed))))
      .withColumn("rule_id", col("mrule.rule_id"))
      .withColumn("r", col("mrule.r"))
      .withColumn("e", col("mrule.e"))
    val isEvent = col("mrule").isNotNull
    exploded.select(eventFields.filterNot(_._1 == "match_status").map { case (n, c) =>
      (if (carryCols(n)) c else when(isEvent, c)).as(n)
    }: _*)
  }

  /** Processor `enabled` flag (reference internal/openreports/config.go:8-25,
    * processor.go:56-63): disabled ⇒ the whole stream passes through as an
    * identity — no gate, no match, no transform. */
  def process(spark: SparkSession, clips: DataFrame, enabled: Boolean,
              allowed: Seq[String] = Nil): DataFrame =
    if (enabled) fullPipeline(spark, clips, allowed) else clips

  // ------------------------------------------------------- A1: counters
  /** Conservation-law counters (A1, reference METRICS.md:42): incoming =
    * passthrough + expanded-parents; outgoing = events + passthrough.
    *
    * Single-scan: the per-clip surviving-event count is the kernel's
    * [[matchCount]] — a pure expression — so the whole query is one
    * scan + a partial/final aggregate; no join-back against the event
    * output (the round-2 shape re-scanned the source and shuffled a
    * per-clip count table). */
  def counters(spark: SparkSession, clips: DataFrame, allowed: Seq[String] = Nil): DataFrame = {
    Rules.validateStatusFilter(allowed).left.foreach(e => throw new IllegalArgumentException(e))
    clips.select(matchCount(Rules.surviving(allowed)).as("n"))
      .agg(
        count(lit(1)).as("incoming_logs_total"),
        sum(col("n")).as("expanded_events_total"),
        sum(when(col("n") === 0, 1L).otherwise(0L)).as("passthrough_total"),
        (sum(col("n")) + sum(when(col("n") === 0, 1L).otherwise(0L))).as("outgoing_logs_total"),
        lit(0L).as("dropped_logs_total"))
  }
}

package graft.audio

/** DuckDB oracle SQL for each SparkEntry query. Each string mirrors the
  * DataFrame-side computation value-for-value; clip/rule derivation comes
  * from the SAME Scala constants ([[ClipTable.CLIPS_SQL]],
  * [[Rules.valuesSql]]) so the two sides cannot drift on inputs.
  */
object Oracles {

  /** matches + tolerant decode, mirrored from Pipeline.events. */
  val MATCHES_CTE: String = """
matches AS (
  SELECT c.*, r.rule_id, r.payload_json
  FROM clips c JOIN rules r ON contains(c.transcript, r.pattern)
  WHERE c.codec IN ('pcm_s16le','wav') AND c.transcript IS NOT NULL
    AND json_valid(r.payload_json)
),
decoded AS (
  SELECT m.*,
    json_extract_string(payload_json, '$.message')  AS p_message,
    json_extract_string(payload_json, '$.policy')   AS p_policy,
    json_extract_string(payload_json, '$.rule')     AS p_rule,
    json_extract_string(payload_json, '$.severity') AS p_severity,
    json_extract_string(payload_json, '$.category') AS p_category,
    json_extract_string(payload_json, '$.result')   AS p_result,
    CAST(json_extract(payload_json, '$.ts_offset_s') AS BIGINT) AS p_off
  FROM matches m
)"""

  def prelude: String = ClipTable.oraclePrelude + "," + MATCHES_CTE + "\n"

  /** The transform projection (reference transformToSecurityEvent) over the
    * `decoded` CTE, with an optional status filter. */
  def eventsSelect(allowed: Seq[String]): String = {
    val filt =
      if (allowed.isEmpty) ""
      else s"WHERE p_result IN (${allowed.map(s => s"'$s'").mkString(",")})"
    s"""
SELECT
  clip_id, sr_hz, dur_ms, codec, tenant_id,
  event_id AS src_event_id, rule_id,
  sha256(clip_id || '|' || rule_id) AS event_uid,
  '1.309' AS event_version,
  'COMPLIANCE' AS event_category,
  'Compliance finding event' AS event_name,
  'COMPLIANCE_FINDING' AS event_type,
  (CASE p_result WHEN 'fail' THEN 'Policy violation on '
                 WHEN 'pass' THEN 'Policy check passed on '
                 WHEN 'error' THEN 'Policy check error on '
                 WHEN 'skip' THEN 'Policy check skipped on '
                 ELSE 'Policy evaluation on ' END)
    || clip_id || ' for rule '
    || (CASE WHEN p_rule IS NULL OR p_rule = '' THEN 'unknown' ELSE p_rule END)
    AS event_description,
  '' AS product_name,
  '' AS product_vendor,
  CASE WHEN codec = 'wav' THEN 'AUDIO_CLIP' END AS smartscape_type,
  CAST(CASE p_severity WHEN 'critical' THEN 10.0 WHEN 'high' THEN 8.9
       WHEN 'medium' THEN 6.9 WHEN 'low' THEN 3.9 ELSE 0.0 END AS DOUBLE) AS risk_score,
  'uid-' || md5(clip_id) AS object_id,
  codec AS object_type,
  p_message AS finding_description,
  sha256(clip_id || '|' || rule_id || '|' || 'finding') AS finding_id,
  CASE WHEN p_severity IS NOT NULL AND p_severity <> '' THEN
    CASE p_severity WHEN 'critical' THEN 'CRITICAL' WHEN 'high' THEN 'HIGH'
         WHEN 'medium' THEN 'MEDIUM' WHEN 'low' THEN 'LOW' ELSE 'MEDIUM' END
  END AS finding_severity,
  CASE WHEN p_off > 0 THEN strftime(event_time + to_seconds(p_off), '%Y-%m-%dT%H:%M:%SZ') END AS finding_time_created,
  CASE WHEN p_rule <> '' THEN p_policy || ' - ' || p_rule ELSE p_policy END AS finding_title,
  CASE WHEN p_policy <> '' THEN p_policy END AS finding_type,
  '' AS finding_url,
  CASE WHEN p_rule <> '' THEN p_rule END AS compliance_control,
  CASE WHEN p_policy <> '' THEN p_policy END AS compliance_requirements,
  CASE WHEN p_category <> '' THEN p_category END AS compliance_standards,
  CASE WHEN p_result = 'pass' THEN 'COMPLIANT' ELSE 'NON_COMPLIANT' END AS compliance_status,
  p_message AS body,
  CASE WHEN len(string_split(clip_id,'-')) >= 3 THEN
    array_to_string(list_slice(string_split(clip_id,'-'), 1, len(string_split(clip_id,'-')) - 2), '-')
  END AS event_key,
  CASE WHEN p_off > 0 THEN event_time + to_seconds(p_off) ELSE event_time END AS event_time,
  p_result AS match_status
FROM decoded
$filt"""
  }

  def fullPipelineSql(allowed: Seq[String]): String = {
    prelude + s""",
ev AS (${eventsSelect(allowed)})
SELECT * EXCLUDE (match_status) FROM ev
UNION ALL BY NAME
SELECT clip_id, sr_hz, dur_ms, codec, tenant_id,
       event_id AS src_event_id, event_time
FROM clips c
WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE e.clip_id = c.clip_id)"""
  }

  def eventsSql(allowed: Seq[String]): String =
    prelude + eventsSelect(allowed)

  /** Prelude + the unfiltered transformed-events CTE (`ev`), for window /
    * join / CEP oracles that consume the event stream. */
  def withEvents(body: String): String =
    prelude + s",\nev AS (${eventsSelect(Nil)})\n" + body

  val gateSql: String =
    ClipTable.oraclePrelude +
      """SELECT clip_id, sr_hz, dur_ms, codec, transcript, event_time, tenant_id, event_id
FROM clips WHERE codec IN ('pcm_s16le','wav') AND transcript IS NOT NULL"""

  val countersSql: String = {
    prelude + """,
ev AS (SELECT clip_id FROM decoded),
per_clip AS (SELECT clip_id, COUNT(*) AS n FROM ev GROUP BY clip_id)
SELECT COUNT(*) AS incoming_logs_total,
       CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS expanded_events_total,
       CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS passthrough_total,
       CAST(SUM(COALESCE(n, 0)) + SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS outgoing_logs_total,
       CAST(0 AS BIGINT) AS dropped_logs_total
FROM clips c LEFT JOIN per_clip p USING (clip_id)"""
  }

  val tolerantDecodeSql: String = {
    ClipTable.oraclePrelude + """
SELECT r.rule_id,
       COUNT(*) AS matched_total,
       CAST(SUM(CASE WHEN json_valid(r.payload_json) THEN 1 ELSE 0 END) AS BIGINT) AS decoded_total,
       CAST(SUM(CASE WHEN json_valid(r.payload_json) THEN 0 ELSE 1 END) AS BIGINT) AS skipped_total
FROM clips c JOIN rules r ON contains(c.transcript, r.pattern)
WHERE c.codec IN ('pcm_s16le','wav') AND c.transcript IS NOT NULL
GROUP BY r.rule_id"""
  }

  val eventKeySql: String =
    ClipTable.oraclePrelude + """
SELECT DISTINCT clip_id,
  CASE WHEN len(string_split(clip_id,'-')) >= 3 THEN
    array_to_string(list_slice(string_split(clip_id,'-'), 1, len(string_split(clip_id,'-')) - 2), '-')
  END AS event_key
FROM clips"""

  val ownerRefsSql: String =
    ClipTable.oraclePrelude + s""",
with_refs AS (
  SELECT clip_id, tenant_id, event_id, ${ClipTable.OWNER_REFS_DUCK} AS owner_refs
  FROM clips
),
flat AS (
  SELECT clip_id, tenant_id,
    list_filter(
      list_transform(owner_refs, s -> CASE WHEN json_valid(s) THEN json_extract_string(s, '$$.kind') END),
      k -> k IN ('Deployment','StatefulSet','DaemonSet','Job','CronJob','ReplicaSet')) AS wl_kinds,
    list_filter(
      -- json_valid guards via a NESTED CASE, never an AND conjunct:
      -- DuckDB adaptively reorders conjunctions at larger row counts and
      -- json_extract_string throws on the fixture's invalid-JSON refs
      -- (same hazard fixed in Coerce.polymorphicSql at sf0.1)
      list_transform(owner_refs, s ->
        CASE WHEN json_valid(s) THEN
          CASE WHEN json_extract_string(s, '$$.kind') IN ('Deployment','StatefulSet','DaemonSet','Job','CronJob','ReplicaSet')
               THEN json_extract_string(s, '$$.name') END
        END),
      n -> n IS NOT NULL) AS wl_names
  FROM with_refs
)
SELECT clip_id, tenant_id,
       wl_kinds[1] AS workload_kind,
       wl_names[1] AS workload_name
FROM flat"""
}

package graft.audio

import org.apache.spark.sql.{Column, GraftPlans, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

/** The decoded payload of a rule — the analog of the reference's typed
  * Result (reference: /root/reference/internal/openreports/processor.go:322-340).
  * Field names and types follow [[Rules.payloadSchema]]. */
final case class Payload(message: String, policy: String, rule: String, severity: String,
                         category: String, result: String, tsOffsetS: Long)

/** A transcript rule — the graft analog of the reference's `results[]`
  * payload (an array of JSON strings, each decoded into a typed Result).
  *
  * `pattern` is matched against the clip transcript (substring match).
  * `payloadJson` is the payload as JSON text, which the DuckDB oracle
  * decodes with tolerant semantics (malformed JSON ⇒ that match is skipped,
  * the rest of the clip's matches survive — processor.go:229-241).
  *
  * `payload` is the same payload already decoded (None ⇔ `payloadJson` is
  * malformed). It MUST mirror payloadJson — [[Rules.mkRule]] is the single
  * constructor that keeps the two in sync, and a test pins the pair against
  * Spark's own JSON decode — so the engine never parses the static payload
  * JSON: the decoded struct enters the plan as a literal. */
final case class RuleDef(ruleId: String, pattern: String, payloadJson: String,
                         payload: Option[Payload]) {
  def decodeOk: Boolean = payload.isDefined
}

object Rules {

  /** Single constructor keeping payloadJson and the decoded payload in sync
    * (see [[RuleDef.payload]]). */
  private def mkRule(ruleId: String, pattern: String, message: String,
                     policy: String, rule: String, severity: String,
                     category: String, result: String, tsOffsetS: Long): RuleDef =
    RuleDef(ruleId, pattern,
      s"""{"message":"$message","policy":"$policy","rule":"$rule","severity":"$severity","category":"$category","result":"$result","ts_offset_s":$tsOffsetS}""",
      Some(Payload(message, policy, rule, severity, category, result, tsOffsetS)))

  /** Static rule set. Edge cases mirror the reference test matrix
    * (processor_test.go:387-441): empty severity (⇒ finding_severity unset,
    * risk 0.0), unknown severity (⇒ MEDIUM but risk 0.0), case-sensitive
    * "Critical" (⇒ MEDIUM, 0.0), empty rule name (⇒ description "unknown",
    * title without " - "), empty policy/category (⇒ fields unset), and one
    * malformed payload (tolerant-decode skip). */
  val all: Seq[RuleDef] = Seq(
    mkRule("r-access-denied", "access denied",
      "Access denied detected", "access-policy", "deny-rule", "critical", "RBAC", "fail", 60L),
    mkRule("r-priv-esc", "privilege escalation",
      "Privilege escalation attempt", "escalation-policy", "priv-rule", "high", "PRIVESC", "fail", 120L),
    mkRule("r-login-ok", "login ok",
      "Login check passed", "login-policy", "login-rule", "low", "AUTH", "pass", 0L),
    mkRule("r-skip", "policy skipped",
      "Policy evaluation skipped", "skip-policy", "", "medium", "AUDIT", "skip", 30L),
    mkRule("r-err-empty", "user 1",
      "Evaluation error", "", "err-rule", "", "", "error", 45L),
    mkRule("r-junk-sev", "user 2",
      "Junk severity finding", "junk-policy", "junk-rule", "SuperBad", "JUNK", "fail", 15L),
    mkRule("r-case-sev", "user 3",
      "Case sensitive severity", "case-policy", "case-rule", "Critical", "CASE", "pass", 0L),
    // Malformed on purpose: pins the tolerant-decode skip semantics.
    RuleDef("r-malformed", "user 4", """{"message": malformed-json""", None),
  )

  /** Schema of the decoded payload (analog of the reference Result struct). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("message", StringType),
    StructField("policy", StringType),
    StructField("rule", StringType),
    StructField("severity", StringType),
    StructField("category", StringType),
    StructField("result", StringType),
    StructField("ts_offset_s", LongType),
  ))

  /** Type of [[literal]]'s `e`: every event column that depends only on the
    * rule's payload, in the order [[derive]] yields them. `risk_score` and
    * `compliance_status` are the two that always have a value (as the
    * per-row CASE chains they replace did); `event_description` is
    * `description_prefix ‖ clip_id ‖ description_suffix`. */
  val derivedSchema: StructType = StructType(Seq(
    StructField("risk_score", DoubleType, nullable = false),
    StructField("finding_severity", StringType),
    StructField("finding_title", StringType),
    StructField("finding_type", StringType),
    StructField("compliance_control", StringType),
    StructField("compliance_requirements", StringType),
    StructField("compliance_standards", StringType),
    StructField("compliance_status", StringType, nullable = false),
    StructField("description_prefix", StringType),
    StructField("description_suffix", StringType),
  ))

  /** Type of one rule element in [[literal]]. */
  val ruleStruct: StructType = StructType(Seq(
    StructField("rule_id", StringType),
    StructField("pattern", StringType),
    StructField("decode_ok", BooleanType),
    StructField("r", payloadSchema),
    StructField("e", derivedSchema, nullable = false),
  ))

  /** Type of [[literal]]: a rule array holds no NULL element. */
  val ruleArray: ArrayType = ArrayType(ruleStruct, containsNull = false)

  private def nullIfEmpty(s: String): String = if (s == null || s.isEmpty) null else s

  /** The rule-only event columns of one payload (reference
    * transformToSecurityEvent, processor.go:345-460), computed once per
    * rule instead of once per event row. Case-sensitive throughout:
    *  - severity (M4/M5): an unknown severity maps to MEDIUM yet scores
    *    0.0 (processor.go:463-493, processor_test.go:398 vs :431); an
    *    empty one leaves finding_severity unset;
    *  - title: printf("%s - %s") even when the policy is empty (" - rule");
    *    an empty rule name gives the bare policy;
    *  - compliance status (M6): pass → COMPLIANT, anything else →
    *    NON_COMPLIANT;
    *  - description template (M3) switched on the result; an empty rule
    *    name renders as "unknown" (processor.go:359-378).
    * A malformed payload (None) folds as a payload of NULL fields, so `e`
    * is never NULL; such a rule never reaches the event mapping. */
  private def derive(payload: Option[Payload]): Row = {
    val Payload(_, policy, rule, severity, category, result, _) =
      payload.getOrElse(Payload(null, null, null, null, null, null, 0L))
    val (upper, risk) = severity match {
      case "critical" => ("CRITICAL", 10.0)
      case "high" => ("HIGH", 8.9)
      case "medium" => ("MEDIUM", 6.9)
      case "low" => ("LOW", 3.9)
      case "" | null => (null, 0.0)
      case _ => ("MEDIUM", 0.0)
    }
    val prefix = result match {
      case "fail" => "Policy violation on "
      case "pass" => "Policy check passed on "
      case "error" => "Policy check error on "
      case "skip" => "Policy check skipped on "
      case _ => "Policy evaluation on "
    }
    val (pol, rul) = (nullIfEmpty(policy), nullIfEmpty(rule))
    val title = if (rul == null) policy else if (policy == null) null else s"$policy - $rule"
    Row(risk, upper, title, pol, rul, pol, nullIfEmpty(category),
      if (result == "pass") "COMPLIANT" else "NON_COMPLIANT",
      prefix, " for rule " + Option(rul).getOrElse("unknown"))
  }

  /** Rules that survive the tolerant decode (X3: a malformed payload skips
    * that match, reference processor.go:229-241) and the IN-list status
    * filter (F2: empty keeps all, processor.go:702-716) — decided here,
    * once, because both are properties of the static rule set and not of
    * the data. */
  def surviving(allowed: Seq[String]): Seq[RuleDef] =
    all.filter(_.payload.exists(p => allowed.isEmpty || allowed.contains(p.result)))

  /** `rules` as ONE Catalyst literal of type [[ruleArray]] — the rule set
    * folded into the plan. Each element carries `rule_id`, `pattern`,
    * `decode_ok`, the decoded payload struct `r` (NULL when the payload is
    * malformed) and `e`, the rule-only event columns [[derive]]d from it.
    * Per-clip matching is one kernel call over the literal (see
    * [[graft.operators.Pipeline.matching]]) and the event mapping reads
    * `r` and `e` as struct fields: no join against the rule set, no JSON
    * parsing and no per-rule CASE chain per row. */
  def literal(rules: Seq[RuleDef]): Column =
    GraftPlans.column(Literal.create(rules.map { rd =>
      val r = rd.payload.map(p => Row(p.message, p.policy, p.rule, p.severity, p.category,
        p.result, p.tsOffsetS)).orNull
      Row(rd.ruleId, rd.pattern, rd.decodeOk, r, derive(rd.payload))
    }, ruleArray))

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The same rule set as a DuckDB-compatible VALUES CTE body, generated
    * from the single source of truth above so the oracle can never drift. */
  def valuesSql: String =
    all.map(r => s"(${sq(r.ruleId)}, ${sq(r.pattern)}, ${sq(r.payloadJson)})")
      .mkString("SELECT * FROM (VALUES\n  ", ",\n  ", "\n) AS t(rule_id, pattern, payload_json)")

  /** Valid status-filter values (reference config.go: pass/fail/error/skip,
    * case-sensitive; internal/openreports/config.go:18-34). */
  val validStatuses: Set[String] = Set("pass", "fail", "error", "skip")

  /** C1 config validation: statuses outside the valid set are rejected,
    * case-sensitively. Empty filter ⇒ keep all. */
  def validateStatusFilter(filter: Seq[String]): Either[String, Seq[String]] = {
    val bad = filter.filterNot(validStatuses.contains)
    if (bad.nonEmpty) Left(s"invalid status_filter values: ${bad.mkString(",")} (valid: ${validStatuses.mkString(",")})")
    else Right(filter)
  }
}

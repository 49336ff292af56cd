package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.audio.{Payload, RuleDef, Rules}

/** The rule set is folded into the plan as a literal ([[Rules.literal]]),
  * while the DuckDB oracle decodes `payload_json`. This pins the fold to
  * Spark's own decode of that JSON text, rule by rule, so the two can never
  * drift apart; and it pins the literal's rule-only event columns `e` to
  * the per-row column forms they replaced. */
class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("folded rule literal equals Spark's decode of payload_json for every rule") {
    val s = spark
    import s.implicits._
    val folded = s.range(1).select(explode(Rules.literal(Rules.all)).as("m"))
      .select(col("m.rule_id"), col("m.pattern"), col("m.decode_ok"), col("m.r"))
    val decoded = Rules.all.map(r => (r.ruleId, r.payloadJson)).toDF("rule_id", "payload_json")
      .select(col("rule_id"),
        try_parse_json(col("payload_json")).isNotNull.as("json_ok"),
        from_json(col("payload_json"), Rules.payloadSchema).as("r_json"))
    val rows = folded.join(decoded, "rule_id").collect()
    assert(rows.length == Rules.all.size)
    val patterns = Rules.all.map(r => r.ruleId -> r.pattern).toMap
    rows.foreach { row =>
      val id = row.getAs[String]("rule_id")
      val jsonOk = row.getAs[Boolean]("json_ok")
      assert(row.getAs[String]("pattern") == patterns(id), id)
      assert(row.getAs[Boolean]("decode_ok") == jsonOk, id)
      // permissive from_json yields an all-null struct (not NULL) for
      // malformed text, so the fold must carry NULL exactly when the JSON
      // does not parse
      if (jsonOk) assert(row.getAs[AnyRef]("r") == row.getAs[AnyRef]("r_json"), id)
      else assert(row.isNullAt(row.fieldIndex("r")), id)
    }
    val malformed = rows.filter(_.getAs[String]("rule_id") == "r-malformed")
    assert(malformed.length == 1 && !malformed.head.getAs[Boolean]("decode_ok") &&
      malformed.head.isNullAt(malformed.head.fieldIndex("r")))
  }

  // ---- the per-row column forms the per-rule fold replaced ------------
  // mapSeverityToUppercase (M4): case-sensitive; anything unknown → MEDIUM
  private def severityUpper(sev: Column): Column =
    when(sev === "critical", "CRITICAL").when(sev === "high", "HIGH")
      .when(sev === "medium", "MEDIUM").when(sev === "low", "LOW").otherwise("MEDIUM")

  // calculateRiskScoreFromSeverity (M5): from the RAW severity
  private def riskScore(sev: Column): Column =
    when(sev === "critical", 10.0).when(sev === "high", 8.9)
      .when(sev === "medium", 6.9).when(sev === "low", 3.9).otherwise(0.0)

  // mapResultToComplianceStatus (M6)
  private def complianceStatus(result: Column): Column =
    when(result === "pass", "COMPLIANT").otherwise("NON_COMPLIANT")

  // event.description template (M3), empty rule name → "unknown"
  private def eventDescription(result: Column, scopeName: Column, rule: Column): Column = {
    val r = when(rule.isNull || rule === "", lit("unknown")).otherwise(rule)
    val tail = concat(scopeName, lit(" for rule "), r)
    when(result === "fail", concat(lit("Policy violation on "), tail))
      .when(result === "pass", concat(lit("Policy check passed on "), tail))
      .when(result === "error", concat(lit("Policy check error on "), tail))
      .when(result === "skip", concat(lit("Policy check skipped on "), tail))
      .otherwise(concat(lit("Policy evaluation on "), tail))
  }

  /** (folded column, per-row reference) pairs over one rule element `m`. */
  private def pairs(clipId: Column): Seq[(String, Column, Column)] = {
    val sev = col("m.r.severity"); val res = col("m.r.result")
    val pol = col("m.r.policy"); val rul = col("m.r.rule"); val cat = col("m.r.category")
    Seq(
      ("risk_score", col("m.e.risk_score"), riskScore(sev)),
      ("finding_severity", col("m.e.finding_severity"), when(sev.isNotNull && sev =!= "", severityUpper(sev))),
      ("finding_title", col("m.e.finding_title"), when(rul =!= "", concat(pol, lit(" - "), rul)).otherwise(pol)),
      ("finding_type", col("m.e.finding_type"), when(pol =!= "", pol)),
      ("compliance_control", col("m.e.compliance_control"), when(rul =!= "", rul)),
      ("compliance_requirements", col("m.e.compliance_requirements"), when(pol =!= "", pol)),
      ("compliance_standards", col("m.e.compliance_standards"), when(cat =!= "", cat)),
      ("compliance_status", col("m.e.compliance_status"), complianceStatus(res)),
      ("event_description",
        concat(col("m.e.description_prefix"), clipId, col("m.e.description_suffix")),
        eventDescription(res, clipId, rul)))
  }

  test("per-rule fold equals the per-row column forms: every rule + the reference edge matrix") {
    // processor_test.go:387-441: empty / unknown / wrong-case severity,
    // empty rule, policy and category, every result plus an unknown one
    val synthetic = for {
      sev <- Seq("critical", "high", "medium", "low", "", "SuperBad", "Critical")
      res <- Seq("pass", "fail", "error", "skip", "unknown")
      rule <- Seq("", "a-rule")
      policy <- Seq("", "a-policy")
      category <- Seq("", "CAT")
    } yield {
      val id = s"syn|$sev|$res|$rule|$policy|$category"
      RuleDef(id, id, "", Some(Payload("msg", policy, rule, sev, category, res, 0L)))
    }
    val rules = Rules.all ++ synthetic
    val clipId = lit("clip-t0-s0-0000000001")
    val ps = pairs(clipId)
    val df = spark.range(1).select(explode(Rules.literal(rules)).as("m"))
      .select(col("m.rule_id") +: ps.flatMap { case (n, got, ref) => Seq(got.as(n), ref.as(s"ref_$n")) }: _*)
    val rows = df.collect()
    assert(rows.length == rules.size)
    rows.foreach { row =>
      val id = row.getString(0)
      ps.foreach { case (n, _, _) =>
        assert(row.getAs[Any](n) == row.getAs[Any](s"ref_$n"), s"$id: $n")
      }
    }
    // the two columns whose per-row forms always had a value keep that
    // nullability, so the events schema is unchanged
    val e = df.schema
    assert(!e("risk_score").nullable && !e("compliance_status").nullable)
    assert(e("finding_severity").nullable && e("event_description").nullable)
    // the matrix really reaches the edge outcomes
    val byId = rows.map(r => r.getString(0) -> r).toMap
    val junk = byId("syn|SuperBad|fail|a-rule|a-policy|CAT")
    assert(junk.getAs[Double]("risk_score") == 0.0 && junk.getAs[String]("finding_severity") == "MEDIUM")
    val empty = byId("syn||unknown|||")
    assert(empty.isNullAt(empty.fieldIndex("finding_severity")) &&
      empty.getAs[String]("finding_title") == "" &&
      empty.getAs[String]("event_description") == "Policy evaluation on clip-t0-s0-0000000001 for rule unknown")
    assert(byId("syn|high|pass||a-policy|").getAs[String]("finding_title") == "a-policy")
    assert(byId("syn|low|skip|a-rule||").getAs[String]("finding_title") == " - a-rule")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.audio.Rules

/** The rule set is folded into the plan as a literal ([[Rules.literal]]),
  * while the DuckDB oracle decodes `payload_json`. This pins the fold to
  * Spark's own decode of that JSON text, rule by rule, so the two can never
  * drift apart. */
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
}

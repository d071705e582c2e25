package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.ChurnSchema

/** Declarative row validation compiled to one Catalyst projection.
  *
  * The reference validates row-at-a-time with Cerberus over
  * `df.to_dict('records')` (reference: src/utils/data_validation.py:24-78) —
  * pure Python per record. Here every rule (pattern / enum / range /
  * 0-1 bounds) is a boolean Column; a single `array(...)` + `filter`
  * projection yields `_violations: array<string>` per row, entirely inside
  * whole-stage codegen, one data pass, no UDFs (SURVEY §2.9). At 100 TB the
  * cost is one scan; the per-rule violation counts come from the same pass.
  */
object SchemaValidator {

  /** A named validation rule: `ok` is true when the row passes. Null is a
    * pass for every rule except `required` (Cerberus semantics: a missing
    * value fails `required`, not the type/range checks).
    */
  final case class Rule(name: String, ok: Column)

  def notNull(c: String): Rule = Rule(s"$c:required", col(c).isNotNull)
  def pattern(c: String, re: String): Rule =
    Rule(s"$c:pattern", col(c).isNull || col(c).rlike(re))
  def oneOf(c: String, vs: Seq[String]): Rule =
    Rule(s"$c:enum", col(c).isNull || col(c).isin(vs: _*))
  def range(c: String, lo: Double, hi: Double): Rule =
    Rule(s"$c:range", col(c).isNull || (col(c) >= lo && col(c) <= hi))
  def atLeast(c: String, lo: Double): Rule =
    Rule(s"$c:min", col(c).isNull || col(c) >= lo)

  /** The churn contract's rule set (reference: config/schemas/churn_schema
    * .json:4-180; business rules data_validation.py:113-152).
    */
  val churnRules: Seq[Rule] = {
    val requireds = ChurnSchema.columns.map(notNull)
    val rates = Seq("device_mix_ratio", "discount_rate_2024", "refund_rate_2024",
      "emails_open_rate_90d", "emails_click_rate_90d").map(range(_, 0, 1))
    val nonNeg = Seq("sessions_30d", "sessions_90d", "avg_session_duration_90d",
      "median_pages_viewed_30d", "search_queries_30d", "orders_30d", "orders_90d",
      "orders_2024", "aov_2024", "gmv_2024", "category_diversity_2024",
      "refunds_count_2024", "support_tickets_2024", "review_count_2024",
      "rfm_frequency", "rfm_monetary").map(atLeast(_, 0))
    requireds ++ rates ++ nonNeg ++ Seq(
      pattern("user_id", "^U[0-9]{5}$"),
      pattern("app_version_major", "^[0-9]+\\.x$"),
      oneOf("country", ChurnSchema.countries),
      oneOf("marketing_source", ChurnSchema.marketingSources),
      range("age", 13, 100),
      range("reg_days", 0, 3650),
      range("days_since_last_order", 0, 365),
      range("avg_csat_2024", 1, 5),
      range("avg_review_stars_2024", 1, 5),
      range("rfm_recency", 0, 365),
      oneOf("churn_label", Seq("0", "1")).copy(ok =
        col("churn_label").isNull || col("churn_label").isin(0, 1)),
    )
  }

  /** Append `_violations` (names of failed rules, empty array = valid row). */
  def withViolations(df: DataFrame, rules: Seq[Rule] = churnRules): DataFrame =
    df.withColumn("_violations",
      filter(
        array(rules.map(r => when(!coalesce(r.ok, lit(false)), r.name)): _*),
        _.isNotNull))

  final case class ValidationReport(
      total: Long, valid: Long, invalid: Long,
      perRule: Map[String, Long])

  /** One aggregate pass over the violation projection: total/valid counts
    * plus per-rule violation counts (~60 metrics in a single job).
    */
  def validate(df: DataFrame, rules: Seq[Rule] = churnRules): ValidationReport = {
    val v = withViolations(df, rules)
    val aggs =
      count(lit(1)).as("_total") +:
        sum((size(col("_violations")) === 0).cast("long")).as("_valid") +:
        rules.map(r => sum(array_contains(col("_violations"), r.name).cast("long")).as(r.name))
    val row = v.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("_total")
    val valid = row.getAs[Long]("_valid")
    ValidationReport(total, valid, total - valid,
      rules.map(r => r.name -> row.getAs[Long](r.name)).toMap.filter(_._2 > 0))
  }

  final case class TypeReport(isValid: Boolean, errors: Seq[String]) {
    def errorCount: Int = errors.size
  }

  /** Spark type → the reference's JSON-schema type vocabulary (the pandas
    * dtype mapping at data_validation.py:92-99: int64→integer,
    * float64→number, object→string, bool→boolean, datetime64→datetime).
    */
  def typeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "integer"
      case FloatType | DoubleType | _: DecimalType => "number"
      case StringType => "string"
      case BooleanType => "boolean"
      case TimestampType | DateType => "datetime"
      case other => other.simpleString
    }
  }

  /** Dtype-conformance report (data_validation.py:80-111): per-column
    * declared-vs-actual type check. Pure schema metadata — no data scan,
    * so it costs the same at 100 TB as at 100 rows. `expected` is ordered
    * so the error list is deterministic like the reference's dict walk.
    */
  def validateDataTypes(df: DataFrame, expected: Seq[(String, String)]): TypeReport = {
    val actual = df.schema.fields.map(f => f.name -> typeName(f.dataType)).toMap
    val errors = expected.flatMap { case (column, want) =>
      actual.get(column) match {
        case None => Some(s"Column '$column' not found")
        case Some(got) if got != want =>
          Some(s"Column '$column': expected $want, got $got")
        case _ => None
      }
    }
    TypeReport(errors.isEmpty, errors)
  }

  /** Ingest-mode gate: throw on any invalid row (reference fails hard at
    * ingest, csv_ingestion.py:59-65; ETL only warns, etl_pipeline.py:93-99).
    */
  def validateOrThrow(df: DataFrame, rules: Seq[Rule] = churnRules): ValidationReport = {
    val report = validate(df, rules)
    require(report.invalid == 0,
      s"schema validation failed: ${report.invalid}/${report.total} invalid rows; " +
        s"rule violations: ${report.perRule}")
    report
  }
}

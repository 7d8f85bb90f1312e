package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Decisions.Thresholds
import graft.operators.MergeOps

/** Quantile-threshold baseline registry — the reference's headline
  * rule-version traceability feature (dims.rt_rule_quantile_baselines:
  * rt_rule_quantile_baselines_sql.py:40-126, publish guards
  * rt_rule_quantile_baselines_publish.py:45-87, serving-side resolution
  * rt_video_metrics_serving.sql:55-90) re-expressed as a Spark dimension
  * table + resolution pivot.
  *
  * Lifecycle: seed (idempotent publish of versioned literal rows) →
  * compute (data-derived percentile rows for a new effective_from) →
  * publish (guarded insert-if-absent on (rule_version, effective_from)) →
  * resolve (global cohort ∧ latest effective_from ≤ as-of, pivoted to one
  * thresholds row that the decision pipeline consumes).
  *
  * The registry is a tiny dimension (rows = versions × metrics): the
  * resolution pivot broadcasts, and the single-row collect in
  * [[thresholds]] is a deliberate driver-side scalar fetch of a dim —
  * not a data-path collect.
  */
object BaselineRegistry {

  val MetricVelocity = "velocity_30m"
  val MetricViews = "views_30m"
  val MetricCompletion = "completion_rate_30m"
  val MetricSkip = "skip_rate_30m"

  /** Registry schema (reference column-for-column, minus Iceberg DDL). */
  private val columns = Seq(
    "rule_version", "effective_from", "effective_to", "metric_name", "percentile",
    "cohort_category", "cohort_region", "threshold_value", "sample_size",
    "is_fallback", "computed_at")

  /** M1-style global seed: percentile rows whose values equal the
    * compile-time [[Thresholds]] defaults, so registry-driven serving is
    * bit-identical to the literal-threshold path. */
  def seed(spark: SparkSession, th: Thresholds = Thresholds(),
           effectiveFrom: String = "2026-01-01", computedAt: String = "2026-01-01 00:00:00")
      : DataFrame = {
    import spark.implicits._
    Seq(
      (th.ruleVersion, effectiveFrom, "2099-12-31", MetricVelocity, 90, th.velocityP90, 1800L),
      (th.ruleVersion, effectiveFrom, "2099-12-31", MetricViews, 40, th.viewsP40.toDouble, 1800L),
      (th.ruleVersion, effectiveFrom, "2099-12-31", MetricCompletion, 50, th.minCompletion, 1800L),
      (th.ruleVersion, effectiveFrom, "2099-12-31", MetricSkip, 50, th.maxSkip, 1800L))
      .toDF("rule_version", "effective_from_s", "effective_to_s", "metric_name", "percentile",
        "threshold_value", "sample_size")
      .select(
        col("rule_version"), to_date(col("effective_from_s")).as("effective_from"),
        to_date(col("effective_to_s")).as("effective_to"),
        col("metric_name"), col("percentile"),
        lit(null).cast("string").as("cohort_category"),
        lit(null).cast("string").as("cohort_region"),
        col("threshold_value"), col("sample_size"),
        lit(false).as("is_fallback"),
        to_timestamp(lit(computedAt)).as("computed_at"))
  }

  /** Compute a new baseline generation from the decision context: exact
    * interpolated percentiles of the rolling metrics, one aggregate pass,
    * exploded into registry rows. `is_fallback` marks generations whose
    * sample is below the reference's publish floor. */
  def computeFromContext(ctx: DataFrame, ruleVersion: String, effectiveFrom: String,
                         computedAt: String, minSample: Long = 1000L): DataFrame = {
    val agg = ctx.agg(
      expr(s"percentile($MetricVelocity, 0.90)").as("v90"),
      expr(s"percentile($MetricViews, 0.40)").as("i40"),
      expr(s"percentile($MetricCompletion, 0.50)").as("c50"),
      expr(s"percentile($MetricSkip, 0.50)").as("s50"),
      count(lit(1)).as("sample_size"))
    def row(metric: String, pct: Int, value: org.apache.spark.sql.Column) =
      struct(lit(metric).as("metric_name"), lit(pct).as("percentile"), value.as("threshold_value"))
    agg.select(explode(array(
        row(MetricVelocity, 90, col("v90")),
        row(MetricViews, 40, col("i40")),
        row(MetricCompletion, 50, col("c50")),
        row(MetricSkip, 50, col("s50")))).as("r"), col("sample_size"))
      .select(
        lit(ruleVersion).as("rule_version"),
        to_date(lit(effectiveFrom)).as("effective_from"),
        to_date(lit("2099-12-31")).as("effective_to"),
        col("r.metric_name"), col("r.percentile"),
        lit(null).cast("string").as("cohort_category"),
        lit(null).cast("string").as("cohort_region"),
        col("r.threshold_value"), col("sample_size"),
        (col("sample_size") < minSample).as("is_fallback"),
        to_timestamp(lit(computedAt)).as("computed_at"))
  }

  /** Guarded publish (reference publish_rt_rules_v1_seed_sql: INSERT ...
    * WHERE NOT EXISTS on (rule_version, effective_from); guard: global
    * rows must carry sample_size >= the publish floor unless explicitly
    * fallback). Returns the merged registry. */
  def publish(registry: DataFrame, rows: DataFrame, minSample: Long = 1000L): DataFrame = {
    // the guard needs an action and the merged result re-reads `rows`;
    // a data-derived generation (percentiles over the full decision
    // context) would otherwise compute that aggregation twice — cut the
    // tiny generation (rows = metrics × percentiles) to a leaf whose
    // job also counts the offending rows
    val (r, offending) = graft.core.Lineage.truncateCounted(rows,
      Some(!col("is_fallback") && col("sample_size") < minSample))
    if (offending > 0)
      throw new IllegalStateException(
        s"publish guard violated: non-fallback baseline rows with sample_size < $minSample")
    MergeOps.insertIfAbsent(registry.select(columns.map(col): _*),
      r.select(columns.map(col): _*), Seq("rule_version", "effective_from"))
  }

  /** Serving-side resolution: global cohort rows of `ruleVersion`,
    * locked to the LATEST effective_from ≤ asOf, pivoted to one row
    * (reference locked_thresholds CTE). */
  def resolveThresholds(registry: DataFrame, ruleVersion: String, asOf: String): DataFrame = {
    val global = registry.filter(
      col("rule_version") === ruleVersion &&
      col("cohort_category").isNull && col("cohort_region").isNull &&
      col("effective_from") <= to_date(lit(asOf)) &&
      // a generation can be retired by end-dating it; a null
      // effective_to means open-ended
      (col("effective_to").isNull || col("effective_to") >= to_date(lit(asOf))))
    val locked = global.agg(max(col("effective_from")).as("effective_from"))
    global.join(broadcast(locked), Seq("effective_from"))
      .groupBy(col("rule_version"), col("effective_from"))
      .agg(
        max(when(col("metric_name") === MetricVelocity && col("percentile") === 90,
          col("threshold_value"))).as("velocity_p90"),
        max(when(col("metric_name") === MetricViews && col("percentile") === 40,
          col("threshold_value"))).as("views_p40"),
        max(when(col("metric_name") === MetricCompletion && col("percentile") === 50,
          col("threshold_value"))).as("completion_p50"),
        max(when(col("metric_name") === MetricSkip && col("percentile") === 50,
          col("threshold_value"))).as("skip_p50"),
        min(col("sample_size")).as("min_sample"))
  }

  /** Materialize the resolved row as a [[Thresholds]] for the decision
    * pipeline (single-row dim collect, see class doc). No generation is
    * effective at `asOf` (or the version is unknown) → compile-time
    * defaults — the reference's conservative-fallback posture (missing
    * dims/thresholds degrade to safe constants, never fail serving). */
  def thresholds(registry: DataFrame, ruleVersion: String, asOf: String): Thresholds = {
    val base = Thresholds(ruleVersion = ruleVersion)
    // per-field null guard: a generation published without some metric
    // row must not unbox NULL to 0.0 (velocityP90=0.0 would make every
    // key a candidate) — each missing field falls back to its default
    def d(r: org.apache.spark.sql.Row, field: String, dflt: Double): Double =
      Option(r.getAs[java.lang.Double](field)).fold(dflt)(_.doubleValue)
    resolveThresholds(registry, ruleVersion, asOf).collect().headOption.fold(base) { r =>
      base.copy(
        velocityP90 = d(r, "velocity_p90", base.velocityP90),
        viewsP40 = d(r, "views_p40", base.viewsP40.toDouble).toLong,
        minCompletion = d(r, "completion_p50", base.minCompletion),
        maxSkip = d(r, "skip_p50", base.maxSkip))
    }
  }
}

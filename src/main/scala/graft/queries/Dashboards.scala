package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.serving.Serving

/** Dashboard / acceptance query surface (reference §2.8 + §3.3: the
  * metabase SQL pack and the Trino serving views executed as Spark SQL
  * — the engine-boundary the rebuild eliminates).
  *
  * The dashboard queries run through `spark.sql` over REGISTERED VIEWS
  * (S12): the serving layer is exercised as a SQL surface, not just a
  * DataFrame library. Dialect ports per P16: `date_diff`→epoch diff,
  * `COUNT_IF`→count_if, GREATEST/NULLIF unchanged.
  */
object Dashboards {

  private def ctxView(s: SparkSession, dir: String): Unit = {
    Serving.registerViews(s, Tables(s, dir, "events"))
  }

  private def ctxAndDimViews(s: SparkSession, dir: String): Unit = {
    ctxView(s, dir)
    Tables(s, dir, "customer").createOrReplaceTempView("customer")
    Tables(s, dir, "nation").createOrReplaceTempView("nation")
  }

  /** A3/B7 analog: anchor CTE → 4-hour bound → latest row per key →
    * ORDER BY + LIMIT (every reference dashboard query's shape). */
  def latestPerVideo(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS anchor_minute FROM v_decision_context_30m_1m),
        |bounded AS (
        |  SELECT c.* FROM v_decision_context_30m_1m c CROSS JOIN anchor
        |  WHERE c.minute >= anchor.anchor_minute - INTERVAL 240 MINUTES),
        |ranked AS (
        |  SELECT user_id, minute, decision_type_preview,
        |    velocity_30m, views_30m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM bounded)
        |SELECT user_id, minute, decision_type_preview,
        |  floor(velocity_30m * 10000 + 0.5) / 10000 AS velocity_30m, views_30m
        |FROM ranked WHERE row_num = 1
        |ORDER BY decision_type_preview, user_id
        |LIMIT 500""".stripMargin)
  }

  /** A5 analog: per-minute platform health averages over the last 30
    * minutes from the anchor. */
  def platformHealth(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS anchor_minute FROM v_decision_context_30m_1m)
        |SELECT minute,
        |  floor(avg(velocity_30m) * 10000 + 0.5) / 10000 AS avg_velocity,
        |  floor(avg(completion_rate_30m) * 10000 + 0.5) / 10000 AS avg_completion,
        |  floor(avg(skip_rate_30m) * 10000 + 0.5) / 10000 AS avg_skip,
        |  count(*) AS n_keys
        |FROM v_decision_context_30m_1m CROSS JOIN anchor
        |WHERE minute >= anchor_minute - INTERVAL 30 MINUTES
        |GROUP BY minute ORDER BY minute""".stripMargin)
  }

  /** D7: RT-vs-batch reconciliation — minute-level diff ratios with the
    * reference's formulas and thresholds (counts p95 ≤ 0.08 via
    * abs(rt−batch)/max(batch,100); rate p95 abs diff ≤ 0.03). The "rt"
    * leg models the validated stream (value filter as the quarantine
    * analog); "batch" is the full recompute. */
  def reconciliation(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val rt = e.filter(col("value") <= 195.0)
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("rt_n"),
        avg(when(col("event_type") === "purchase", 1.0).otherwise(0.0)).as("rt_rate"))
    val batch = e
      .groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("batch_n"),
        avg(when(col("event_type") === "purchase", 1.0).otherwise(0.0)).as("batch_rate"))
    // rt filters e, so every rt minute is a batch minute: the FULL
    // outer join of the shared formula adds no row here
    val joined = graft.serving.Reconcile.countDiffRatio(rt, batch, Seq("minute"), "rt_n", "batch_n")
      .select(
        col("minute"), col("count_diff_ratio"),
        abs(coalesce(col("rt_rate"), lit(0.0)) - col("batch_rate")).as("rate_diff"))
    joined.agg(
      rd(expr("percentile(count_diff_ratio, 0.95)"), 6).as("count_p95"),
      rd(expr("percentile(rate_diff, 0.95)"), 6).as("rate_p95"),
      count(lit(1)).as("n_minutes"))
      .select(
        col("count_p95"), col("rate_p95"), col("n_minutes"),
        (col("count_p95") <= 0.08).as("counts_pass"),
        (col("rate_p95") <= 0.03).as("rates_pass"))
  }

  /** D8: the full 11-gate sign-off battery (reference
    * verify_mic38_sprint1_signoff.py:141-510 re-expressed over the data
    * itself). One row per gate: (gate, value, pass, status); `status` is
    * ok/alert except the freshness gate's healthy/degraded/stale
    * tri-state (reference README.md Reliability Controls: P95 < 3 min
    * healthy, > 10 min stale).
    *
    * Scale shape: ONE global aggregate pass over events plus two small
    * grouped aggregates (per-type freshness, per-minute volume); the 11
    * rows are exploded from the single joined metrics row — the events
    * table is never scanned per-gate. */
  def healthGates(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k extracted ONCE via withEventFields: the rule predicates feed
    // several aggregate conditions below, and without the shared
    // projection each would re-parse `props` per row
    val e = graft.operators.Validation.withEventFields(Tables(s, dir, "events"))
    // single source of truth for "invalid": the validation ladder itself
    // (duplicating the thresholds here would let the gate battery and
    // q_validation_split silently disagree if the contract changes)
    val rules = graft.operators.Validation.eventRules()
    val isParse = rules.head.predicate
    val isInvalid = rules.map(_.predicate).reduce(_ || _)
    val sec = date_trunc("second", col("ts")).cast("long")

    val g = e.agg(
      count(lit(1)).cast("double").as("n"),
      sum(when(isParse, 1).otherwise(0)).cast("double").as("parse_err"),
      sum(when(isInvalid, 1).otherwise(0)).cast("double").as("n_invalid"),
      (count(lit(1)) - countDistinct(col("event_id"))).cast("double").as("dup_ids"),
      sum(when(col("value") < 0, 1).otherwise(0)).cast("double").as("neg_rows"),
      sum(when(col("user_id").isNull, 1).otherwise(0)).cast("double").as("null_user"),
      sum(when(isInvalid && (col("event_id").isNull || col("ts").isNull), 1).otherwise(0))
        .cast("double").as("inv_null_fields"),
      sum(when(col("event_type") === "error", 1).otherwise(0)).cast("double").as("err_events"),
      countDistinct(col("user_id")).cast("double").as("n_users"),
      max(sec).as("anchor_sec"),
      min(sec).as("min_sec"))

    // Per-source freshness lag (seconds behind the global anchor). The
    // anchor is derived from the tiny per-type frame itself via a
    // window (max over 5 rows) — NOT by cross-joining the heavy global
    // aggregate `g`, which would recompute its distinct-count scan once
    // per consumer leg.
    val wAll = Window.partitionBy()
    val lags = e.groupBy(col("event_type")).agg(max(sec).as("last_sec"))
      .select((max(col("last_sec")).over(wAll) - col("last_sec")).cast("double").as("lag_sec"))
    val lagStats = lags
      .select(col("lag_sec"),
        row_number().over(Window.orderBy(col("lag_sec"))).as("rn"),
        count(lit(1)).over(wAll).as("cnt"))
      .agg(
        max(col("lag_sec")).as("max_lag"),
        max(when(col("rn") <= ceil(col("cnt") * 0.95), col("lag_sec"))).as("p95_lag"))

    // per-minute volume: progress + checkpoint-growth proxy (events
    // landing in the newer half of the observed minute span); span
    // bounds likewise from the per-minute frame's own window
    val perMin = e.groupBy(date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n_min"))
    val mSec = col("minute").cast("long")
    val minStats = perMin
      .select(col("n_min"), mSec.as("msec"),
        max(mSec).over(wAll).as("amax"), min(mSec).over(wAll).as("amin"))
      .agg(
        count(lit(1)).cast("double").as("n_minutes"),
        coalesce(sum(when(col("amax") - col("msec") <= (col("amax") - col("amin")) / 2.0,
          col("n_min"))), lit(0L)).cast("double").as("second_half"))

    val m = g.crossJoin(broadcast(lagStats)).crossJoin(broadcast(minStats))

    def okStatus(pass: org.apache.spark.sql.Column) = when(pass, "ok").otherwise("alert")
    def mk(name: String, value: org.apache.spark.sql.Column,
           pass: org.apache.spark.sql.Column,
           status: org.apache.spark.sql.Column = null) =
      struct(lit(name).as("gate"), rd(value, 6).as("value"), pass.as("pass"),
        (if (status == null) okStatus(pass) else status).as("status"))

    val span = col("anchor_sec") - col("min_sec")
    val parseRate = col("parse_err") / col("n")
    val validRate = (col("n") - col("n_invalid")) / col("n")
    val invalidRate = col("n_invalid") / col("n")
    val errShare = col("err_events") / col("n")
    val runScoped =
      when(col("n") > 0, 1).otherwise(0) + when(col("n_minutes") > 0, 1).otherwise(0) +
      when(col("n_invalid") > 0, 1).otherwise(0) + when(col("n_users") > 0, 1).otherwise(0) +
      when(span > 0, 1).otherwise(0)
    val contractViolations = col("dup_ids") + col("neg_rows") + col("null_user")

    m.select(explode(array(
        mk("input_artifacts_parseable", parseRate, parseRate <= 0.20),
        mk("underlying_verifiers_passed", validRate, validRate >= 0.5),
        mk("key_tables_run_scoped", runScoped.cast("double"), runScoped === 5),
        mk("gold_contract_valid", contractViolations, contractViolations === 0.0),
        mk("invalid_sink_fields_non_null", col("inv_null_fields"), col("inv_null_fields") === 0.0),
        mk("invalid_rate_within_threshold", invalidRate, invalidRate <= 0.20),
        mk("query_health_no_exceptions", errShare, errShare <= 0.25),
        mk("query_progress_moving", col("n_minutes"), col("n_minutes") >= 2),
        mk("checkpoint_growth", col("second_half"), col("second_half") > 0),
        mk("freshness_sla", col("max_lag"), col("max_lag") <= 600,
          when(col("max_lag") <= 180, "healthy").when(col("max_lag") <= 600, "degraded").otherwise("stale")),
        mk("latency_p95_proxy", col("p95_lag"), col("p95_lag") < 180))).as("g"))
      .select(col("g.*"))
      .orderBy("gate")
  }

  /** A10/B8 analog: decision distribution trend per minute over the
    * last 60 minutes from the anchor. */
  def decisionTrend(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS anchor_minute FROM v_decision_context_30m_1m)
        |SELECT minute, decision_type_preview, count(*) AS n
        |FROM v_decision_context_30m_1m CROSS JOIN anchor
        |WHERE minute >= anchor_minute - INTERVAL 60 MINUTES
        |GROUP BY minute, decision_type_preview
        |ORDER BY minute, decision_type_preview""".stripMargin)
  }

  /** A7/P16: COUNT_IF + NULLIF null-rate pack over the context view
    * (the reference's data-quality dashboard, metabase pack:274-337). */
  def nullRatePack(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """SELECT
        |  count(*) AS n_rows,
        |  count_if(velocity_30m IS NULL) AS velocity_nulls,
        |  count_if(completion_rate_30m IS NULL) AS completion_nulls,
        |  count_if(decision_type_preview IS NULL) AS decision_nulls,
        |  floor((count_if(views_30m = 0) / CAST(nullif(count(*), 0) AS DOUBLE))*1000000 + 0.5)/1000000 AS zero_view_rate
        |FROM v_decision_context_30m_1m""".stripMargin)
  }

  /** A1b: platform coverage trend — active keys per minute on a separate
    * scale from the rate trend (metabase pack:41-58). */
  def coverageTrend(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_stats_1min)
        |SELECT minute, count(DISTINCT user_id) AS active_users
        |FROM v_stats_1min CROSS JOIN anchor
        |WHERE minute >= am - INTERVAL 240 MINUTES
        |GROUP BY minute ORDER BY minute""".stripMargin)
  }

  /** A4: actionable queue preview — latest row per key in the last 30
    * minutes, NO_ACTION excluded, neutral recency ordering (pack:119-175). */
  def actionablePreview(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m),
        |ranked AS (
        |  SELECT user_id, minute, decision_type_preview,
        |    candidate_flag, quality_gate_pass, under_exposed_flag,
        |    velocity_30m, completion_rate_30m, skip_rate_30m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM v_decision_context_30m_1m CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL 30 MINUTES)
        |SELECT minute, user_id, decision_type_preview,
        |  candidate_flag, quality_gate_pass, under_exposed_flag,
        |  floor(velocity_30m*10000 + 0.5)/10000 AS velocity_30m,
        |  floor(completion_rate_30m*10000 + 0.5)/10000 AS completion_rate_30m,
        |  floor(skip_rate_30m*10000 + 0.5)/10000 AS skip_rate_30m
        |FROM ranked
        |WHERE row_num = 1 AND decision_type_preview IN ('BOOST','REVIEW','RESCUE')
        |ORDER BY minute DESC, user_id
        |LIMIT 500""".stripMargin)
  }

  /** B1/B2: grain-uniqueness acceptance checks on both serving views
    * (pack:180-218) — one row each, duplicate key-group count. */
  def grainMetrics(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_stats_1min)
        |SELECT count(*) AS duplicate_key_groups FROM (
        |  SELECT user_id, minute FROM v_stats_1min CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL 240 MINUTES
        |  GROUP BY user_id, minute HAVING count(*) > 1) d""".stripMargin)
  }

  def grainContext(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m)
        |SELECT count(*) AS duplicate_key_groups FROM (
        |  SELECT user_id, minute FROM v_decision_context_30m_1m CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL 240 MINUTES
        |  GROUP BY user_id, minute HAVING count(*) > 1) d""".stripMargin)
  }

  /** B3: grain-amplification check — context rows must not exceed
    * metrics rows over the same window (pack:220-247). */
  def grainAmplification(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH ma AS (SELECT max(minute) AS am FROM v_stats_1min),
        |ca AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m),
        |mr AS (SELECT count(*) AS row_count FROM v_stats_1min CROSS JOIN ma
        |       WHERE minute >= am - INTERVAL 240 MINUTES),
        |cr AS (SELECT count(*) AS row_count FROM v_decision_context_30m_1m CROSS JOIN ca
        |       WHERE minute >= am - INTERVAL 240 MINUTES)
        |SELECT mr.row_count AS metrics_rows, cr.row_count AS context_rows,
        |  cr.row_count - mr.row_count AS row_delta
        |FROM mr CROSS JOIN cr""".stripMargin)
  }

  /** B4: freshness check for both serving views. The reference anchors
    * lag on current_timestamp; here the reference instant is the newest
    * minute across both views so the check is deterministic/replayable
    * (the pack itself anchors dashboards to MAX(metric_minute) for
    * exactly this reason, pack:6-8). */
  def viewFreshness(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH mf AS (SELECT max(minute) AS m_latest FROM v_stats_1min),
        |cf AS (SELECT max(minute) AS c_latest FROM v_decision_context_30m_1m),
        |ref AS (SELECT m_latest, c_latest, greatest(m_latest, c_latest) AS checked_at
        |        FROM mf CROSS JOIN cf)
        |SELECT checked_at, m_latest AS metrics_latest_minute,
        |  CAST(checked_at AS LONG) - CAST(m_latest AS LONG) AS metrics_lag_seconds,
        |  c_latest AS context_latest_minute,
        |  CAST(checked_at AS LONG) - CAST(c_latest AS LONG) AS context_lag_seconds
        |FROM ref""".stripMargin)
  }

  /** B6: dimension fallback observability — null rates after the
    * serving-side dim enrichment join (pack:316-338; category/region →
    * customer segment / nation). */
  def dimFallback(s: SparkSession, dir: String): DataFrame = {
    ctxAndDimViews(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m),
        |base AS (
        |  SELECT c.c_mktsegment AS segment, n.n_name AS nation
        |  FROM v_decision_context_30m_1m ctx CROSS JOIN anchor
        |  LEFT JOIN customer c ON ctx.user_id = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE ctx.minute >= am - INTERVAL 240 MINUTES)
        |SELECT count(*) AS total_rows,
        |  floor((CAST(count_if(segment IS NULL) AS DOUBLE) / nullif(count(*), 0))*1000000 + 0.5)/1000000 AS null_rate_segment,
        |  floor((CAST(count_if(nation IS NULL) AS DOUBLE) / nullif(count(*), 0))*1000000 + 0.5)/1000000 AS null_rate_nation
        |FROM base""".stripMargin)
  }

  /** B7: recommendation field/domain/traceability check over latest-per-
    * key rows (pack:340-381). */
  def domainCheck(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m),
        |latest AS (
        |  SELECT user_id, decision_type_preview, candidate_flag, quality_gate_pass,
        |    under_exposed_flag, rule_version,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM v_decision_context_30m_1m CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL 240 MINUTES)
        |SELECT count(*) AS latest_rows,
        |  count_if(decision_type_preview NOT IN ('BOOST','REVIEW','RESCUE','NO_ACTION')) AS invalid_decision_domain_rows,
        |  count_if(rule_version IS NULL OR rule_version <> 'graft_rules_v1') AS unexpected_rule_version_rows,
        |  count_if(decision_type_preview IN ('BOOST','REVIEW','RESCUE')
        |    AND (candidate_flag IS NULL OR quality_gate_pass IS NULL
        |         OR under_exposed_flag IS NULL OR rule_version IS NULL)) AS actionable_traceability_gap_rows
        |FROM latest WHERE row_num = 1""".stripMargin)
  }

  /** B8: recommendation distribution snapshot over latest-per-key rows
    * (pack:383-406; complements q_decision_distribution, which is over
    * ALL context rows). */
  def decisionSnapshot(s: SparkSession, dir: String): DataFrame = {
    ctxView(s, dir)
    s.sql(
      """WITH anchor AS (SELECT max(minute) AS am FROM v_decision_context_30m_1m),
        |latest AS (
        |  SELECT user_id, decision_type_preview,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM v_decision_context_30m_1m CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL 240 MINUTES)
        |SELECT decision_type_preview, count(*) AS video_count
        |FROM latest WHERE row_num = 1
        |GROUP BY decision_type_preview
        |ORDER BY video_count DESC, decision_type_preview""".stripMargin)
  }

  /** Baseline-registry lifecycle end-to-end (reference's rule-version
    * traceability): seed v1 (= compile-time threshold literals) →
    * compute a v2 generation from the live decision context → guarded
    * publish → latest-effective-date resolution pivot. */
  def baselineRegistry(s: SparkSession, dir: String): DataFrame = {
    import graft.serving.BaselineRegistry
    val ctx = Serving.decisionContextFromEvents(Tables(s, dir, "events"))
    val v2 = BaselineRegistry.computeFromContext(
      ctx, "graft_rules_v1", "2026-02-01", "2026-02-01 00:00:00")
    val reg = BaselineRegistry.publish(BaselineRegistry.seed(s), v2)
    BaselineRegistry.resolveThresholds(reg, "graft_rules_v1", "2026-03-01")
      .select(col("rule_version"), col("effective_from"),
        rd(col("velocity_p90"), 6).as("velocity_p90"),
        rd(col("views_p40"), 6).as("views_p40"),
        rd(col("completion_p50"), 6).as("completion_p50"),
        rd(col("skip_p50"), 6).as("skip_p50"),
        col("min_sample").cast("long").as("min_sample"))
      .orderBy("rule_version")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_baseline_registry" -> baselineRegistry,
    "q_dash_coverage" -> coverageTrend,
    "q_dash_actionable" -> actionablePreview,
    "q_dash_grain_metrics" -> grainMetrics,
    "q_dash_grain_context" -> grainContext,
    "q_dash_amplification" -> grainAmplification,
    "q_dash_freshness" -> viewFreshness,
    "q_dash_dim_fallback" -> dimFallback,
    "q_dash_domain" -> domainCheck,
    "q_dash_snapshot" -> decisionSnapshot,
    "q_dash_latest" -> latestPerVideo,
    "q_dash_health" -> platformHealth,
    "q_dash_decision_trend" -> decisionTrend,
    "q_dash_nullrate" -> nullRatePack,
    "q_reconciliation" -> reconciliation,
    "q_health_gates" -> healthGates,
  )

  val oracles: Map[String, String] = Map(
    "q_baseline_registry" ->
      (Lakehouse.decisionContextCoreSql + """,
        |computed AS (
        |  SELECT quantile_cont(velocity_30m, 0.90) AS v90,
        |         quantile_cont(views_30m, 0.40) AS i40,
        |         quantile_cont(completion_rate_30m, 0.50) AS c50,
        |         quantile_cont(skip_rate_30m, 0.50) AS s50,
        |         count(*) AS sample_size
        |  FROM ctx_core),
        |v2 AS (
        |  SELECT 'graft_rules_v1' AS rule_version, DATE '2026-02-01' AS effective_from,
        |         'velocity_30m' AS metric_name, 90 AS percentile, v90 AS threshold_value, sample_size FROM computed
        |  UNION ALL SELECT 'graft_rules_v1', DATE '2026-02-01', 'views_30m', 40, i40, sample_size FROM computed
        |  UNION ALL SELECT 'graft_rules_v1', DATE '2026-02-01', 'completion_rate_30m', 50, c50, sample_size FROM computed
        |  UNION ALL SELECT 'graft_rules_v1', DATE '2026-02-01', 'skip_rate_30m', 50, s50, sample_size FROM computed),
        |seedr AS (
        |  SELECT * FROM (VALUES
        |    ('graft_rules_v1', DATE '2026-01-01', 'velocity_30m', 90, 0.6, 1800),
        |    ('graft_rules_v1', DATE '2026-01-01', 'views_30m', 40, 0.0, 1800),
        |    ('graft_rules_v1', DATE '2026-01-01', 'completion_rate_30m', 50, 0.5, 1800),
        |    ('graft_rules_v1', DATE '2026-01-01', 'skip_rate_30m', 50, 0.5, 1800))
        |    AS t(rule_version, effective_from, metric_name, percentile, threshold_value, sample_size)),
        |reg AS (SELECT * FROM seedr UNION ALL SELECT * FROM v2),
        |locked AS (
        |  SELECT max(effective_from) AS ef FROM reg WHERE effective_from <= DATE '2026-03-01')
        |SELECT rule_version, effective_from,
        |  floor(max(CASE WHEN metric_name = 'velocity_30m' AND percentile = 90 THEN threshold_value END)*1000000 + 0.5)/1000000 AS velocity_p90,
        |  floor(max(CASE WHEN metric_name = 'views_30m' AND percentile = 40 THEN threshold_value END)*1000000 + 0.5)/1000000 AS views_p40,
        |  floor(max(CASE WHEN metric_name = 'completion_rate_30m' AND percentile = 50 THEN threshold_value END)*1000000 + 0.5)/1000000 AS completion_p50,
        |  floor(max(CASE WHEN metric_name = 'skip_rate_30m' AND percentile = 50 THEN threshold_value END)*1000000 + 0.5)/1000000 AS skip_p50,
        |  CAST(min(sample_size) AS BIGINT) AS min_sample
        |FROM reg JOIN locked ON reg.effective_from = locked.ef
        |GROUP BY rule_version, effective_from
        |ORDER BY rule_version""".stripMargin),
    "q_dash_coverage" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM per_min)
        |SELECT minute, count(DISTINCT user_id) AS active_users
        |FROM per_min CROSS JOIN anchor
        |WHERE minute >= am - INTERVAL '240' MINUTE
        |GROUP BY minute ORDER BY minute""".stripMargin),
    "q_dash_actionable" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM ctx_core),
        |ranked AS (
        |  SELECT user_id, minute, decision_type_preview,
        |    candidate_flag, quality_gate_pass, under_exposed_flag,
        |    velocity_30m, completion_rate_30m, skip_rate_30m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM ctx_core CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL '30' MINUTE)
        |SELECT minute, user_id, decision_type_preview,
        |  candidate_flag, quality_gate_pass, under_exposed_flag,
        |  floor(velocity_30m*10000 + 0.5)/10000 AS velocity_30m,
        |  floor(completion_rate_30m*10000 + 0.5)/10000 AS completion_rate_30m,
        |  floor(skip_rate_30m*10000 + 0.5)/10000 AS skip_rate_30m
        |FROM ranked
        |WHERE row_num = 1 AND decision_type_preview IN ('BOOST','REVIEW','RESCUE')
        |ORDER BY minute DESC, user_id
        |LIMIT 500""".stripMargin),
    "q_dash_grain_metrics" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM per_min)
        |SELECT count(*) AS duplicate_key_groups FROM (
        |  SELECT user_id, minute FROM per_min CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL '240' MINUTE
        |  GROUP BY user_id, minute HAVING count(*) > 1) d""".stripMargin),
    "q_dash_grain_context" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM ctx_core)
        |SELECT count(*) AS duplicate_key_groups FROM (
        |  SELECT user_id, minute FROM ctx_core CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL '240' MINUTE
        |  GROUP BY user_id, minute HAVING count(*) > 1) d""".stripMargin),
    "q_dash_amplification" ->
      (Lakehouse.decisionContextCoreSql + """,
        |ma AS (SELECT max(minute) AS am FROM per_min),
        |ca AS (SELECT max(minute) AS am FROM ctx_core),
        |mr AS (SELECT count(*) AS row_count FROM per_min CROSS JOIN ma
        |       WHERE minute >= am - INTERVAL '240' MINUTE),
        |cr AS (SELECT count(*) AS row_count FROM ctx_core CROSS JOIN ca
        |       WHERE minute >= am - INTERVAL '240' MINUTE)
        |SELECT mr.row_count AS metrics_rows, cr.row_count AS context_rows,
        |  cr.row_count - mr.row_count AS row_delta
        |FROM mr CROSS JOIN cr""".stripMargin),
    "q_dash_freshness" ->
      (Lakehouse.decisionContextCoreSql + """,
        |mf AS (SELECT max(minute) AS m_latest FROM per_min),
        |cf AS (SELECT max(minute) AS c_latest FROM ctx_core),
        |ref AS (SELECT m_latest, c_latest, greatest(m_latest, c_latest) AS checked_at
        |        FROM mf CROSS JOIN cf)
        |SELECT checked_at, m_latest AS metrics_latest_minute,
        |  date_diff('second', m_latest, checked_at) AS metrics_lag_seconds,
        |  c_latest AS context_latest_minute,
        |  date_diff('second', c_latest, checked_at) AS context_lag_seconds
        |FROM ref""".stripMargin),
    "q_dash_dim_fallback" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM ctx_core),
        |base AS (
        |  SELECT c.c_mktsegment AS segment, n.n_name AS nation
        |  FROM ctx_core ctx CROSS JOIN anchor
        |  LEFT JOIN customer c ON ctx.user_id = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE ctx.minute >= am - INTERVAL '240' MINUTE)
        |SELECT count(*) AS total_rows,
        |  floor((CAST(count(*) FILTER (WHERE segment IS NULL) AS DOUBLE) / nullif(count(*), 0))*1000000 + 0.5)/1000000 AS null_rate_segment,
        |  floor((CAST(count(*) FILTER (WHERE nation IS NULL) AS DOUBLE) / nullif(count(*), 0))*1000000 + 0.5)/1000000 AS null_rate_nation
        |FROM base""".stripMargin),
    "q_dash_domain" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM ctx_core),
        |latest AS (
        |  SELECT user_id, decision_type_preview, candidate_flag, quality_gate_pass,
        |    under_exposed_flag, 'graft_rules_v1' AS rule_version,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM ctx_core CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL '240' MINUTE)
        |SELECT count(*) AS latest_rows,
        |  count(*) FILTER (WHERE decision_type_preview NOT IN ('BOOST','REVIEW','RESCUE','NO_ACTION')) AS invalid_decision_domain_rows,
        |  count(*) FILTER (WHERE rule_version IS NULL OR rule_version <> 'graft_rules_v1') AS unexpected_rule_version_rows,
        |  count(*) FILTER (WHERE decision_type_preview IN ('BOOST','REVIEW','RESCUE')
        |    AND (candidate_flag IS NULL OR quality_gate_pass IS NULL
        |         OR under_exposed_flag IS NULL OR rule_version IS NULL)) AS actionable_traceability_gap_rows
        |FROM latest WHERE row_num = 1""".stripMargin),
    "q_dash_snapshot" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS am FROM ctx_core),
        |latest AS (
        |  SELECT user_id, decision_type_preview,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM ctx_core CROSS JOIN anchor
        |  WHERE minute >= am - INTERVAL '240' MINUTE)
        |SELECT decision_type_preview, count(*) AS video_count
        |FROM latest WHERE row_num = 1
        |GROUP BY decision_type_preview
        |ORDER BY video_count DESC, decision_type_preview""".stripMargin),
    "q_dash_latest" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS anchor_minute FROM ctx_core),
        |bounded AS (
        |  SELECT c.* FROM ctx_core c CROSS JOIN anchor
        |  WHERE c.minute >= anchor.anchor_minute - INTERVAL '240' MINUTE),
        |ranked AS (
        |  SELECT user_id, minute, decision_type_preview, velocity_30m, views_30m,
        |    row_number() OVER (PARTITION BY user_id ORDER BY minute DESC) AS row_num
        |  FROM bounded)
        |SELECT user_id, minute, decision_type_preview,
        |  floor(velocity_30m * 10000 + 0.5) / 10000 AS velocity_30m, views_30m
        |FROM ranked WHERE row_num = 1
        |ORDER BY decision_type_preview, user_id
        |LIMIT 500""".stripMargin),
    "q_dash_health" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS anchor_minute FROM ctx_core)
        |SELECT minute,
        |  floor(avg(velocity_30m) * 10000 + 0.5) / 10000 AS avg_velocity,
        |  floor(avg(completion_rate_30m) * 10000 + 0.5) / 10000 AS avg_completion,
        |  floor(avg(skip_rate_30m) * 10000 + 0.5) / 10000 AS avg_skip,
        |  count(*) AS n_keys
        |FROM ctx_core CROSS JOIN anchor
        |WHERE minute >= anchor_minute - INTERVAL '30' MINUTE
        |GROUP BY minute ORDER BY minute""".stripMargin),
    "q_dash_decision_trend" ->
      (Lakehouse.decisionContextCoreSql + """,
        |anchor AS (SELECT max(minute) AS anchor_minute FROM ctx_core)
        |SELECT minute, decision_type_preview, count(*) AS n
        |FROM ctx_core CROSS JOIN anchor
        |WHERE minute >= anchor_minute - INTERVAL '60' MINUTE
        |GROUP BY minute, decision_type_preview
        |ORDER BY minute, decision_type_preview""".stripMargin),
    "q_dash_nullrate" ->
      (Lakehouse.decisionContextCoreSql + """
        |SELECT
        |  count(*) AS n_rows,
        |  count(*) FILTER (WHERE velocity_30m IS NULL) AS velocity_nulls,
        |  count(*) FILTER (WHERE completion_rate_30m IS NULL) AS completion_nulls,
        |  count(*) FILTER (WHERE decision_type_preview IS NULL) AS decision_nulls,
        |  floor((count(*) FILTER (WHERE views_30m = 0) / CAST(nullif(count(*), 0) AS DOUBLE))*1000000 + 0.5)/1000000 AS zero_view_rate
        |FROM ctx_core""".stripMargin),
    "q_reconciliation" ->
      """WITH rt AS (
        |  SELECT date_trunc('minute', ts) AS minute, count(*) AS rt_n,
        |    avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS rt_rate
        |  FROM events WHERE value <= 195.0 GROUP BY 1),
        |batch AS (
        |  SELECT date_trunc('minute', ts) AS minute, count(*) AS batch_n,
        |    avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS batch_rate
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT b.minute,
        |    1.0 * abs(coalesce(rt.rt_n, 0) - b.batch_n) / greatest(b.batch_n, 100) AS count_diff_ratio,
        |    abs(coalesce(rt.rt_rate, 0.0) - b.batch_rate) AS rate_diff
        |  FROM batch b LEFT JOIN rt ON rt.minute = b.minute),
        |agg AS (
        |  SELECT floor(quantile_cont(count_diff_ratio, 0.95)*1000000 + 0.5)/1000000 AS count_p95,
        |         floor(quantile_cont(rate_diff, 0.95)*1000000 + 0.5)/1000000 AS rate_p95,
        |         count(*) AS n_minutes
        |  FROM j)
        |SELECT count_p95, rate_p95, n_minutes,
        |  count_p95 <= 0.08 AS counts_pass, rate_p95 <= 0.03 AS rates_pass
        |FROM agg""".stripMargin,
    "q_health_gates" ->
      """WITH base AS (
        |  SELECT *, json_extract_string(props, '$.k') AS kstr,
        |    (json_extract_string(props, '$.k') IS NULL
        |     OR event_type NOT IN ('click','view','purchase','signup','error')
        |     OR TRY_CAST(json_extract_string(props, '$.k') AS INT) > 80
        |     OR value > 195.0) AS is_invalid
        |  FROM events),
        |g AS (
        |  SELECT
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(count(*) FILTER (WHERE kstr IS NULL) AS DOUBLE) AS parse_err,
        |    CAST(count(*) FILTER (WHERE is_invalid) AS DOUBLE) AS n_invalid,
        |    CAST(count(*) - count(DISTINCT event_id) AS DOUBLE) AS dup_ids,
        |    CAST(count(*) FILTER (WHERE value < 0) AS DOUBLE) AS neg_rows,
        |    CAST(count(*) FILTER (WHERE user_id IS NULL) AS DOUBLE) AS null_user,
        |    CAST(count(*) FILTER (WHERE is_invalid AND (event_id IS NULL OR ts IS NULL)) AS DOUBLE) AS inv_null_fields,
        |    CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE) AS err_events,
        |    CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
        |    max(date_trunc('second', ts)) AS anchor_ts,
        |    min(date_trunc('second', ts)) AS min_ts
        |  FROM base),
        |lags AS (
        |  SELECT CAST(date_diff('second', last_ts, max(last_ts) OVER ()) AS DOUBLE) AS lag_sec
        |  FROM (SELECT event_type, max(date_trunc('second', ts)) AS last_ts FROM events GROUP BY 1)),
        |lagstats AS (
        |  SELECT max(lag_sec) AS max_lag,
        |         max(CASE WHEN rn <= ceil(cnt * 0.95) THEN lag_sec END) AS p95_lag
        |  FROM (SELECT lag_sec, row_number() OVER (ORDER BY lag_sec) AS rn, count(*) OVER () AS cnt FROM lags)),
        |perm AS (SELECT date_trunc('minute', ts) AS minute, count(*) AS n_min FROM events GROUP BY 1),
        |permw AS (SELECT n_min, minute, max(minute) OVER () AS amax, min(minute) OVER () AS amin FROM perm),
        |mins AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_minutes,
        |    CAST(coalesce(sum(CASE WHEN date_diff('second', minute, amax) <= date_diff('second', amin, amax)/2.0 THEN n_min END), 0) AS DOUBLE) AS second_half
        |  FROM permw),
        |m AS (
        |  SELECT *,
        |    CAST(date_diff('second', min_ts, anchor_ts) AS DOUBLE) AS span,
        |    parse_err / n AS parse_rate,
        |    (n - n_invalid) / n AS valid_rate,
        |    n_invalid / n AS invalid_rate,
        |    err_events / n AS err_share,
        |    CAST((n > 0) AS INT) + CAST((n_minutes > 0) AS INT) + CAST((n_invalid > 0) AS INT)
        |      + CAST((n_users > 0) AS INT) + CAST((date_diff('second', min_ts, anchor_ts) > 0) AS INT) AS run_scoped,
        |    dup_ids + neg_rows + null_user AS contract_violations
        |  FROM g CROSS JOIN lagstats CROSS JOIN mins)
        |SELECT gate, floor((value)*1000000 + 0.5)/1000000 AS value, pass,
        |  CASE WHEN gate = 'freshness_sla' THEN
        |         CASE WHEN value <= 180 THEN 'healthy' WHEN value <= 600 THEN 'degraded' ELSE 'stale' END
        |       WHEN pass THEN 'ok' ELSE 'alert' END AS status
        |FROM (
        |  SELECT 'input_artifacts_parseable' AS gate, parse_rate AS value, parse_rate <= 0.20 AS pass FROM m
        |  UNION ALL SELECT 'underlying_verifiers_passed', valid_rate, valid_rate >= 0.5 FROM m
        |  UNION ALL SELECT 'key_tables_run_scoped', CAST(run_scoped AS DOUBLE), run_scoped = 5 FROM m
        |  UNION ALL SELECT 'gold_contract_valid', contract_violations, contract_violations = 0.0 FROM m
        |  UNION ALL SELECT 'invalid_sink_fields_non_null', inv_null_fields, inv_null_fields = 0.0 FROM m
        |  UNION ALL SELECT 'invalid_rate_within_threshold', invalid_rate, invalid_rate <= 0.20 FROM m
        |  UNION ALL SELECT 'query_health_no_exceptions', err_share, err_share <= 0.25 FROM m
        |  UNION ALL SELECT 'query_progress_moving', n_minutes, n_minutes >= 2 FROM m
        |  UNION ALL SELECT 'checkpoint_growth', second_half, second_half > 0 FROM m
        |  UNION ALL SELECT 'freshness_sla', max_lag, max_lag <= 600 FROM m
        |  UNION ALL SELECT 'latency_p95_proxy', p95_lag, p95_lag < 180 FROM m)
        |ORDER BY gate""".stripMargin,
  )
}

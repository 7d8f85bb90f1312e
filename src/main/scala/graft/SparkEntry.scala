package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every query/oracle pair:
  *  - column names identical on both sides (driver sorts columns by
  *    name before hashing);
  *  - every result deterministically ordered by a unique key;
  *  - double aggregates rounded at the decimal granularity at which
  *    the exact value is known to live (inputs are 2-decimal), so both
  *    engines round to the same value despite summation-order drift;
  *  - `events.ts` is TIMESTAMP(MICROS) parquet that Spark reads as
  *    TIMESTAMP_NTZ and `Tables` casts to TIMESTAMP, while DuckDB keeps
  *    its own timestamp type: raw `ts` is never emitted — always
  *    date_trunc'd.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Lakehouse.queries ++
      graft.queries.TextVector.queries ++
      graft.queries.Dashboards.queries ++
      graft.queries.Tpch.queries ++
      graft.queries.TpchSubquery.queries ++
      graft.queries.Behavioral.queries ++
      graft.queries.Mixture.queries ++
      graft.queries.Metrics.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.Lakehouse.oracles ++
      graft.queries.TextVector.oracles ++
      graft.queries.Dashboards.oracles ++
      graft.queries.Tpch.oracles ++
      graft.queries.TpchSubquery.oracles ++
      graft.queries.Behavioral.oracles ++
      graft.queries.Mixture.oracles ++
      graft.queries.Metrics.oracles
}

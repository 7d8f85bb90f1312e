package graft.core

import org.apache.spark.sql.types._

/** Table contracts as code (reference S7/S8: every output table has a
  * declared schema, partition spec, and a schema-drift gate that
  * REFUSES to run against an incompatible live table, printing the
  * ALTER statements for an operator to apply — additive-only evolution,
  * never silent).
  */
object Contracts {

  final case class TableContract(
      name: String,
      schema: StructType,
      partitionSpec: Seq[String],
      keyColumns: Seq[String]) {

    def requiredColumns: Seq[String] = schema.fields.map(_.name).toSeq

    /** Columns the contract requires that the live schema lacks. */
    def missingColumns(live: StructType): Seq[StructField] =
      schema.fields.filterNot(f => live.fieldNames.contains(f.name)).toSeq

    /** Contract columns present in the live schema under a DIFFERENT
      * type — a non-additive change the gate must refuse outright (an
      * ALTER can't fix it). */
    def typeMismatches(live: StructType): Seq[(StructField, org.apache.spark.sql.types.DataType)] =
      schema.fields.flatMap(f =>
        live.fields.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(l => (f, l.dataType))).toSeq

    /** Additive-only fix list (reference manual_alter_statements). */
    def alterStatements(live: StructType): Seq[String] =
      missingColumns(live).map(f =>
        s"ALTER TABLE $name ADD COLUMNS (${f.name} ${f.dataType.sql})")

    /** Drift gate: pass ⇒ (), fail ⇒ abort with the fix list (ALTERs
      * for missing columns; refusals for type drift — name-only checks
      * would wave through a table whose column exists incompatibly). */
    def enforce(live: StructType): Either[Seq[String], Unit] = {
      val refusals = typeMismatches(live).map { case (f, liveT) =>
        s"REFUSE $name.${f.name}: live type ${liveT.sql} incompatible with contract ${f.dataType.sql} (non-additive change)"
      }
      val fixes = alterStatements(live) ++ refusals
      if (fixes.isEmpty) Right(()) else Left(fixes)
    }

    /** DDL for a table-format catalog (default iceberg, the reference's
      * target — transform partitioning like hours()/bucket() is ONLY
      * legal there). For plain parquet the V1 catalog rejects transform
      * specs, so they are dropped (identity specs are kept). */
    def ddl(format: String = "iceberg"): String = {
      val cols = schema.fields.map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
      val specs =
        if (format == "parquet") partitionSpec.filter(!_.contains("("))
        else partitionSpec
      val part = if (specs.isEmpty) "" else s"\nPARTITIONED BY (${specs.mkString(", ")})"
      s"CREATE TABLE IF NOT EXISTS $name (\n$cols\n) USING $format$part"
    }
  }

  private def ts(n: String) = StructField(n, TimestampType)
  private def str(n: String) = StructField(n, StringType)
  private def lng(n: String) = StructField(n, LongType)

  /** bronze.raw_events analog — immutable replay log, hour-partitioned
    * event time (reference m1-data-model-v1.md:57-92). */
  val BronzeEvents: TableContract = TableContract(
    "bronze_events",
    StructType(Seq(str("event_id"), ts("ts"), str("user_id"), str("event_type"),
      str("schema_version"), str("payload_json"), lng("watch_time_ms"),
      str("source_topic"), StructField("source_partition", IntegerType), lng("source_offset"),
      ts("ingested_at"))),
    partitionSpec = Seq("hours(ts)"),
    keyColumns = Seq("event_id"))

  /** bronze.invalid_events analog — quarantine with error codes,
    * day-partitioned ingest time. */
  val Quarantine: TableContract = TableContract(
    "bronze_invalid_events",
    StructType(Seq(str("invalid_event_id"), str("error_code"), str("raw_value"),
      str("source_topic"), StructField("source_partition", IntegerType), lng("source_offset"),
      ts("ingested_at"))),
    partitionSpec = Seq("days(ingested_at)"),
    keyColumns = Seq("invalid_event_id"))

  /** gold.rt_video_stats_1min analog — 1-minute counter fact,
    * day-partition + key bucket (reference: days(window_start),
    * bucket(16, video_id)). */
  val GoldStats1Min: TableContract = TableContract(
    "gold_stats_1min",
    StructType(Seq(ts("window_start"), ts("window_end"), str("user_id"),
      lng("views"), lng("clicks"), lng("purchases"), lng("signups"), lng("errors"),
      lng("watch_time_sum_ms"), ts("processed_at"))),
    partitionSpec = Seq("days(window_start)", "bucket(16, user_id)"),
    keyColumns = Seq("user_id", "window_start"))

  /** dims.dim_videos analog — Type-1 snapshot, key-bucketed. */
  val DimVideos: TableContract = TableContract(
    "dim_videos",
    StructType(Seq(str("video_id"), str("category"), str("region"),
      ts("upload_time"), str("status"), lng("ts_ms"), lng("source_offset"), ts("updated_at"))),
    partitionSpec = Seq("bucket(16, video_id)"),
    keyColumns = Seq("video_id"))

  val All: Seq[TableContract] = Seq(BronzeEvents, Quarantine, GoldStats1Min, DimVideos)

  def enforce(contract: TableContract, live: StructType): Either[Seq[String], Unit] =
    contract.enforce(live)
}

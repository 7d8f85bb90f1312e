package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata directory layout
  * (`<dir>/<name>.parquet`, see TESTDATA.md).
  *
  * All engine queries go through this so scan options are controlled
  * in one place. Reads are plain parquet scans — Catalyst pushes
  * filters/column pruning into the scan (verify with
  * `.explain("formatted")`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to always broadcast in joins. */
  val SmallDims: Set[String] = Set("region", "nation", "customer", "supplier", "part")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The testdata (TESTDATA.md) stores events.ts as TIMESTAMP(MICROS),
    // not adjusted to UTC, at sf0.001, sf0.01 and sf0.1: the NTZ branch
    // below. A writer that emits TIMESTAMP(NANOS) parquet instead (e.g.
    // pandas/pyarrow defaults) would be refused outright by Spark's µs
    // TimestampType, so nanos are read as raw longs and truncated to µs
    // here — integer `div`, not double division: ns-since-epoch ≈ 1.7e18
    // exceeds a double's 2^53 exact-integer range.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // µs-precision parquet without UTC adjustment surfaces as
        // TIMESTAMP_NTZ; normalize to TimestampType (session tz is
        // pinned UTC, so the instant is unchanged) so downstream
        // epoch-seconds math (`cast(ts as long)`) stays legal — Spark
        // forbids NTZ→BIGINT casts.
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every testdata table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production stream source wiring (reference S1/S2): Kafka topic →
  * the engine's canonical raw frame
  * (raw_value, source_topic, source_partition, source_offset).
  *
  * Requires `spark-sql-kafka-0-10` on the runtime classpath (not
  * shipped in this container — tests drive the identical downstream
  * pipeline through MemoryStream/file sources, which produce the same
  * raw-frame columns; see StreamingSpec).
  */
object KafkaSource {

  def raw(spark: SparkSession, bootstrapServers: String, topic: String,
          startingOffsets: String = "latest", groupIdPrefix: String = "graft"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("groupIdPrefix", groupIdPrefix)
      .load()
      .select(
        col("value").cast("string").as("raw_value"),
        col("topic").as("source_topic"),
        col("partition").as("source_partition"),
        col("offset").as("source_offset"))
}

package graft.sources

import graft.config.PipelineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kafka source builder (reference KafakToClickhouse.scala:44-53).
  *
  * Uses Structured Streaming's `format("kafka")` — option plumbing
  * mirrors the reference consumer config. NOTE: the image ships no
  * spark-sql-kafka connector jar, so this compiles and builds the
  * plan but can only run where the connector is on the classpath;
  * tests exercise the identical downstream pipeline via Kafka-shaped
  * file/memory sources (see JsonIngest).
  */
object KafkaIngest {

  def readStream(spark: SparkSession, cfg: PipelineConfig): DataFrame = {
    val reader = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topics.mkString(","))
      .option("startingOffsets", cfg.startingOffsets)
      .option("kafka.group.id", cfg.groupId)
      .option("failOnDataLoss", "false")
    cfg.maxOffsetsPerTrigger.fold(reader)(n =>
      reader.option("maxOffsetsPerTrigger", n.toString)).load()
  }
}

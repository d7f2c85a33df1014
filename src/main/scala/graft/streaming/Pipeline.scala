package graft.streaming

import graft.config.PipelineConfig
import graft.ingest.JsonIngest
import graft.sinks.{BatchedRetrySink, SqlDialect, StatementWriter}
import graft.sources.KafkaIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The complete reference pipeline, composed end-to-end
  * (KafakToClickhouse.scala:17-63 re-expressed):
  *
  *   source → JSON parse + metadata → required-field validation with
  *   dirty routing → derived columns → per-key batching → batched
  *   INSERT sink with bounded retry, checkpointed.
  *
  * `run` wires a Kafka source from config; `runFromSource` accepts any
  * Kafka-shaped streaming DataFrame (topic/partition/offset/value), so
  * tests drive the identical pipeline from a file stream.
  */
object Pipeline {

  /** Enrichment from the reference's MyWindowFunction.process:40-43 —
    * `dayOfYear` = date prefix of the event time, `sTime` = processing
    * wall-clock (`current_timestamp` is stamped once per micro-batch,
    * so it's consistent within a batch — unlike the reference's
    * per-row `getTimeStr`). */
  def enrich(valid: DataFrame, tsField: String): DataFrame =
    valid
      .withColumn("dayOfYear", date_format(col(tsField), "yyyy-MM-dd"))
      .withColumn("sTime", date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss"))

  def runFromSource(
      kafkaShaped: DataFrame,
      schema: StructType,
      cfg: PipelineConfig,
      writer: StatementWriter,
      tsField: String,
      keyField: String,
      checkpoint: String,
      dirtySink: Option[(DataFrame, Long) => Unit] = None,
      // evaluated ONCE at sink open — the reference's system.columns
      // lookup slot (pass e.g. () => JdbcCatalogTypes.derby(...));
      // default: no catalog, every column takes its Spark-implied type
      targetTypes: () => Map[String, String] = () => Map.empty,
      dialect: SqlDialect = SqlDialect.ClickHouseLike): StreamingQuery = {
    val sink = new BatchedRetrySink(writer, cfg.sinkMaxRetries, cfg.sinkRetryBackoffMs)
    val types = targetTypes() // sink open: one catalog round-trip
    val write = sink.writeBatch(
      s"${cfg.sinkDatabase}.${cfg.sinkTable}", col(keyField), cfg.windowSize,
      types, dialect) _
    kafkaShaped.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(cfg.triggerIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // two downstream actions (dirty sink + insert write) filter the
        // one parsed frame — persist it so the source read + JSON parse
        // run once per trigger
        val parsed = JsonIngest.parse(batch, schema, cfg)
        parsed.flat.persist()
        try {
          dirtySink.foreach(f => f(parsed.dirty, batchId))
          write(enrich(parsed.valid, tsField), batchId)
        } finally parsed.flat.unpersist()
      }
      .start()
  }

  /** Production wiring: Kafka source from config (needs the kafka
    * connector on the classpath). */
  def run(spark: SparkSession, cfg: PipelineConfig, schema: StructType,
      writer: StatementWriter, tsField: String, keyField: String): StreamingQuery =
    runFromSource(KafkaIngest.readStream(spark, cfg), schema, cfg, writer,
      tsField, keyField, cfg.checkpointLocation)
}

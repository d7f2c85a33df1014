package graft.ingest

import graft.config.PipelineConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON ingest: parse + metadata enrichment + required-field validation
  * with dirty-record routing — the Spark-first re-expression of
  * MyKafkaDeserializationSchema (/root/reference/src/main/scala/
  * MyKafkaDeserializationSchema.scala:17-43, checkAndProcess:44-60).
  *
  * Works on any Kafka-shaped DataFrame (`topic`, `partition`, `offset`,
  * `value`) — batch or streaming — so it's testable without a broker.
  * All parsing is `from_json` (codegen'd), validation is a pushable
  * predicate, and the dirty stream is the complement of the same scan.
  */
object JsonIngest {

  /** `valid` and `dirty` are the two filters of `flat`, the frame
    * after `from_json` and the metadata columns: persisting `flat`
    * makes one parse serve both. */
  final case class Parsed(valid: DataFrame, dirty: DataFrame, flat: DataFrame)

  /** Parse `value` (JSON bytes/string) with `schema`, inject source
    * metadata columns (reference injects topicName/topicOffset/
    * topicPartition/topicGroupId), and split on required fields. */
  def parse(kafkaShaped: DataFrame, schema: StructType, cfg: PipelineConfig): Parsed = {
    // two projections, so two analyses: payload + metadata, then the
    // flattened fields (one select reading `from_json(...).f` per field
    // would leave the parse to be de-duplicated by the optimizer)
    val parsed = kafkaShaped.select(
      from_json(col("value").cast("string"), schema).as("payload"),
      col("topic").as("topicName"),
      col("partition").as("topicPartition"),
      col("offset").as("topicOffset"),
      lit(cfg.groupId).as("topicGroupId"))
    val flat = parsed.select(
      (schema.fieldNames.map(f => col(s"payload.$f").as(f)) ++
        Seq(col("topicName"), col("topicPartition"), col("topicOffset"), col("topicGroupId"))
        ).toIndexedSeq: _*)
    // on flat's own columns (`f` is `payload.f`): a filter naming
    // `payload` would make the analyzer re-project it under the filter,
    // and that plan no longer matches a persisted `flat`
    cfg.requiredFields.foreach(f => require(schema.fieldNames.contains(f.takeWhile(_ != '.')),
      s"check.field names '$f', which is not a field of the payload schema"))
    val required: Column = cfg.requiredFields
      .map(f => col(f).isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    Parsed(
      valid = flat.filter(required),
      dirty = flat.filter(!required),
      flat = flat)
  }
}

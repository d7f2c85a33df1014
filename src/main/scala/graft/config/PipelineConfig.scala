package graft.config

import java.io.FileInputStream
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Typed pipeline configuration — covers the reference's
  * `test.properties` surface (/root/reference/test.properties): Kafka
  * consumer, checkpoint/restart policy, sink target + retry, window
  * size, required-field validation. Keys of that surface with no
  * reader here (`flink.env`, `state.backend`, `clickhouse.stringTypes`)
  * are ignored like any unknown key: the sink's declared column types
  * decide quoting, and the pipeline's query keeps no streaming state.
  */
final case class PipelineConfig(
    // source
    bootstrapServers: String = "localhost:9092",
    topics: Seq[String] = Seq("events"),
    groupId: String = "graft",
    startingOffsets: String = "earliest",
    maxOffsetsPerTrigger: Option[Long] = Some(100000L),
    // validation (reference `check.field`)
    requiredFields: Seq[String] = Seq("cTime", "essCode"),
    // batching (reference `window.size`)
    windowSize: Int = 20,
    // checkpoint / restart (reference checkpoint.* / restart.*)
    checkpointLocation: String = "/tmp/graft-checkpoints",
    triggerIntervalMs: Long = 5000L,
    // sink (reference clickhouse.*)
    sinkDatabase: String = "sink",
    sinkTable: String = "events",
    sinkMaxRetries: Int = 3,
    sinkRetryBackoffMs: Long = 100L)

object PipelineConfig {

  /** Parses the properties; a malformed or out-of-range numeric value
    * fails with its key in the message. */
  def fromProperties(props: Properties): PipelineConfig = {
    val m = props.asScala
    def get(k: String, dflt: String) = m.getOrElse(k, dflt)
    def getList(k: String, dflt: String) =
      get(k, dflt).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // `min` is the smallest legal value: 1 for sizes, 0 for counts/delays
    def long(k: String, dflt: String, min: Long): Long = {
      val v = get(k, dflt).trim
      val n = v.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$k must be an integer >= $min; got '$v'"))
      require(n >= min, s"$k must be an integer >= $min; got $n")
      n
    }
    def int(k: String, dflt: String, min: Int): Int = {
      val n = long(k, dflt, min)
      require(n <= Int.MaxValue, s"$k must be at most ${Int.MaxValue}; got $n")
      n.toInt
    }
    PipelineConfig(
      bootstrapServers = get("kafka.bootstrap.servers", "localhost:9092"),
      topics = getList("kafka.topic", "events"),
      groupId = get("kafka.consumer.groupid", "graft"),
      startingOffsets = get("kafka.auto.offset.reset", "earliest"),
      maxOffsetsPerTrigger = Some(long("kafka.maxOffsetsPerTrigger", "100000", 1)),
      requiredFields = getList("check.field", "cTime,essCode"),
      windowSize = int("window.size", "20", 1),
      checkpointLocation = get("checkpoint.path", "/tmp/graft-checkpoints"),
      triggerIntervalMs = long("checkpoint.interval", "5000", 0),
      sinkDatabase = get("clickhouse.database", "sink"),
      sinkTable = get("clickhouse.table", "events"),
      sinkMaxRetries = int("clickhouse.maxRetries", "3", 0),
      sinkRetryBackoffMs = long("clickhouse.retryBackoffMs", "100", 0))
  }

  def fromFile(path: String): PipelineConfig = {
    val props = new Properties()
    val in = new FileInputStream(path)
    try props.load(in) finally in.close()
    fromProperties(props)
  }
}

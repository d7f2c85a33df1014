package graft.streaming

import graft.config.PipelineConfig
import graft.ingest.JsonIngest
import graft.sinks.{BatchedRetrySink, SqlDialect, StatementWriter}
import graft.sources.KafkaIngest
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.ListMap
import scala.util.Try

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
    * `dayOfYear` = the first 10 characters of the event time (the
    * reference's `substr(cTime, 0, 10)`: plain text, so a present but
    * malformed time never throws the way an implicit timestamp cast
    * does under ANSI mode; for a zero-padded `yyyy-MM-dd HH:mm:ss`
    * time this is its date, while a time with an offset or without
    * padding keeps its text prefix, unconverted), `sTime` =
    * processing wall-clock (`current_timestamp` is stamped once per
    * micro-batch, so it's consistent within a batch — unlike the
    * reference's per-row `getTimeStr`). One projection, so one analysis. */
  def enrich(valid: DataFrame, tsField: String): DataFrame =
    valid.withColumns(ListMap(
      "dayOfYear" -> substring(col(tsField), 1, 10),
      "sTime" -> date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")))

  /** The checkpoint's note of a batch whose write landed in a trigger
    * that then failed: the dirty lane threw, or a stop interrupted the
    * stream thread after the write ended. Spark replays that batch on
    * restart, and the replay skips the write, so its rows land once.
    * Read once, when the query starts; written only by a failing
    * trigger, so a trigger that succeeds does no I/O here. */
  private final class LandedWrite(checkpoint: String, conf: Configuration) {
    private val path = new Path(checkpoint, "graft-landed-write")
    private val fs = path.getFileSystem(conf)
    val batchId: Option[Long] =
      if (!fs.exists(path)) None
      else Try {
        val in = fs.open(path)
        try new String(in.readAllBytes(), UTF_8).trim.toLong finally in.close()
      }.toOption
    def record(id: Long): Unit = {
      val out = fs.create(path, true)
      try out.write(id.toString.getBytes(UTF_8)) finally out.close()
    }
  }

  /** One trigger of [[runFromSource]]: persisted parse, two lanes, no
    * AQE on the stream's session. */
  private def trigger(batch: DataFrame, batchId: Long, schema: StructType,
      cfg: PipelineConfig, tsField: String, dirtySink: Option[(DataFrame, Long) => Unit],
      write: (DataFrame, Long) => Unit, landed: LandedWrite): Unit = {
    val session = batch.sparkSession
    session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    val parsed = JsonIngest.parse(batch, schema, cfg)
    parsed.flat.persist()
    try {
      val sc = session.sparkContext
      val desc = sc.getLocalProperty("spark.job.description")
      def lane(name: String) = Option(desc).fold(name)(d => s"$d · $name")
      val failure = new AtomicReference[Throwable]()
      def fail(e: Throwable): Unit =
        if (!failure.compareAndSet(null, e)) failure.get.addSuppressed(e)
      val dirtyLane = dirtySink.map { f =>
        val t = new Thread(() => {
          sc.setJobDescription(lane("dirty"))
          try f(parsed.dirty, batchId) catch { case e: Throwable => fail(e) }
        }, s"graft-dirty-lane-$batchId")
        t.setDaemon(true)
        t.start()
        t
      }
      val replayed = landed.batchId.contains(batchId)
      val wrote = replayed || {
        sc.setJobDescription(lane("write"))
        try { write(enrich(parsed.valid, tsField), batchId); true }
        catch { case e: Throwable => fail(e); false }
        finally sc.setJobDescription(desc)
      }
      var interrupted = false
      dirtyLane.foreach { t =>
        while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) fail(new InterruptedException(s"stream thread interrupted in batch $batchId"))
      Option(failure.get).foreach { e =>
        if (wrote && !replayed) Try(landed.record(batchId)).failed.foreach(e.addSuppressed)
        throw e
      }
    } finally parsed.flat.unpersist()
  }

  /** Starts the pipeline on a Kafka-shaped stream. A trigger is two
    * Spark jobs, run side by side:
    *
    *  - the source read and JSON parse are persisted once, and both
    *    lanes read that one parse: the dirty sink on a new daemon
    *    thread, the INSERT write on the stream thread. The lane is
    *    joined before the parse is unpersisted;
    *  - the lane thread is made for its batch, not pooled, so it
    *    inherits the batch's local properties: the stream's job group
    *    (a `q.stop()` cancels both lanes' jobs) and the SQL execution
    *    id. Each lane's jobs are described as the engine's batch
    *    description plus ` · dirty` or ` · write`;
    *  - if either lane fails, the trigger fails with the first
    *    failure, the other attached as suppressed. An interrupted
    *    stream thread still waits for the lane before it rethrows, so
    *    the unpersist never races a running lane;
    *  - the write no longer waits for the dirty sink, so it can land
    *    its rows in a trigger that the dirty lane (or a stop) then
    *    fails. Such a trigger notes its batch id in the checkpoint
    *    directory (`graft-landed-write`), and the restart's replay of
    *    that batch runs only the dirty lane: each valid row lands once.
    *    A failing write is replayed whole, as before: the writer keeps
    *    no record of which partitions landed, so their rows can land
    *    again (at-least-once);
    *  - AQE is off on the stream's own session (`batch.sparkSession`,
    *    the per-query clone Structured Streaming makes; the caller's
    *    session is never written). The trigger's plans are
    *    fixed-shape — one scan, one explicitly sized key exchange, one
    *    sort — so AQE has nothing to adapt, while it would split each
    *    stage into a job of its own and re-plan between them. A dirty
    *    sink that shuffles therefore runs at the session's
    *    `spark.sql.shuffle.partitions`, uncoalesced.
    */
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
    val landed = new LandedWrite(checkpoint, kafkaShaped.sparkSession.sparkContext.hadoopConfiguration)
    val write = sink.writeBatch(
      s"${cfg.sinkDatabase}.${cfg.sinkTable}", col(keyField), cfg.windowSize,
      types, dialect) _
    kafkaShaped.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(cfg.triggerIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        trigger(batch, batchId, schema, cfg, tsField, dirtySink, write, landed)
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

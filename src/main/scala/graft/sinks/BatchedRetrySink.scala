package graft.sinks

import org.apache.spark.sql.DataFrame

/** Pluggable statement writer — the seam where a JDBC/ClickHouse/HTTP
  * client plugs in (reference: ClickHouseSink's connection). Must be
  * serializable: it runs inside executor tasks. */
trait StatementWriter extends Serializable {
  /** Write one batch of statements; throw to signal a retryable failure. */
  def write(batchId: Long, statements: Iterator[String]): Unit
}

/** Batched sink with bounded retry + backoff, re-expressing the
  * reference's ClickHouseSink.retryOnFailure (ClickHouseSink.scala:
  * 49-70) for Spark's execution model:
  *
  *  - statement generation is distributed (SqlInsertFormatter);
  *  - writes run per-partition on executors, one task per executor
  *    slot, not on the driver;
  *  - retry is per chunk of at most `ChunkSize` (a fixed 4096)
  *    statements with exponential backoff; exhausting retries
  *    rethrows, failing the task → Spark/Structured Streaming replays
  *    the batch.
  *
  * Delivery is AT-LEAST-ONCE per chunk transaction: a chunk commits as
  * one unit ([[JdbcStatementWriter]]), but nothing records which
  * chunks of a batch already committed — `batchId` reaches the writer
  * and the JDBC writer ignores it — so a batch replayed after a crash
  * between the sink commit and the checkpoint commit writes its rows
  * twice. Effectively-once needs a ledger keyed by (batchId, partition,
  * chunk) in the chunk's transaction (ROADMAP direction 2).
  */
class BatchedRetrySink(
    writer: StatementWriter,
    maxRetries: Int = 3,
    backoffMs: Long = 100L) extends Serializable {

  /** foreachBatch-compatible entry point: format + write one micro-batch.
    * `keyExpr` partitions the batching (reference keyBy(essCode)); a
    * window is at most `batchSize` rows of one key, in source order,
    * and each statement holds whole windows packed up to `batchSize`
    * rows. Formatting costs one hash exchange on the key into
    * `defaultParallelism` partitions and one sort per partition, and
    * the write runs in the same tasks: one per executor slot, since
    * AQE would fold the batch's small shuffle into a single task if
    * the partition count were left to it (see
    * [[SqlInsertFormatter.insertStatements]]). Statements stream
    * through in chunks of `ChunkSize` (the retry unit must be
    * replayable, so each chunk is materialized, but never the whole
    * partition).
    *
    * In [[graft.streaming.Pipeline.runFromSource]] this is one of a
    * trigger's two lanes: it reads the trigger's one persisted parse
    * while the dirty sink reads it on a thread beside it, and AQE is
    * off on the stream's own session, so the write is a single Spark
    * job (map stage and result stage, no re-planning between them).
    * The write may land before the dirty lane fails its trigger; the
    * pipeline then notes the batch in its checkpoint and skips this
    * write when the restart replays it, since `batchId` alone does not
    * make a writer idempotent. */
  def writeBatch(table: String, keyExpr: org.apache.spark.sql.Column, batchSize: Int,
      targetTypes: Map[String, String] = Map.empty,
      dialect: SqlDialect = SqlDialect.ClickHouseLike)(
      df: DataFrame, batchId: Long): Unit = {
    val stmts = SqlInsertFormatter.insertStatements(df, table, keyExpr, batchSize,
      targetTypes, dialect)
    val w = writer
    val (retries, backoff) = (maxRetries, backoffMs)
    stmts.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.map(_.getString(0)).grouped(BatchedRetrySink.ChunkSize).foreach { group =>
        BatchedRetrySink.retryOnFailure(retries, backoff) {
          w.write(batchId, group.iterator)
        }
      }
    }
  }
}

object BatchedRetrySink {
  /** Statements per write call, the retry unit: a fixed bound on the
    * statements a task holds to replay a failed chunk. */
  private val ChunkSize = 4096

  /** Bounded retry with exponential backoff; rethrows after the last
    * attempt so the caller (task) fails loudly — unlike the reference,
    * which swallows the final failure and drops the batch. Fatal errors
    * and interrupts (Spark's task-cancellation signal) propagate
    * immediately instead of sleeping through backoffs. */
  def retryOnFailure[T](maxRetries: Int, backoffMs: Long)(block: => T): T = {
    var attempt = 0
    var result: Option[T] = None
    var lastErr: Throwable = null
    while (result.isEmpty && attempt <= maxRetries) {
      try result = Some(block)
      catch {
        case scala.util.control.NonFatal(e) if !e.isInstanceOf[InterruptedException] =>
          lastErr = e
          attempt += 1
          if (attempt <= maxRetries) Thread.sleep(backoffMs * (1L << (attempt - 1)))
      }
    }
    result.getOrElse(throw lastErr)
  }
}

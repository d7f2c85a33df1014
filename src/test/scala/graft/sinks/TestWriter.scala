package graft.sinks

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

import org.apache.spark.TaskContext

/** In-JVM StatementWriter for local-mode specs: fails the first
  * `failFirst` write attempts (simulating a flaky downstream), then
  * records statements and the partition of the task that wrote them.
  * Local-mode only (executors share the JVM).
  */
object TestWriter extends StatementWriter {
  val attempts = new AtomicInteger(0)
  @volatile private var failFirst = 0
  private val store = TrieMap.empty[Int, Vector[String]]
  private val partitions = TrieMap.empty[Int, Unit]

  def reset(failFirst: Int): Unit = {
    this.failFirst = failFirst
    attempts.set(0)
    store.clear()
    partitions.clear()
  }

  /** Lets every later write through, keeping what already landed. */
  def heal(): Unit = failFirst = 0

  def statements: Vector[String] = store.values.toVector.flatten

  /** Partition ids of the tasks whose writes succeeded. */
  def writerPartitions: Set[Int] = partitions.keySet.toSet

  override def write(batchId: Long, stmts: Iterator[String]): Unit = {
    val n = attempts.incrementAndGet()
    val materialized = stmts.toVector
    if (n <= failFirst) throw new RuntimeException(s"transient failure $n")
    store.put(n, materialized)
    Option(TaskContext.get()).foreach(t => partitions.put(t.partitionId(), ()))
  }
}

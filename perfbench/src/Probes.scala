package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.StatementWriter
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest whole percentile that leaves at least ten samples
    * beyond it (p97 for 451 samples, p90 for 100). */
  def tailPercentile(n: Int): Int =
    math.max(50, math.floor(100.0 * (n - 10) / math.max(n, 1)).toInt)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Reads the first value of every `(...)` tuple of a multi-row
  * `INSERT ... VALUES (..),(..)` statement in the ANSI dialect (single
  * quotes delimit strings; a doubled quote is a literal quote). The
  * benchmark's sink table puts the generator stamp first, so this
  * yields one stamp per committed row. */
object TupleScan {
  def firstValues(stmt: String): Array[Long] = {
    val out = mutable.ArrayBuilder.make[Long]
    var i = stmt.indexOf(" VALUES ")
    if (i < 0) return Array.emptyLongArray
    i += 8
    var depth = 0
    var inQuote = false
    var capture = -1
    val n = stmt.length
    while (i < n) {
      val c = stmt.charAt(i)
      if (inQuote) {
        if (c == '\'') {
          if (i + 1 < n && stmt.charAt(i + 1) == '\'') i += 1 else inQuote = false
        }
      } else c match {
        case '\'' => inQuote = true
        case '(' =>
          depth += 1
          if (depth == 1) capture = i + 1
        case ',' if depth == 1 && capture >= 0 =>
          out += stmt.substring(capture, i).trim.toLong
          capture = -1
        case ')' =>
          if (depth == 1 && capture >= 0) {
            out += stmt.substring(capture, i).trim.toLong
            capture = -1
          }
          depth -= 1
        case _ =>
      }
      i += 1
    }
    out.result()
  }
}

/** One sink write call as seen by [[ClockWriter]]: its start and commit
  * times and the generator stamp of every row it committed. */
final case class WriteRecord(startNs: Long, endNs: Long, stamps: Array[Long])

/** JVM-wide record of sink writes. Spark runs `local[n]`, so the
  * writer's task-side copies and the benchmark share this object. */
object Clock {
  val writes = new ConcurrentLinkedQueue[WriteRecord]()
  val failedAttempts = new AtomicLong()
  val dirtyRows = new AtomicLong()

  def reset(): Unit = {
    writes.clear(); failedAttempts.set(0); dirtyRows.set(0)
  }

  def all: Seq[WriteRecord] = writes.asScala.toSeq

  def committedRows: Long = writes.asScala.iterator.map(_.stamps.length.toLong).sum
}

/** Wraps the program's statement writer and stamps each call's commit:
  * the call returns only after the sink transaction committed, so the
  * end time is the commit time of every row in its statements. */
class ClockWriter(inner: StatementWriter) extends StatementWriter {
  override def write(batchId: Long, statements: Iterator[String]): Unit = {
    val stmts = statements.toArray
    val t0 = System.nanoTime()
    try inner.write(batchId, stmts.iterator)
    catch {
      case e: Throwable =>
        Clock.failedAttempts.incrementAndGet()
        throw e
    }
    val t1 = System.nanoTime()
    Clock.writes.add(WriteRecord(t0, t1, stmts.flatMap(TupleScan.firstValues)))
  }
}

/** Keeps every micro-batch progress report. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def batches: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(_.batchId)
  def reset(): Unit = progress.clear()
}

/** One finished SQL execution's planning phases (ms) and the time spent
  * in the engine's own optimizer rules (classes under `graft.`). */
final case class PlanRecord(endMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, graftRulesNs: Long)

/** Job intervals, task metric totals and SQL-execution planning phases. */
final class SparkProbe extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  val plans = mutable.ArrayBuffer.empty[PlanRecord]
  val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add("sched.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult).toDouble)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.deserialize_ms", m.executorDeserializeTime.toDouble)
      add("exec.task_gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  /** SQL execution ends carry their QueryExecution in a field that is
    * package-private in Scala but public in bytecode. */
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (e.getClass.getName == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd") {
      val qe = e.getClass.getMethod("qe").invoke(e)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      val time = e.getClass.getMethod("time").invoke(e).asInstanceOf[Long]
      if (qe != null) {
        val t = qe.tracker
        def phase(name: String): Long = t.phases.get(name).map(_.durationMs).getOrElse(0L)
        val graftNs = t.rules.iterator.collect {
          case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
        }.sum
        val rec = PlanRecord(time, phase("analysis"), phase("optimization"),
          phase("planning"), graftNs)
        synchronized { plans += rec }
      }
    }

  /** Wall ms covered by at least one job inside [from, to]. */
  def jobWallMs(from: Long, to: Long): Long = synchronized {
    val spans = jobs.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def plansIn(from: Long, to: Long): Seq[PlanRecord] = synchronized {
    plans.filter(p => p.endMs >= from && p.endMs <= to).toSeq
  }
}

/** Generated-class compilations, from Spark's codegen metric source. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(compilations: Long, compileMs: Double, classes: Long)

  /** The histograms keep every value until 1028 samples; past that the
    * compile time is estimated as the sampled mean times the count. */
  def snap(): Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val ms = if (h.getCount <= 1028) s.getValues.map(_.toDouble).sum else s.getMean * h.getCount
    Snap(h.getCount, ms, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}

object Host {
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def loadAvg1m(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  }
}

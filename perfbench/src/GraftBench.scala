package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{CachedPlans, GraftSession, SparkEntry}
import graft.config.PipelineConfig
import graft.ingest.JsonIngest
import graft.operators.SharedIndexes
import graft.sinks.{JdbcCatalogTypes, JdbcStatementWriter, SqlDialect, SqlInsertFormatter, StatementWriter}
import graft.streaming.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: one workload per process, driven by
  * `perfbench/run.py`, which generates the inputs, builds the classes
  * and prints the result line. Writes one JSON object to `--out`:
  * `correct`, `attempted`, `failed` and a flat `metrics` map (all
  * end-to-end metrics, plus the per-layer ones when `--trace 1`).
  *
  * Workloads (BENCHMARK.json records why each exists):
  *  - `ingest`: the reference pipeline into embedded in-memory Derby (no
  *    flush), draining a backlog (closed loop), then fed by a generator
  *    thread on a fixed schedule (open loop), then draining a second
  *    backlog.
  *  - `query_surface`: a fixed sample of `SparkEntry.queries`, each run
  *    once into a checksum sink in seed-shuffled order.
  */
object GraftBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, data: String, run: String, out: String, setups: Int, mode: String,
      queries: Seq[String], order: Int, prints: String, raw: Map[String, String]) {
    // the ingest workload's arguments, required when it runs
    def warmupS: Double = raw("warmup").toDouble
    def pacedMaxFiles: Int = raw("paced-max-files").toInt
    def pacedTriggerMs: Long = raw("paced-trigger-ms").toLong
  }

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("data"), m("run"), m("out"), m("setups").toInt,
      m.getOrElse("mode", "bench"),
      m.get("queries").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      m.getOrElse("order", "1").toInt, m.getOrElse("prints", ""), m)
  }

  private val mapper = new ObjectMapper()
  private def readJson(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  /** Result of one workload run. */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      metrics: mutable.LinkedHashMap[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val gc0 = Host.gcMs()
    val out = a.workload match {
      case "ingest" => Ingest.run(a)
      case "query_surface" if a.mode == "fingerprint" => Surface.makePrints(a)
      case "query_surface" => Surface.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    out.metrics("peak_rss_mb") = Host.peakRssMb()
    if (a.trace) out.metrics("jvm.gc_ms") = Host.gcMs() - gc0
    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs load1m=${Host.loadAvg1m()}%.2f " +
      s"nproc=${Runtime.getRuntime.availableProcessors()}")
    val metrics = out.metrics.map { case (k, v) => s"${mapper.writeValueAsString(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(a.out),
      s"""{"correct":${out.correct},"attempted":${out.attempted},"failed":${out.failed},"metrics":$metrics}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  // ------------------------------------------------------------ common

  /** A session with the engine's standard configuration, its local and
    * index-store directories under this run's private directory. */
  def session(a: Args, cores: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${a.run}/spark-local")
      .config("spark.graft.index.store.dir", s"${a.run}/index-store")
      .config("spark.sql.warehouse.dir", s"${a.run}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `one` `n` times (stopping every result but the last) and
    * returns the last result with the median duration in seconds. */
  def setUp[T](n: Int)(one: Int => T)(teardown: T => Unit): (T, Double, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (k <- 1 to n) {
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(one(k))
      times += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-ups: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (last.get, Stats.median(times.toSeq), times.toSeq)
  }

  def endToEnd(setupS: Double, perS: Double, latencies: Seq[Double]): mutable.LinkedHashMap[String, Double] = {
    val tail = Stats.tailPercentile(latencies.size)
    System.err.println(s"[perfbench] latency samples=${latencies.size} tail=p$tail")
    mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "throughput_per_s" -> perS,
      "latency_ms_p50" -> Stats.median(latencies),
      "latency_ms_tail" -> Stats.percentile(latencies, tail))
  }

  /** Per-layer metrics of the Spark listener: task totals and codegen
    * deltas since the probe was attached and `cg0` taken (so callers run
    * nothing else in between), planning phases within the given work
    * windows (epoch ms), and the wall time of the windows not covered by
    * planning or by a running job. */
  def sparkLayers(probe: SparkProbe, windows: Seq[(Long, Long)],
      cg0: Codegen.Snap, m: mutable.LinkedHashMap[String, Double]): Unit = {
    val cg = Codegen.snap()
    m("codegen.compile_ms") = cg.compileMs - cg0.compileMs
    m("codegen.compilations") = (cg.compilations - cg0.compilations).toDouble
    m("codegen.classes") = (cg.classes - cg0.classes).toDouble
    Seq("sched.jobs", "sched.stages", "sched.tasks", "sched.scheduler_delay_ms",
      "exec.task_run_ms", "exec.task_cpu_ms", "exec.deserialize_ms", "exec.task_gc_ms",
      "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.fetch_wait_ms",
      "shuffle.spill_bytes", "sources.input_bytes").foreach(k => m(k) = probe.totals(k))
    var wall, plansMs, jobsMs = 0.0
    val plans = mutable.ArrayBuffer.empty[PlanRecord]
    windows.foreach { case (from, to) =>
      val p = probe.plansIn(from, to)
      plans ++= p
      wall += to - from
      plansMs += p.map(r => r.analysisMs + r.optimizationMs + r.planningMs).sum
      jobsMs += probe.jobWallMs(from, to)
    }
    m("plans.executions") = plans.size.toDouble
    m("plans.analysis_ms") = plans.map(_.analysisMs).sum.toDouble
    m("plans.optimization_ms") = plans.map(_.optimizationMs).sum.toDouble
    m("plans.planning_ms") = plans.map(_.planningMs).sum.toDouble
    m("plans.graft_rules_ms") = plans.map(_.graftRulesNs).sum / 1e6
    m("driver.wall_ms") = wall
    m("driver.jobs_wall_ms") = jobsMs
    m("driver.residual_ms") = wall - plansMs - jobsMs
    m("driver.residual_frac") = if (wall > 0) (wall - plansMs - jobsMs) / wall else 0.0
  }

  def sparkProbe(s: SparkSession): SparkProbe = {
    val p = new SparkProbe
    s.sparkContext.addSparkListener(p)
    p
  }

  // ------------------------------------------------------------ ingest

  object Ingest {
    val kafkaSchema: StructType = StructType(Seq(
      StructField("topic", StringType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("value", BinaryType)))

    /** JSON payload; `gen_us` (the generator stamp) is first so every
      * INSERT tuple starts with it. */
    val payloadSchema: StructType = StructType(Seq(
      StructField("gen_us", LongType), StructField("event_id", LongType),
      StructField("cTime", StringType), StructField("essCode", StringType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))

    val windowSize = 20

    val cfg: PipelineConfig = PipelineConfig(windowSize = windowSize, triggerIntervalMs = 0L,
      sinkDatabase = "APP", sinkTable = "EV")

    private val ddl =
      """CREATE TABLE APP.EV (gen_us BIGINT, event_id BIGINT, cTime VARCHAR(19),
        |essCode VARCHAR(8), event_type VARCHAR(10), value DOUBLE, props VARCHAR(120),
        |topicName VARCHAR(10), topicPartition INTEGER, topicOffset BIGINT,
        |topicGroupId VARCHAR(10), dayOfYear VARCHAR(10), sTime VARCHAR(19))""".stripMargin

    def url(name: String): String = s"jdbc:derby:memory:$name;create=true"

    /** Creates an in-memory Derby database with the sink table and runs
      * the sink-open catalog lookup once. */
    def createSink(name: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url(name))
      try {
        val st = c.createStatement()
        try st.execute(ddl) finally st.close()
      } finally c.close()
      JdbcCatalogTypes.derby(url(name), "APP", "EV")
    }

    def dropSink(name: String): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

    /** The generator's expected outcome; a backlog's first `warmFiles`
      * files warm the pipeline and are not timed. */
    final case class Expected(rows: Long, valid: Long, dirty: Long, keySum: Long, contentSum: Long,
        warmFiles: Int)

    def expected(dir: String): Expected = {
      val j = readJson(s"$dir/expected.json")
      Expected(j.get("rows").asLong, j.get("valid").asLong, j.get("dirty").asLong,
        java.lang.Long.parseUnsignedLong(j.get("key_sum").asText),
        java.lang.Long.parseUnsignedLong(j.get("content_sum").asText), j.get("warm_files").asInt)
    }

    private def h64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }

    /** Compares the sink table with the generator's expected outcome.
      * Returns the number of rows that were lost, duplicated, altered
      * or misrouted (0 when the table holds exactly the valid rows). */
    def checkSink(name: String, exp: Expected, dirtySeen: Long): Long = {
      val c = java.sql.DriverManager.getConnection(url(name))
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT gen_us, event_id, cTime, essCode, event_type, value, props, topicName,
            |topicPartition, topicOffset, topicGroupId, dayOfYear FROM APP.EV""".stripMargin)
        var n, keySum, contentSum = 0L
        val keys = new java.util.HashSet[(Int, Long)]()
        while (rs.next()) {
          n += 1
          val (part, off) = (rs.getInt(9), rs.getLong(10))
          keys.add((part, off))
          keySum += h64(s"$part:$off")
          contentSum += h64(Seq(rs.getLong(1), rs.getLong(2), rs.getString(3), rs.getString(4),
            rs.getString(5), math.round(rs.getDouble(6) * 100), rs.getString(7), rs.getString(8),
            part, off, rs.getString(11), rs.getString(12)).mkString("|"))
        }
        val missing = math.max(0L, exp.valid - keys.size)
        val duplicated = n - keys.size
        val extra = math.max(0L, keys.size - exp.valid)
        val misrouted = math.abs(dirtySeen - exp.dirty)
        val bad = missing + duplicated + extra + misrouted
        val sumsOk = keySum == exp.keySum && contentSum == exp.contentSum
        if (bad > 0 || !sumsOk)
          System.err.println(s"[perfbench] sink check: rows=$n distinct=${keys.size} " +
            s"expected=${exp.valid} dirty=$dirtySeen/${exp.dirty} sums_ok=$sumsOk")
        if (bad == 0 && !sumsOk) 1L else bad
      } finally c.close()
    }

    /** A trigger reports its progress after its sink commit; waits (at
      * most 10 s) until the reports cover `rows` input rows, so stopping
      * the query cannot drop the last batch's report. */
    def awaitProgress(streams: StreamProbe, rows: Long,
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (streams.batches.map(_.numInputRows).sum < rows && q.isActive &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }

    /** Starts the reference pipeline on `src` into the named sink. */
    def start(s: SparkSession, src: String, sink: String, ckpt: String, maxFiles: Int,
        writer: StatementWriter, cfg: PipelineConfig = cfg) =
      Pipeline.runFromSource(
        s.readStream.schema(kafkaSchema).option("maxFilesPerTrigger", maxFiles.toString)
          .parquet(src),
        payloadSchema, cfg, writer, tsField = "cTime", keyField = "essCode",
        checkpoint = ckpt,
        dirtySink = Some((df: DataFrame, _: Long) => { Clock.dirtyRows.addAndGet(df.count()); () }),
        targetTypes = () => JdbcCatalogTypes.derby(url(sink), "APP", "EV"),
        dialect = SqlDialect.Ansi)

    private def setUpIngest(a: Args, cores: Int): (SparkSession, Double) = {
      val ((s, _), setupS, _) = setUp(a.setups) { k =>
        val sink = s"setup$k"
        createSink(sink)
        (session(a, cores), sink)
      } { case (s, sink) => s.stop(); dropSink(sink) }
      dropSink(s"setup${a.setups}")
      (s, setupS)
    }

    final case class DrainRun(failed: Long,
        batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        window: (Long, Long))

    /** Drains the files under `src` into a fresh sink; when `exp` is
      * given, checks the sink against it. */
    def drainOnce(a: Args, s: SparkSession, src: String, sink: String, exp: Option[Expected],
        streams: StreamProbe, traced: Boolean): DrainRun = {
      createSink(sink)
      Clock.reset()
      streams.reset()
      val writer = new JdbcStatementWriter(url(sink))
      val w0 = System.currentTimeMillis()
      val q = start(s, src, sink, s"${a.run}/ckpt-$sink", 1,
        if (traced) new ClockWriter(writer) else writer)
      try {
        q.processAllAvailable()
        awaitProgress(streams, exp.map(_.rows).getOrElse(0L), q)
      } finally q.stop()
      val w1 = System.currentTimeMillis()
      org.apache.spark.perfbench.BusDrain(s.sparkContext)
      val batches = streams.batches
      val rowsIn = batches.map(_.numInputRows).sum
      val failed = exp.map(e => checkSink(sink, e, Clock.dirtyRows.get()) + math.abs(rowsIn - e.rows))
      dropSink(sink)
      DrainRun(failed.getOrElse(0L), batches, (w0, w1))
    }

    def triggerMs(b: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      b.durationMs.get("triggerExecution").toDouble

    /** Copies `files` into a new directory, keeping their modification
      * times (the file source's order). */
    def copyFiles(files: Seq[String], to: String): String = {
      Files.createDirectories(Paths.get(to))
      files.foreach(f => Files.copy(Paths.get(f), Paths.get(to).resolve(Paths.get(f).getFileName),
        StandardCopyOption.COPY_ATTRIBUTES))
      to
    }

    def backlogFiles(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

    /** One phase's outcome: its timed micro-batches (drain) or latency
      * samples (paced), work window (epoch ms), rows generated and rows
      * that failed the sink check. */
    final case class Phase(timed: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        samples: Seq[Double], window: (Long, Long), rows: Long, failed: Long)

    /** The `ingest` workload, in one JVM and session: a drain, the paced
      * phase, then a second, shorter drain. `throughput_per_s` comes from
      * the timed batches of both drains, which lie about 20 s apart, so a
      * passing slowdown of the host weighs on fewer of them; the latency
      * metrics come from the paced phase. */
    def run(a: Args): Outcome = {
      val (s, setupS) = setUpIngest(a, a.cores)
      val streams = new StreamProbe
      s.streams.addListener(streams)
      val probe = if (a.trace) Some(sparkProbe(s)) else None
      val cg0 = Codegen.snap()
      val layers = mutable.LinkedHashMap.empty[String, Double]
      val drain = drainPhase(a, s, streams, "backlog", if (a.trace) Some(layers) else None)
      val paced = pacedPhase(a, s, streams, layers)
      val drain2 = drainPhase(a, s, streams, "backlog2", None)
      val timed = drain.timed ++ drain2.timed
      val m = endToEnd(setupS, rowsPerS(timed), paced.samples)
      if (a.trace) {
        m ++= layers
        sparkLayers(probe.get, Seq(drain.window, paced.window, drain2.window), cg0, m)
        // after sparkLayers has read its figures, so the replay's jobs and
        // compilations stay out of them
        replayLayers(s, Seq("backlog", "backlog2").flatMap(d =>
          backlogFiles(s"${a.data}/$d/files").drop(expected(s"${a.data}/$d").warmFiles)), m)
        s.stop()
        // the single-threaded baseline of the same job, on a shorter
        // backlog: the JVM is warm, so one small file warms the new
        // session and three timed files follow
        val s1 = session(a, 1)
        s1.streams.addListener(streams)
        val files = backlogFiles(s"${a.data}/backlog/files")
        val base = drainOnce(a, s1, copyFiles(files.take(1) ++
          files.drop(expected(s"${a.data}/backlog").warmFiles).take(3), s"${a.run}/local1-src"),
          "local1", None, streams, traced = false)
        m("streaming.local1_rows_per_s") = rowsPerS(base.batches.drop(1))
        s1.stop()
      } else s.stop()
      val failed = drain.failed + paced.failed + drain2.failed
      Outcome(failed == 0, drain.rows + paced.rows + drain2.rows, failed, m)
    }

    /** Input rows per second of trigger time, over the given batches. */
    def rowsPerS(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Double =
      batches.map(_.numInputRows).sum / math.max(batches.map(triggerMs).sum, 1.0) * 1000

    /** Closed loop: drains the backlog under `data/<name>`, one file per
      * micro-batch; its first `warmFiles` batches fill the JIT and
      * codegen caches and the rest are timed. With `layers`, the run is
      * traced and its write and routing counts are recorded. */
    def drainPhase(a: Args, s: SparkSession, streams: StreamProbe, name: String,
        layers: Option[mutable.LinkedHashMap[String, Double]]): Phase = {
      val exp = expected(s"${a.data}/$name")
      val files = s"${a.data}/$name/files"
      val run = drainOnce(a, s, files, name, Some(exp), streams, layers.nonEmpty)
      val timed = run.batches.drop(exp.warmFiles)
      System.err.println(s"[perfbench] $name: ${run.batches.size} batches, " +
        s"${(run.window._2 - run.window._1) / 1000.0}s, rows/trigger ms: " +
        run.batches.map(b => s"${b.numInputRows}/${triggerMs(b).toLong}").mkString(","))
      layers.foreach { m =>
        ingestCounts(run.batches, m)
        writeLayers(run.batches.size, m)
      }
      Phase(timed, Nil, run.window, exp.rows, run.failed)
    }

    /** Open loop: a generator thread publishes the paced files on their
      * schedule and never waits for the pipeline. Samples: each record's
      * latency from its scheduled creation to its sink commit. */
    def pacedPhase(a: Args, s: SparkSession, streams: StreamProbe,
        layers: mutable.LinkedHashMap[String, Double]): Phase = {
      val dir = s"${a.data}/paced"
      val exp = expected(dir)
      val sched = readJson(s"$dir/schedule.json")
      val publishUs = sched.get("publish_us").elements().asScala.map(_.asLong).toIndexedSeq
      val staged = backlogFiles(s"$dir/files")
      require(staged.size == publishUs.size, "schedule and files disagree")
      val sink = "paced"
      createSink(sink)
      streams.reset()
      Clock.reset()
      val src = Paths.get(a.run, "paced-src")
      Files.createDirectories(src)
      val w0 = System.currentTimeMillis()
      val q = start(s, src.toString, sink, s"${a.run}/ckpt-paced", a.pacedMaxFiles,
        new ClockWriter(new JdbcStatementWriter(url(sink))),
        cfg.copy(triggerIntervalMs = a.pacedTriggerMs))
      val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val published = new java.util.concurrent.atomic.AtomicLong()
      val rowsPerFile = exp.rows.toDouble / staged.size
      val backlogMax = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val gen = new Thread(() => {
        staged.zip(publishUs).foreach { case (f, us) =>
          val due = t0 + us * 1000
          var now = System.nanoTime()
          while (now < due) {
            java.util.concurrent.locks.LockSupport.parkNanos(due - now)
            now = System.nanoTime()
          }
          val name = Paths.get(f).getFileName.toString
          val hidden = src.resolve(s".$name") // the file source skips dot files
          Files.copy(Paths.get(f), hidden)
          Files.move(hidden, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          lateMs.add((System.nanoTime() - due) / 1e6)
          published.incrementAndGet()
          val backlog = math.round(published.get() * rowsPerFile) -
            Clock.committedRows - Clock.dirtyRows.get()
          backlogMax.accumulateAndGet(backlog, math.max)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // let the pipeline finish the tail, bounded
      val deadline = System.nanoTime() + 60L * 1000000000L
      def done = Clock.committedRows >= exp.valid && Clock.dirtyRows.get() >= exp.dirty
      while (!done && System.nanoTime() < deadline && q.isActive) Thread.sleep(20)
      awaitProgress(streams, exp.rows, q)
      q.stop()
      val w1 = System.currentTimeMillis()
      org.apache.spark.perfbench.BusDrain(s.sparkContext)
      val warmUs = (a.warmupS * 1e6).toLong
      val latencies = Clock.all.flatMap(w => w.stamps.iterator.filter(_ >= warmUs)
        .map(st => (w.endNs - (t0 + st * 1000)) / 1e6))
      val batches = streams.batches
      val rowsIn = batches.map(_.numInputRows).sum
      val failed = checkSink(sink, exp, Clock.dirtyRows.get()) + math.abs(rowsIn - exp.rows)
      dropSink(sink)
      val late = lateMs.asScala.toSeq
      System.err.println(f"[perfbench] paced: ${batches.size} batches, generator late ms " +
        f"p50=${Stats.median(late)}%.2f max=${late.maxOption.getOrElse(0.0)}%.2f, rows/trigger ms: " +
        batches.map(b => s"${b.numInputRows}/${triggerMs(b).toLong}").mkString(","))
      if (a.trace) {
        layers("bench.generator_late_ms_p50") = Stats.median(late)
        layers("bench.generator_late_ms_max") = late.maxOption.getOrElse(0.0)
        streamingLayers(batches, layers)
        layers("sources.backlog_rows_max") = backlogMax.get().toDouble
      }
      Phase(Nil, latencies, (w0, w1), exp.rows, failed)
    }

    /** Micro-batch layer metrics from the progress reports: per-batch
      * means of each phase of a trigger. */
    def streamingLayers(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        m: mutable.LinkedHashMap[String, Double]): Unit = {
      def meanOf(k: String): Double =
        Stats.mean(batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      m("streaming.batches") = batches.size.toDouble
      m("streaming.rows_per_batch") = Stats.mean(batches.map(_.numInputRows.toDouble))
      m("streaming.trigger_ms") = meanOf("triggerExecution")
      m("streaming.query_planning_ms") = meanOf("queryPlanning")
      m("streaming.add_batch_ms") = meanOf("addBatch")
      m("streaming.wal_commit_ms") = meanOf("walCommit")
      m("streaming.commit_offsets_ms") = meanOf("commitOffsets")
      m("sources.latest_offset_ms") = meanOf("latestOffset")
      m("sources.get_batch_ms") = meanOf("getBatch")
    }

    /** Rows in, routed valid and routed dirty by the pipeline. */
    def ingestCounts(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        m: mutable.LinkedHashMap[String, Double]): Unit = {
      val rows = batches.map(_.numInputRows).sum.toDouble
      val dirty = Clock.dirtyRows.get().toDouble
      m("ingest.rows_in") = rows
      m("ingest.rows_dirty") = dirty
      m("ingest.rows_valid") = rows - dirty
      m("ingest.valid_ratio") = if (rows > 0) (rows - dirty) / rows else 0.0
    }

    /** Sink write-call metrics from the [[ClockWriter]] records. */
    def writeLayers(nBatches: Int, m: mutable.LinkedHashMap[String, Double]): Unit = {
      val w = Clock.all
      val ms = w.map(r => (r.endNs - r.startNs) / 1e6)
      m("sinks.write_calls") = w.size.toDouble
      m("sinks.write_busy_ms") = ms.sum / math.max(1, nBatches)
      m("sinks.write_ms_p50") = Stats.median(ms)
      m("sinks.write_concurrency") = w.size.toDouble / math.max(1, nBatches)
      m("sinks.write_failed_attempts") = Clock.failedAttempts.get().toDouble
      m("sinks.write_rows_committed") = Clock.committedRows.toDouble
    }

    /** Replays the pipeline's stages on the timed files, one file per
      * batch as the stream ran, splitting `add_batch_ms`: source read,
      * `JsonIngest.parse`, `Pipeline.enrich` and
      * `SqlInsertFormatter.insertStatements`, each materialized on the
      * previous stage's cached output. Per-batch means. */
    def replayLayers(s: SparkSession, files: Seq[String],
        m: mutable.LinkedHashMap[String, Double]): Unit = {
      var readMs, parseMs, enrichMs, formatMs = 0.0
      var statements, bytes, tuples = 0L
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e6)
      }
      files.foreach { f =>
        val raw = s.read.schema(kafkaSchema).parquet(f).cache()
        readMs += timed(raw.count())._2
        val p = JsonIngest.parse(raw, payloadSchema, cfg)
        val valid = p.valid.cache()
        val dirty = p.dirty.cache()
        parseMs += timed { valid.count(); dirty.count() }._2
        val enriched = Pipeline.enrich(valid, "cTime").cache()
        enrichMs += timed(enriched.count())._2
        val (stmts, fms) = timed(SqlInsertFormatter.insertStatements(enriched, "APP.EV",
          col("essCode"), windowSize, Map.empty, SqlDialect.Ansi).collect().map(_.getString(0)))
        formatMs += fms
        statements += stmts.length
        bytes += stmts.map(_.length.toLong).sum
        tuples += stmts.map(TupleScan.firstValues(_).length.toLong).sum
        Seq(enriched, dirty, valid, raw).foreach(_.unpersist(blocking = true))
      }
      val n = math.max(1, files.size).toDouble
      m("sources.read_ms") = readMs / n
      m("ingest.parse_ms") = parseMs / n
      m("ingest.enrich_ms") = enrichMs / n
      m("sinks.format_ms") = formatMs / n
      m("sinks.format_statements") = statements / n
      m("sinks.format_rows_per_statement") = if (statements > 0) tuples.toDouble / statements else 0.0
      m("sinks.format_window_size") = windowSize.toDouble
      m("sinks.format_statement_bytes") = if (statements > 0) bytes.toDouble / statements else 0.0
    }
  }

  // ------------------------------------------------------------ surface

  object Surface {
    final case class Print(rows: Long, schema: String, hash: String)

    /** The surface's sink: consumes every column of every row and returns
      * the row count, the schema and an order-insensitive hash (sum of
      * the low 32 bits and xor of each row's xxhash64 over its JSON
      * rendering). Like `noop`, it forces the whole plan to run. */
    def fingerprint(df: DataFrame): Print = {
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val h = xxhash64(to_json(struct(named.columns.map(col).toIndexedSeq: _*)))
      val r = named.select(h.as("h"))
        .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h")))
        .collect().head
      Print(r.getLong(0), df.schema.catalogString,
        s"${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}")
    }

    def matches(got: Print, want: JsonNode): Boolean =
      want != null && got.rows == want.get("rows").asLong &&
        got.schema == want.get("schema").asText &&
        (!want.get("stable").asBoolean || got.hash == want.get("hash").asText)

    /** The first set-up builds every shared index cold and saves it to
      * the run's index store; each later one starts a fresh session that
      * serves the indexes from that store. */
    private def setUpSurface(a: Args): (SparkSession, Double, Seq[Double], Seq[Seq[(String, Double)]]) = {
      val builds = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      val (s, setupS, times) = setUp(a.setups) { k =>
        val s = session(a, a.cores)
        SharedIndexes.drainBuildLog()
        SharedIndexes.materializeAll(s, s"${a.data}/corpus")
        builds += SharedIndexes.drainBuildLog()
        s
      } { s => CachedPlans.clear(s); s.stop() }
      (s, setupS, times, builds.toSeq)
    }

    /** Each query of the fixed sample runs once, in seed-shuffled order,
      * after set-up has built the shared indexes; its one execution is
      * both timed and checked against its reference fingerprint. */
    def run(a: Args): Outcome = {
      val corpus = s"${a.data}/corpus"
      val expected = readJson(s"${a.data}/fingerprints.json")
      val names = new scala.util.Random(a.seed).shuffle(a.queries)
      val fns = SparkEntry.queries
      val (s, setupS, setupTimes, builds) = setUpSurface(a)
      val probe = if (a.trace) Some(sparkProbe(s)) else None
      val cg0 = Codegen.snap()
      val times = mutable.ArrayBuffer.empty[Double]
      val windows = mutable.ArrayBuffer.empty[(Long, Long)]
      var failed = 0L
      val t0 = System.nanoTime()
      names.foreach { name =>
        s.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
        val w0 = System.currentTimeMillis()
        val q0 = System.nanoTime()
        val ok =
          try matches(fingerprint(fns(name)(s, corpus)), expected.get(name))
          catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
              false
          }
        times += (System.nanoTime() - q0) / 1e6
        windows += ((w0, System.currentTimeMillis()))
        if (!ok) {
          failed += 1
          System.err.println(s"[perfbench] $name: output does not match its fingerprint")
        }
      }
      val surfaceS = (System.nanoTime() - t0) / 1e9
      s.sparkContext.clearJobGroup()
      val m = endToEnd(setupS, names.size / surfaceS, times.toSeq)
      System.err.println(f"[perfbench] surface: ${names.size} queries in $surfaceS%.2fs")
      if (a.trace) {
        org.apache.spark.perfbench.BusDrain(s.sparkContext)
        sparkLayers(probe.get, windows.toSeq, cg0, m)
        val cold = builds.head.toMap
        SharedIndexes.entries(s, corpus).foreach { case (k, _) =>
          m(s"index.build_s.$k") = cold.getOrElse(k, 0.0)
        }
        m("index.build_wall_s") = setupTimes.head
        m("index.serve_wall_s") = Stats.median(setupTimes.tail)
      }
      CachedPlans.clear(s)
      s.stop()
      Outcome(failed == 0, names.size.toLong, failed, m)
    }

    /** Writes every query's time and fingerprint on the fixed corpus to
      * `--prints`, for `fingerprints.py`. */
    def makePrints(a: Args): Outcome = {
      val corpus = s"${a.data}/corpus"
      val s = session(a, a.cores)
      SharedIndexes.materializeAll(s, corpus)
      val sorted = SparkEntry.queries.keys.toSeq.sorted
      val names = if (a.order < 0) sorted.reverse else sorted
      val fns = SparkEntry.queries
      val lines = names.map { name =>
        val q0 = System.nanoTime()
        val res =
          try {
            val p = fingerprint(fns(name)(s, corpus))
            val ms = (System.nanoTime() - q0) / 1e6
            Map("rows" -> p.rows.toString, "schema" -> mapper.writeValueAsString(p.schema),
              "hash" -> mapper.writeValueAsString(p.hash), "ms" -> ms.toString)
          } catch {
            case e: Throwable =>
              Map("error" -> mapper.writeValueAsString(String.valueOf(e.getMessage).take(300)))
          }
        s"${mapper.writeValueAsString(name)}:${res.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}"
      }
      Files.writeString(Paths.get(a.prints), lines.mkString("{\n", ",\n", "\n}\n"))
      s.stop()
      Outcome(correct = true, names.size.toLong, 0L, mutable.LinkedHashMap.empty)
    }
  }
}

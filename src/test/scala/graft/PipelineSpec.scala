package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.config.PipelineConfig
import graft.sinks.TestWriter
import graft.streaming.Pipeline
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end drive of the composed reference pipeline:
  * Kafka-shaped JSON stream → parse/validate/enrich → keyed batching →
  * retrying INSERT sink, with checkpoint recovery across restarts. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts", StringType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** events rows → Kafka-shaped JSON records; every 10th record drops
    * user_id (dirty per required-field validation). */
  private def kafkaShapedBatch(): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sf)
    val payload = struct(
      col("event_id"),
      when(col("event_id") % 10 =!= 0, col("user_id")).as("user_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("event_type"), col("value"))
    ev.select(
      lit("events").as("topic"),
      (col("user_id") % 4).cast(IntegerType).as("partition"),
      col("event_id").as("offset"),
      // every 101st record is corrupt JSON → must route dirty, not crash
      when(col("event_id") % 101 === 3, lit("{not json!"))
        .otherwise(to_json(payload)).as("value"))
  }

  private def isDirty = col("offset") % 10 === 0 || col("offset") % 101 === 3

  private def writeSlice(dir: Path, df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("append").parquet(dir.toString)

  private def tupleCount(statements: Seq[String]): Int =
    statements.map(_.split("\\),\\(").length).sum

  test("composed pipeline: parse, validate, route dirty, batch, retry, checkpoint-recover") {
    val srcDir = Files.createTempDirectory("graft-pipe-src")
    val ckpt = Files.createTempDirectory("graft-pipe-ckpt").toString
    val all = kafkaShapedBatch().cache()
    val half1 = all.filter(col("offset") < 500)
    val half2 = all.filter(col("offset") >= 500)

    graft.sinks.TestWriter.reset(failFirst = 1) // one transient failure
    val dirtyRows = new java.util.concurrent.atomic.AtomicLong()
    val cfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 20,
      sinkRetryBackoffMs = 1L)

    def start() = Pipeline.runFromSource(
      spark.readStream.schema(half1.schema).parquet(srcDir.toString),
      payloadSchema, cfg, graft.sinks.TestWriter,
      tsField = "ts", keyField = "user_id", checkpoint = ckpt,
      dirtySink = Some((df, _) => dirtyRows.addAndGet(df.count())))

    writeSlice(srcDir, half1, "a")
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = tupleCount(graft.sinks.TestWriter.statements)
    assert(afterFirst === half1.count() - half1.filter(isDirty).count())
    assert(dirtyRows.get() === half1.filter(isDirty).count())

    // restart from checkpoint with more data: no reprocessing of half1
    writeSlice(srcDir, half2, "b")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val total = tupleCount(graft.sinks.TestWriter.statements)
    val expectedValid = all.count() - all.filter(isDirty).count()
    assert(total === expectedValid, "checkpoint restart must not duplicate batches")
    assert(dirtyRows.get() === all.filter(isDirty).count())
    // statements carry the enriched dayOfYear column
    assert(graft.sinks.TestWriter.statements.head.contains("dayOfYear"))
  }

  test("one parse per trigger: dirty routing and the write both read the persisted parse") {
    val cfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 20,
      sinkRetryBackoffMs = 1L)
    val batch = kafkaShapedBatch().filter(col("offset") < 200)
    val parsed = graft.ingest.JsonIngest.parse(batch, payloadSchema, cfg)
    parsed.flat.persist()
    try Seq(parsed.valid, parsed.dirty).foreach { df =>
      assert(df.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
        df.queryExecution.withCachedData.toString)
    } finally parsed.flat.unpersist()

    // the streaming source counts every read of a trigger's rows: a
    // second parse would read the source again and double the count
    val srcDir = Files.createTempDirectory("graft-pipe-once-src")
    writeSlice(srcDir, batch, "a")
    graft.sinks.TestWriter.reset(failFirst = 0)
    val dirtyRows = new java.util.concurrent.atomic.AtomicLong()
    val q = Pipeline.runFromSource(
      spark.readStream.schema(batch.schema).parquet(srcDir.toString),
      payloadSchema, cfg, graft.sinks.TestWriter,
      tsField = "ts", keyField = "user_id",
      checkpoint = Files.createTempDirectory("graft-pipe-once-ckpt").toString,
      dirtySink = Some((df, _) => dirtyRows.addAndGet(df.count())))
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum === batch.count())
    assert(dirtyRows.get() === batch.filter(isDirty).count())
    assert(tupleCount(graft.sinks.TestWriter.statements) === batch.filter(!isDirty).count())
  }

  test("a check.field outside the payload schema fails with its key, even one naming a metadata column") {
    Seq("nope", "topicName").foreach { f =>
      val e = intercept[IllegalArgumentException](graft.ingest.JsonIngest.parse(
        kafkaShapedBatch(), payloadSchema, PipelineConfig(requiredFields = Seq(f))))
      assert(e.getMessage.contains("check.field") && e.getMessage.contains(f), e.getMessage)
    }
  }

  test("full reference flow lands in embedded Derby: catalog-typed failover sink, dead first replica") {
    // the reference end-to-end: stream → parse/validate/enrich → keyed
    // batches → INSERTs executed against a LIVE SQL engine, with the
    // type map QUERIED from the target catalog at sink open and the
    // first replica URL dead (BalancedClickhouseDataSource semantics)
    val url = "jdbc:derby:memory:graftpipe;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(
        """CREATE TABLE PIPE (
          |  event_id BIGINT, user_id BIGINT, ts VARCHAR(19), event_type VARCHAR(30),
          |  value DOUBLE, topicName VARCHAR(20), topicPartition INTEGER,
          |  topicOffset BIGINT, topicGroupId VARCHAR(30),
          |  dayOfYear VARCHAR(10), sTime VARCHAR(19))""".stripMargin)
      finally st.close()
    } finally conn.close()

    val srcDir = Files.createTempDirectory("graft-pipe2-src")
    val ckpt = Files.createTempDirectory("graft-pipe2-ckpt").toString
    val all = kafkaShapedBatch().filter(col("offset") < 300).cache()
    writeSlice(srcDir, all, "a")

    val cfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 25,
      sinkRetryBackoffMs = 1L, sinkDatabase = "APP", sinkTable = "PIPE")
    val writer = new graft.sinks.FailoverStatementWriter(
      Seq("jdbc:derby:memory:pipedead", url)) // first replica dead
    val q = Pipeline.runFromSource(
      spark.readStream.schema(all.schema).parquet(srcDir.toString),
      payloadSchema, cfg, writer,
      tsField = "ts", keyField = "user_id", checkpoint = ckpt,
      targetTypes = () => graft.sinks.JdbcCatalogTypes.derby(url, "APP", "PIPE"),
      dialect = graft.sinks.SqlDialect.Ansi)
    q.processAllAvailable(); q.stop()

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "PIPE")
      .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      .load()
    val expectedValid = all.count() - all.filter(isDirty).count()
    assert(back.count() === expectedValid,
      "every valid record must land in Derby exactly once")
    // values survive the full trip (spot check one clean row)
    val sample = all.filter(!isDirty).orderBy(col("offset")).limit(1)
      .select(col("offset")).collect().head.getLong(0)
    val row = back.filter(col("event_id") === sample).collect()
    assert(row.length === 1)
    // Derby folds unquoted identifiers to upper case
    assert(row.head.getAs[String]("TOPICNAME") === "events")
    assert(row.head.getAs[String]("DAYOFYEAR").matches("\\d{4}-\\d{2}-\\d{2}"))
  }

  private def derbyPipeTable(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(
        """CREATE TABLE PIPE (
          |  event_id BIGINT, user_id BIGINT, ts VARCHAR(19), event_type VARCHAR(30),
          |  value DOUBLE, topicName VARCHAR(20), topicPartition INTEGER,
          |  topicOffset BIGINT, topicGroupId VARCHAR(30),
          |  dayOfYear VARCHAR(10), sTime VARCHAR(19))""".stripMargin)
      finally st.close()
    } finally conn.close()
  }

  test("a present but malformed event time never kills the stream; dayOfYear is its first 10 characters") {
    import spark.implicits._
    // present (so valid by check.field) but no timestamp: each one threw
    // CAST_INVALID_INPUT under ANSI mode when dayOfYear was date_format
    val times = Seq("2024-03-05 10:00:00", "", "not a time", "2024-13-45 10:00:00",
      "2024-02-29 23:59:59", "7")
    val records = times.zipWithIndex.map { case (t, i) =>
      ("events", 0, i.toLong,
        s"""{"event_id":$i,"user_id":${i + 1},"ts":"$t","event_type":"view","value":1.5}""")
    } :+ (("events", 0, times.size.toLong, """{"event_id":99,"user_id":7}""")) // no ts: dirty
    val batch = records.toDF("topic", "partition", "offset", "value")
    val srcDir = Files.createTempDirectory("graft-pipe-poison-src")
    writeSlice(srcDir, batch, "a")
    val url = "jdbc:derby:memory:graftpoison;create=true"
    derbyPipeTable(url)
    val cfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 4,
      sinkRetryBackoffMs = 1L, sinkDatabase = "APP", sinkTable = "PIPE")
    val dirtyRows = new AtomicLong()
    val q = Pipeline.runFromSource(
      spark.readStream.schema(batch.schema).parquet(srcDir.toString),
      payloadSchema, cfg, new graft.sinks.JdbcStatementWriter(url),
      tsField = "ts", keyField = "user_id",
      checkpoint = Files.createTempDirectory("graft-pipe-poison-ckpt").toString,
      dirtySink = Some((df, _) => dirtyRows.addAndGet(df.count())),
      targetTypes = () => graft.sinks.JdbcCatalogTypes.derby(url, "APP", "PIPE"),
      dialect = graft.sinks.SqlDialect.Ansi)
    try {
      q.processAllAvailable()
      assert(q.isActive, "the stream must survive a malformed event time")
    } finally q.stop()
    assert(dirtyRows.get() === 1L)
    val conn = java.sql.DriverManager.getConnection(url)
    val landed = try {
      val rs = conn.createStatement().executeQuery("SELECT event_id, ts, dayOfYear FROM PIPE")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getString(3))).toVector
    } finally conn.close()
    assert(landed.map(_._1).sorted === times.indices.map(_.toLong))
    landed.foreach { case (id, ts, day) =>
      assert(day === ts.take(10), s"event $id: dayOfYear '$day' for ts '$ts'")
    }
  }

  private val laneCfg = PipelineConfig(requiredFields = Seq("user_id", "ts"), windowSize = 20,
    sinkRetryBackoffMs = 1L)

  /** Starts the pipeline on the parquet files under `src`, one file per
    * trigger, into [[TestWriter]]. */
  private def startOn(src: Path, ckpt: String, dirtySink: (DataFrame, Long) => Unit,
      cfg: PipelineConfig = laneCfg): StreamingQuery = Pipeline.runFromSource(
    spark.readStream.schema(kafkaShapedBatch().schema).option("maxFilesPerTrigger", "1")
      .parquet(src.toString),
    payloadSchema, cfg, TestWriter, tsField = "ts", keyField = "user_id",
    checkpoint = ckpt, dirtySink = Some(dirtySink))

  test("a trigger is one write job and one dirty-count job, in the stream's job group") {
    val all = kafkaShapedBatch().filter(col("offset") < 300).cache()
    val srcDir = Files.createTempDirectory("graft-pipe-jobs-src")
    Seq(0, 100, 200).foreach(lo =>
      writeSlice(srcDir, all.filter(col("offset") >= lo && col("offset") < lo + 100), s"$lo"))
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.properties)
    }
    TestWriter.reset(failFirst = 0)
    val dirtyRows = new AtomicLong()
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = startOn(srcDir, Files.createTempDirectory("graft-pipe-jobs-ckpt").toString,
        (df, _) => dirtyRows.addAndGet(df.count()))
      try q.processAllAvailable() finally q.stop()
      ListenerBusDrain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tupleCount(TestWriter.statements) === all.count() - all.filter(isDirty).count())
    assert(dirtyRows.get() === all.filter(isDirty).count())

    val runId = q.runId.toString
    def prop(p: java.util.Properties, k: String) = Option(p.getProperty(k)).getOrElse("")
    val ours = jobs.asScala.toSeq.filter(p =>
      prop(p, "spark.job.description").contains(s"runId = $runId") ||
        prop(p, "spark.jobGroup.id") == runId)
    val batchOf = "batch = (\\d+)".r
    val byBatch = ours.groupBy(p => batchOf.findFirstMatchIn(prop(p, "spark.job.description"))
      .map(_.group(1).toLong).getOrElse(-1L))
    assert(byBatch.keySet === Set(0L, 1L, 2L), byBatch.keySet)
    byBatch.foreach { case (b, ps) =>
      val lanes = ps.map(p => prop(p, "spark.job.description").split(" · ").drop(1).mkString)
      assert(lanes.sorted === Seq("dirty", "write"), s"batch $b ran ${ps.size} jobs: $lanes")
    }
    ours.foreach(p => assert(prop(p, "spark.jobGroup.id") === runId,
      s"job '${prop(p, "spark.job.description")}' is outside the stream's job group"))
    // AQE went off on the stream's own session only
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  /** Every throwable in `e`'s cause chain, `e` first. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq

  /** The frame `dirty` filters, i.e. the trigger's persisted parse. */
  private def parseOf(dirty: DataFrame): DataFrame =
    ColumnShim.ofRows(spark, dirty.queryExecution.analyzed.children.head)

  /** After a trigger ended by a failure or a stop: no lane thread is
    * left and the parse is no longer in Spark's cache. */
  private def assertLanesDone(q: StreamingQuery, dirty: DataFrame): Unit = {
    Try(q.awaitTermination())
    val lanes = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-dirty-lane") && t.isAlive)
    assert(lanes.isEmpty, s"lane threads left alive: ${lanes.map(_.getName)}")
    assert(parseOf(dirty).storageLevel === StorageLevel.NONE, "the parse is still cached")
  }

  /** Restarts from `ckpt` with a working sink: every valid row of
    * `batch` has landed exactly once, counting what the failed run
    * wrote (TestWriter keeps its store), and every dirty row is routed. */
  private def assertRestartLandsOnce(src: Path, ckpt: String, batch: DataFrame): Unit = {
    TestWriter.heal()
    val dirtyRows = new AtomicLong()
    val q = startOn(src, ckpt, (df, _) => dirtyRows.addAndGet(df.count()))
    try q.processAllAvailable() finally q.stop()
    val ids = TestWriter.statements.flatMap(_.split("\\),\\(").toSeq
      .map(t => t.substring(t.lastIndexOf('(') + 1).takeWhile(_ != ',').toLong))
    val want = batch.filter(!isDirty).select("offset").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted === want.sorted, "every valid row exactly once over the failed run and the restart")
    assert(dirtyRows.get() === batch.filter(isDirty).count())
  }

  test("a dirtySink that throws fails the query with its exception; a restart lands every row once") {
    val batch = kafkaShapedBatch().filter(col("offset") < 200).cache()
    val srcDir = Files.createTempDirectory("graft-pipe-dirtyfail-src")
    writeSlice(srcDir, batch, "a")
    val ckpt = Files.createTempDirectory("graft-pipe-dirtyfail-ckpt").toString
    TestWriter.reset(failFirst = 0)
    val boom = new IllegalStateException("dirty sink down")
    val seen = new AtomicReference[DataFrame]()
    val cachedInLane = new AtomicBoolean()
    val q = startOn(srcDir, ckpt, (df, _) => {
      seen.set(df)
      cachedInLane.set(parseOf(df).storageLevel != StorageLevel.NONE)
      throw boom
    })
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    assert(causes(e).exists(_ eq boom), e)
    assert(cachedInLane.get(), "the lane must read the persisted parse")
    assertLanesDone(q, seen.get())
    // the write ran beside the failing lane and landed its rows
    assert(tupleCount(TestWriter.statements) === batch.filter(!isDirty).count())
    assertRestartLandsOnce(srcDir, ckpt, batch)
  }

  test("a failing write fails the query only after the running dirty lane ends; a restart lands every row once") {
    val batch = kafkaShapedBatch().filter(col("offset") < 200).cache()
    val srcDir = Files.createTempDirectory("graft-pipe-writefail-src")
    writeSlice(srcDir, batch, "a")
    val ckpt = Files.createTempDirectory("graft-pipe-writefail-ckpt").toString
    TestWriter.reset(failFirst = Int.MaxValue)
    val seen = new AtomicReference[DataFrame]()
    val laneCount = new AtomicLong(-1L)
    val q = startOn(srcDir, ckpt, cfg = laneCfg.copy(sinkMaxRetries = 0), dirtySink = (df, _) => {
      seen.set(df)
      // still running when the write fails; it reads the parse after
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (TestWriter.attempts.get() == 0 && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(200)
      laneCount.set(df.count())
    })
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("transient failure")), e)
    assert(laneCount.get() === batch.filter(isDirty).count(),
      "the trigger must wait for its dirty lane before it fails")
    assertLanesDone(q, seen.get())
    assertRestartLandsOnce(srcDir, ckpt, batch)
  }

  test("a stop during a trigger waits for the running dirty lane, then ends the query cleanly") {
    val batch = kafkaShapedBatch().filter(col("offset") < 200)
    val srcDir = Files.createTempDirectory("graft-pipe-stop-src")
    writeSlice(srcDir, batch, "a")
    TestWriter.reset(failFirst = 0)
    val seen = new AtomicReference[DataFrame]()
    val counted = new java.util.concurrent.CountDownLatch(1)
    val laneEnded = new AtomicBoolean()
    val q = startOn(srcDir, Files.createTempDirectory("graft-pipe-stop-ckpt").toString,
      (df, _) => {
        seen.set(df)
        df.count()
        counted.countDown()
        Thread.sleep(1500) // no job to cancel: the stop has to wait
        laneEnded.set(true)
      })
    assert(counted.await(60, java.util.concurrent.TimeUnit.SECONDS), "the dirty lane never ran")
    q.stop()
    assert(laneEnded.get(), "the trigger returned before its dirty lane ended")
    assert(q.exception.isEmpty, q.exception)
    assertLanesDone(q, seen.get())
  }
}

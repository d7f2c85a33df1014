package graft

import java.nio.file.{Files, Path}

import graft.config.PipelineConfig
import graft.streaming.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
}

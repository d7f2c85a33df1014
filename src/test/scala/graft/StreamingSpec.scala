package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Properties

import graft.config.PipelineConfig
import graft.operators.Relational
import graft.sinks.{BatchedRetrySink, SqlInsertFormatter, TestWriter}
import graft.streaming.StreamingPipelines
import graft.streaming.StreamingPipelines.EventRow
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** File-source streaming read of the events table (copied into a
    * temp dir — the file source lists directories). */
  private def eventsStream(): DataFrame = {
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(dir.toString)
    // watermarks need TIMESTAMP (LTZ); session TZ is UTC so wall-clock
    // values match the batch side's NTZ exactly
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  private def runToMemory(df: DataFrame, mode: String, name: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming windowed agg == batch q_time_bucket") {
    val got = runToMemory(
      StreamingPipelines.windowedAgg(eventsStream()), "complete", "win_out")
      .withColumn("bucket_start", col("bucket_start").cast(TimestampNTZType))
      .orderBy("bucket_start", "event_type").collect()
    val want = Relational.qTimeBucket.run(spark, sf)
      .orderBy("bucket_start", "event_type").collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("streaming incremental dedup routes a duplicate replayed in a later micro-batch") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-incdedup-src")
    val idxDir = Files.createTempDirectory("graft-incdedup-idx")
    val ckpt = Files.createTempDirectory("graft-incdedup-ckpt")
    def addBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft-incdedup-b")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, srcDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val textA = (0 until 40).map(i => s"alpha$i tokenA$i").mkString(" ")
    val textB = (0 until 40).map(i => s"beta$i tokenB$i").mkString(" ")
    val textC = (0 until 40).map(i => s"gamma$i tokenC$i").mkString(" ")
    addBatch("b1.parquet", Seq((1L, textA), (2L, textB)))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", LongType).add("text", org.apache.spark.sql.types.StringType)
    val docs = spark.readStream.schema(schema).parquet(srcDir.toString)
    val cleanIds = scala.collection.mutable.Set.empty[Long]
    val dupIds = scala.collection.mutable.Set.empty[Long]
    val q = StreamingPipelines.incrementalDedupStream(
      docs, idxDir.toString, ckpt.toString) { (clean, dups, _) =>
      cleanIds ++= clean.select("doc_id").collect().map(_.getLong(0))
      dupIds ++= dups.collect().map(_.getLong(0))
    }
    try {
      q.processAllAvailable()
      assert(cleanIds === Set(1L, 2L))
      assert(dupIds.isEmpty)
      // later micro-batch: 3 replays doc 1's content verbatim (must hit
      // the PERSISTED index, not same-batch state); 5 duplicates 4
      // within the batch
      addBatch("b2.parquet", Seq((3L, textA), (4L, textC), (5L, textC)))
      q.processAllAvailable()
    } finally q.stop()
    assert(cleanIds === Set(1L, 2L, 4L))
    assert(dupIds === Set(3L, 5L))
  }

  test("streaming corpus clean == batch pipeline_clean over the same docs") {
    val srcDir = Files.createTempDirectory("graft-cleanstream")
    val idxDir = Files.createTempDirectory("graft-cleanidx")
    val ckpt = Files.createTempDirectory("graft-cleanckpt")
    val docsB = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars"))
    // one micro-batch holding the whole table → per-batch semantics
    // must reproduce the batch pipeline exactly
    docsB.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val stream = spark.readStream.schema(docsB.schema).parquet(srcDir.toString)
    val cleanIds = scala.collection.mutable.Set.empty[Long]
    val rejectedIds = scala.collection.mutable.Set.empty[Long]
    val q = StreamingPipelines.cleanCorpusStream(
      stream, idxDir.toString, ckpt.toString) { (clean, rejected, _) =>
      cleanIds ++= clean.select("doc_id").collect().map(_.getLong(0))
      rejectedIds ++= rejected.collect().map(_.getLong(0))
    }
    try {
      q.processAllAvailable()
      val batchIds = graft.operators.CleanPipeline.clean.run(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(cleanIds.toSet === batchIds,
        s"stream-only: ${cleanIds.toSet -- batchIds}; batch-only: ${batchIds -- cleanIds}")

      // second micro-batch: a clean doc's text replayed verbatim under
      // a new id must be caught by the PERSISTED index across batches
      val survivor = cleanIds.head
      val replayText = docsB.filter(col("doc_id") === survivor)
        .select("text", "n_chars").head
      val tmp = Files.createTempDirectory("graft-cleanstream-b2")
      import spark.implicits._
      Seq((99999L, replayText.getString(0), replayText.getAs[Number](1).longValue))
        .toDF("doc_id", "text", "n_chars")
        .select(docsB.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, srcDir.resolve("b2.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(rejectedIds.contains(99999L),
        "verbatim replay of an indexed doc must be rejected by the corpus index")
      assert(!cleanIds.contains(99999L))
    } finally q.stop()
  }

  test("streaming lake sink: exactly-once across restart, day pruning on read") {
    // stream → day-partitioned parquet lake: the native file sink's
    // manifest gives exactly-once per batch; a restart from the same
    // checkpoint must append only the NEW data, and readers prune on
    // the day directory like any batch-written lake
    val srcDir = Files.createTempDirectory("graft-lakestream-src")
    val lake = Files.createTempDirectory("graft-lakestream").toString + "/events"
    val ckpt = Files.createTempDirectory("graft-lakestream-ckpt").toString
    val evAll = spark.read.parquet(s"$sf/events.parquet")
    val schema = evAll.schema
    def addFile(name: String, filter: org.apache.spark.sql.Column): Long = {
      val tmp = Files.createTempDirectory("graft-lakestream-b")
      val part = evAll.filter(filter)
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(f, srcDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      part.count()
    }
    val n1 = addFile("b1.parquet", col("event_id") % 2 === 0)
    def startQuery() = {
      val raw = spark.readStream.schema(schema).parquet(srcDir.toString)
      val ts = if (schema("ts").dataType == LongType)
        timestamp_micros(expr("ts div 1000")) else col("ts").cast("timestamp")
      raw.withColumn("day", date_format(ts, "yyyy-MM-dd"))
        .writeStream
        .format("parquet")
        .option("path", lake)
        .option("checkpointLocation", ckpt)
        .partitionBy("day")
        .start()
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(lake).count() === n1)

    // restart from the same checkpoint with new + ALREADY-PROCESSED
    // files present: only the new file's rows may land
    val n2 = addFile("b2.parquet", col("event_id") % 2 =!= 0)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val lakeDf = spark.read.parquet(lake)
    assert(lakeDf.count() === n1 + n2, "restart duplicated or dropped rows")
    assert(lakeDf.select("event_id").distinct().count() === n1 + n2)
    // partition pruning works on the streamed layout (the day
    // directory value type-infers back as DATE — read it as string)
    val day = lakeDf.select(col("day").cast("string")).head.getString(0)
    val plan = lakeDf.filter(col("day") === day)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"day predicate did not prune partitions:\n${plan.take(500)}")
  }

  test("streaming dedup removes replayed events") {
    val doubled = eventsStream().union(eventsStream())
    val out = runToMemory(StreamingPipelines.dedupStream(doubled), "append", "dedup_out")
    val distinctIds = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").distinct().count()
    assert(out.select("event_id").distinct().count() === distinctIds)
    assert(out.count() === distinctIds)
  }

  test("stream-stream join == batch equivalent") {
    val got = runToMemory(
      StreamingPipelines.streamStreamJoin(eventsStream()), "append", "ssj_out")
      .orderBy("purchase_id", "signup_id").collect()
    val ev = eventsStream() // batch twin over the same frame shape
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val batch = if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
    val p = batch.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"), col("value"))
    val su = batch.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
    val want = p.join(su, col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") && col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("signup_id"), col("p_ts"), col("s_ts"), col("value"))
      .orderBy("purchase_id", "signup_id").collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("stream-static dimension enrichment == batch join") {
    val dim = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").as("dim_user"), (col("user_id") % 5).as("cohort"))
      .distinct()
    val got = runToMemory(
      StreamingPipelines.enrichWithDim(eventsStream(), dim, "user_id", "dim_user")
        .select(col("event_id"), col("cohort")), "append", "enrich_out")
      .orderBy("event_id").collect()
    val want = spark.read.parquet(s"$sf/events.parquet")
      .join(dim, col("user_id") === col("dim_user"), "left_outer")
      .select(col("event_id"), col("cohort"))
      .orderBy("event_id").collect()
    assert(got.length === want.length && got.length > 0)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("streaming session windows == batch q_session sessions") {
    val got = runToMemory(
      StreamingPipelines.sessionAgg(eventsStream()), "complete", "sess_out")
      .withColumn("session_start", col("session_start").cast(TimestampNTZType))
      .orderBy("user_id", "session_start").collect()
    // batch oracle-green sessionization, re-keyed on (user, start, n)
    val want = Relational.qSession.run(spark, sf)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy("user_id", "session_start").collect()
    assert(got.length === want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("streaming latest-per-key upsert == batch argMax current state") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    val src = eventsStream()
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow]
    val out = runToMemory(
      StreamingPipelines.latestPerKeyStream(src).toDF(), "update", "latest_out")
    // updates are monotone in (ts, event_id), so the per-key max over
    // ALL emitted updates is the final state
    val got = out.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("last_event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.EventsAnalytics.latestPerKey.run(spark, sf)
      .select(col("user_id"), col("last_event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("incremental dedup micro-batch is replay-idempotent (same batchId twice)") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-replay").toString
    val b1 = Seq((1L, "alpha beta gamma delta"), (2L, "unique text one two")).toDF("doc_id", "text")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): (Set[Long], Set[Long]) = {
      var out: (Set[Long], Set[Long]) = (Set.empty, Set.empty)
      graft.streaming.StreamingPipelines.processDedupBatch(batch, id, indexDir) {
        (clean, dups, _) =>
          out = (clean.select("doc_id").collect().map(_.getLong(0)).toSet,
            dups.collect().map(_.getLong(0)).toSet)
      }
      out
    }
    val first = run(b1, 0L)
    assert(first._1 === Set(1L, 2L) && first._2 === Set.empty[Long])
    // crash-before-checkpoint-commit: the SAME batch replays with the
    // SAME id — it must NOT see its own prior index write, so the docs
    // stay clean and the index partition is rewritten, not emptied
    val replay = run(b1, 0L)
    assert(replay._1 === Set(1L, 2L),
      s"replayed batch flagged its own docs as duplicates: $replay")
    assert(replay._2 === Set.empty[Long])
    // and a genuine duplicate in a LATER batch is still caught
    val second = run(Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text"), 1L)
    assert(second._1 === Set.empty[Long] && second._2 === Set(3L))
  }

  test("streaming heavy hitters recover the true top users in bounded state") {
    implicit val s = spark
    import s.implicits._
    val src = eventsStream().select(col("user_id").cast("string")).as[String]
    val out = runToMemory(
      StreamingPipelines.heavyHittersStream(src, capacity = 256, k = 10).toDF(),
      "complete", "hh_out")
    val approx = out.collect().map(_.getString(0)).toSet
    val exact = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").count().orderBy(col("count").desc, col("user_id"))
      .limit(3).collect().map(_.getLong(0).toString).toSet
    assert(exact.subsetOf(approx),
      s"true top-3 users ${exact} not all in sketch top-10 ${approx}")
  }

  test("streaming priority sample is order-free, replay-safe, and equals the batch selection") {
    implicit val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1 to 60).map(i => (s"k$i", (i % 7 + 1).toLong))
    // batch reference: same priority formula, same tiebreak
    def pri(key: String, w: Long): Double =
      w / ((graft.functions.Exprs.md5Long15("ps#" + key) + 1) / 1.152921504606846976e18)
    val expected = rows.map { case (key, w) => (pri(key, w), key, w) }
      .sortBy { case (p, key, _) => (-p, key) }.take(10).map(t => (t._2, t._3)).toSet

    // aggregator state is a join-semilattice: any permutation, any
    // split, any replay produces the same sample
    val agg = new graft.functions.PrioritySampleK(10, "ps#")
    def fold(xs: Seq[(String, Long)]) = xs.foldLeft(agg.zero)(agg.reduce)
    val shuffled = new scala.util.Random(7).shuffle(rows)
    assert(agg.finish(fold(rows)).toSet === expected)
    assert(agg.finish(fold(shuffled)).toSet === expected)
    val (l, r) = shuffled.splitAt(23)
    assert(agg.finish(agg.merge(fold(l), fold(r))).toSet === expected)
    assert(agg.finish(agg.merge(fold(rows), fold(rows))).toSet === expected,
      "at-least-once replay must be a no-op")

    // end-to-end through a streaming aggregation across two triggers
    val mem = MemoryStream[(String, Long)]
    val q = StreamingPipelines.prioritySampleStream(mem.toDS(), k = 10).toDF()
      .writeStream.outputMode("complete").format("memory")
      .queryName("psample_out").start()
    try {
      mem.addData(shuffled.take(30): _*)
      q.processAllAvailable()
      mem.addData(shuffled.drop(30): _*)
      q.processAllAvailable()
      val got = spark.table("psample_out").collect()
        .map(row => (row.getString(0), row.getLong(1))).toSet
      assert(got === expected, "streamed sample diverged from the batch selection")
    } finally q.stop()
  }

  test("silence detector alerts exactly the key that went event-time silent") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.silenceDetector(mem.toDS(), "1 hour").toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("silence_out").start()
    try {
      mem.addData(UpsertRow(1L, ts(0), 1L, "a", 0.0), UpsertRow(1L, ts(5), 2L, "a", 0.0))
      q.processAllAvailable() // watermark → t+5m
      mem.addData(UpsertRow(2L, ts(180), 3L, "a", 0.0))
      q.processAllAvailable() // watermark → t+180m; user 1 timed out at t+65m
      mem.addData(UpsertRow(2L, ts(181), 4L, "a", 0.0))
      q.processAllAvailable() // timeout processed in the following batch
      val alerts = spark.table("silence_out")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(alerts.toSeq === Seq((1L, 2L)),
        s"expected exactly user 1 (2 events) to go silent, got ${alerts.toSeq}")
    } finally q.stop()
  }

  test("streaming window funnel: cross-batch chains, replay-idempotent, == batch") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.windowFunnelStream(mem.toDS()).toDF("user_id", "level")
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_out").start()
    def levels(): Map[Long, Int] = {
      q.processAllAvailable()
      // update-mode memory sink appends every emission; latest wins
      spark.table("funnel_out").groupBy("user_id")
        .agg(last(col("level")).as("l")) // single-partition test table
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    try {
      // user 1 completes the chain ACROSS three triggers inside 30min;
      // user 2's purchase comes 2h after signup — window cuts it at 1
      mem.addData(UpsertRow(1L, ts(0), 1L, "signup", 0), UpsertRow(2L, ts(0), 2L, "signup", 0))
      mem.addData(UpsertRow(1L, ts(5), 3L, "view", 0))
      assert(levels() === Map(1L -> 2, 2L -> 1))
      mem.addData(UpsertRow(1L, ts(10), 4L, "purchase", 0), UpsertRow(2L, ts(120), 5L, "purchase", 0))
      assert(levels() === Map(1L -> 3, 2L -> 1))
      // replay: re-deliver user 1's view — level must not change
      mem.addData(UpsertRow(1L, ts(5), 3L, "view", 0))
      assert(levels() === Map(1L -> 3, 2L -> 1))
    } finally q.stop()

    // equivalence over real data: feed sf0.001 events in one ordered
    // batch, histogram of final levels == batch q_window_funnel
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem2 = MemoryStream[UpsertRow]
    val q2 = StreamingPipelines.windowFunnelStream(mem2.toDS()).toDF("user_id", "level")
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_out2").start()
    try {
      mem2.addData(rows.toIndexedSeq)
      q2.processAllAvailable()
      val got = spark.table("funnel_out2").groupBy("user_id").agg(last(col("level")).as("l"))
        .groupBy(col("l")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = graft.operators.EventsAnalytics.windowFunnel.run(spark, sf)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // batch also counts level-0 users (present in events but no
      // signup); the stream emits a row per user either way
      assert(got === want, s"stream=$got batch=$want")
    } finally q2.stop()
  }

  test("streaming attribution: cross-batch touches, replay-idempotent, == batch") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def latestCredits(table: String): Map[String, (Long, Long)] =
      spark.table(table).groupBy(col("_1"))
        .agg(last(col("_2")).as("credits")) // single-partition test table
        .select(explode(col("credits")).as("c"))
        .groupBy(col("c._1")).agg(sum(col("c._2")), sum(col("c._3")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.attributionStream(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("attrib_out").start()
    try {
      // view at t0, purchase at t5 -> 'view' credited; a first-event
      // purchase by user 2 -> 'direct'
      mem.addData(UpsertRow(1L, ts(0), 1L, "view", 0),
        UpsertRow(2L, ts(0), 2L, "purchase", 4.005)) // HALF_UP -> 401 cents
      mem.addData(UpsertRow(1L, ts(5), 3L, "purchase", 10.0))
      q.processAllAvailable()
      assert(latestCredits("attrib_out") ===
        Map("view" -> ((1L, 1000L)), "direct" -> ((1L, 401L))))
      // cross-trigger touch update: click at t6 wins over view for the
      // t7 purchase
      mem.addData(UpsertRow(1L, ts(6), 4L, "click", 0))
      mem.addData(UpsertRow(1L, ts(7), 5L, "purchase", 2.0))
      q.processAllAvailable()
      assert(latestCredits("attrib_out") === Map(
        "view" -> ((1L, 1000L)), "click" -> ((1L, 200L)), "direct" -> ((1L, 401L))))
      // replay an already-folded purchase: tallies must not change
      mem.addData(UpsertRow(1L, ts(5), 3L, "purchase", 10.0))
      q.processAllAvailable()
      assert(latestCredits("attrib_out") === Map(
        "view" -> ((1L, 1000L)), "click" -> ((1L, 200L)), "direct" -> ((1L, 401L))))
    } finally q.stop()

    // equivalence over real data: ordered replay == batch q_attribution
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem2 = MemoryStream[UpsertRow]
    val q2 = StreamingPipelines.attributionStream(mem2.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("attrib_out2").start()
    try {
      mem2.addData(rows.toIndexedSeq)
      q2.processAllAvailable()
      val got = latestCredits("attrib_out2")
      val want = graft.operators.EventsAnalytics.attribution.run(spark, sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"stream=$got batch=$want")
    } finally q2.stop()
  }

  test("count-batcher flushes a batch every N records per key") {
    implicit val s = spark
    import s.implicits._
    val n = 20
    val src = eventsStream().select(col("event_id"), col("user_id"), col("value")).as[EventRow]
    val out = runToMemory(StreamingPipelines.countBatcher(src, n).toDF(), "append", "batch_out")
    val perKey = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedBatches = perKey.values.map(_ / n).sum
    assert(out.count() === expectedBatches)
    assert(out.filter(col("n") =!= n).count() === 0)
  }

  test("count-batcher under RocksDB state store, state recovered across restart") {
    implicit val s = spark
    import s.implicits._
    val rocks = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val prev = rocks.keys.map(k => k -> spark.conf.getOption(k)).toMap
    rocks.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val n = 20
      val dir = Files.createTempDirectory("graft-rocks-src")
      val outDir = Files.createTempDirectory("graft-rocks-out").toString
      val ckpt = Files.createTempDirectory("graft-rocks-ckpt").toString
      Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
      val schema = spark.read.parquet(s"$sf/events.parquet").schema
      // file sink (memory sink can't recover from a checkpoint)
      def run(): Long = {
        val src = spark.readStream.schema(schema).parquet(dir.toString)
          .select(col("event_id"), col("user_id"), col("value")).as[EventRow]
        val q = StreamingPipelines.countBatcher(src, n).toDF()
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable(); q.stop()
        spark.read.parquet(outDir).count()
      }
      val perKey = spark.read.parquet(s"$sf/events.parquet")
        .groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val firstBatches = perKey.values.map(_ / n).sum
      assert(run() === firstBatches)
      // restart with the corpus appended again: flush counts only come
      // out right if the pending per-key state survived the restart
      Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
      val totalBatches = perKey.values.map(c => (2 * c) / n).sum
      assert(run() === totalBatches)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("streaming theta audience sketch: CRDT state, replay no-op, == batch sketch") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.audienceSketchStream(mem.toDS())
      .toDF("month", "approx_users")
      .writeStream.outputMode("update").format("memory")
      .queryName("theta_out").start()
    def estimates(): Map[String, Long] = {
      q.processAllAvailable()
      spark.table("theta_out").groupBy("month")
        .agg(last(col("approx_users")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    try {
      mem.addData(half1.toIndexedSeq)
      mem.addData(half2.toIndexedSeq)
      val full = estimates()
      // KMV adds are set inserts ⇒ replaying a whole half changes nothing
      mem.addData(half2.toIndexedSeq)
      assert(estimates() === full, "replay must be a state no-op (CRDT)")
      // incremental estimates equal the batch sketch aggregate exactly
      val batch = graft.sources.Tables.events(spark, sf)
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(graft.functions.theta_estimate(
          graft.functions.theta_sketch_agg(col("user_id"))).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(full === batch, s"stream=$full batch=$batch")
    } finally q.stop()
  }

  test("streaming HLL distinct: CRDT state, replay no-op, == batch sketch") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.distinctUsersStream(mem.toDS())
      .toDF("event_type", "approx_users")
      .writeStream.outputMode("update").format("memory")
      .queryName("hll_out").start()
    def estimates(): Map[String, Long] = {
      q.processAllAvailable()
      spark.table("hll_out").groupBy("event_type")
        .agg(last(col("approx_users")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    try {
      mem.addData(half1.toIndexedSeq)
      mem.addData(half2.toIndexedSeq)
      val full = estimates()
      // register updates are MAX ops ⇒ replaying a whole half changes nothing
      mem.addData(half1.toIndexedSeq)
      assert(estimates() === full, "replay must be a state no-op (CRDT)")
      // and the incremental state equals the batch sketch exactly
      val batch = graft.operators.EventsAnalytics.hllRollup.run(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(full === batch, s"stream=$full batch=$batch")
    } finally q.stop()
  }

  test("streaming moments: exact integer state == batch DECIMAL aggregate; z-scores == q_outliers") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.momentsStream(mem.toDS())
      .toDF("event_type", "n", "s1_cents", "s2_cents4")
      .writeStream.outputMode("update").format("memory")
      .queryName("moments_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("moments_out")
        .groupBy("event_type")
        .agg(last(col("n")).as("n"), last(col("s1_cents")).as("s1"),
          last(col("s2_cents4")).as("s2"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      // batch twin: the DECIMAL(18,2) sums of q_outliers' stats CTE,
      // scaled to the same integer domain — must be EXACTLY equal
      val v = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val batch = graft.sources.Tables.events(spark, sf)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(v) * 100).cast("long").as("s1"),
          (sum(v * v) * 10000).cast("long").as("s2"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(streamed === batch, s"stream=$streamed batch=$batch")
      // z-scores computed from the FINAL streamed moments reproduce the
      // batch outlier set (same formula as the op: double math on the
      // exact sums)
      val outliers = rows.flatMap { r =>
        val (n, s1c, s2c4) = streamed(r.event_type)
        val (s1, s2) = (s1c.toDouble / 100.0, s2c4.toDouble / 10000.0)
        val mean = s1 / n
        val zs = (r.value - mean) / math.sqrt(s2 / n - mean * mean)
        if (math.abs(zs) > 2.5) Some(r.event_id) else None
      }.toSet
      val batchOutliers = graft.operators.EventsAnalytics.outliers.run(spark, sf)
        .collect().map(_.getLong(0)).toSet
      assert(outliers === batchOutliers,
        s"stream-derived outliers ${outliers.size} != batch ${batchOutliers.size}")
    } finally q.stop()
  }

  test("streaming first-seen emits each user once; replay emits nothing") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.firstSeenStream(mem.toDS())
      .toDF("user_id", "first_ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("firstseen_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      // at-least-once replay: re-deliver the whole second half
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("firstseen_out")
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1))
      assert(got.map(_._1).distinct.length === got.length,
        "a user must be emitted exactly once across triggers AND replays")
      // matches the batch first-event per user (ordered arrival)
      val batch = rows.groupBy(_.user_id)
        .map { case (u, es) => u -> es.minBy(e => (e.ts.getTime, e.event_id)).ts }
      assert(got.toMap === batch)
    } finally q.stop()
  }

  test("streaming conversion monitor: delta sums equal batch q_two_prop integers; replay adds nothing") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.conversionStream(mem.toDS())
      .toDF("variant", "d_users", "d_conv")
      .writeStream.outputMode("append").format("memory")
      .queryName("conv_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val afterAll = spark.table("conv_out")
        .groupBy("variant").agg(sum("d_users").as("u"), sum("d_conv").as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // at-least-once replay of the whole second half: monotone state
      // makes every replayed transition a no-op
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val afterReplay = spark.table("conv_out")
        .groupBy("variant").agg(sum("d_users").as("u"), sum("d_conv").as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(afterReplay === afterAll, "replay must add zero deltas")
      // batch parity: the summed deltas ARE q_two_prop's four integers
      val batch = graft.operators.StatsOps.twoProp.run(spark, sf).head()
      assert(afterAll("A") === ((batch.getLong(0), batch.getLong(2))))
      assert(afterAll("B") === ((batch.getLong(1), batch.getLong(3))))
    } finally q.stop()
  }

  test("streaming EWMA equals batch q_ewma under event-time-ordered arrival") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)) // ordered arrival — the contract
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.ewmaStream(mem.toDS())
      .toDF("user_id", "n", "ewma")
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("ewma_out")
        .groupBy("user_id").agg(last(col("n")).as("n"), last(col("ewma")).as("ewma"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batch = graft.operators.EventsAnalytics.ewma.run(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed.keySet === batch.keySet)
      for ((u, (n, e)) <- batch) {
        val (sn, se) = streamed(u)
        assert(sn === n, s"user $u count")
        // batch emits round(state, 6); stream emits the raw grid state
        val rounded = new java.math.BigDecimal(java.lang.Double.toString(se))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        assert(rounded === e, s"user $u: stream $se (→$rounded) != batch $e")
      }
    } finally q.stop()
  }

  test("streaming CUSUM: integer state equals batch fold exactly; replay is a no-op") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the stream monitors against a FIXED reference mean — here the
    // corpus mean the batch query computes, so the folds must agree
    val m = graft.sources.Tables.events(spark, sf)
      .agg(sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("sc"), count(lit(1)).as("n")).head
    val (sc, n) = (m.getLong(0), m.getLong(1))
    // CUSUM is a fold — cross-trigger order must be event-time order
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect().sortBy(r => (r.ts.getTime, r.event_id))
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.cusumStream(mem.toDS(), sc, n)
      .toDF("user_id", "n_events", "cusum")
      .writeStream.outputMode("update").format("memory")
      .queryName("cusum_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      def readOut() = spark.table("cusum_out")
        .groupBy("user_id")
        .agg(last(col("n_events")).as("n_events"), last(col("cusum")).as("cusum"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val streamed = readOut()
      val batch = graft.operators.EventsAnalytics.cusum.run(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed === batch, "final streaming state must equal the batch fold exactly")
      // at-least-once replay: the high-water mark makes re-folding a no-op
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      assert(readOut() === batch, "replaying an already-folded suffix must not move state")
    } finally q.stop()
  }

  test("streaming t-digest quantiles: bounded state, rank error within 2% of exact") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.quantilesStream(mem.toDS())
      .toDF("event_type", "p50", "p95")
      .writeStream.outputMode("update").format("memory")
      .queryName("quantiles_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("quantiles_out")
        .groupBy("event_type")
        .agg(last(col("p50")).as("p50"), last(col("p95")).as("p95"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      // rank gauge: the estimate's position in the exact sorted stream
      // must sit within ±2% of the requested rank (the digest's whole
      // contract — value-space tolerance would be distribution-shaped)
      val byType = rows.groupBy(_.event_type)
      assert(streamed.keySet === byType.keySet)
      for ((etype, (p50, p95)) <- streamed; (want, got) <- Seq((0.50, p50), (0.95, p95))) {
        val sorted = byType(etype).map(_.value).sorted
        val rank = sorted.count(_ <= got).toDouble / sorted.length
        assert(math.abs(rank - want) <= 0.02,
          s"$etype q=$want estimate $got landed at rank $rank")
      }
    } finally q.stop()
  }

  test("streaming gap monitor: final state equals batch etl_gap_profile; replay is a no-op") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect().sortBy(_.event_id)
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.gapMonitorStream(mem.toDS())
      .toDF("event_type", "n_gaps", "max_gap", "mean_gap_ppm")
      .writeStream.outputMode("update").format("memory")
      .queryName("gap_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      def readOut() = spark.table("gap_out")
        .groupBy("event_type")
        .agg(last(col("n_gaps")).as("n"), last(col("max_gap")).as("mx"),
          last(col("mean_gap_ppm")).as("mp"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.EtlOps.gapProfile.run(spark, sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(readOut() === batch,
        "final streaming gap state must equal the batch profile exactly")
      // at-least-once redelivery: the high-water id folds replays to nothing
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      assert(readOut() === batch, "replaying a delivered suffix must not move the profile")
    } finally q.stop()
  }

  test("streaming drift monitor: replay adds zero, histogram matches batch, PSI is the q_psi formula") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val purchases = rows.filter(_.event_type == "purchase")
    def cents(v: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
    val (lo, hi) = (purchases.map(e => cents(e.value)).min, purchases.map(e => cents(e.value)).max)
    def binOf(c: Long): Int = math.max(0L, math.min(9L, (c - lo) * 10 / (hi - lo + 1))).toInt
    // reference histogram: distinct users per bin over the FIRST half
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val ref = half1.filter(_.event_type == "purchase")
      .map(e => (binOf(cents(e.value)), e.user_id)).distinct
      .groupBy(_._1).map { case (b, xs) => b -> xs.length.toLong }
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.driftStream(mem.toDS(), lo, hi)
      .toDF("bin", "d_users")
      .writeStream.outputMode("append").format("memory")
      .queryName("drift_out").start()
    try {
      mem.addData(half1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      def hist(): Map[Int, Long] = spark.table("drift_out")
        .groupBy("bin").agg(sum("d_users").as("u"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val afterAll = hist()
      // at-least-once replay of the whole second half: the per-user
      // bin bitmask makes every replayed touch a no-op
      mem.addData(half2.toIndexedSeq)
      q.processAllAvailable()
      assert(hist() === afterAll, "replay must add zero bin deltas")
      // batch parity: distinct users per bin over the whole stream
      val batch = purchases.map(e => (binOf(cents(e.value)), e.user_id)).distinct
        .groupBy(_._1).map { case (b, xs) => b -> xs.length.toLong }
      assert(afterAll === batch)
      // PSI against the first-half reference is finite, deterministic,
      // and equals the same formula applied to the batch histograms
      val psi = StreamingPipelines.psiOf(ref, afterAll)
      assert(psi === StreamingPipelines.psiOf(ref, batch))
      assert(psi >= 0.0 && java.lang.Double.isFinite(psi))
    } finally q.stop()
  }
}

class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("batched sink retries transient failures, then succeeds") {
    graft.sinks.TestWriter.reset(failFirst = 2)
    val sink = new graft.sinks.BatchedRetrySink(graft.sinks.TestWriter, maxRetries = 3, backoffMs = 1L)
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .coalesce(1)
    sink.writeBatch("sink.events", spark_partition_id(), 100)(df, batchId = 7L)
    assert(graft.sinks.TestWriter.attempts.get() >= 3) // 2 failures + success
    val written = graft.sinks.TestWriter.statements
    assert(written.size === 10) // 1000 rows / 100 per statement
    assert(written.forall(_.startsWith("INSERT INTO sink.events (event_id,user_id,event_type) VALUES ")))
    assert(written.forall(_.contains("'")), "string literals must be quoted")
  }

  test("sink surfaces permanent failure after retries exhausted") {
    graft.sinks.TestWriter.reset(failFirst = Int.MaxValue)
    val sink = new graft.sinks.BatchedRetrySink(graft.sinks.TestWriter, maxRetries = 2, backoffMs = 1L)
    val df = spark.read.parquet(s"$sf/events.parquet").select("event_id").coalesce(1)
    val e = intercept[Exception] {
      sink.writeBatch("sink.events", spark_partition_id(), 100)(df, 8L)
    }
    assert(e.getMessage != null)
  }

  test("SqlInsertFormatter quotes strings/timestamps, passes numerics raw") {
    import spark.implicits._
    val df = Seq((1L, "o'neil", 3.5)).toDF("id", "name", "score")
    val stmt = graft.sinks.SqlInsertFormatter
      .insertStatements(df, "t", lit(0), 10)
      .head.getString(0)
    assert(stmt === raw"INSERT INTO t (id,name,score) VALUES (1,'o\'neil',3.5)")

    // struct, map and binary columns with no catalog entry: each value
    // is one quoted, escaped literal, never spliced raw
    val hostile = Seq((1L, "x'),(1")).toDF("id", "s").select(col("id"),
      struct(col("s")).as("st"), map(lit("k"), col("s")).as("mp"), col("s").cast("binary").as("bin"))
    val hostileStmt = graft.sinks.SqlInsertFormatter
      .insertStatements(hostile, "t", lit(0), 10)
      .head.getString(0)
    assert(hostileStmt ===
      raw"INSERT INTO t (id,st,mp,bin) VALUES (1,'{x\'),(1}','{k -> x\'),(1}','x\'),(1')", hostileStmt)
  }

  test("SqlInsertFormatter escapes control characters in string literals") {
    import spark.implicits._
    val df = Seq((1L, "a\nb\tc\rd\u0000e\\f'g")).toDF("id", "txt")
    val stmt = graft.sinks.SqlInsertFormatter
      .insertStatements(df, "t", lit(0), 10)
      .head.getString(0)
    assert(stmt === raw"INSERT INTO t (id,txt) VALUES (1,'a\nb\tc\rd\0e\\f\'g')")
  }

  test("target-table types drive quoting (reference system.columns semantics)") {
    import spark.implicits._
    // string df-column bound to a numeric target → raw/unquoted;
    // numeric df-column bound to a String target → quoted
    val df = Seq(("42", 7L, "x'y")).toDF("amount", "code", "tag")
    val types = Map(
      "amount" -> "Nullable(UInt64)",
      "code" -> "LowCardinality(String)",
      "tag" -> "String")
    val stmt = graft.sinks.SqlInsertFormatter
      .insertStatements(df, "t", lit(0), 10, targetTypes = types)
      .head.getString(0)
    assert(stmt === raw"INSERT INTO t (amount,code,tag) VALUES (42,'7','x\'y')")
  }

  /** 3,000 rows over 6 source partitions with string, numeric and
    * partly-null key columns of 97, 89 and 13 (+ null) values. */
  private def manyKeys(): DataFrame =
    spark.range(0, 3000, 1, 6).select(
      col("id"),
      concat(lit("name-"), col("id")).as("name"),
      concat(lit("k"), (col("id") * 7 % 97).cast("string")).as("k_str"),
      (col("id") * 11 % 89).as("k_num"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 13).as("k_null"))

  /** Spark's ascending key order: nulls first, then by value. */
  private val keyOrder: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  /** Driver-side reference of the statement contract: each row goes to
    * the partition its key hashes to, a partition is sorted by (key,
    * source order), each key's rows are cut into windows of
    * `batchSize`, and consecutive whole windows are packed next-fit
    * into statements of at most `batchSize` tuples. */
  private def reference(df: DataFrame, key: Column, batchSize: Int): Seq[String] = {
    val prefix = s"INSERT INTO t (${df.columns.mkString(",")}) VALUES "
    val parts = spark.sparkContext.defaultParallelism
    df.select(key.as("k"), SqlInsertFormatter.valuesTuple(df).as("t"))
      .select(pmod(hash(col("k")), lit(parts)).as("p"), col("k"), col("t"))
      .collect().toSeq // source order
      .groupBy(_.getInt(0)).values.toSeq
      .flatMap { part =>
        val byKey = part.groupBy(_.get(1))
        val windows = byKey.keys.toSeq.sorted(keyOrder)
          .flatMap(k => byKey(k).map(_.getString(2)).grouped(batchSize))
        windows.foldLeft(Vector.empty[Seq[String]]) { (stmts, w) =>
          if (stmts.nonEmpty && stmts.last.size + w.size <= batchSize) stmts.init :+ (stmts.last ++ w)
          else stmts :+ w
        }.map(ts => prefix + ts.mkString(","))
      }
  }

  private def statements(df: DataFrame, key: Column, batchSize: Int): Seq[String] =
    SqlInsertFormatter.insertStatements(df, "t", key, batchSize).collect().map(_.getString(0)).toSeq

  test("statement set: each key's rows in source order, cut every batchSize; deterministic") {
    val df = manyKeys().cache()
    try {
      val keys = Seq(col("k_str"), col("k_num"), col("k_null"), spark_partition_id())
      keys.foreach { key =>
        val got = statements(df, key, 7)
        val want = reference(df, key, 7)
        assert(got.sorted === want.sorted, s"statement set differs for key $key")
        assert(statements(df, key, 7) === got, s"second run differs for key $key")
      }
      // the contract on the statements themselves; keys compare by value
      def ids(stmt: String): Seq[Long] =
        stmt.split("\\),\\(").toSeq.map(t => t.substring(t.lastIndexOf('(') + 1).takeWhile(_ != ',').toLong)
      for (k <- Seq("k_str", "k_num", "k_null"); n <- Seq(7, 1000)) {
        val stmts = statements(df, col(k), n).map(ids)
        assert(stmts.forall(_.size <= n), s"$k/$n: a statement holds more than $n tuples")
        assert(stmts.flatten.sorted === (0L until 3000L), s"$k/$n: rows lost or duplicated")
        val rowsOfKey = df.select(col(k), col("id")).collect().toSeq
          .groupBy(_.get(0)).values.map(_.map(_.getLong(1)).sorted)
        rowsOfKey.foreach(_.grouped(n).foreach { w =>
          assert(stmts.count(_.containsSlice(w)) === 1,
            s"$k/$n: window ${w.head}.. is not contiguous, in source order, in one statement")
          if (w.size == n)
            assert(stmts.contains(w), s"$k/$n: full window ${w.head}.. is not a statement of its own")
        })
      }
    } finally df.unpersist()
  }

  test("write fans out: one writer task per executor slot") {
    val slots = spark.sparkContext.defaultParallelism
    val df = manyKeys()
    TestWriter.reset(failFirst = 0)
    new BatchedRetrySink(TestWriter, maxRetries = 0, backoffMs = 1L)
      .writeBatch("t", col("k_str"), 20)(df, batchId = 1L)
    assert(TestWriter.statements.map(_.split("\\),\\(").length).sum === 3000)
    assert(TestWriter.writerPartitions === (0 until slots).toSet,
      s"writes ran in partitions ${TestWriter.writerPartitions}, not in all $slots slots")
  }

  test("a non-positive window or a malformed numeric property fails with its key") {
    val e = intercept[IllegalArgumentException](
      SqlInsertFormatter.insertStatements(manyKeys(), "t", col("k_str"), 0))
    assert(e.getMessage.contains("window.size"))

    val bad = Seq(
      "window.size" -> "0",
      "clickhouse.maxRetries" -> "three",
      "clickhouse.retryBackoffMs" -> "-1",
      "checkpoint.interval" -> "5s",
      "kafka.maxOffsetsPerTrigger" -> "99999999999999999999")
    bad.foreach { case (k, v) =>
      val props = new Properties()
      props.setProperty(k, v)
      val err = intercept[IllegalArgumentException](PipelineConfig.fromProperties(props))
      assert(err.getMessage.contains(k), s"$k=$v: ${err.getMessage}")
    }

    val props = new Properties()
    props.setProperty("window.size", " 64 ")
    props.setProperty("checkpoint.interval", "0")
    val cfg = PipelineConfig.fromProperties(props)
    assert(cfg.windowSize === 64 && cfg.triggerIntervalMs === 0L)
    assert(PipelineConfig.fromProperties(new Properties()) === PipelineConfig())
  }

  test("streaming theta audience: out-of-order chunks + overlapping replay == batch (r9)") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic full shuffle (portable-hash order), then overlapping
    // chunks: each trigger re-delivers the tail of the previous one —
    // KMV adds are set inserts, so disorder AND replay must both vanish
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect()
      .sortBy(e => graft.functions.HashImpls.mix64(e.event_id))
    val chunks = rows.grouped(math.max(1, rows.length / 7)).toSeq
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.audienceSketchStream(mem.toDS())
      .toDF("month", "approx_users")
      .writeStream.outputMode("update").format("memory")
      .queryName("theta_ooo_out").start()
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        mem.addData(c.toIndexedSeq)
        if (i > 0) mem.addData(chunks(i - 1).takeRight(25).toIndexedSeq) // replay overlap
      }
      q.processAllAvailable()
      val got = spark.table("theta_ooo_out").groupBy("month")
        .agg(last(col("approx_users")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sf)
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(graft.functions.theta_estimate(
          graft.functions.theta_sketch_agg(col("user_id"))).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === batch, s"stream=$got batch=$batch")
    } finally q.stop()
  }

  test("streaming attribution: intra-trigger disorder + overlapping replay == batch (r9)") {
    implicit val s = spark
    import s.implicits._
    import graft.streaming.StreamingPipelines.UpsertRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the op's documented contract: per-trigger folds sort their group
    // and the high-water mark skips re-delivered prefixes, so ANY
    // intra-trigger disorder plus replay of already-folded chunks must
    // reproduce the batch window op as long as chunk BOUNDARIES respect
    // event time. Chunks split on event-time order; inside each chunk
    // the rows are deterministically shuffled; every trigger also
    // re-delivers the whole previous chunk.
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"), col("value"))
      .as[UpsertRow].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = rows.grouped(math.max(1, rows.length / 5))
      .map(_.sortBy(e => graft.functions.HashImpls.mix64(e.event_id))).toSeq
    val mem = MemoryStream[UpsertRow]
    val q = StreamingPipelines.attributionStream(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("attrib_ooo_out").start()
    try {
      chunks.zipWithIndex.foreach { case (c, i) =>
        mem.addData(c.toIndexedSeq)
        if (i > 0) mem.addData(chunks(i - 1).toIndexedSeq) // replay the whole previous chunk
      }
      q.processAllAvailable()
      val got = spark.table("attrib_ooo_out").groupBy(col("_1"))
        .agg(last(col("_2")).as("credits"))
        .select(explode(col("credits")).as("c"))
        .groupBy(col("c._1")).agg(sum(col("c._2")), sum(col("c._3")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = graft.operators.EventsAnalytics.attribution.run(spark, sf)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"stream=$got batch=$want")
    } finally q.stop()
  }

}

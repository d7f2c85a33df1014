package graft.streaming

import graft.config.PipelineConfig
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming pipelines (SURVEY.md §2c).
  *
  * Semantics mirror the batch ops the DuckDB oracle checks
  * (q_time_bucket, etl_count_batch), so streaming correctness is
  * asserted by equivalence in StreamingSpec. Watermarks bound state;
  * nothing here buffers unbounded.
  */
object StreamingPipelines {

  /** Watermarked tumbling-window aggregation (streaming twin of
    * q_time_bucket). Append mode → only closed windows emit. */
  def windowedAgg(events: DataFrame, window5: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window5), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming sessionization (streaming twin of q_session): Spark's
    * native session_window merges events closer than `gap`; with a
    * watermark, closed sessions emit incrementally in append mode
    * (state per OPEN session only — bounded). StreamingSpec asserts
    * equivalence against the batch gaps-and-islands formulation. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stream-static enrichment: a streaming fact joined to a batch
    * dimension. The static side is re-planned per micro-batch (so a
    * refreshed dim parquet is picked up); no stream-side state at all,
    * unlike a stream-stream join. `broadcastDim = true` forces the
    * broadcast hint — set false for dimensions too large to broadcast
    * and let Spark pick the join strategy. Keys are resolved against
    * their own side, so stream and dim may share the key column name;
    * the dim's key column is dropped from the output. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, how: String = "left_outer",
      broadcastDim: Boolean = true): DataFrame = {
    val dimSide =
      if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim) else dim
    stream.join(dimSide, stream.col(streamKey) === dimSide.col(dimKey), how)
      .drop(dimSide.col(dimKey))
  }

  /** Streaming dedup within the watermark (at-least-once → effectively-
    * once on the event id — the dedup the reference's replay lacks). */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases enriched with the same user's
    * signups within the preceding hour. Both sides watermarked; the
    * time-range condition lets Spark bound join state on both sides. */
  def streamStreamJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    purchases.join(signups,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("signup_id"),
        col("p_ts"), col("s_ts"), col("value"))
  }

  /** Streaming incremental dedup: the LLM-pipeline dedup composed with
    * the reference's streaming shape. Each micro-batch of documents is
    * checked against the PERSISTED corpus index
    * ([[graft.operators.IncrementalDedup]]) — exact content-hash dups
    * and minhash band collisions route out; clean docs extend the
    * index — so a duplicate replayed in any LATER micro-batch is
    * caught without ever rescanning the corpus.
    *
    * Index writes go to `indexDir/{hashes,bands}/batch=<id>` with
    * overwrite, so a replayed micro-batch rewrites its own partition
    * instead of appending twice — idempotent under at-least-once
    * delivery. Within-batch duplicates (same content twice in one
    * trigger) are routed out before the corpus check.
    */
  def incrementalDedupStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))(
      onBatch: (DataFrame, DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupBatch(batch, batchId, indexDir)(onBatch)
      }
      .start()
  }

  /** Read the persisted corpus index EXCLUDING `batchId`'s own
    * partition: a replayed batch must see the index exactly as it
    * stood before its first attempt, or every doc it wrote last time
    * reads as a duplicate of itself and the overwrite then erases its
    * index contribution. */
  private def readIndexExcluding(s: SparkSession, indexDir: String,
      batchId: Long): graft.operators.IncrementalDedup.CorpusIndex = {
    import org.apache.spark.sql.types._
    val hashesSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("content_hash", StringType)))
    val bandsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("sig", StringType)))
    def readOr(path: String, schema: StructType): DataFrame =
      if (new java.io.File(path).exists())
        s.read.schema(schema.add("batch", LongType)).parquet(path)
          .filter(col("batch") =!= batchId).drop("batch")
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    graft.operators.IncrementalDedup.CorpusIndex(
      hashes = readOr(s"$indexDir/hashes", hashesSchema),
      bands = readOr(s"$indexDir/bands", bandsSchema))
  }

  /** Overwrite this batch's index partition with `clean`'s signatures
    * (idempotent under replay — see [[readIndexExcluding]]). */
  private def appendIndex(clean: DataFrame, indexDir: String, batchId: Long): Unit = {
    val newIndex = graft.operators.IncrementalDedup.buildIndex(clean)
    newIndex.hashes.write.mode("overwrite").parquet(s"$indexDir/hashes/batch=$batchId")
    newIndex.bands.write.mode("overwrite").parquet(s"$indexDir/bands/batch=$batchId")
  }

  /** One micro-batch of the incremental-dedup stream — package-visible
    * so the replay-idempotence contract is directly testable (calling
    * this twice with the SAME batchId must produce the same clean/dup
    * routing and leave the index unchanged). */
  private[graft] def processDedupBatch(batch: DataFrame, batchId: Long, indexDir: String)(
      onBatch: (DataFrame, DataFrame, Long) => Unit): Unit = {
    import graft.operators.IncrementalDedup
    import org.apache.spark.sql.expressions.Window
    val byContent = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    val marked = batch
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(byContent))
      .persist()
    try {
      val withinDups = marked.filter(col("rn") > 1).select(col("doc_id"))
      val firstCopies = marked.filter(col("rn") === 1).select(col("doc_id"), col("text"))
      val index = readIndexExcluding(batch.sparkSession, indexDir, batchId)
      val res = IncrementalDedup.dedupIncrement(firstCopies, index)
      val clean = res.clean.persist()
      try {
        appendIndex(clean, indexDir, batchId)
        val dups = withinDups
          .union(res.exactDups.select(col("doc_id")))
          .union(res.nearDupCandidates.select(col("doc_id")))
          .distinct()
        onBatch(clean, dups, batchId)
      } finally clean.unpersist()
    } finally marked.unpersist()
  }

  /** Streaming CORPUS CLEAN: the full batch `pipeline_clean`
    * composition (quality score + language gate + exact dedup +
    * near-dup canonicalization) run incrementally per micro-batch,
    * with the cross-batch duplicate check against the persisted
    * corpus index — quality-failing docs never reach the expensive
    * index join.
    *
    * Stage order inside a batch mirrors the batch pipeline so the two
    * agree row-for-row on the same docs (StreamingSpec pins it):
    * dedup DECISIONS (first-copy rank, verified-pair clusters) are
    * made over the WHOLE batch — a near-dup loser is dropped even when
    * its canonical twin then fails quality, exactly as the batch op
    * does — and the gates then shrink what flows into the corpus-index
    * check and the index append. Replay-idempotent the same way as
    * [[incrementalDedupStream]] (per-batch index partitions, own
    * partition excluded on read).
    *
    * `onBatch(clean, rejected, batchId)`: `rejected` = dedup rejects
    * (within-batch copies, non-canonical near-dups, index hits);
    * quality-gate failures are dropped silently (they are scoring
    * decisions, not duplicates — route them by scoring the raw stream
    * with [[graft.operators.CleanPipeline.withQuality]] if needed). */
  def cleanCorpusStream(
      docs: DataFrame, indexDir: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))(
      onBatch: (DataFrame, DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCleanBatch(batch, batchId, indexDir)(onBatch)
      }
      .start()

  /** One micro-batch of [[cleanCorpusStream]] — package-visible so the
    * replay contract and the batch-equivalence spec drive it directly.
    * Input batch needs `doc_id, text, n_chars`. */
  private[graft] def processCleanBatch(batch: DataFrame, batchId: Long, indexDir: String)(
      onBatch: (DataFrame, DataFrame, Long) => Unit): Unit = {
    import graft.operators.{CleanPipeline, ConnectedComponents, DedupOps, IncrementalDedup}
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val byContent = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    val marked = batch
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(byContent))
      .persist()
    try {
      // dedup decisions over the FULL batch (batch-pipeline parity)
      val pairs = DedupOps.verifiedPairsFor(marked.select(col("doc_id"), col("text")))
      val nonCanon = ConnectedComponents.run(s,
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .filter(col("doc") =!= col("label"))
        .select(col("doc").as("doc_id"))
        .persist()
      try {
        val withinRejects = marked.filter(col("rn") > 1).select(col("doc_id"))
          .union(nonCanon)
          .distinct()
        // quality + language gates BEFORE the cross-corpus index join
        val gated = CleanPipeline.qualityGate(marked)
          .filter(col("rn") === 1)
          .join(nonCanon, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"))
        val res = IncrementalDedup.dedupIncrement(
          gated, readIndexExcluding(s, indexDir, batchId))
        val clean = res.clean.persist()
        try {
          appendIndex(clean, indexDir, batchId)
          val rejected = withinRejects
            .union(res.exactDups.select(col("doc_id")))
            .union(res.nearDupCandidates.select(col("doc_id")))
            .distinct()
          onBatch(clean, rejected, batchId)
        } finally clean.unpersist()
      } finally nonCanon.unpersist()
    } finally marked.unpersist()
  }

  final case class UpsertRow(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)

  final case class FunnelState(s1: Long, s2: Long, s3: Long)

  /** Streaming WINDOW funnel (twin of batch `q_window_funnel`): per
    * user, the max signup→view→purchase level completed inside the
    * window, maintained incrementally with the same max-chain-start DP
    * the batch op folds — state is THREE LONGS per user regardless of
    * stream length.
    *
    * Each trigger sorts its group's events by (ts, event_id) and folds
    * them into the state; the `chain start ≤ event ts` guard makes
    * replayed events idempotent (a re-delivered event can only re-take
    * transitions that remain time-valid — level never overcounts).
    * Equals the batch op exactly when events arrive in event-time
    * order across triggers (the spec's condition); under disorder the
    * level is a LOWER bound — an out-of-order prerequisite can't
    * resurrect a chain for events already folded (the inherent
    * order-sensitivity of any funnel maintained without an event
    * buffer; ClickHouse's incremental MVs share it). */
  def windowFunnelStream(events: Dataset[UpsertRow], windowMicros: Long = 1800000000L)(
      implicit spark: SparkSession): Dataset[(Long, Int)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, (Long, Int)](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime * 1000L // micros
            e.event_type match {
              case "signup" =>
                st = st.copy(s1 = math.max(st.s1, t))
              case "view" if st.s1 >= 0 && st.s1 <= t && t - st.s1 <= windowMicros =>
                st = st.copy(s2 = math.max(st.s2, st.s1))
              case "purchase" if st.s2 >= 0 && st.s2 <= t && t - st.s2 <= windowMicros =>
                st = st.copy(s3 = math.max(st.s3, st.s2))
              case _ => ()
            }
          }
          state.update(st)
          val level = if (st.s3 >= 0) 3 else if (st.s2 >= 0) 2 else if (st.s1 >= 0) 1 else 0
          (uid, level)
      }
  }

  /** Per-user attribution state: the latest non-purchase touch, the
    * high-water mark of folded events (replay guard), and the running
    * per-channel credit tallies — bounded by |event types|, not stream
    * length. */
  final case class AttribState(lastTs: Long, lastId: Long, lastChannel: String,
      seenTs: Long, seenId: Long, credits: Map[String, (Long, Long)])

  /** Streaming last-touch attribution (twin of batch `q_attribution`):
    * each purchase credits the user's latest preceding non-purchase
    * event type ('direct' when none), maintained incrementally — state
    * is one touch + one watermark + ≤|event-types| tally cells per
    * user. Value snaps to integer cents through the SAME
    * BigDecimal.valueOf → HALF_UP(2) semantics as the batch
    * DECIMAL(18,2) cast, so tallies are exactly comparable.
    *
    * Each trigger folds its group's events in (ts, event_id) order;
    * events at or below the per-user high-water mark are SKIPPED, so
    * re-delivery of an already-folded prefix is a no-op (same
    * replay-idempotence contract as the window-funnel twin; under
    * cross-trigger disorder a late touch attributes like the batch op
    * only when arrival respects event-time order — the family's
    * documented condition). Emits the user's full tallies each
    * trigger; the LATEST emission is the user's current truth. */
  def attributionStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(Long, Seq[(String, Long, Long)])] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[AttribState, (Long, Seq[(String, Long, Long)])](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        var st = state.getOption.getOrElse(
          AttribState(-1L, -1L, null, Long.MinValue, Long.MinValue, Map.empty))
        it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          val t = e.ts.getTime
          if (t > st.seenTs || (t == st.seenTs && e.event_id > st.seenId)) {
            if (e.event_type == "purchase") {
              val ch = if (st.lastChannel == null) "direct" else st.lastChannel
              val cents = java.math.BigDecimal.valueOf(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              val (n0, c0) = st.credits.getOrElse(ch, (0L, 0L))
              st = st.copy(credits = st.credits.updated(ch, (n0 + 1, c0 + cents)))
            } else {
              st = st.copy(lastTs = t, lastId = e.event_id, lastChannel = e.event_type)
            }
            st = st.copy(seenTs = t, seenId = e.event_id)
          }
        }
        state.update(st)
        (uid, st.credits.toSeq.map { case (ch, (n, c)) => (ch, n, c) }.sortBy(_._1))
      }
  }

  /** Streaming CDC upsert / latest-per-key (streaming twin of the
    * batch `q_latest_per_key` argMax and `merge_upsert`): one state row
    * per key holding the current (ts, event_id)-max version; each
    * trigger emits only keys whose latest changed (Update mode — the
    * ReplacingMergeTree "current state" table maintained
    * incrementally). State is one row per key — bounded by key
    * cardinality, not stream length; with at-least-once replay the
    * lexicographic max is idempotent, so duplicates can't regress the
    * state. StreamingSpec asserts the final table equals the batch
    * argMax over the same events. */
  def latestPerKeyStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[UpsertRow] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UpsertRow, UpsertRow](GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[UpsertRow]) =>
          // lexicographic (ts, event_id) max across state + batch rows
          val latest = (state.getOption.iterator ++ rows)
            .maxBy(r => (r.ts.getTime, r.event_id))
          state.update(latest)
          latest
      }
  }

  /** Streaming heavy hitters: maintain the corpus-wide top-k of an
    * unbounded key domain in O(capacity) state — the trending-items
    * query a full streaming groupBy can't give without unbounded
    * state. The SpaceSaving sketch ([[graft.functions.SpaceSavingTopK]])
    * rides Spark's typed streaming aggregation: partial sketches fold
    * map-side per micro-batch and MERGE into the single state sketch
    * (Complete mode re-emits the current top-k per trigger, flattened
    * to plain columns for any sink). */
  def heavyHittersStream(items: Dataset[String], capacity: Int = 256, k: Int = 10)(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    items
      .groupByKey(_ => 0)
      .agg(new graft.functions.SpaceSavingTopK(capacity, k).toColumn)
      .flatMap { case (_, topk) => topk }
  }

  /** Streaming deterministic priority sample: maintain a weighted
    * k-sample-without-replacement of an unbounded stream in O(k)
    * state — the reservoir-sampling replacement whose result does NOT
    * depend on arrival order ([[graft.functions.PrioritySampleK]]:
    * priority w/u from the salted portable hash, top-k semilattice
    * state). Order-freedom is what a distributed streaming sample
    * needs and an RNG reservoir cannot give: partial states fold
    * map-side per micro-batch and merge associatively, at-least-once
    * replay of any row is a no-op, and a restart from checkpoint
    * reproduces the identical sample — the same selection contract
    * as batch `sample_weighted`, so the stream's sample can be
    * oracle-matched against the batch plan over the same rows. */
  def prioritySampleStream(rows: Dataset[(String, Long)], k: Int = 10,
      salt: String = "ps#")(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    rows
      .groupByKey(_ => 0)
      .agg(new graft.functions.PrioritySampleK(k, salt).toColumn)
      .flatMap { case (_, sample) => sample }
  }

  /** Streaming distinct-count via HLL state (twin of batch
    * `q_hll_rollup`): one 4 KB register array per group key, each
    * trigger folds its rows in and emits the running estimate — the
    * unbounded-domain distinct count a streaming
    * `approx_count_distinct` groupBy cannot give with bounded state.
    * Register updates are MAX operations, so the state is a CRDT:
    * at-least-once replay of any event is a no-op by construction
    * (the spec replays a batch and pins unchanged estimates), and the
    * final state equals the batch sketch over the same rows exactly —
    * not approximately — because add/merge order never matters. */
  def distinctUsersStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Array[Byte], (String, Long)](GroupStateTimeout.NoTimeout) {
        (etype, rows, state) =>
          val regs = state.getOption.getOrElse(new Array[Byte](graft.functions.HllImpls.M))
          rows.foreach(r => graft.functions.HllImpls.add(regs, r.user_id))
          state.update(regs)
          (etype, graft.functions.HllImpls.estimate(regs))
      }
  }

  /** Streaming per-month audience THETA sketch — the set-algebra
    * sketch tier's streaming half (HLL stream above answers "how
    * many"; theta state additionally feeds month-vs-month
    * retained/new/churned downstream, the q_theta_months serve path).
    * State = the serialized KMV sketch (≤ 32 KB per month); adding a
    * key is a set insert and merging keeps the K smallest hashes, so
    * the state is a CRDT — at-least-once replay is a no-op BY
    * CONSTRUCTION, and the final state is byte-identical to the batch
    * `theta_sketch_agg` over the same rows (set semantics: order
    * never matters). Emits (month, estimate) per trigger. */
  def audienceSketchStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(String, Long)] = {
    import spark.implicits._
    import graft.functions.ThetaImpls
    events
      .select(date_format(col("ts"), "yyyy-MM").as("month"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Long)](GroupStateTimeout.NoTimeout) {
        (month, rows, state) =>
          val set = ThetaImpls.newSet()
          state.getOption.foreach(b => ThetaImpls.mergeInto(set, b))
          rows.foreach(r => ThetaImpls.add(set, r._2))
          val bytes = ThetaImpls.serialize(set)
          state.update(bytes)
          (month, ThetaImpls.estimate(bytes))
      }
  }

  final case class MomentsState(n: Long, s1_cents: Long, s2_cents4: Long)

  /** Streaming per-key moments (n, Σv, Σv²) via exact INTEGER state —
    * the incremental twin of batch `q_outliers`' stats CTE. Values are
    * first rounded to 2 dp exactly as Spark's double→DECIMAL(18,2)
    * cast does (shortest-decimal string, HALF_UP), then accumulated as
    * scaled longs (cents and cents²·10⁻⁴): integer addition is
    * order-independent and replay-visible, so the final state equals
    * the batch DECIMAL aggregate EXACTLY regardless of how the stream
    * was batched — the spec pins stream == batch and z-scores derived
    * from the final moments == the batch outlier op. Overflow bound:
    * |v| ≤ 10⁶ for ~10⁸ rows per key fits s2 in a signed long; beyond
    * that, widen the state to BigDecimal. Emits the running moments
    * per trigger (Update mode) — mean/stddev are a cheap map over the
    * emitted longs, left to the caller so the state stays exact. */
  def momentsStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(String, Long, Long, Long)] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[MomentsState, (String, Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (etype, rows, state) =>
          var st = state.getOption.getOrElse(MomentsState(0L, 0L, 0L))
          rows.foreach { r =>
            // java.lang.Double.toString == Spark Decimal(double)'s
            // shortest-repr path; 2.675 must round to 2.68, not 2.67
            val cents = new java.math.BigDecimal(java.lang.Double.toString(r.value))
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            st = MomentsState(st.n + 1, st.s1_cents + cents, st.s2_cents4 + cents * cents)
          }
          state.update(st)
          (etype, st.n, st.s1_cents, st.s2_cents4)
      }
  }

  /** Streaming per-key quantiles via t-digest state — the incremental
    * twin of q_approx_percentile's TDigestQuantiles aggregate. Each
    * trigger folds the batch's values into the key's digest and writes
    * it back serialized; centroids are BOUNDED by the compression
    * parameter, so state per key is a few KB regardless of stream
    * length — the reason a quantile can live in a state store at all
    * (exact percentiles would need every value). Emits the running
    * (p50, p95) per trigger in Update mode.
    *
    * Contract is RANK accuracy, not bit-equality with a batch digest:
    * centroid boundaries depend on fold order (the scoped determinism
    * note on functions/TDigest.scala), which differs between a
    * streamed and a batched run — the spec therefore pins the rank
    * error of the emitted estimates against the exact sorted stream,
    * the same ±1% gauge TDigestSpec uses for the batch aggregate. */
  def quantilesStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(String, Double, Double)] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Array[Byte], (String, Double, Double)](GroupStateTimeout.NoTimeout) {
        (etype, rows, state) =>
          val dig = state.getOption
            .map(graft.functions.TDigest.fromBytes)
            .getOrElse(new graft.functions.TDigest(300.0))
          rows.foreach(r => dig.add(r.value))
          state.update(dig.toBytes)
          (etype, dig.quantile(0.5), dig.quantile(0.95))
      }
  }

  /** Streaming FIRST-SEEN detection — emit each user exactly once, on
    * their first event (the new-user signal feeding acquisition
    * dashboards; the streaming half of batch q_new_returning's
    * first-day split). State is ONE BOOLEAN per user; re-delivered or
    * later events emit nothing, so the output stream is
    * replay-idempotent BY CONSTRUCTION — at-least-once upstream
    * delivery cannot double-count a signup. */
  def firstSeenStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(Long, java.sql.Timestamp)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, (Long, java.sql.Timestamp)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = it.minBy(e => (e.ts.getTime, e.event_id))
            Iterator((uid, first.ts))
          }
      }
  }

  final case class EwmaState(n: Long, ewma: Double)

  final case class CusumState(acc: Long, n: Long, seenTs: Long, seenId: Long)

  /** Streaming CUSUM changepoint score (mapGroupsWithState twin of the
    * batch `q_cusum`): per key, the one-sided cumulative-sum fold
    * acc ← max(acc + x·n − sc, 0) over cents-integer values against a
    * FIXED reference mean supplied as (targetSumCents, targetN) —
    * streaming CUSUM monitors drift against a target, it cannot peek
    * at the corpus mean the batch query computes in one pass. State is
    * ALL-INTEGER (the windowFunnel/sequenceCount discipline): the
    * accumulator in cents·n units plus a (ts, event_id) high-water
    * mark, so replaying an already-folded prefix is a no-op and the
    * final score equals the batch fold bit for bit — the emit does the
    * single `acc div n / 100` divide the batch does. */
  def cusumStream(events: Dataset[UpsertRow], targetSumCents: Long, targetN: Long)(
      implicit spark: SparkSession): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CusumState, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(
            CusumState(0L, 0L, Long.MinValue, Long.MinValue))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (t > st.seenTs || (t == st.seenTs && e.event_id > st.seenId)) {
              val cents = java.math.BigDecimal.valueOf(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              st = CusumState(
                math.max(st.acc + cents * targetN - targetSumCents, 0L),
                st.n + 1, t, e.event_id)
            }
          }
          state.update(st)
          (uid, st.n, (st.acc / targetN) / 100.0)
      }
  }

  final case class GapState(lastId: Long, nGaps: Long, maxGap: Long, sumGap: Long)

  /** Streaming offset-gap monitor — live twin of batch
    * `etl_gap_profile`, and the reference's at-least-once story told
    * on OFFSETS: per stream key, track the gap distribution between
    * consecutive record ids with FOUR longs of state (high-water id,
    * n, max, Σ). The monotone high-water mark makes redelivery a
    * no-op (an id ≤ lastId folds to nothing), so at-least-once input
    * yields effectively-once gap statistics; in-trigger rows fold in
    * id order. Emits the updated profile per key per trigger; the
    * exact-ppm mean uses the batch op's integer floor. p95 is
    * deliberately absent — bounded state; the batch op serves it. */
  def gapMonitorStream(events: Dataset[UpsertRow])(
      implicit spark: SparkSession): Dataset[(String, Long, Long, Long)] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[GapState, (String, Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          var st = state.getOption.getOrElse(GapState(Long.MinValue, 0L, 0L, 0L))
          it.toSeq.sortBy(_.event_id).foreach { e =>
            if (e.event_id > st.lastId) {
              if (st.lastId != Long.MinValue) {
                val gap = e.event_id - st.lastId
                st = GapState(e.event_id, st.nGaps + 1, math.max(st.maxGap, gap),
                  st.sumGap + gap)
              } else st = st.copy(lastId = e.event_id)
            }
          }
          state.update(st)
          (key, st.nGaps, st.maxGap,
            if (st.nGaps > 0) st.sumGap * 1000000L / st.nGaps else 0L)
      }
  }

  /** Streaming per-user EWMA — incremental twin of batch `q_ewma`,
    * same recurrence (α=0.3, per-step 1e-10 grid snap) folded over
    * each trigger's rows in (ts, event_id) order. State is TWO FIELDS
    * per user regardless of stream length; the grid snap makes the
    * state equal the batch fold EXACTLY whenever events arrive in
    * event-time order across triggers (the spec's condition — same
    * contract as the window-funnel twin; EWMA is order-defined, so
    * disorder shifts the value by construction, not by bug). */
  def ewmaStream(events: Dataset[UpsertRow], alpha: Double = 0.3)(
      implicit spark: SparkSession): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(EwmaState(0L, 0.0))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            st =
              if (st.n == 0L) EwmaState(1L, e.value)
              else EwmaState(st.n + 1,
                // Double.toString == Spark round()'s shortest-repr
                // path (the momentsStream cast contract) — a raw
                // BigDecimal(double) would round the binary expansion
                new java.math.BigDecimal(
                  java.lang.Double.toString(alpha * e.value + (1 - alpha) * st.ewma))
                  .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue())
          }
          state.update(st)
          (uid, st.n, st.ewma)
      }
  }

  final case class SilenceAlert(user_id: Long, last_ts: java.sql.Timestamp,
      n_events: Long)

  /** Silence / heartbeat-loss detection: emit an alert when a key that
    * was active produces no event for `gap` of EVENT time — the
    * monitoring primitive (sensor offline, pipeline stalled, user
    * churned) that needs event-time TIMEOUTS, not just watermarked
    * aggregation: nothing arrives for a silent key, so only the state
    * store can speak for it. flatMapGroupsWithState with
    * EventTimeTimeout: each batch refreshes the key's last-seen ts and
    * re-arms the timeout at last_ts + gap; when the WATERMARK (not the
    * wall clock — replays stay deterministic) passes that point the
    * state times out, the alert fires once, and the key's state is
    * dropped (re-appearing keys start fresh). One state row per
    * currently-live key. */
  def silenceDetector(events: Dataset[UpsertRow], gap: String = "1 hour")(
      implicit spark: SparkSession): Dataset[SilenceAlert] = {
    import spark.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapMs.months == 0, "silence gap must be a fixed duration (no months)")
    val gapMillis = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SilenceAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (lastTs, n) = state.get
            state.remove()
            Iterator.single(SilenceAlert(key, new java.sql.Timestamp(lastTs), n))
          } else {
            val (prevTs, prevN) = state.getOption.getOrElse((Long.MinValue, 0L))
            var lastTs = prevTs
            var n = prevN
            rows.foreach { r => n += 1; if (r.ts.getTime > lastTs) lastTs = r.ts.getTime }
            state.update((lastTs, n))
            // a LATE event (flatMapGroupsWithState does not drop them)
            // can put lastTs + gap at or below the current watermark,
            // where setTimeoutTimestamp throws and kills the query —
            // clamp so the stale key simply times out on the next batch
            state.setTimeoutTimestamp(
              math.max(lastTs + gapMillis, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  final case class EventRow(event_id: Long, user_id: Long, value: Double)
  final case class KeyedBatch(user_id: Long, batch_seq: Long, n: Int,
      min_event: Long, max_event: Long)

  /** True port of the reference's `countWindow(N)` (KafakToClickhouse
    * .scala:57-60): flush a batch per key every N records, holding at
    * most N-1 rows of state per key in the state store. */
  def countBatcher(events: Dataset[EventRow], n: Int)(
      implicit spark: SparkSession): Dataset[KeyedBatch] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, List[EventRow]), KeyedBatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Long, List[EventRow])]) =>
          val (seq0, pending0) = state.getOption.getOrElse((0L, Nil))
          var seq = seq0
          var pending = pending0
          val out = scala.collection.mutable.ListBuffer.empty[KeyedBatch]
          rows.foreach { r =>
            pending = r :: pending
            if (pending.size >= n) {
              val ids = pending.map(_.event_id)
              out += KeyedBatch(key, seq, pending.size, ids.min, ids.max)
              seq += 1
              pending = Nil
            }
          }
          state.update((seq, pending))
          out.iterator
      }
  }

  final case class ConvState(counted: Boolean, converted: Boolean)

  final case class ConvDelta(variant: String, d_users: Int, d_conv: Int)

  /** Streaming experiment monitor — the live twin of batch
    * `q_two_prop`: per-user keyed state emits a DELTA row the first
    * time a user is seen (+1 exposed) and the first time they convert
    * (+1 big-ticket purchase, the batch op's value≥150 definition).
    * State transitions are MONOTONE booleans, so every delta is
    * emitted exactly once — at-least-once redelivery folds to zero new
    * deltas and summing the output stream per variant reproduces the
    * batch (n, conversions) integers exactly; the dashboard computes
    * the same z the batch emits. Variant assignment replicates the
    * portable-hash bucketing (md5-prefix long, the Exprs.md5Long
    * convention) byte-for-byte on the JVM side. */
  def conversionStream(events: Dataset[UpsertRow], bigTicket: Double = 150.0)(
      implicit spark: SparkSession): Dataset[ConvDelta] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, ConvDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          val st = state.getOption.getOrElse(ConvState(false, false))
          val sawConv = it.exists(e => e.event_type == "purchase" && e.value >= bigTicket)
          val du = if (!st.counted) 1 else 0
          val dc = if (!st.converted && sawConv) 1 else 0
          state.update(ConvState(counted = true, converted = st.converted || sawConv))
          if (du == 0 && dc == 0) Iterator.empty
          else Iterator(ConvDelta(variantOf(uid), du, dc))
      }
  }

  final case class BinDelta(bin: Int, d_users: Int)

  /** Streaming distribution-drift monitor — the incremental twin of
    * batch `q_psi`: maintains the CURRENT period's per-bin histogram
    * of purchase values (10 equal-width bins over the caller's
    * reference cent range, outliers clamped to the edge bins — the
    * exact q_psi binning rule) and emits per-bin deltas a consumer
    * folds into the live histogram to score PSI against the frozen
    * reference via [[psiOf]].
    *
    * Replay safety WITHOUT an event-id ledger: the histogram counts
    * DISTINCT USERS per bin, and per-user state is one 10-bit BITMASK
    * (an Int, regardless of stream length) — a bin delta is emitted
    * only when a user touches a bin for the first time, so
    * at-least-once redelivery folds to zero by construction. A
    * distinct-user histogram is the drift gauge production monitors
    * prefer anyway (event-count histograms double-weight chatty
    * users and aren't replay-dedupable in bounded state). */
  def driftStream(events: Dataset[UpsertRow], loCents: Long, hiCents: Long)(
      implicit spark: SparkSession): Dataset[BinDelta] = {
    import spark.implicits._
    events.filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, BinDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, it, state) =>
          var mask = state.getOption.getOrElse(0)
          val out = scala.collection.mutable.ArrayBuffer.empty[BinDelta]
          it.foreach { e =>
            val cents = new java.math.BigDecimal(java.lang.Double.toString(e.value))
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            val bin = math.max(0L, math.min(9L,
              (cents - loCents) * 10 / (hiCents - loCents + 1))).toInt
            if ((mask & (1 << bin)) == 0) {
              mask |= 1 << bin
              out += BinDelta(bin, 1)
            }
          }
          state.update(mask)
          out.iterator
      }
  }

  /** PSI of a current histogram against a reference — the IDENTICAL
    * +1-Laplace-smoothed formula text batch q_psi emits per bin,
    * summed (bins absent from a map count 0). */
  private[graft] def psiOf(ref: Map[Int, Long], cur: Map[Int, Long]): Double = {
    val t1 = ref.values.sum + 10.0
    val t2 = cur.values.sum + 10.0
    (0 until 10).map { b =>
      val q1 = (ref.getOrElse(b, 0L) + 1.0) / t1
      val q2 = (cur.getOrElse(b, 0L) + 1.0) / t2
      (q2 - q1) * math.log(q2 / q1)
    }.sum
  }

  /** JVM twin of `Exprs.md5Long(CAST(user_id AS STRING)) % 2`:
    * first 15 hex chars of the md5 as a long, even → A. */
  private[graft] def variantOf(uid: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(uid.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "A" else "B"
  }

  final case class SprtDraw(variant: String, n: Long)
  final case class SprtSeen(seen: Boolean)

  /** Streaming twin of `q_sprt`: every big-ticket purchase EVENT is one
    * Bernoulli draw of "converter sits in variant B", emitted as a
    * replay-proof delta. State keys on event_id (a seen flag — the
    * etl_key_dedup discipline applied to draws), so at-least-once
    * redelivery adds exactly zero and the summed deltas equal the
    * batch op's cumulative (ca, cb) integers — the spec pins that
    * equality after a deliberate replay. The big-ticket gate rounds to
    * cents HALF_UP first, replicating the batch op's DECIMAL(18,2)
    * cast byte-for-byte. In production the per-event state is bounded
    * by a watermark-scoped dedup window upstream. */
  def sprtStream(events: Dataset[UpsertRow], bigTicketCents: Long = 15000L)(
      implicit spark: SparkSession): Dataset[SprtDraw] = {
    import spark.implicits._
    events
      .filter { e =>
        e.event_type == "purchase" &&
          java.math.BigDecimal.valueOf(e.value)
            .setScale(2, java.math.RoundingMode.HALF_UP)
            .movePointRight(2).longValueExact() >= bigTicketCents
      }
      .groupByKey(_.event_id)
      .flatMapGroupsWithState[SprtSeen, SprtDraw](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, it, state) =>
          if (state.exists) Iterator.empty // replayed draw: adds zero
          else {
            state.update(SprtSeen(true))
            Iterator(SprtDraw(variantOf(it.next().user_id), 1L))
          }
      }
  }

  /** Streaming sink into a [[graft.sinks.SnapshotLake]] table with an
    * AUTO-COMPACTION trigger: each micro-batch lands as its own
    * snapshot commit (tiny files — the shape that slowly poisons a
    * lake), and whenever the current snapshot references more than
    * `maxSmallFiles` files below `targetBytes`, the same batch also
    * publishes a layout-only compaction commit. The maintenance loop a
    * streaming-fed 100-TB table needs, wired where the problem is
    * created instead of left to an offline janitor. Delivery is
    * at-least-once ACROSS RESTARTS (a batch replayed after a crash
    * between commit and checkpoint re-appends — same as any external
    * non-transactional sink; key-dedup downstream or the etl_key_dedup
    * op restores effectively-once); within a run each batch commits
    * exactly once, which the spec pins row-for-row. */
  def snapshotLakeStream(rows: DataFrame, path: String,
      targetBytes: Long, maxSmallFiles: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sinks.SnapshotLake.commitAppend(batch, path)
          if (graft.sinks.SnapshotLake.smallFileCount(path, targetBytes) > maxSmallFiles)
            graft.sinks.SnapshotLake.compact(batch.sparkSession, path, targetBytes)
        }
        ()
      }
}

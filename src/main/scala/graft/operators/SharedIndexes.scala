package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-shared [[graft.CachedPlans]] indexes in one place — the
  * build-once/serve-many frames that multiple operators read (dedup
  * inverted indexes, verified near-dup pairs, cluster labels, the IVF
  * inverted file, the PQ-encoded corpus, the trade-edge graph).
  *
  * Why a registry of builders exists at all: whichever query touches a
  * shared index FIRST pays its build, so per-query timings attribute a
  * family-wide cost to an arbitrary member. [[materializeAll]] is the
  * explicit offline build phase — `dedup_candidate_index` (which sorts
  * before every consumer in the bench's name-ordered run) forces every
  * entry, so each downstream query times its OWN plan against warm
  * indexes: the build/serve split a production pipeline runs anyway.
  *
  * Intra-query persists (e.g. equidepth's `ranged` self-join input)
  * are deliberately NOT here: with a single consumer, the build IS
  * that query's own cost and belongs in its timing.
  */
object SharedIndexes {

  /** (name, builder) for every cross-operator shared index. Builders
    * return the registry-persisted frame (building it on first use). */
  def entries(s: SparkSession, d: String): Seq[(String, () => DataFrame)] = Seq(
    "dedup_shingled" -> (() => DedupOps.shingledDocs(s, d)),
    "dedup_hashed_index" -> (() => DedupOps.hashedIndex(s, d)),
    "dedup_rare_index" -> (() => DedupOps.rareIndex(s, d)),
    "dedup_minhash_pairs" -> (() => DedupOps.minhashPairs(s, d)),
    "dedup_minhash_sigs" -> (() => DedupOps.corpusSigs(s, d)), // r15: shared by minhash pair chain + band curve
    "dedup_ngram_pairs" -> (() => DedupOps.ngramPairs(s, d)), // r15: shared by ngram + lsh_audit + band curve
    "dedup_cluster_labels" -> (() => DedupOps.clusterLabels(s, d)),
    "dedup_simhash_docs" -> (() => DedupOps.simhashDocs(s, d)),
    "knn_ivf_assigned" -> (() => IvfIndex.assigned(s, d)), // forces corpus + KMeans fit
    "knn_graph_edges" -> (() => KnnOps.knnGraphEdges(s, d)), // r11: was triple-built by its audit family
    "text_tokens" -> (() => TextOps.tokenized(s, d)), // r12: 15 text ops re-exploded documents independently
    "emb_km_assigned" -> (() => EmbedOps.kmAssigned(s, d)), // forces exact-Lloyd loop
    "emb_pq_codes" -> (() => EmbedOps.pqCodes(s, d)),
    "affinity_basket_pairs" -> (() => AffinityOps.basketPairs(s, d)),
    "graph_trade_edges" -> (() => GraphOps.tradeEdges(s, d)),
    "graph_und_edges" -> (() => GraphOps.undirectedTradeEdges(s, d)))

  /** Per-index build seconds of every [[materializeAll]] call this
    * JVM, in call order (r16, verdict #6): `dedup_candidate_index`
    * carries the whole session's shared-index build, and the bench
    * artifact now shows WHICH index costs what instead of a manual
    * attribution paragraph. Drained by [[graft.Bench]] into the
    * artifact's `index_build_sec_run1/2` maps; each entry also logs a
    * `[index-build]` stderr line at build time. */
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Remove and return every timing recorded since the last drain. */
  def drainBuildLog(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var e = buildLog.poll()
    while (e != null) { out += e; e = buildLog.poll() }
    out.toSeq
  }

  /** Which indexes must exist BEFORE another may build concurrently:
    * a dependent's builder reads its dependency through
    * [[graft.CachedPlans]], so building them in parallel would race
    * two threads into deriving the same upstream frame twice (the
    * registry resolves the race but both derivations run). Everything
    * absent here is a root (reads only source tables). */
  private val buildDeps: Map[String, Seq[String]] = Map(
    "dedup_hashed_index" -> Seq("dedup_shingled"),
    "dedup_rare_index" -> Seq("dedup_hashed_index"),
    "dedup_minhash_sigs" -> Seq("dedup_hashed_index"),
    "dedup_minhash_pairs" -> Seq("dedup_minhash_sigs", "dedup_shingled"),
    "dedup_ngram_pairs" -> Seq("dedup_rare_index", "dedup_shingled"),
    "dedup_cluster_labels" -> Seq("dedup_minhash_pairs"),
    // both fit Lloyd over the registry's `emb.kmScaled` frame: one after
    // the other, the second reads the cache the first filled instead of
    // both computing its blocks at once
    "emb_km_assigned" -> Seq("knn_ivf_assigned"),
    "graph_und_edges" -> Seq("graph_trade_edges"))

  /** The index-build pool width from `SPARK_GRAFT_BUILD_THREADS`
    * (unset: 6); a value that is not a positive integer fails with the
    * variable's name. */
  private[graft] def buildThreads(raw: Option[String]): Int =
    graft.GraftSession.positiveInt("SPARK_GRAFT_BUILD_THREADS", raw, 6)

  /** Force-build and materialize every shared index; returns each
    * index's name and row count (all deterministic corpus statistics).
    *
    * Disk round trip (r10): when a completed [[IndexStore]] exists for
    * this corpus, the saved artifacts are swapped into the session
    * registry FIRST, so the "build" below is a warm serve (parquet
    * reads, zero re-derivation — the counts are identical by
    * determinism). Otherwise the freshly built indexes are written to
    * the store, making the NEXT session's build phase a load.
    *
    * Concurrency (r17, guide §2.6 "overlap independent jobs"): the 16
    * builds ran strictly sequentially, so every build's straggler tail
    * left the cluster idle — the single largest attributable cost
    * block in the bench (r16 verdict #2). Independent builds are now
    * submitted from a small thread pool (enough to back-fill a
    * finishing job's tail, not enough to thrash the scheduler — size
    * measured below); dependency edges
    * ([[buildDeps]]) are enforced by Future composition — a dependent
    * schedules only after its upstream registry entry exists, so no
    * frame is ever derived twice. Determinism is untouched: each
    * index's rows are the same corpus statistics regardless of build
    * interleaving, and the returned sequence keeps [[entries]] order. */
  def materializeAll(s: SparkSession, d: String): Seq[(String, Long)] = {
    val useStore = IndexStore.enabled(s)
    val served = useStore && IndexStore.isComplete(s, d)
    if (served) IndexStore.loadAll(s, d)
    // default 6: measured cold sf0.1 build phase 33–34 s sequential →
    // 19.6–20.7 s at 3 threads → 16.4–16.8 s at 6 (diminishing past
    // that — the dedup dependency chain bounds the usable width);
    // env-overridable for narrower boxes
    val nThreads = buildThreads(sys.env.get("SPARK_GRAFT_BUILD_THREADS"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads, r => {
      val t = new Thread(r, "graft-index-build"); t.setDaemon(true); t
    })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val counts =
      try {
        val es = entries(s, d)
        val byName = es.toMap
        val futures = scala.collection.mutable.HashMap.empty[String, scala.concurrent.Future[Long]]
        def futureFor(name: String): scala.concurrent.Future[Long] =
          futures.getOrElseUpdate(name, {
            val depFs = buildDeps.getOrElse(name, Nil).map(futureFor)
            scala.concurrent.Future.sequence(depFs).map { _ =>
              s.sparkContext.setJobDescription(s"index-build: $name")
              val t0 = System.nanoTime()
              val n = byName(name)().count()
              val sec = (System.nanoTime() - t0) / 1e9
              buildLog.add((name, math.rint(sec * 100) / 100))
              System.err.println(
                f"[index-build] $name: $n rows, $sec%.2f s (${if (served) "served from store" else "built"})")
              n
            }
          })
        es.foreach { case (name, _) => futureFor(name) } // single-threaded creation
        es.map { case (name, _) =>
          name -> scala.concurrent.Await.result(
            futures(name), scala.concurrent.duration.Duration.Inf)
        }
      } finally pool.shutdown()
    if (useStore) IndexStore.saveAll(s, d) // no-op when already complete
    counts
  }
}

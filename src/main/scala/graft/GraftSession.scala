package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local-mode testing stands in for a multi-executor cluster: AQE on
  * (runtime coalesce + skew-join splitting), shuffle partitions sized
  * to cores (not the 200 default), UTC session time for oracle parity.
  */
object GraftSession {
  def builder(master: String = "local[*]", cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r17: size post-shuffle partitions by BYTES (advisory size),
      // not by a parallelism floor. The parallelismFirst=true default
      // pads every post-shuffle stage out to defaultParallelism tasks
      // regardless of data size — Spark's own config doc says "it's
      // recommended to set this config to false and respect the
      // configured target size". On a KB-sized aggregate that padding
      // is `cores` task launches of pure scheduling overhead per
      // exchange (the dedup_embed / corpus_datasheet 32-core flags:
      // both ran 4× FASTER at 8 cores before this). At 100 TB the
      // advisory size (64 MB default) yields thousands of partitions —
      // parallelism follows the data, no local-mode constant involved.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ... with a cores-derived FLOOR (suggested, not guaranteed):
      // pure bytes-based coalescing serializes compute-dense mid-size
      // stages — a 15 MB window input is one 64 MB-advisory partition,
      // i.e. a single-task sort+eval (q_window measured 0.48→1.81 s
      // when this floor was absent). minPartitionNum folds into the
      // target as max(total/minNum, minPartitionSize): a KB-sized
      // aggregate still collapses to 1 task (minPartitionSize 1 MB
      // wins), a mid-size stage keeps ~cores/4 tasks, and at scale
      // stages exceed the floor naturally so it is inert. The floor
      // derives from the session's core count, not a local constant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(2, cores / 4).toString)
      // pinned to their Spark 4 defaults deliberately: both are
      // load-bearing for the 100-TB plan shape (AQE skew-join split
      // for hot keys; runtime bloom filters pruning the fact side of
      // shuffle joins before the exchange), and pinning keeps an ops
      // config override from silently turning them off
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // static conf, read once at first-session bring-up: the default
      // 100-entry generated-class cache thrashes on a 200+-query
      // surface (every pass evicts everything, so every query repays
      // Janino compilation — pure driver-side latency that grows with
      // the library, not the data); size it to hold the whole surface.
      // r15: 4000 → 8000 after the 449-query surface started evicting
      // mid-session (pass-2 emb/graph spikes with flat GC — recompiles,
      // not heap; cold-isolated the same ops matched their r14 times)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // Long-session health (r12, after two driver rounds showed the
      // SECOND full pass over a ~390-query surface running 2.2× slower
      // than the first with 30–96× single-query GC spikes): a session
      // that executes hundreds of plans accretes driver-side state
      // that the defaults size for a handful of long jobs, not
      // thousands of short ones.
      //  - AppStatus/SQL listener stores retain 1000 jobs / 1000
      //    stages / 100k tasks / 1000 SQL executions by default —
      //    hundreds of MB of old-gen on a 780-execution session, all
      //    dead weight with the UI off. Cap them low; nothing here
      //    reads them back.
      //  - ContextCleaner is GC-driven (shuffle files, broadcasts and
      //    accumulators are only released when a GC enqueues their
      //    weak refs) and its safety-net periodic GC fires every 30
      //    MINUTES by default — an 11-minute bench session never gets
      //    one, so shuffle/broadcast state piles up until heap
      //    pressure forces stop-the-world collections mid-query.
      //    5 minutes keeps the reclaim cadence ahead of accretion.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "400")
      .config("spark.ui.retainedTasks", "20000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** The positive integer in `raw`, the value of environment variable
    * `name` (unset: `default`); any other value fails with the
    * variable's name. */
  private[graft] def positiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer; got '$v'"))
    }

  /** The local core count from `SPARK_GRAFT_CPUS` (unset: `default`). */
  private[graft] def cpus(raw: Option[String], default: Int): Int =
    positiveInt("SPARK_GRAFT_CPUS", raw, default)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

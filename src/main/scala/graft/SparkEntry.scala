package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the op inventory. */
object SparkEntry {

  /** Every operator the engine exposes, from all op families.
    * Names MUST be unique: `queries` is a last-wins Map, so a
    * colliding key would silently unregister a live op (the r13
    * lesson — five ops shadowed). The require makes that loud. */
  lazy val allOps: Seq[GraftOp] = {
    val ops = allOpsUnchecked
    val dup = ops.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate GraftOp names: ${dup.mkString(", ")}")
    ops
  }

  private def allOpsUnchecked: Seq[GraftOp] =
    Relational.ops ++ SqlSurface.ops ++ SqlSurface2.ops ++ SqlSurface3.ops ++
      TpchMore.ops ++ TpchMore2.ops ++ TpchMore3.ops ++ ModernSql.ops ++ EmbedOps.ops ++ EmbedOps2.ops ++
      EventsAnalytics.ops ++ PackOps.ops ++ CurationOps.ops ++ GraphOps.ops ++ GraphOps2.ops ++
      EtlOps.ops ++ TextOps.ops ++ TextOps2.ops ++ TextOps3.ops ++ DedupOps.ops ++ CleanPipeline.ops ++ MmOps.ops ++
      KnnOps.ops ++ MipsOps.ops ++ FusionOps.ops ++ KllOps.ops ++ TopK.ops ++ Sampling.ops ++ RangeJoin.ops ++ JoinPrune.ops ++
      AffinityOps.ops ++ StatsOps.ops ++ StatsOps2.ops ++ StatsOps3.ops ++ StatsOps4.ops ++
      StatsOps5.ops ++ StatsOps6.ops ++ StatsOps7.ops ++ PrefOps.ops

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5Join.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map(op => op.name -> op.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allOps.flatMap(op => op.oracle.map(op.name -> _)).toMap
}

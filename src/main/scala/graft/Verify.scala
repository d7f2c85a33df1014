package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Session comes from GraftSession.builder so correctness is verified
  * on the SAME configuration (AQE, extensions, UTC, nanosAsLong) that
  * Bench times and library users run — divergent hand-rolled configs
  * would let AQE-only bugs slip past verification.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — iterate on new
    // ops without re-running the whole surface (driver passes 2 args)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = GraftSession.cpus(sys.env.get("SPARK_GRAFT_CPUS"), 4)
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .collect { case (k, v) if keep(k) => s"${JsonUtil.q(k)}: ${JsonUtil.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    CachedPlans.clear(spark)
    spark.stop()
  }
}

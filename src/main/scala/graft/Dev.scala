package graft

/** Dev harness: time or explain a single op.
  * usage: runMain graft.Dev <opName> <sfDir> [explain]
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val opName = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "time"
    val cpus = GraftSession.cpus(sys.env.get("SPARK_GRAFT_CPUS"), 32)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "explain") SparkEntry.queries(opName)(spark, sfDir).explain("formatted")
    else if (mode == "plan") {
      // AQE's final plan exists only after execution — and only in the
      // QueryExecution that actually ran. df.write.save() runs its OWN
      // QueryExecution, leaving df's executedPlan an unexecuted
      // AdaptiveSparkPlanExec (isFinalPlan=false), so drive df's plan
      // directly via toRdd before printing.
      val df = SparkEntry.queries(opName)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      println(df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
    }
    else {
      // Bench parity: noop-sink the FULL plan, and rebuild the frame per
      // run so driver-loop ops (iterative graph/k-means) pay their loop
      // inside the timing — count() let Catalyst prune unreferenced
      // columns (winnowing's whole window once timed as 0.4 s of a 3 s
      // plan) and a prebuilt frame hid every driver-side loop.
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(opName)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(f"[dev] $opName run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}

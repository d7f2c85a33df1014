package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{CachedPlans, GraftSession, SparkEntry}

/** r17 scale-curve audit (VERDICT r15 #3 / r16 #1): time a set of ops
  * at several corpus sizes and fit the time-vs-scale exponent, so
  * "fine at 100 TB" claims rest on a measured growth rate instead of
  * sf0.1 plan shape alone.
  *
  * usage: ScaleCurve <dir1xMult1> <dir2xMult2> ... -- <op> <op> ...
  *   e.g. ScaleCurve /root/testdata/sf0.1x1 /root/scaledata/x3x3 \
  *        /root/scaledata/x10x10 -- q5_join graph_triangles
  * (each dir argument carries its scale multiple after a trailing 'x';
  * ops after `--`; no ops = a built-in head list)
  *
  * Methodology (guide §1): one session, noop sink, per-op min of 2
  * back-to-back runs at each scale; scales run smallest-first;
  * CachedPlans cleared between scales so every scale pays its own
  * shared-index builds in run 1 and serves warm in run 2 — the min is
  * the warm number, matching the bench's min-of-2 discipline. The
  * exponent is the least-squares slope of ln(t) vs ln(mult); with a
  * ~0.1-0.3 s per-query fixed floor at these sizes it UNDERSTATES
  * growth for sub-second ops and is only reported when the x10 time
  * clears 0.5 s.
  */
object ScaleCurve {
  /** Splits a `<dir>x<mult>` argument at its last 'x'; an argument with
    * no directory or no positive multiple fails with the usage line. */
  private[graft] def scaleDir(arg: String): (String, Double) = {
    val i = arg.lastIndexOf('x')
    val mult = if (i > 0) arg.substring(i + 1).toDoubleOption else None
    mult.filter(m => m > 0 && !m.isInfinite).map(m => (arg.substring(0, i), m))
      .getOrElse(throw new IllegalArgumentException(
        s"ScaleCurve: '$arg' is not <dir>x<positive multiple>; " +
          "usage: ScaleCurve <dir>x<mult> ... [-- <op> ...]"))
  }

  def main(args: Array[String]): Unit = {
    val (dirArgs, opArgs) = args.span(_ != "--")
    val dirs: Seq[(String, Double)] = dirArgs.toSeq.map(scaleDir)
    val defaultOps = Seq(
      "dedup_candidate_index", "dedup_containment", "q_spearman",
      "sample_doremi", "knn_graph_search", "graph_triangles",
      "corpus_datasheet", "q_service_level_stock", "graph_ppr",
      "text_source_jaccard", "dedup_lsh_band_curve", "graph_clustering",
      "q_shapley", "q_conformal", "text_err_rank", "q_kll",
      "graph_closeness", "sample_dsir", "q5_join", "q18_large",
      "dedup_embed", "emb_centroid_margin", "knn_mmr", "text_bpe_learn",
      "q_basket_rules", "mm_decode", "graph_pagerank",
      "dedup_minhash", "text_decontam", "agg_incremental")
    val ops = if (opArgs.length > 1) opArgs.toSeq.drop(1) else defaultOps
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val cpus = GraftSession.cpus(sys.env.get("SPARK_GRAFT_CPUS"), 32)
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    // results(op) = Seq((mult, sec))
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Double, Double)]]
    val failed = scala.collection.mutable.Set.empty[String]
    for ((dir, mult) <- dirs.sortBy(_._2)) {
      for (op <- ops if !failed(op)) {
        val fn = SparkEntry.queries(op)
        spark.sparkContext.setJobDescription(s"scalecurve x$mult $op")
        val secs = (1 to 2).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[curve] $op x$mult FAILED: ${e.getMessage}")
            failed += op
            None
          }
        }
        if (secs.nonEmpty) {
          val best = secs.min
          System.err.println(f"[curve] x$mult%-4s $op%-26s ${secs.map(x => f"$x%7.2f").mkString(" ")} -> $best%7.2f s")
          results.getOrElseUpdate(op, scala.collection.mutable.ArrayBuffer.empty) += ((mult, best))
        }
      }
      CachedPlans.clear(spark)
    }
    def slope(pts: Seq[(Double, Double)]): Double = {
      val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
      val n = xs.length; val mx = xs.sum / n; val my = ys.sum / n
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) Double.NaN else num / den
    }
    val rows = results.toSeq.map { case (op, pts) =>
      val e = slope(pts.toSeq)
      val big = pts.maxBy(_._1)._2
      val eStr = if (big >= 0.5) f"$e%.2f" else "null"
      val ptsJson = pts.map { case (m, s) => f""""x${m}%s":${s}%.3f""" }.mkString(",")
      s"""${graft.JsonUtil.q(op)}:{$ptsJson,"exponent":$eStr}"""
    }
    println(rows.mkString("{", ",", "}"))
    CachedPlans.clear(spark)
    spark.stop()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariant + re-derivation pins for the StatsOps4 tier. The oracle
  * hash-compare is the exactness gate; these assert the statistics
  * mean what they claim by re-deriving them from first principles on
  * the small SF (brute-force sgn sums, explicit rank matrices). */
class R9bOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q_cliffs_delta: bounds, pair accounting, and band consistency") {
    val r = operators.StatsOps4.cliffsDelta.run(spark, sf).collect().head
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    val (gt, lt) = (r.getAs[Long]("n_gt"), r.getAs[Long]("n_lt"))
    val delta = r.getAs[Double]("cliffs_delta")
    assert(gt >= 0 && lt >= 0 && gt + lt <= na * nb) // ties absorb the rest
    assert(delta >= -1.0 && delta <= 1.0)
    assert(math.abs(delta - (gt - lt).toDouble / (na.toDouble * nb)) < 1e-12)
    val expect = math.abs(delta) match {
      case a if a < 0.147 => "negligible"
      case a if a < 0.330 => "small"
      case a if a < 0.474 => "medium"
      case _              => "large"
    }
    assert(r.getAs[String]("magnitude") === expect)
  }

  test("q_durbin_watson: matches the brute-force centered-series statistic") {
    import org.apache.spark.sql.functions.{col, to_date}
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .count().orderBy("day")
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val n = daily.map(_._2)
    val mean = n.sum.toDouble / n.length
    val e = daily.map { case (d, v) => (d, v - mean) }
    val den = e.map(x => x._2 * x._2).sum
    val num = e.sliding(2).collect {
      case Array((d1, x1), (d2, x2)) if d2.toEpochDay == d1.toEpochDay + 1 =>
        (x2 - x1) * (x2 - x1)
    }.sum
    val r = operators.StatsOps4.durbinWatson.run(spark, sf).collect().head
    val dw = r.getAs[Double]("dw")
    assert(math.abs(dw - num / den) < 1e-9, s"dw $dw vs brute ${num / den}")
    assert(dw >= 0.0 && dw <= 4.0)
    assert(math.abs(r.getAs[Double]("rho_hat") - (1.0 - dw / 2.0)) < 1e-12)
  }

  test("q_bartlett: matches the textbook statistic on collected groups") {
    val qs = graft.sources.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1))).toMap
    val ks = qs.values.toSeq
    val k = ks.size
    val nt = ks.map(_.length).sum
    def variance(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
    }
    val sp2 = ks.map(g => (g.length - 1) * variance(g)).sum / (nt - k)
    val m = (nt - k) * math.log(sp2) -
      ks.map(g => (g.length - 1) * math.log(variance(g))).sum
    val c = 1.0 + (ks.map(g => 1.0 / (g.length - 1)).sum - 1.0 / (nt - k)) / (3.0 * (k - 1))
    val r = operators.StatsOps4.bartlett.run(spark, sf).collect().head
    // engine path 6dp-snaps each ln term → compare at that tolerance
    assert(math.abs(r.getAs[Double]("chi2_bartlett") - m / c) < 2e-2)
    assert(r.getAs[Long]("n") === nt && r.getAs[Int]("k") === 3)
  }

  test("q_grubbs: studentized extremes against collected spend") {
    val cents = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.expr(
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("c"))
      .collect().map(_.getAs[Long]("c"))
    val n = cents.length
    val mean = cents.map(_.toDouble).sum / n
    val sd = math.sqrt(cents.map(c => (c - mean) * (c - mean)).sum / (n - 1.0))
    val r = operators.StatsOps4.grubbs.run(spark, sf).collect().head
    assert(r.getAs[Long]("n") === n.toLong)
    assert(math.abs(r.getAs[Double]("g_max") - (cents.max - mean) / sd) < 1e-9)
    assert(math.abs(r.getAs[Double]("g_min") - (mean - cents.min) / sd) < 1e-9)
    assert(r.getAs[Double]("max_value") >= r.getAs[Double]("min_value"))
  }

  test("q_friedman: doubled-rank identity and brute-force chi-square") {
    val rows = operators.StatsOps4.friedman.run(spark, sf).collect()
    val k = rows.length // 5 event types
    val cells = graft.sources.Tables.events(spark, sf)
      .selectExpr("datediff(to_date(ts), DATE '2024-01-01') % 7 AS dow", "event_type")
      .groupBy("dow", "event_type").count().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val b = cells.map(_._1).distinct.length // 7 weekdays
    // doubled midranks per block, brute force
    val r2 = cells.map { case (dow, et, n) =>
      val block = cells.filter(_._1 == dow).map(_._3)
      (et, 2L * block.count(_ < n) + block.count(_ == n) + 1)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // rank-sum identity on the doubled scale: sum_j R2_j = b*k*(k+1)
    assert(r2.values.sum === b.toLong * k * (k + 1))
    val sr2 = r2.values.map(v => v.toDouble * v).sum
    val chi2 = 3.0 * sr2 / (b.toDouble * k * (k + 1)) - 3.0 * b * (k + 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("r2_j") === r2(r.getAs[String]("event_type")))
      assert(math.abs(r.getAs[Double]("chi2_friedman") - chi2) < 1e-9)
    }
  }

  /** The undirected trade edge list, rebuilt independently of
    * GraphOps' shared frame (so the spec re-derives, not replays). */
  private def undEdges(): Array[(String, String)] = {
    import org.apache.spark.sql.functions._
    val t = graft.sources.Tables
    t.lineitem(spark, sf)
      .join(t.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(t.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(t.nation(spark, sf).select(col("n_nationkey").as("nk1"), col("n_name").as("sn")),
        col("s_nationkey") === col("nk1"))
      .join(t.nation(spark, sf).select(col("n_nationkey").as("nk2"), col("n_name").as("cn")),
        col("c_nationkey") === col("nk2"))
      .filter(col("nk1") =!= col("nk2"))
      .select(least(col("sn"), col("cn")).as("u"), greatest(col("sn"), col("cn")).as("v"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
  }

  test("graph_rich_club: brute-force recount on the collected edge list") {
    val edges = undEdges()
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = operators.GraphOps2.richClub.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getInt(0)
      val richNodes = deg.filter(_._2 > k).keySet
      val ek = edges.count(e => richNodes(e._1) && richNodes(e._2)).toLong
      val nk = richNodes.size.toLong
      assert(r.getAs[Long]("n_nodes") === nk)
      assert(r.getAs[Long]("n_edges") === ek)
      assert(r.getAs[Long]("phi_ppm") === ek * 2 * 1000000L / (nk * (nk - 1)))
      assert(r.getAs[Long]("phi_ppm") <= 1000000L)
    }
    // N_k non-increasing in k
    val ns = rows.map(_.getAs[Long]("n_nodes"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a })
  }

  test("graph_conductance: cut/volume accounting identities") {
    val rows = operators.GraphOps2.conductance.run(spark, sf).collect()
    val m = undEdges().length.toLong
    // every edge endpoint lands in exactly one region: sum vol = 2m
    assert(rows.map(_.getAs[Long]("volume")).sum === 2 * m)
    rows.foreach { r =>
      val (cut, vol) = (r.getAs[Long]("cut_edges"), r.getAs[Long]("volume"))
      assert(cut <= vol)
      val phi = r.getAs[Long]("conductance_ppm")
      assert(phi === cut * 1000000L / math.min(vol, 2 * m - vol))
      assert(phi >= 0 && phi <= 1000000L)
    }
  }

  test("emb_effective_rank: bounds and double-precision cross-check") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val dim = vecs.head.length
    val mu = Array.tabulate(dim)(j => vecs.map(_(j)).sum / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      vecs.map(v => (v(i) - mu(i)) * (v(j) - mu(j))).sum / n
    }
    val tr = (0 until dim).map(i => cov(i)(i)).sum
    val fr = cov.flatten.map(x => x * x).sum
    val want = tr * tr / fr
    val r = operators.EmbedOps2.effectiveRank.run(spark, sf).collect().head
    val got = r.getAs[Double]("effective_rank")
    assert(got >= 1.0 && got <= dim.toDouble)
    // engine path quantizes inputs to 1e-4 and entries to 1e-6 → loose tol
    assert(math.abs(got - want) / want < 0.05, s"PR $got vs float $want")
    assert(r.getAs[Double]("trace") > 0.0)
    assert(r.getAs[Long]("n_vectors") === n.toLong)
  }

  test("emb_intrinsic_dim: exact replay of the quantized Two-NN pipeline") {
    val rows = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(f => math.round(f.toDouble * 1000000)).toArray))
    val queries = rows.filter(_._1 % 8 == 0)
    val terms = queries.flatMap { case (qid, qq) =>
      val ds = rows.filter(_._1 != qid)
        .map { case (cid, q) =>
          (q.zip(qq).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }
        .filter(_._1 > 0).sorted.take(2)
      if (ds.length == 2)
        Some(math.round(math.log(ds(1)._1.toDouble / ds(0)._1) * 1000000))
      else None
    }
    val s = terms.sum
    val nq = terms.length
    val r = operators.EmbedOps2.intrinsicDim.run(spark, sf).collect().head
    assert(r.getAs[Long]("n_queries") === nq.toLong)
    val id = r.getAs[Double]("id_twonn")
    assert(math.abs(id - 1.3862943611198906 / (s.toDouble / (nq * 1000000.0))) < 1e-9)
    assert(id > 0.0 && id <= 64.0)
  }

  test("text_term_burstiness: brute-force recount and bounds") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val tf = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val df = docs.flatMap { case (id, ts) => ts.distinct.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val top = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    val rows = operators.TextOps2.termBurstiness.run(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq === top.map(_._1))
    rows.foreach { r =>
      val (tok, tfv, dfv) = (r.getString(0), r.getAs[Long]("tf"), r.getAs[Long]("df"))
      assert(tfv === tf(tok) && dfv === df(tok))
      assert(r.getAs[Long]("burstiness_micro") === tfv * 1000000L / dfv)
      assert(r.getAs[Long]("burstiness_micro") >= 1000000L) // tf >= df always
      assert(r.getAs[Long]("doc_coverage_ppm") <= 1000000L)
    }
  }

  test("text_term_dispersion: DP bounds and the uniform-term sanity check") {
    val rows = operators.TextOps2.termDispersion.run(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val dp = r.getAs[Long]("dp_ppm")
      assert(dp >= 0 && dp <= 1000000L)
    }
    // synthetic word-soup docs spread top terms across all 20 sources:
    // the most frequent term must be far from single-source (DP << 1)
    assert(rows.head.getAs[Long]("dp_ppm") < 500000L)
  }

  test("sample_neyman: allocation replay and per-stratum counts") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val strata: Map[String, Seq[Long]] =
      docs.groupBy(_._2).view.mapValues(_.map(_._3).toSeq).toMap
    val w = Seq("de", "en", "es", "fr", "zh").map { l =>
      val xs = strata.getOrElse(l, Seq.empty[Long])
      val n = xs.length.toLong
      l -> (if (n >= 2) {
        val v = (BigInt(n) * xs.map(x => BigInt(x) * x).sum
          - BigInt(xs.sum) * xs.sum).toDouble
        n.toDouble * math.sqrt(v / (n.toDouble * n * (n - 1.0)))
      } else 0.0)
    }.toMap
    val sw = w("de") + w("en") + w("es") + w("fr") + w("zh")
    val alloc = w.view.mapValues(x => math.floor(100.0 * x / sw).toLong).toMap
    val rows = operators.Sampling.neyman.run(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(1))
    byLang.foreach { case (l, rs) =>
      assert(rs.head.getAs[Long]("n_alloc") === alloc(l), s"alloc for $l")
      assert(rs.length.toLong === math.min(alloc(l), strata(l).length.toLong))
    }
    assert(rows.length <= 100)
    // allocation tracks N_h * S_h: the biggest stratum-weight language
    // gets the most slots
    val topLang = w.maxBy(_._2)._1
    assert(alloc(topLang) === alloc.values.max)
  }

  test("mm_ico_meta walker: parses planted icons, rejects structural lies") {
    val good = operators.MmOps.syntheticIco(7L) // n=4 entries
    assert(operators.MmOps.parseIcoMeta(good).exists(_._1 == 4))
    // bad type
    val badType = good.clone(); badType(2) = 2
    assert(operators.MmOps.parseIcoMeta(badType).isEmpty)
    // non-contiguous offset: bump first entry's offset
    val badOff = good.clone(); badOff(6 + 12) = (badOff(6 + 12) + 1).toByte
    assert(operators.MmOps.parseIcoMeta(badOff).isEmpty)
    // trailing junk
    assert(operators.MmOps.parseIcoMeta(good :+ 0.toByte).isEmpty)
    // truncated payload
    assert(operators.MmOps.parseIcoMeta(good.dropRight(1)).isEmpty)
    // non-square entry
    val notSquare = good.clone(); notSquare(6 + 1) = (notSquare(6) + 16).toByte
    assert(operators.MmOps.parseIcoMeta(notSquare).isEmpty)
  }

  test("mm_aiff_meta walker: 80-bit rate decode and lie rejection") {
    // all four rates decode exactly through the extended-float path
    (0L to 7L).foreach { id =>
      val got = operators.MmOps.parseAiffMeta(operators.MmOps.syntheticAiff(id))
      assert(got.isDefined, s"doc $id")
      val rate = got.get._2
      assert(Seq(8000, 11025, 22050, 44100).contains(rate))
    }
    val good = operators.MmOps.syntheticAiff(3L)
    // FORM size lie
    val badSize = good.clone(); badSize(7) = (badSize(7) + 1).toByte
    assert(operators.MmOps.parseAiffMeta(badSize).isEmpty)
    // exponent +1 → the decode honors it: rate doubles (44100 → 88200)
    val expOff = 12 + 8 + 8 // channels(2)+frames(4)+bits(2) → exponent hi byte
    val badExp = good.clone(); badExp(expOff + 1) = (badExp(expOff + 1) + 1).toByte
    assert(operators.MmOps.parseAiffMeta(badExp).exists(_._2 == 88200),
      "exponent is live in the decode")
    // dirty mantissa low bit → fractional rate → reject
    val badMant = good.clone(); badMant(expOff + 2 + 7) = (badMant(expOff + 2 + 7) | 1).toByte
    assert(operators.MmOps.parseAiffMeta(badMant).isEmpty,
      "non-integral extended-float rate must be rejected")
    // SSND payload length vs COMM frames cross-check
    val badFrames = good.clone(); badFrames(12 + 8 + 5) = (badFrames(12 + 8 + 5) ^ 1).toByte
    assert(operators.MmOps.parseAiffMeta(badFrames).isEmpty)
  }

  test("q_median_polish: medians are exact order statistics, decomposition adds up") {
    val rows = operators.StatsOps4.medianPolish.run(spark, sf).collect()
    assert(rows.length === 35) // 7 dow x 5 types
    val cells = rows.map(r => ((r.getInt(0), r.getString(1)),
      (r.getAs[Long]("n"), r.getAs[Long]("row_med"), r.getAs[Long]("col_med"),
        r.getAs[Long]("residual")))).toMap
    // additivity: n = row_med + col_med + residual
    cells.values.foreach { case (n, rm, cm, res) => assert(n === rm + cm + res) }
    // row medians: exact median of the 5 values in the dow row
    cells.keys.map(_._1).toSeq.distinct.foreach { dow =>
      val vals = cells.filter(_._1._1 == dow).values.map(_._1).toSeq.sorted
      val med = vals(2) // odd count 5
      cells.filter(_._1._1 == dow).values.foreach { case (_, rm, _, _) =>
        assert(rm === med)
      }
    }
    // col medians: exact median of the 7 row-polished residuals per type
    cells.keys.map(_._2).toSeq.distinct.foreach { et =>
      val res1 = cells.filter(_._1._2 == et).values.map(v => v._1 - v._2).toSeq.sorted
      val med = res1(3) // odd count 7
      cells.filter(_._1._2 == et).values.foreach { case (_, _, cm, _) =>
        assert(cm === med)
      }
    }
  }

  test("q_hurst_rs: brute-force block replay of the rescaled-range profile") {
    import org.apache.spark.sql.functions.{col, to_date}
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .count().orderBy("day")
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
    val minD = daily.map(_._1).min
    val series = daily.map { case (d, n) => ((d - minD).toInt, n) }.sortBy(_._1)
    val nd = series.length
    def profile(w: Int): (Long, Double) = {
      val nb = nd / w
      val terms = (0 until nb).flatMap { b =>
        val blk = series.filter { case (i, _) => i >= b * w && i < (b + 1) * w }
        val s = blk.map(_._2).sum
        val y = blk.map { case (_, n) => w * n - s }
        val cy = y.scanLeft(0L)(_ + _).tail
        val r = cy.max - cy.min
        val sy2 = y.map(v => v * v).sum
        if (sy2 > 0 && r > 0)
          Some(math.round(math.log(r.toDouble / math.sqrt(sy2.toDouble / w)) * 1000000))
        else None
      }
      (terms.length.toLong, terms.sum.toDouble / (terms.length * 1000000.0))
    }
    val (b5, y5) = profile(5); val (b10, y10) = profile(10); val (b15, y15) = profile(15)
    val r = operators.StatsOps4.hurstRs.run(spark, sf).collect().head
    assert(r.getAs[Long]("blocks_w5") === b5)
    assert(r.getAs[Long]("blocks_w10") === b10)
    assert(r.getAs[Long]("blocks_w15") === b15)
    assert(math.abs(r.getAs[Double]("mean_ln_rs_w5") - y5) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_ln_rs_w15") - y15) < 1e-12)
    val slope = ((-0.9675751528184137 * y5) + (0.15535233941616758 * y10)) +
      (0.8122228134022442 * y15)
    assert(math.abs(r.getAs[Double]("hurst_slope") - slope) < 1e-12)
  }

  test("q_ad_test: nonnegative, and zero on identical split samples") {
    val r = operators.StatsOps4.adTest.run(spark, sf).collect().head
    val a2 = r.getAs[Double]("a2")
    assert(a2 >= 0.0 && java.lang.Double.isFinite(a2))
    assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    // A-vs-A sanity via direct formula replay: gap numerator vanishes
    // when cum_a * n == n_a * cum for every value, i.e. identical ECDFs
    // (holds trivially when the two samples are the same multiset).
    // Here: replay the engine's discrete formula brute-force and compare.
    import org.apache.spark.sql.functions.{col, expr}
    val cents = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"),
        (graft.functions.Exprs.md5Long(
          col("user_id").cast(org.apache.spark.sql.types.StringType)) % 2 === 0).as("isA"))
      .collect().map(r2 => (r2.getLong(0), r2.getBoolean(1)))
    val byVal = cents.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, xs) => (v, xs.length.toLong, xs.count(_._2).toLong) }
    val n = byVal.map(_._2).sum
    val nA = byVal.map(_._3).sum
    var (cum, cumA) = (0L, 0L)
    var s = BigInt(0)
    byVal.foreach { case (_, cv, ca) =>
      cum += cv; cumA += ca
      if (cum < n) {
        val gap = BigInt(n) * cumA - BigInt(nA) * cum
        s += BigInt(cv) * gap * gap * 1000000 / (BigInt(cum) * (n - cum))
      }
    }
    val want = s.toDouble / (nA.toDouble * (n - nA) * n.toDouble * 1000000.0)
    assert(math.abs(a2 - want) < 1e-12, s"a2 $a2 vs brute $want")
  }

  test("q_cochran_q: closed form replay over the launch-window matrix") {
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date}
    val m = graft.sources.Tables.events(spark, sf)
      .filter(datediff(to_date(col("ts")),
        lit("2024-01-01").cast(org.apache.spark.sql.types.DateType)) < 2)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val k = m.map(_._2).distinct.length
    val rI = m.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cJ = m.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sr = rI.values.sum; val sr2 = rI.values.map(v => v * v).sum
    val sc = cJ.values.sum; val sc2 = cJ.values.map(v => v.toDouble * v).sum
    val q = (k - 1.0) * (k * sc2 - sc.toDouble * sc) / (k.toDouble * sr - sr2.toDouble)
    val r = operators.StatsOps4.cochranQ.run(spark, sf).collect().head
    assert(r.getAs[Long]("n_users") === rI.size.toLong)
    assert(r.getAs[Int]("k") === k || r.getAs[Long]("k") === k.toLong)
    assert(math.abs(r.getAs[Double]("q_cochran") - q) < 1e-9)
    assert(r.getAs[Double]("q_cochran") >= 0.0)
  }

  test("q_growth_accounting: flow conservation against brute-force user timelines") {
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date}
    val a = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(to_date(col("ts")),
          lit("2024-01-01").cast(org.apache.spark.sql.types.DateType)).as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val byUser = a.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val mx = a.map(_._2).max
    val rows = operators.EventsAnalytics.growthAccounting.run(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getAs[Long]("new_users"), r.getAs[Long]("retained"),
        r.getAs[Long]("resurrected"), r.getAs[Long]("churned"))).toMap
    // brute-force the four states from each user's timeline
    val brute = scala.collection.mutable.Map[Int, Array[Long]]()
    def acc(d: Int, slot: Int): Unit =
      brute.getOrElseUpdate(d, Array.fill(4)(0L))(slot) += 1
    byUser.values.foreach { days =>
      days.zipWithIndex.foreach { case (d, i) =>
        if (i == 0) acc(d, 0)
        else if (days(i - 1) == d - 1) acc(d, 1)
        else acc(d, 2)
        val next = if (i + 1 < days.length) days(i + 1) else Int.MaxValue
        if (next > d + 1 && d + 1 <= mx) acc(d + 1, 3)
      }
    }
    brute.foreach { case (d, Array(nw, re, rs, ch)) =>
      val got = rows.getOrElse(d, (0L, 0L, 0L, 0L))
      assert(got === ((nw, re, rs, ch)), s"day $d")
    }
    // per-day active accounting: new + retained + resurrected = distinct actives
    val actives = a.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (d, (nw, re, rs, _)) =>
      assert(nw + re + rs === actives.getOrElse(d, 0L), s"actives on day $d")
    }
  }

  test("mm_srt_meta walker: parses planted cues, rejects structural lies") {
    val good = operators.MmOps.syntheticSrt(13L) // n = 3 cues
    assert(operators.MmOps.parseSrtMeta(good).exists(_._1 == 3))
    // non-sequential index
    assert(operators.MmOps.parseSrtMeta(good.replaceFirst("^1\n", "2\n")).isEmpty)
    // reversed timestamps: swap the arrow operands of the first cue
    val m = java.util.regex.Pattern
      .compile("(\\d{2}:\\d{2}:\\d{2},\\d{3}) --> (\\d{2}:\\d{2}:\\d{2},\\d{3})")
      .matcher(good)
    assert(m.find())
    val reversed = good.substring(0, m.start) + m.group(2) + " --> " + m.group(1) +
      good.substring(m.end)
    assert(operators.MmOps.parseSrtMeta(reversed).isEmpty)
    // trailing garbage
    assert(operators.MmOps.parseSrtMeta(good + "junk\n").isEmpty)
    // overlap: move the second cue's start before the first cue's end
    // (rebuild cue 2's timestamp line with an early start)
    val lines = good.split("\n")
    val tsIdx = lines.indexWhere(_.contains("-->"), lines.indexWhere(_.contains("-->")) + 1)
    val early = "00:00:00,100 --> 00:00:00,200"
    val overlapped = (lines.updated(tsIdx, early)).mkString("\n")
    assert(operators.MmOps.parseSrtMeta(overlapped).isEmpty)
    // duration accounting on a known id
    val Some((n, dur, span, chars)) = operators.MmOps.parseSrtMeta(good)
    val durs = (0 until n).map(i => 800L + ((13L + i) % 7) * 100)
    assert(dur === durs.sum)
    assert(span === durs.sum + 200L * (n - 1))
    assert(chars === n.toLong * (10 + "13".length))
  }

  test("emb_sq8_error: reconstruction errors bounded by half a code step") {
    val rows = operators.EmbedOps2.sq8Error.run(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (mx, mean, rng) = (r.getAs[Double]("max_abs_err"),
        r.getAs[Double]("mean_abs_err"), r.getAs[Double]("dim_range"))
      assert(mean >= 0.0 && mx >= mean)
      // affine SQ8 with round-to-nearest: |err| <= range/(2*255) (+snap slack)
      assert(mx <= rng / 510.0 + 1e-9, s"dim ${r.getInt(0)}: max err $mx vs range $rng")
    }
  }

  test("q_xyz_classes: census accounting and brute-force CV class replay") {
    import org.apache.spark.sql.functions.{col, date_trunc, expr, to_date}
    val pm = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), date_trunc("month", to_date(col("l_shipdate"))).as("m"))
      .agg(expr("sum(CAST(l_quantity AS BIGINT))").as("q"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val mc = pm.map(_._2).distinct.length.toLong
    val classes = pm.groupBy(_._1).view.mapValues { xs =>
      val s = xs.map(_._3).sum
      val ss = xs.map(x => BigInt(x._3) * x._3).sum
      val v = BigInt(mc) * ss - BigInt(s) * s
      if (4 * BigInt(mc) * v < BigInt(mc - 1) * BigInt(s) * s) "X"
      else if (BigInt(mc) * v < BigInt(mc - 1) * BigInt(s) * s) "Y"
      else "Z"
    }.toMap
    val wantCensus = classes.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = operators.AffinityOps.xyzClasses.run(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_parts") === wantCensus(r.getString(0)), s"class ${r.getString(0)}")
      assert(r.getAs[Long]("demand_share_ppm") <= 1000000L)
    }
    assert(rows.map(_.getAs[Long]("n_parts")).sum === classes.size.toLong)
  }

  test("emb_centroid_margin: margins bounded, misroute accounting consistent") {
    val rows = operators.EmbedOps2.centroidMargin.run(spark, sf).collect()
    assert(rows.length === 10) // 10 labels
    var totalN = 0L
    rows.foreach { r =>
      val (n, mean, min, mis) = (r.getAs[Long]("n"), r.getAs[Double]("mean_margin"),
        r.getAs[Double]("min_margin"), r.getAs[Long]("n_misrouted"))
      totalN += n
      assert(min >= -2.0 && min <= 2.0) // cosine margins live in [-2, 2]
      assert(mean >= min)
      assert(mis >= 0 && mis <= n)
      // if the worst margin is nonnegative, nothing can be misrouted
      if (min >= 0.0) assert(mis === 0L)
    }
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(totalN === nVecs)
  }

  test("q_hhi: share accounting and the competitive floor 1/n") {
    val rows = operators.SqlSurface3.qHhi.run(spark, sf).collect()
    assert(rows.length === 5) // 5 regions
    rows.foreach { r =>
      val (n, hhi) = (r.getAs[Long]("n_nations"), r.getAs[Long]("hhi_ppm"))
      assert(hhi <= 1000000L)
      // HHI is minimized at equal shares: floor gives >= 1e6/n - snap slack
      assert(hhi >= 1000000L / n - n * 2, s"region ${r.getString(0)}")
      val band = r.getAs[String]("band")
      val want = if (hhi >= 250000) "concentrated"
        else if (hhi >= 150000) "moderate" else "competitive"
      assert(band === want)
    }
  }

  test("etl_profile_drift: brute-force two-window profile replay") {
    import org.apache.spark.sql.functions.{col, datediff, expr, lit, to_date}
    val e = graft.sources.Tables.events(spark, sf)
      .select(
        (datediff(to_date(col("ts")),
          lit("2024-01-01").cast(org.apache.spark.sql.types.DateType)) >= 15).as("h2"),
        col("user_id"), col("event_type"), col("props"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .collect()
    def half(h2: Boolean) = e.filter(_.getBoolean(0) == h2)
    val rows = operators.EtlOps.profileDrift.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("first_half"), r.getAs[Long]("second_half"),
        r.getAs[Long]("drift_ppm"))).toMap
    assert(rows.size === 7)
    Seq(false, true).zipWithIndex.foreach { case (h2, idx) =>
      val w = half(h2)
      def pick(m: String): Long = if (idx == 0) rows(m)._1 else rows(m)._2
      assert(pick("n_events") === w.length.toLong)
      assert(pick("n_users") === w.map(_.getLong(1)).distinct.length.toLong)
      assert(pick("n_purchases") === w.count(_.getString(2) == "purchase").toLong)
      assert(pick("value_cents_min") === w.map(_.getLong(4)).min)
      assert(pick("value_cents_max") === w.map(_.getLong(4)).max)
      assert(pick("distinct_types") === w.map(_.getString(2)).distinct.length.toLong)
    }
    rows.foreach { case (_, (a, b, d)) =>
      assert(d === math.abs(b - a) * 1000000L / math.max(math.abs(a), 1L))
    }
  }

  test("text_lang_kappa: closed-form replay from the confusion matrix") {
    val p = operators.TextOps.langId.run(spark, sf)
      .select("lang", "lang_pred").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = p.length.toLong
    val diag = p.count { case (a, b) => a == b }.toLong
    val rows = p.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cols = p.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val src = (rows.keySet ++ cols.keySet).toSeq
      .map(k => rows.getOrElse(k, 0L) * cols.getOrElse(k, 0L)).sum
    val want = (n.toDouble * diag - src.toDouble) / (n.toDouble * n - src.toDouble)
    val r = operators.TextOps2.langKappa.run(spark, sf).collect().head
    assert(r.getAs[Long]("n") === n && r.getAs[Long]("n_agree") === diag)
    assert(math.abs(r.getAs[Double]("kappa") - want) < 1e-12)
    assert(r.getAs[Double]("kappa") <= 1.0)
  }

  test("text_gopher_gate: rule accounting and integer-threshold replay") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    // the engine's stopword list, restated (package-private there)
    val stops = Set("the", "a", "an", "of", "and", "to", "in", "is", "it",
      "for", "on", "as", "at", "by")
    val brute = docs.groupBy(_._1).view.mapValues { ds =>
      ds.map { case (_, text) =>
        val toks = text.split("\\s+")
        val wc = toks.length.toLong
        val chars = toks.map(_.length.toLong).sum
        val stopN = toks.count(stops).toLong
        val alpha = toks.count(_.exists(c => c.isLetter && c <= 'z')).toLong
        val ell = (text.length - text.replace("...", "").length) / 3
        val ok = (wc >= 50 && wc <= 100000) &&
          (3 * wc <= chars && chars <= 10 * wc) &&
          (ell * 10 < wc) && (stopN * 100 >= 6 * wc) && (alpha * 5 >= 4 * wc)
        if (ok) 1L else 0L
      }.sum
    }.toMap
    val rows = operators.TextOps2.gopherGate.run(spark, sf).collect()
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getAs[Long]("pass_all") === brute(s), s"source $s")
      assert(r.getAs[Long]("pass_all") <= r.getAs[Long]("pass_stopwords"))
      assert(r.getAs[Long]("pass_all_ppm") <= 1000000L)
    }
  }

  test("q_service_level_stock: p90 covers at least 90% of months per part") {
    import org.apache.spark.sql.functions.{col, date_trunc, expr, to_date}
    val pm = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), date_trunc("month", to_date(col("l_shipdate"))).as("m"))
      .agg(expr("sum(CAST(l_quantity AS BIGINT))").as("q"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val mc = pm.map(_._2).distinct.length
    // brute per-part p90 (zeros for absent months), then the line rollup
    val p90 = pm.groupBy(_._1).view.mapValues { xs =>
      val demands = (Seq.fill(mc - xs.length)(0L) ++ xs.map(_._3)).sorted
      demands((math.ceil(0.9 * mc) - 1).toInt)
    }.toMap
    val rows = operators.AffinityOps.serviceLevelStock.run(spark, sf).collect()
    val gotStock = rows.map(_.getAs[Long]("p90_stock_units")).sum
    assert(gotStock === p90.values.sum, "sum of per-part p90 stock")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_demand_units") > 0)
      assert(r.getAs[Long]("safety_multiplier_ppm") > 0)
    }
  }

  test("sample_kcenter: brute-force farthest-first replay and radius monotonicity") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(f => math.round(f.toDouble * 1000000)).toArray))
      .sortBy(_._1)
    def dsq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = List(vecs.head)
    var picks = List((1, vecs.head._1, 0L))
    for (i <- 2 to 8) {
      val (bestId, bestVec, bestM) = vecs.map { case (id, q) =>
        (id, q, chosen.map(c => dsq(q, c._2)).min)
      }.maxBy { case (id, _, m) => (m, -id) }
      chosen = (bestId, bestVec) :: chosen
      picks = (i, bestId, bestM) :: picks
    }
    val want = picks.reverse
    val rows = operators.Sampling.kcenter.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === want)
    // selection dsqs are the non-increasing coverage-radius sequence
    val ds = rows.drop(1).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a })
    assert(rows.map(_._2).distinct.length === 8)
  }

  test("q_seasonal_strength: bounds and consistency with the STL components") {
    val r = operators.StatsOps4.seasonalStrength.run(spark, sf).collect().head
    val (fs, ft) = (r.getAs[Double]("strength_seasonal"), r.getAs[Double]("strength_trend"))
    assert(fs >= 0.0 && fs <= 1.0)
    assert(ft >= 0.0 && ft <= 1.0)
    // replay from the STL op's own emitted components (they are the
    // same doubles, pre-round): Var(R)/Var(S+R) from micro-snapped rows
    val stl = operators.StatsOps.stlDecompose.run(spark, sf).collect()
    val rs = stl.map(x => math.round((x.getAs[Double]("revenue")
      - x.getAs[Double]("trend") - x.getAs[Double]("seasonal")) * 1000000))
    val srs = stl.map(x => math.round((x.getAs[Double]("revenue")
      - x.getAs[Double]("trend")) * 1000000))
    def varNum(xs: Array[Long]): BigInt =
      BigInt(xs.length) * xs.map(x => BigInt(x) * x).sum - BigInt(xs.sum) * xs.sum
    val approx = math.max(0.0, 1.0 - varNum(rs).toDouble / varNum(srs).toDouble)
    // the spec replays from the 6dp-ROUNDED emits, the engine from the
    // raw doubles → compare loosely
    assert(math.abs(fs - approx) < 1e-3, s"F_s $fs vs STL-replay $approx")
    assert(r.getAs[Long]("n") === stl.length.toLong)
  }

  test("q_pettitt: K and the change day match the brute-force sgn double sum") {
    import org.apache.spark.sql.functions.{col, to_date}
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .count().orderBy("day")
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val x = daily.map(_._2)
    val t = x.length
    val us = (1 until t).map { cut => // U_t for t = 1..T-1 (1-indexed cut count)
      var u = 0L
      for (i <- 0 until cut; j <- cut until t)
        u += java.lang.Long.signum(x(i) - x(j))
      (daily(cut - 1)._1, u)
    }
    val kStat = us.map(u => math.abs(u._2)).max
    val changeDay = us.filter(u => math.abs(u._2) == kStat).map(_._1).min(
      Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val r = operators.StatsOps4.pettitt.run(spark, sf).collect().head
    assert(r.getAs[Long]("k_stat") === kStat)
    assert(r.getDate(0).toLocalDate === changeDay)
    val p = r.getAs[Double]("p_approx")
    assert(p >= 0.0 && p <= 2.0) // approximation can exceed 1 for tiny K
  }
}

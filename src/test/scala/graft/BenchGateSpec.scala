package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench gate's status contract (r12, extended r13): "flagged"
  * exists between "green" and "perf_regressed" so one drifting query
  * in an otherwise-faster round reads accurately — but it must NEVER
  * be reachable when the run failed, when more than two queries flag,
  * or when any PRESENT comparison says the run got slower overall.
  * r13 adds the load-forensics contract: the artifact schema carries
  * per-query start offsets + host-load samples + per-pass flag lists,
  * a present-but-unparseable comparison forces its own status (flags=0
  * from a parse failure is missing evidence, not clean evidence), and
  * the per-pass flag rules are the same rules the gate uses. */
class BenchGateSpec extends AnyFunSuite {
  private def cmp(flagged: Int, ratio: Double, present: Boolean = true) =
    Bench.Cmp(if (present) "x" else "", flagged, ratio)

  test("zero flags and no failures is green") {
    assert(Bench.gateStatus(failed = false, cmp(0, 0.9), cmp(0, 0.8)) === "green")
    // no comparison files at all: nothing to flag, still green
    assert(Bench.gateStatus(failed = false, cmp(0, -1.0, present = false),
      cmp(0, -1.0, present = false)) === "green")
  }

  test("a failed query forces failed_queries regardless of flags") {
    assert(Bench.gateStatus(failed = true, cmp(0, 0.5), cmp(0, 0.5)) === "failed_queries")
  }

  test("one or two flags with both ratios improved is flagged, not regressed") {
    assert(Bench.gateStatus(failed = false, cmp(0, 0.9), cmp(1, 0.8)) === "flagged")
    assert(Bench.gateStatus(failed = false, cmp(1, 0.9), cmp(1, 0.95)) === "flagged")
  }

  test("flagged is NOT reachable when the run got slower overall") {
    assert(Bench.gateStatus(failed = false, cmp(0, 1.1), cmp(1, 0.8)) === "perf_regressed")
    assert(Bench.gateStatus(failed = false, cmp(1, 0.9), cmp(1, 1.2)) === "perf_regressed")
  }

  test("three or more flags is perf_regressed even when faster overall") {
    assert(Bench.gateStatus(failed = false, cmp(2, 0.9), cmp(1, 0.8)) === "perf_regressed")
    assert(Bench.gateStatus(failed = false, cmp(0, 0.9), cmp(3, 0.8)) === "perf_regressed")
  }

  test("missing prev snapshot: the baseline ratio decides the flagged band") {
    assert(Bench.gateStatus(failed = false, cmp(1, 0.9),
      cmp(0, -1.0, present = false)) === "flagged")
    assert(Bench.gateStatus(failed = false, cmp(1, 1.05),
      cmp(0, -1.0, present = false)) === "perf_regressed")
  }

  test("missing BASELINE: the prev ratio decides alone (r13 guard — " +
    "an absent baseline's -1.0 ratio must not read as improved)") {
    assert(Bench.gateStatus(failed = false, cmp(0, -1.0, present = false),
      cmp(1, 0.9)) === "flagged")
    assert(Bench.gateStatus(failed = false, cmp(0, -1.0, present = false),
      cmp(1, 1.1)) === "perf_regressed")
  }

  test("a present-but-unparseable comparison forces cmp_parse_failed, never green") {
    val bad = Bench.Cmp("", 0, -1.0, parseFailed = true)
    assert(Bench.gateStatus(failed = false, bad, cmp(0, 0.8)) === "cmp_parse_failed")
    assert(Bench.gateStatus(failed = false, cmp(0, 0.8), bad) === "cmp_parse_failed")
    // failed queries still rank above a parse failure
    assert(Bench.gateStatus(failed = true, bad, cmp(0, 0.8)) === "failed_queries")
  }

  test("artifact schema carries the r13 load-forensics keys") {
    val required = Seq("start1", "start2", "load_samples", "load_max", "mem_min_mb")
    required.foreach(k => assert(Bench.ArtifactKeys.contains(k), s"missing $k"))
    // and the r12 headline contract is unchanged
    Seq("queries", "queries_run1", "queries_run2", "n_failed", "status", "value")
      .foreach(k => assert(Bench.ArtifactKeys.contains(k), s"missing $k"))
    // r16: per-index build-second maps (verdict #6 — build-vs-serve
    // cost readable from the artifact)
    Seq("index_build_sec_run1", "index_build_sec_run2")
      .foreach(k => assert(Bench.ArtifactKeys.contains(k), s"missing $k"))
  }

  test("SharedIndexes build log is drain-once (second drain is empty)") {
    graft.operators.SharedIndexes.drainBuildLog() // whatever other suites left
    assert(graft.operators.SharedIndexes.drainBuildLog().isEmpty)
  }

  test("a bad SPARK_GRAFT_BUILD_THREADS or ScaleCurve directory argument fails with its name") {
    import graft.operators.SharedIndexes.buildThreads
    import graft.tools.ScaleCurve.scaleDir
    assert(buildThreads(None) === 6)
    assert(buildThreads(Some(" 3 ")) === 3)
    Seq("", "six", "0", "-2", "1.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](buildThreads(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BUILD_THREADS"), s"'$v': ${e.getMessage}")
    }
    assert(scaleDir("/data/sf0.1x1") === ("/data/sf0.1", 1.0))
    assert(scaleDir("/data/x3x2.5") === ("/data/x3", 2.5))
    Seq("/data/sf0.1", "x3", "/data/sf0.1x", "/data/sf0.1xten", "/data/ax0", "/data/ax-1",
      "/data/axNaN", "/data/axInfinity").foreach { a =>
      val e = intercept[IllegalArgumentException](scaleDir(a))
      assert(e.getMessage.contains("usage: ScaleCurve"), s"'$a': ${e.getMessage}")
    }
  }

  test("a bad SPARK_GRAFT_CPUS fails with its name") {
    assert(GraftSession.cpus(None, 32) === 32)
    assert(GraftSession.cpus(Some(" 8 "), 4) === 8)
    Seq("", "eight", "0", "-4", "2.5", "*", "4]", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(v), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$v': ${e.getMessage}")
    }
  }

  test("load sampler produces monotone-offset samples with sane fields") {
    val s = new Bench.LoadSampler(System.nanoTime(), periodMs = 50)
    Thread.sleep(200)
    val samples = s.stop()
    assert(samples.size >= 2)
    assert(samples.map(_._1) === samples.map(_._1).sorted)
    // on Linux both probes should read real values
    assert(samples.forall { case (_, load, mem) => load >= 0.0 && mem > 0 })
  }

  test("per-pass prev flag rule: load-normalized, 1.5x + 0.5s floor") {
    // a wide flat surface (like the real ~390-query bench) so one
    // regression can't move the shared-total ratio materially
    val flat = (1 to 20).map(i => s"q$i" -> 2.0).toMap
    val prev = flat ++ Map("a" -> 2.0, "c" -> 0.2)
    // a regressed 2->4s while the rest is flat: only a flags
    val f = Bench.flagVsPrevForTest(flat ++ Map("a" -> 4.0, "c" -> 0.2), prev)
    assert(f === Seq("a"))
    // sub-0.3s-baseline queries never flag (variance floor)
    assert(Bench.flagVsPrevForTest(flat ++ Map("a" -> 2.0, "c" -> 0.9), prev).isEmpty)
    // a uniformly 2x-slower run (load) flags NOTHING: norm absorbs it
    assert(Bench.flagVsPrevForTest(
      prev.map { case (k, v) => k -> v * 2.0 }, prev).isEmpty)
  }

  test("per-pass baseline flag rule: 1.3x over a >=0.3s baseline") {
    val base = Map("a" -> 1.0, "b" -> 0.2)
    assert(Bench.flagVsBaselineForTest(Map("a" -> 1.5, "b" -> 1.0), base) === Seq("a"))
    // b has a sub-0.3s baseline: must not flag
    assert(!Bench.flagVsBaselineForTest(Map("a" -> 0.9, "b" -> 1.0), base).contains("b"))
    assert(Bench.flagVsBaselineForTest(Map("a" -> 0.9, "b" -> 1.0), base).isEmpty)
  }
}

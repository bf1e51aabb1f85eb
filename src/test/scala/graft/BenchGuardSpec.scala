package graft

import java.nio.file.{Files, Paths}

/** The bench churn guard (r13 verdict #2) — injected-churn unit test: a
  * >3×-band first reading must trigger exactly one re-measure, keep the
  * best value, and surface the original reading; in-band, band-less and
  * failed readings pass through with no re-measure at all. The session
  * only lends the band-file tests a scratch dir in its run root.
  */
class BenchGuardSpec extends SparkSpec {

  test("injected churn: a 10x-band reading re-measures once and keeps the best") {
    var calls = 0
    val (sec, fired) = Bench.churnGuard(9.7, Some(0.97)) { calls += 1; 1.02 }
    assert(calls == 1, "guard must re-measure exactly once")
    assert(sec == 1.02, "the re-measured in-band value is the reported one")
    assert(fired.contains(9.7), "the churned first reading stays visible")
  }

  test("a real regression re-measures to the same slow number and still shows") {
    val (sec, fired) = Bench.churnGuard(9.7, Some(0.97)) { 9.5 }
    assert(sec == 9.5 && fired.contains(9.7))
  }

  test("in-band readings never re-measure") {
    val (sec, fired) = Bench.churnGuard(2.5, Some(0.97)) {
      fail("guard fired inside band"): Double
    }
    assert(sec == 2.5 && fired.isEmpty)
  }

  test("no band, failed reading, or failed re-measure degrade gracefully") {
    val (s1, f1) = Bench.churnGuard(9.7, None) { fail("no band"): Double }
    assert(s1 == 9.7 && f1.isEmpty)
    val (s2, f2) = Bench.churnGuard(-1.0, Some(0.97)) { fail("errored"): Double }
    assert(s2 == -1.0 && f2.isEmpty)
    // a re-measure that itself errors (-1) must not replace a real reading
    val (s3, f3) = Bench.churnGuard(9.7, Some(0.97)) { -1.0 }
    assert(s3 == 9.7 && f3.contains(9.7))
  }

  test("guard factor tightens to 2x for sub-1.5s bands (churn-dominated entries)") {
    assert(Bench.guardFactor(Some(0.9)) == 2.0)
    assert(Bench.guardFactor(Some(1.49)) == 2.0)
    assert(Bench.guardFactor(Some(1.5)) == 3.0)
    assert(Bench.guardFactor(Some(10.0)) == 3.0)
    assert(Bench.guardFactor(None) == 3.0)
    assert(Bench.guardFactor(Some(0.0)) == 3.0, "degenerate band never tightens")
    // the tightened factor actually fires: 2.2x a 1.0s band re-measures
    var calls = 0
    val (sec, fired) = Bench.churnGuard(2.2, Some(1.0), Bench.guardFactor(Some(1.0))) {
      calls += 1; 0.95
    }
    assert(calls == 1 && sec == 0.95 && fired.contains(2.2))
  }

  test("canary geo-ratio: matching keys only, positive values only, -1 when empty") {
    val start = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    val end = Map("a" -> 2.0, "b" -> 4.0, "c" -> 8.0)
    assert(math.abs(Bench.geoRatio(end, start) - 2.0) < 1e-12,
      "uniform 2x inflation reads exactly 2.0")
    assert(math.abs(Bench.geoRatio(start, start) - 1.0) < 1e-12)
    // non-overlapping / non-positive pairs are skipped, not poisoning the mean
    assert(math.abs(Bench.geoRatio(
      Map("a" -> 2.0, "x" -> 9.0, "b" -> -1.0),
      Map("a" -> 1.0, "y" -> 9.0, "b" -> 2.0)) - 2.0) < 1e-12)
    assert(Bench.geoRatio(Map.empty, start) == -1.0)
    assert(Bench.geoRatio(Map("a" -> -1.0), Map("a" -> 1.0)) == -1.0)
  }

  test("deferral gate (r15 verdict #1): re-measure only in a canary-clean window") {
    // within 1.2x of the session-start canary = clean window, drain the queue
    assert(Bench.recoveryDecision(1.0))
    assert(Bench.recoveryDecision(1.2))
    assert(Bench.recoveryDecision(0.8), "a box that got FASTER is clean")
    // still inflated, or no comparable canary pair → keep first readings,
    // tag churn_suspect — a re-measure here would run inside the churn
    // window that fired the guard (the r15 scored-artifact defect)
    assert(!Bench.recoveryDecision(1.21))
    assert(!Bench.recoveryDecision(1.9))
    assert(!Bench.recoveryDecision(-1.0))
    assert(!Bench.recoveryDecision(0.0))
  }

  test("band file round-trip: tab-separated lines, comments skipped, junk tolerated") {
    val p = Paths.get(Session.scratch(spark, "bands"), "bands.tsv")
    Files.writeString(p,
      "# sf0.1 clean run\nagg_rollup\t0.97\nagg_trimmed_mean\t1.38\nbroken line\n")
    val bands = Bench.loadBands(p.toString)
    assert(bands == Map("agg_rollup" -> 0.97, "agg_trimmed_mean" -> 1.38))
    assert(Bench.loadBands("/nonexistent/bands.tsv").isEmpty)
  }

  test("band file with non-ASCII header comments still parses (UTF-8 pinned)") {
    // r16 regression: an em-dash in the regenerated header made
    // Source.fromFile throw under a non-UTF-8 default charset and the
    // catch silently disabled the whole guard (bands=∅, canary ratio -1)
    val p = Paths.get(Session.scratch(spark, "bands_utf8"), "bands.tsv")
    Files.write(p,
      "# canary — end_over_start 0.978 ±churn\ntpch_q6\t0.12\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Bench.loadBands(p.toString) == Map("tpch_q6" -> 0.12))
  }
}

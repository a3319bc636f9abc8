package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench per-query regression gate (VERDICT r4 #7): a deliberately
  * slowed query must be flagged against its recorded baseline median; noise
  * on sub-100ms queries and environments without a baseline must not.
  * Pure-function tests — no SparkSession, the gate logic is exactly what
  * Bench.main wires to its JSON output and strict exit.
  */
class BenchGateSpec extends AnyFunSuite {

  test("a deliberately slowed query is flagged at >3x its baseline") {
    val baseline = Map("q125_winnow_overlap" -> 0.88, "q01_project" -> 0.10)
    // the r4 driver anomaly, replayed: 25.5 s against a 0.88 s baseline
    val medians = Map("q125_winnow_overlap" -> 25.5, "q01_project" -> 0.11)
    val slow = Bench.slowQueries(medians, baseline)
    assert(slow.keySet == Set("q125_winnow_overlap"))
    assert(slow("q125_winnow_overlap") == ((25.5, 0.88)))
  }

  test("below the 3x factor or the 0.5s absolute floor nothing is flagged") {
    val baseline = Map("qa" -> 2.0, "qb" -> 0.02, "qc" -> 1.0)
    val medians = Map(
      "qa" -> 5.9, // 2.95x < 3x
      "qb" -> 0.4, // 20x a 20ms baseline, but under the 0.5s noise floor
      "qc" -> -1.0) // failed marker, never compared
    assert(Bench.slowQueries(medians, baseline).isEmpty)
    // and just past both thresholds it IS flagged
    assert(Bench.slowQueries(Map("qa" -> 6.1), baseline).keySet == Set("qa"))
    assert(Bench.slowQueries(Map("qb" -> 0.6), baseline).keySet == Set("qb"))
  }

  test("queries without a baseline entry (new this round) are not flagged") {
    val slow = Bench.slowQueries(Map("q_new" -> 99.0), Map("q_old" -> 1.0))
    assert(slow.isEmpty)
  }

  test("loadBaseline parses the flat medians file and tolerates absence") {
    val f = new java.io.File(Graft.scratch("bench_baseline"), "bench_baseline.json")
    java.nio.file.Files.writeString(f.toPath,
      """{"q01_project":0.0963,"q125_winnow_overlap":0.8045}""")
    val b = Bench.loadBaseline(f.getAbsolutePath)
    assert(b == Map("q01_project" -> 0.0963, "q125_winnow_overlap" -> 0.8045))
    assert(Bench.loadBaseline("/nonexistent/path.json").isEmpty)
  }

  test("loadBaseline scoped to the queries object when fed a full bench line") {
    // the review-found hazard: every query name recurs in "spread" with a
    // ratio ~1.0 — a whole-line scan would last-wins overwrite each median
    // with it and flag healthy heavy queries against garbage baselines
    val f = new java.io.File(Graft.scratch("bench_line"), "bench_line.json")
    java.nio.file.Files.writeString(f.toPath,
      """{"metric":"total","value":86.3,"unit":"sec","queries":{"qa":2.5431,"qb":0.1049},""" +
        """"spread":{"qa":1.21,"qb":1.05},"reps":5,"failed":[],"sf":"/x"}""")
    val b = Bench.loadBaseline(f.getAbsolutePath)
    assert(b == Map("qa" -> 2.5431, "qb" -> 0.1049))
  }

  test("loadBaseline prefers the final total line over earlier partials") {
    // Bench now prints "metric":"partial" lines (warmup + per round)
    // BEFORE the final line; a baseline captured as `Bench > file` must
    // bind to the final medians, not the codegen-inflated warmup pass —
    // thresholds set from warmup times would never flag a regression
    val f = new java.io.File(Graft.scratch("bench_stdout"), "bench_stdout.json")
    java.nio.file.Files.writeString(f.toPath,
      """{"metric":"partial","phase":"warmup","value":153.1,"queries":{"qa":50.1,"qb":9.7},"failed":[],"sf":"/x"}""" + "\n" +
        """{"metric":"partial","phase":"round1","value":12.0,"queries":{"qa":10.2,"qb":1.8},"failed":[],"sf":"/x"}""" + "\n" +
        """{"metric":"total","value":3.1,"unit":"sec","queries":{"qa":2.5,"qb":0.6},"spread":{"qa":1.2,"qb":1.1},"reps":5,"failed":[],"sf":"/x"}""")
    assert(Bench.loadBaseline(f.getAbsolutePath) == Map("qa" -> 2.5, "qb" -> 0.6))
    // a killed run with ONLY partials: the LAST partial wins (closest to
    // steady state), never the warmup line
    val g = new java.io.File(Graft.scratch("bench_stdout_dnf"), "bench_stdout_dnf.json")
    java.nio.file.Files.writeString(g.toPath,
      """{"metric":"partial","phase":"warmup","value":153.1,"queries":{"qa":50.1,"qb":9.7},"failed":[],"sf":"/x"}""" + "\n" +
        """{"metric":"partial","phase":"round1","value":12.0,"queries":{"qa":10.2,"qb":1.8},"failed":[],"sf":"/x"}""")
    assert(Bench.loadBaseline(g.getAbsolutePath) == Map("qa" -> 10.2, "qb" -> 1.8))
  }

  test("a -1.0 failed-marker baseline never flags a healthy successor") {
    val slow = Bench.slowQueries(Map("qa" -> 2.0), Map("qa" -> -1.0))
    assert(slow.isEmpty)
  }

  test("environment factor is the median ratio, floored at 1, noise excluded") {
    val baseline = Map("qa" -> 1.0, "qb" -> 2.0, "qc" -> 4.0, "qn" -> 0.05)
    // a uniformly ~1.6x-slower machine (the r6 driver), one genuine 10x
    // regression, and a sub-100ms query whose 20x ratio is scheduler noise
    val stats = Map("qa" -> 1.6, "qb" -> 3.4, "qc" -> 40.0, "qn" -> 1.0)
    val env = Bench.environmentFactor(stats, baseline)
    assert(env == 1.7, s"median of (1.6, 1.7, 10.0) = 1.7, got $env")
    // a FASTER machine never relaxes below the absolute thresholds
    assert(Bench.environmentFactor(Map("qa" -> 0.5), baseline) == 1.0)
    // no overlap with the baseline: factor degrades to neutral
    assert(Bench.environmentFactor(Map("qz" -> 9.9), baseline) == 1.0)
  }

  test("env-adjusted gate keeps uniform slowness unflagged, catches regressions") {
    val baseline = Map("qa" -> 1.0, "qb" -> 2.0, "qc" -> 4.0)
    val stats = Map("qa" -> 1.7, "qb" -> 3.4, "qc" -> 40.0)
    val env = Bench.environmentFactor(stats, baseline)
    val slow = Bench.slowQueries(stats, baseline, envFactor = env)
    // qc is 10x its baseline on a 1.7x-slow machine (5.9x relative > 3x);
    // qa/qb ride the environment and stay green — the r6 failure mode
    // (14 queries flagged on a uniformly slower driver) cannot recur
    assert(slow.keySet == Set("qc"))
  }

  test("gate stat with 2 warm rounds is the MIN: one stalled round cannot flag") {
    // r8 driver run: rounds_completed=3 → exactly 2 warm samples, so the
    // published warm_median is their MEAN and a single 16 s stall on a
    // 2.7 s query flagged it at 4x. The GATE must read the warm min
    // instead; the published stat stays the median.
    val published = Map("qa" -> 9.56, "qb" -> 2.0) // qa's mean of (2.72, 16.4)
    val warm = Seq(Map("qa" -> 2.72, "qb" -> 2.1), Map("qa" -> 16.4, "qb" -> 1.9))
    val (name, gate) = Bench.gateStatsFor(published, "warm_median", warm)
    assert(name == "warm_min")
    assert(gate("qa") == 2.72 && gate("qb") == 1.9)
    // against a 2.43s baseline: median 9.56 would flag (3.9x), min clears
    val baseline = Map("qa" -> 2.43, "qb" -> 2.0)
    assert(Bench.slowQueries(gate, baseline).isEmpty)
    assert(Bench.slowQueries(published, baseline).keySet == Set("qa"))
  }

  test("gate stat with >=3 warm rounds or none is the published stat unchanged") {
    val published = Map("qa" -> 5.0, "qfail" -> -1.0)
    val threeWarm = Seq.fill(3)(Map("qa" -> 5.0, "qfail" -> 1.0))
    assert(Bench.gateStatsFor(published, "warm_median", threeWarm) ==
      (("warm_median", published)))
    assert(Bench.gateStatsFor(published, "cold_round", Seq.empty) ==
      (("cold_round", published)))
    // failed markers pass through even in the min regime
    val (n1, g1) = Bench.gateStatsFor(published, "warm_median",
      Seq(Map("qa" -> 4.0, "qfail" -> 1.0)))
    assert(n1 == "warm_min" && g1("qa") == 4.0 && g1("qfail") == -1.0)
  }

  test("every registered query has a baseline row in BOTH per-config files") {
    // the slow gate only covers queries present in the baseline; a new
    // query registered without recording its medians would silently
    // escape regression detection (and the BASELINE.md table)
    val registered = SparkEntry.queries.keySet
    for (f <- Seq("bench_baseline.json", "bench_baseline_4.json")) {
      val recorded = Bench.loadBaseline(f).keySet
      val missing = registered -- recorded
      assert(missing.isEmpty, s"$f missing baselines for: ${missing.toSeq.sorted}")
    }
  }

  test("fast-tier trim: only consistently-sub-cap queries trim; 0 disables") {
    val warm = Seq(
      Map("fast" -> 0.08, "mixed" -> 0.10, "slow" -> 2.0, "edge" -> 0.15),
      Map("fast" -> 0.12, "mixed" -> 0.30, "slow" -> 1.9, "edge" -> 0.14))
    val names = Seq("fast", "mixed", "slow", "edge", "absent")
    val t = Bench.fastTier(names, warm, cap = 0.15)
    assert(t == Set("fast"), t) // mixed crossed the cap once; edge hit it exactly (0.15 !< 0.15 in round 1); absent unobserved
    assert(Bench.fastTier(names, warm, cap = 0.0).isEmpty)
    assert(Bench.fastTier(names, Seq.empty, cap = 0.15).isEmpty)
  }
}

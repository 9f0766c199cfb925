package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.BenchGuard

/** The sidecar-median outlier trigger's arithmetic (r13 verdict item 1):
  * the exact numbers that must and must not re-run / flag, pinned —
  * including the r13 escape (q135 official 11.79 s vs instrumented
  * 1.63 s) that motivated the trigger.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("outlier requires STRICTLY more than 3× the sidecar median AND " +
    "an absolute excess above the noise floor") {
    assert(BenchGuard.isOutlier(11.79, Some(1.63)), "the r13 q135 escape")
    assert(BenchGuard.isOutlier(5.0, Some(1.0)))
    assert(!BenchGuard.isOutlier(3.0, Some(1.0)), "exactly 3× is not an outlier")
    assert(!BenchGuard.isOutlier(2.57, Some(1.57)),
      "q36's 1.6× drift is below the ratio — not this trigger's job")
    // 4.5× but the excess is 70 ms: scheduler noise on a sub-second
    // query, not evidence-weakening pollution — no retry, no flag
    assert(!BenchGuard.isOutlier(0.09, Some(0.02)))
    // just past both gates
    assert(BenchGuard.isOutlier(1.30, Some(0.40)))
    assert(!BenchGuard.isOutlier(1.19, Some(0.40)), "2.975× — under the ratio")
    // a query with no reference row (new this round) is never an outlier
    assert(!BenchGuard.isOutlier(100.0, None))
  }

  test("median matches Bench's rep convention (upper median on even sizes)") {
    assert(BenchGuard.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchGuard.median(Seq(4.0, 1.0, 3.0, 2.0)) == 3.0)
    assert(BenchGuard.median(Seq(7.5)) == 7.5)
  }

  test("sidecar parsing: per-line query→median(walls); junk, truncated, " +
    "and wall-less lines degrade to a smaller table, never an error") {
    val lines = Seq(
      """{"query":"q1_a","walls":[1.2,0.9,1.1],"retried":false}""",
      """{"query":"q2_b","walls":[2.0],"other_busy_frac":0.01}""",
      """{"query":"q3_c","walls":[],"retried":false}""", // no walls → skipped
      """{"walls":[1.0]}""",                             // no query → skipped
      """{"query":"q4_d","walls":[3.0,1.0""",            // truncated → skipped
      """not json at all""",
      """{"query":"q5_e","walls":[5.5,4.5,6.5],"walls_rejected":[9.0]}""")
    val m = BenchGuard.parseSidecar(lines.iterator).medians
    assert(m == Map("q1_a" -> 1.1, "q2_b" -> 2.0, "q5_e" -> 5.5))
  }

  test("scale-factor filter: rows recorded at a different sf are dropped " +
    "(a 10× data-size mismatch must not read as a mass outlier event); " +
    "sf-less legacy rows are kept") {
    val lines = Seq(
      """{"query":"q1_a","walls":[1.0],"sf":"/data/sf0.1"}""",
      """{"query":"q2_b","walls":[2.0],"sf":"/data/sf1"}""",
      """{"query":"q3_c","walls":[3.0]}""") // pre-r14 row: no sf field
    val m = BenchGuard.parseSidecar(lines.iterator,
      sf = Some("/data/sf0.1")).medians
    // the legacy sf-less row is kept at sf0.1 (the scale every pre-r14
    // sidecar was recorded at)…
    assert(m == Map("q1_a" -> 1.0, "q3_c" -> 3.0))
    // …but DROPPED at any other scale — keeping it at sf1 would make
    // the whole committed r13 reference a mass-outlier table
    val m1 = BenchGuard.parseSidecar(lines.iterator,
      sf = Some("/data/sf1")).medians
    assert(m1 == Map("q2_b" -> 2.0))
    // no filter requested → everything parses
    assert(BenchGuard.parseSidecar(lines.iterator).medians.size == 3)
  }

  test("loadReference picks the highest ROUND number (numeric, not " +
    "lexicographic — r13 beats r9) and returns empty when nothing exists") {
    val dir = java.nio.file.Files.createTempDirectory("benchguard_").toString
    def write(name: String, body: String) =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        body.getBytes("UTF-8"))
    write("BENCH_STATS_r9_final.json",
      """{"query":"q1_a","walls":[9.0,9.0,9.0]}""")
    write("BENCH_STATS_r13_final.json",
      """{"query":"q1_a","walls":[1.0,2.0,3.0]}""")
    write("BENCH_STATS_r13_sweep1.json",
      """{"query":"q1_a","walls":[8.0,8.0,8.0]}""") // non-final: ignored
    assert(BenchGuard.loadReferenceFull(dir, explicit = None).medians ==
      Map("q1_a" -> 2.0))
    // explicit path wins over the directory scan
    assert(BenchGuard.loadReferenceFull(dir,
      explicit = Some(s"$dir/BENCH_STATS_r9_final.json")).medians ==
      Map("q1_a" -> 9.0))
    val empty = java.nio.file.Files.createTempDirectory("benchguard_e_").toString
    assert(BenchGuard.loadReferenceFull(empty, explicit = None).medians.isEmpty)
  }

  test("loadReference EXCLUDES the current run's own stats output: a " +
    "round-final output name must not become (empty) reference and " +
    "disarm the trigger for the sweep writing it") {
    val dir = java.nio.file.Files.createTempDirectory("benchguard_x_").toString
    def write(name: String, body: String) =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        body.getBytes("UTF-8"))
    write("BENCH_STATS_r13_final.json",
      """{"query":"q1_a","walls":[1.0,2.0,3.0]}""")
    write("BENCH_STATS_r14_final.json", "") // the run's own, just created
    // without the exclusion the empty r14 file wins and the table is {}
    assert(BenchGuard.loadReferenceFull(dir, explicit = None).medians.isEmpty)
    // with it, the previous round's table arms the trigger
    assert(BenchGuard.loadReferenceFull(dir, explicit = None,
      exclude = Some(s"$dir/BENCH_STATS_r14_final.json")).medians ==
      Map("q1_a" -> 2.0))
  }

  test("host-scaled outlier check: the canary ratio stretches the " +
    "reference, so a uniformly slower host stops flagging honest medians") {
    // r14's regime: host ~1.4× slower; a query at 3.5× its reference is
    // an outlier unscaled but NOT at scale 1.4 (3.5 < 3×1.4 = 4.2)
    assert(BenchGuard.isOutlier(3.5, Some(1.0)))
    assert(!BenchGuard.isOutlier(3.5, Some(1.0), hostScale = 1.4))
    // a genuine 6× outlier survives the scaled check
    assert(BenchGuard.isOutlier(6.0, Some(1.0), hostScale = 1.4))
    // the absolute excess floor scales with the reference too
    assert(!BenchGuard.isOutlier(0.09, Some(0.02), hostScale = 1.4))
    // scale 1 (no canary on either side) is the pre-r15 behavior exactly
    assert(BenchGuard.isOutlier(11.79, Some(1.63), hostScale = 1.0))
  }

  test("canaryScale: current/reference clamped to [1, MaxCanaryScale]; " +
    "missing or degenerate sides disable scaling (1.0)") {
    assert(BenchGuard.canaryScale(0.7, Some(0.5)) == 1.4)
    // a FASTER host must not tighten the trigger below its calibration
    assert(BenchGuard.canaryScale(0.3, Some(0.5)) == 1.0)
    // a pathological ratio can't disable the trigger outright
    assert(BenchGuard.canaryScale(10.0, Some(0.5)) == BenchGuard.MaxCanaryScale)
    // pre-r15 sidecar (no canary line) / broken probe → unscaled
    assert(BenchGuard.canaryScale(0.7, None) == 1.0)
    assert(BenchGuard.canaryScale(0.7, Some(0.0)) == 1.0)
    assert(BenchGuard.canaryScale(0.0, Some(0.5)) == 1.0)
  }

  test("CanaryTrack: mid-sweep drift re-calibrates the trigger — a host " +
    "that degrades after the start probe stops manufacturing suspects, " +
    "and a genuine regression still flags once the host is quiet again") {
    // reference host speed 1.0 s; start probe agrees → scale 1.0
    val t = new BenchGuard.CanaryTrack(Some(1.0), 1.0)
    assert(t.scale == 1.0 && t.probeCount == 0)
    // host degrades to 3.5× mid-sweep: an honest query at 3.6× its
    // 1.0 s reference is a FALSE suspect under the stale start scale…
    assert(BenchGuard.isOutlier(3.6, Some(1.0), t.scale),
      "the r15 failure mode: stale calibration flags an honest median")
    // …but the due probe measures 3.5 s and the re-calibrated trigger
    // reads the same median as expected
    assert(t.update(3.5) == 3.5)
    assert(!BenchGuard.isOutlier(3.6, Some(1.0), t.scale))
    // host recovers (probe back at 1.0 — and a FASTER-than-reference
    // probe clamps at 1.0, never tightening below the calibration):
    // a genuine 6× regression still flags
    t.update(0.9)
    assert(t.scale == 1.0)
    assert(BenchGuard.isOutlier(6.0, Some(1.0), t.scale))
    // the track remembers its range for the artifact's self-description
    assert(t.probeCount == 2 && t.scaleMin == 1.0 && t.scaleMax == 3.5)
    // a probe beyond MaxCanaryScale clamps like the start probe does
    t.update(99.0)
    assert(t.scale == BenchGuard.MaxCanaryScale)
  }

  test("CanaryTrack.due: a probe fires every MidProbeEvery queries, " +
    "never at index 0 (the start probe just ran)") {
    val t = new BenchGuard.CanaryTrack(None, 1.0)
    val k = BenchGuard.MidProbeEvery
    assert(!t.due(0) && !t.due(1) && !t.due(k - 1))
    assert(t.due(k) && t.due(2 * k) && !t.due(k + 1))
    // no reference canary (pre-r15 sidecar) → the track pins scale 1.0
    // whatever the probes read: scaling stays disabled, exactly the
    // start-only behavior
    t.update(7.0)
    assert(t.scale == 1.0)
  }

  test("sidecar mid-probe lines are informational only: canary_mid_mt " +
    "never parses as the file's calibration record and carries no walls") {
    val lines = Seq(
      """{"canary_iters":400000000,"canary_threads":32,"canary_s1":0.31,""" +
        """"canary_mt":0.48,"host_scale":1.0,"sf":"/data/sf0.1"}""",
      """{"canary_mid_mt":1.9,"at_query":50,"host_scale":3.9,"sf":"/data/sf0.1"}""",
      """{"query":"q1_a","walls":[1.0,1.2,1.1],"host_scale":1.3,"sf":"/data/sf0.1"}""")
    val ref = BenchGuard.parseSidecar(lines.iterator, sf = Some("/x/sf0.1"))
    assert(ref.canaryMtSec.contains(0.48),
      "the START probe stays the calibration record")
    assert(ref.medians == Map("q1_a" -> 1.1))
    // a sidecar whose start line was lost (truncated copy) must not
    // promote a mid line to calibration: mid lines lack iters/threads
    val noStart = BenchGuard.parseSidecar(lines.drop(1).iterator)
    assert(noStart.canaryMtSec.isEmpty)
  }

  test("canary kernel is deterministic and the probe measures real work " +
    "(scales with iterations)") {
    assert(BenchGuard.canaryValue(1000) == BenchGuard.canaryValue(1000))
    assert(BenchGuard.canaryValue(1000) != BenchGuard.canaryValue(2000))
    // tiny iteration counts so the spec costs ms, not seconds: 20× the
    // iterations must cost measurably more wall (JIT warmed by probe)
    val small = BenchGuard.canaryProbe(threads = 1, iters = 2000000, reps = 3)
    val big = BenchGuard.canaryProbe(threads = 1, iters = 40000000, reps = 3)
    assert(big > small * 2,
      s"40M iters ($big s) should dominate 2M iters ($small s)")
    // the multi-thread variant runs and returns a positive wall
    assert(BenchGuard.canaryProbe(threads = 4, iters = 2000000, reps = 1) > 0)
  }

  test("sidecar canary round-trip: parseSidecar reads back the canary " +
    "line Bench writes, un-filtered by sf; loadReferenceFull carries it") {
    val lines = Seq(
      // Bench's first sidecar line (recorded at sf0.1)
      """{"canary_iters":400000000,"canary_threads":32,"canary_s1":0.31,""" +
        """"canary_mt":0.48,"host_scale":1.0,"sf":"/data/sf0.1"}""",
      """{"query":"q1_a","walls":[1.0,1.2,1.1],"sf":"/data/sf0.1"}""")
    // canary survives even when the requested sf differs (host property,
    // not a data-scale property); the rows are still sf-filtered
    val atOther = BenchGuard.parseSidecar(lines.iterator, sf = Some("/x/sf1"))
    assert(atOther.canaryMtSec.contains(0.48) && atOther.medians.isEmpty)
    val atSame = BenchGuard.parseSidecar(lines.iterator,
      sf = Some("/other/root/sf0.1"))
    assert(atSame.canaryMtSec.contains(0.48) &&
      atSame.medians == Map("q1_a" -> 1.1))
    // pre-r15 sidecar: no canary line → None, scaling disabled
    assert(BenchGuard.parseSidecar(
      Iterator("""{"query":"q1_a","walls":[1.0]}""")).canaryMtSec.isEmpty)
    // a canary recorded with a DIFFERENT workload (retuned iters or
    // thread count) is not comparable — ignored, scaling disabled,
    // instead of reading as up-to-4x host drift
    assert(BenchGuard.parseSidecar(Iterator(
      """{"canary_iters":800000000,"canary_threads":32,"canary_mt":0.96}"""
    )).canaryMtSec.isEmpty)
    assert(BenchGuard.parseSidecar(Iterator(
      """{"canary_iters":400000000,"canary_threads":16,"canary_mt":0.48}"""
    )).canaryMtSec.isEmpty)
    // loadReferenceFull surfaces it from the highest-round file
    val dir = java.nio.file.Files.createTempDirectory("benchguard_c_").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "BENCH_STATS_r15_final.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ref = BenchGuard.loadReferenceFull(dir, explicit = None,
      sf = Some("/data/sf0.1"))
    assert(ref.canaryMtSec.contains(0.48) && ref.medians == Map("q1_a" -> 1.1))
  }
}

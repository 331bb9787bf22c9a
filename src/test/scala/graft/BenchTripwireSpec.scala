package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-14 perf tripwire: Bench diffs each entry's floor against
  * the PREVIOUS committed BENCH_DETAIL.json (cal-normalized) and emits
  * a perf_warn block — the mechanical guard against the r13 failure
  * mode where a final commit regressed dsir_select 3.4× AFTER the last
  * bench refresh and no artifact caught it. */
class BenchTripwireSpec extends AnyFunSuite {

  private val prev =
    """{"metric":"total","value":10.0,"unit":"sec","cpu_total":50.0,""" +
      """"cal":{"pre":1.70,"post":1.74},"sf":"/root/testdata/sf0.1",""" +
      """"queries":{"q_fast":0.10,"q_heavy":0.43,"q_wide":2.00},""" +
      """"cpu":{"q_fast":0.50,"q_heavy":1.90,"q_wide":16.00},""" +
      """"samples":{"q_fast":[0.10,0.12]}}"""

  test("numMap extracts the per-entry wall and cpu maps") {
    assert(Bench.numMap(prev, "queries") ===
      Map("q_fast" -> 0.10, "q_heavy" -> 0.43, "q_wide" -> 2.00))
    assert(Bench.numMap(prev, "cpu")("q_heavy") === 1.90)
    assert(Bench.numMap(prev, "nosuch") === Map.empty)
  }

  test("calAvg reads the bracketing calibration stamps") {
    assert(Bench.calAvg(prev).exists(c => math.abs(c - 1.72) < 1e-9))
    assert(Bench.calAvg("{}").isEmpty)
  }

  test("fires on the r13-shaped regression (wall and cpu both up)") {
    // dsir_select's actual numbers: 0.43s/1.9cpu -> 1.46s/10.8cpu
    val cur = Map("q_heavy" -> (1.46, 10.8))
    val w = Bench.perfWarn(prev, 1.72, cur)
    assert(w.map(_._1) === Seq("q_heavy"))
    val (wall, prevWall, cpu, prevCpu) = w.head._2
    assert(wall === 1.46 && cpu === 10.8)
    assert(math.abs(prevWall - 0.43) < 1e-9)
    assert(math.abs(prevCpu - 1.90) < 1e-9)
  }

  test("fires on cpu-only amplification (wall masked by idle cores)") {
    // quality_percentile_filter's r13 shape: cpu 2.4x, wall flat
    val cur = Map("q_wide" -> (2.05, 40.0))
    assert(Bench.perfWarn(prev, 1.72, cur).map(_._1) === Seq("q_wide"))
  }

  test("silent on a quiet rerun (noise-band jitter)") {
    val cur = Map("q_fast" -> (0.13, 0.60), "q_heavy" -> (0.48, 2.2),
      "q_wide" -> (2.30, 18.0))
    assert(Bench.perfWarn(prev, 1.72, cur).isEmpty)
  }

  test("silent on external-load wall inflation without cpu growth") {
    // noisy-neighbor signature: wall 3x, process-cpu flat
    val cur = Map("q_wide" -> (6.00, 16.5))
    assert(Bench.perfWarn(prev, 1.72, cur).isEmpty)
  }

  test("cal normalization absorbs uniform host drift") {
    // a 1.5x-slower host (cal 1.72 -> 2.58) makes everything 1.5x
    // slower in wall AND cpu; the cal divisor keeps that quiet
    val cur = Map("q_heavy" -> (0.645, 2.85), "q_wide" -> (3.00, 24.0))
    assert(Bench.perfWarn(prev, 2.58, cur).isEmpty)
    // ... while a REAL 2x regression on that same slow host still fires
    val bad = Map("q_wide" -> (6.50, 52.0))
    assert(Bench.perfWarn(prev, 2.58, bad).map(_._1) === Seq("q_wide"))
  }

  test("tiny entries below the absolute floors never fire") {
    // 3x ratio but 0.2s / 0.9cpu absolute growth: sub-floor jitter
    val cur = Map("q_fast" -> (0.30, 1.40))
    assert(Bench.perfWarn(prev, 1.72, cur).isEmpty)
  }

  test("entries new this round (no prev floor) are skipped") {
    val cur = Map("q_new" -> (9.99, 99.0))
    assert(Bench.perfWarn(prev, 1.72, cur).isEmpty)
  }

  test("worst regression sorts first") {
    val cur = Map("q_heavy" -> (1.46, 10.8), "q_wide" -> (6.50, 52.0))
    val w = Bench.perfWarn(prev, 1.72, cur)
    // q_heavy cpu ratio ~5.7x > q_wide ~3.25x
    assert(w.map(_._1) === Seq("q_heavy", "q_wide"))
  }

  // Round-15: the confirmation pass is only evidence when the host was
  // as quiet DURING it as the pre-suite cal measured — the r14 driver
  // rerun's end-of-suite load (18.5) inflated the confirmation samples
  // themselves, false-confirming 24 flags a quiet run reduced to 3.

  test("cal-stable confirmation keeps warns confirmed") {
    assert(Bench.confirmationValid(1.70, 1.72, 1.68))
    val cur = Map("q_heavy" -> (1.46, 10.8))
    val ws = Bench.perfWarn(prev, 1.72, cur)
    val (confirmed, unconf) =
      Bench.splitConfirmed(ws, 1.70, Some((1.72, 1.68)))
    assert(confirmed.map(_._1) === Seq("q_heavy") && unconf.isEmpty)
  }

  test("inflated confirmation under cal drift stays silent (demoted)") {
    // simulated load spike during confirmation: cal 1.70 → 2.10 (+24%)
    assert(!Bench.confirmationValid(1.70, 2.10, 2.05))
    assert(!Bench.confirmationValid(1.70, 1.71, 2.10)) // late spike
    val cur = Map("q_heavy" -> (1.46, 10.8)) // would fire on its own
    val ws = Bench.perfWarn(prev, 1.72, cur)
    assert(ws.nonEmpty)
    val (confirmed, unconf) =
      Bench.splitConfirmed(ws, 1.70, Some((2.10, 2.05)))
    assert(confirmed.isEmpty, "load-contaminated confirmation must not warn")
    assert(unconf.map(_._1) === Seq("q_heavy"), "…but stays on record")
  }

  test("planted real regression on a quiet host still fires through the gate") {
    val cur = Map("q_heavy" -> (1.46, 10.8))
    val ws = Bench.perfWarn(prev, 1.72, cur)
    // no confirmation ran (None) → warns pass through untouched
    assert(Bench.splitConfirmed(ws, 1.70, None)._1.map(_._1) === Seq("q_heavy"))
    // confirmation ran, cal within 10% → still fires
    assert(Bench.splitConfirmed(ws, 1.70, Some((1.75, 1.66)))._1.nonEmpty)
  }

  // a round-16 artifact: the cal object carries the parallel stamps
  private val prevPar =
    """{"metric":"total","value":10.0,"unit":"sec","cpu_total":50.0,""" +
      """"cal":{"pre":1.70,"post":1.74,"par_pre":1.80,"par_post":1.84},""" +
      """"sf":"/root/testdata/sf0.1",""" +
      """"queries":{"q_heavy":0.43},"cpu":{"q_heavy":1.90}}"""

  test("cal parsing tolerates and reads the round-16 par stamps") {
    assert(Bench.calAvg(prevPar).exists(c => math.abs(c - 1.72) < 1e-9))
    assert(Bench.calParAvg(prevPar).exists(c => math.abs(c - 1.82) < 1e-9))
    assert(Bench.calParAvg(prev).isEmpty) // pre-16 artifact: no stamps
  }

  // a round-16 artifact carrying the saturation stamp as well
  private val prevSat =
    """{"metric":"total","value":10.0,"unit":"sec","cpu_total":50.0,""" +
      """"cal":{"pre":1.70,"post":1.74,"par_pre":1.80,"par_post":1.84,""" +
      """"sat_pre":2.10,"sat_post":2.14},"sf":"/root/testdata/sf0.1",""" +
      """"queries":{"q_heavy":0.43},"cpu":{"q_heavy":1.90}}"""

  test("saturation-only throttling is caught by the full-width probe") {
    assert(Bench.calSatAvg(prevSat).exists(c => math.abs(c - 2.12) < 1e-9))
    // the round-16 measured mode: cal flat, 8-thread par flat, but the
    // 32-thread saturation probe inflated — host width throttling
    assert(Bench.hostParallelShift(prevSat,
      curCal = 1.68, curCalPar = 1.85, curCalSat = 3.2))
    // healthy box: nothing fires
    assert(!Bench.hostParallelShift(prevSat,
      curCal = 1.71, curCalPar = 1.83, curCalSat = 2.15))
    // no sat stamp in prev (r16 par-only artifact): sat arm inert
    assert(!Bench.hostParallelShift(prevPar,
      curCal = 1.68, curCalPar = 1.85, curCalSat = 3.2))
  }

  test("single-thread-flat + parallel-inflated = host shift, flags demoted") {
    // the r15 box: cal got FASTER (1.72 -> 1.55) while parallel
    // throughput halved (1.82 -> 3.9) — every entry inflates ~uniformly
    // with zero code change. The signature must be recognized...
    assert(Bench.hostParallelShift(prevPar, curCal = 1.55, curCalPar = 3.9))
    // ...and must NOT fire when parallel moved with single-thread
    // (uniform host drift — cal normalization handles that instead)
    assert(!Bench.hostParallelShift(prevPar, curCal = 2.2, curCalPar = 2.4))
    // ...nor on a genuinely quiet box
    assert(!Bench.hostParallelShift(prevPar, curCal = 1.71, curCalPar = 1.85))
    // ...nor against a pre-16 artifact without par stamps
    assert(!Bench.hostParallelShift(prev, curCal = 1.55, curCalPar = 3.9))
  }

  test("a cross-core-count pair stays silent: only same sf and cpus compare") {
    val sf = "sf0.1"
    val prev32 = """{"cal":{"pre":1.70,"post":1.74},"sf":"sf0.1","cpus":32,""" +
      """"queries":{"q_heavy":0.43},"cpu":{"q_heavy":1.90}}"""
    val prevNoCpus = prev32.replace("\"cpus\":32,", "")
    // the r13-shaped regression, but measured on 8 cores against a
    // 32-core artifact: fewer cores, more wall — not a code change
    val cur = Map("q_heavy" -> (1.46, 10.8))
    def warns(prevJson: String, cpus: String, sfDir: String = sf) =
      Some(prevJson).filter(Bench.comparable(_, sfDir, cpus))
        .map(Bench.perfWarn(_, 1.72, cur)).getOrElse(Seq.empty)
    assert(warns(prev32, "8").isEmpty)
    // same cores and sf still fire
    assert(warns(prev32, "32").map(_._1) === Seq("q_heavy"))
    // a different sf, or an artifact without a cpus stamp, never compares
    assert(warns(prev32, "32", "sf0.01").isEmpty)
    assert(warns(prevNoCpus, "32").isEmpty)
  }
}

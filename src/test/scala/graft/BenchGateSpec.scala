package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's non-steal contamination gate (round-15 verdict task 2):
  * a pass whose per-query process-CPU inflates far beyond the
  * cross-pass median is same-box contention the steal counter cannot
  * see (the r15 q155 driver signature: 50 s CPU vs a 10 s clean median
  * at steal 0.008). The decision function must flag exactly that shape
  * and nothing else — in particular a uniform real regression (every
  * pass inflated together) and ordinary jitter must sail through.
  */
class BenchGateSpec extends AnyFunSuite {
  private val factor = 3.0
  private val floor = 5000L

  test("a synthetic contended pass is auto-discarded") {
    // 3 passes × 4 queries; pass 1 burned 50 s on query 2 vs a 10 s median
    val cpu = Seq(
      Seq(900L, 2000L, 10400L, 300L),
      Seq(910L, 2100L, 50300L, 310L),
      Seq(905L, 1900L, 10600L, 305L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set(1))
    assert(Bench.cpuInflationMs(cpu, 1) > 39000L)
  }

  test("clean passes with ordinary jitter are not flagged") {
    val cpu = Seq(
      Seq(900L, 2000L, 10400L, 300L),
      Seq(950L, 2200L, 11800L, 340L),
      Seq(880L, 1900L, 9700L, 290L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set.empty[Int])
  }

  test("a large ratio below the absolute floor is not flagged (sub-second queries)") {
    // 5× the median but only +1.2 s of excess — JIT/GC jitter territory
    val cpu = Seq(Seq(300L), Seq(1500L), Seq(310L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set.empty[Int])
  }

  test("a uniform real regression (all passes inflated together) is not flagged") {
    val cpu = Seq(Seq(50000L), Seq(51000L), Seq(49500L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set.empty[Int])
  }

  test("fewer than 3 passes cannot arbitrate; -1 platform samples are skipped") {
    assert(Bench.cpuContaminatedPasses(
      Seq(Seq(1000L), Seq(90000L)), factor, floor) === Set.empty[Int])
    assert(Bench.cpuContaminatedPasses(
      Seq(Seq(-1L), Seq(-1L), Seq(-1L)), factor, floor) === Set.empty[Int])
  }

  test("a one-time artifact build on the first accepted pass is exempt (the pass0_over_median shape)") {
    // the r15 close artifact's q316 signature: pass 0 pays the shared
    // L2-level build, later passes serve it — structure, not contention
    val cpu = Seq(
      Seq(15820L, 1020L),
      Seq(1020L, 1100L),
      Seq(1330L, 990L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set.empty[Int])
  }

  test("the r15 q155 driver shape (2 of 3 passes contaminated) still flags the non-first one") {
    // cpu [50.3s, 57.1s, 10.4s]: a median reference is itself
    // contaminated here; the min reference catches pass 1, and the
    // exempt pass 0 is the one bad pass a 3-pass median tolerates
    val cpu = Seq(
      Seq(50300L, 1000L),
      Seq(57100L, 1010L),
      Seq(10400L, 990L))
    assert(Bench.cpuContaminatedPasses(cpu, factor, floor) === Set(1))
  }

  test("two contaminated passes flag both; the worse one ranks first for discard") {
    val cpu = Seq(
      Seq(10000L, 2000L),
      Seq(80000L, 2100L),
      Seq(10100L, 40000L),
      Seq(10050L, 2050L),
      Seq(9900L, 1950L))
    val flagged = Bench.cpuContaminatedPasses(cpu, factor, floor)
    assert(flagged === Set(1, 2))
    assert(Bench.cpuInflationMs(cpu, 1) > Bench.cpuInflationMs(cpu, 2))
  }

  test("slope flags catch the quadratic shape and nothing else") {
    val rowRatio = 10.0; val factor = 2.0; val floorSec = 1.0
    val main = Seq(
      "q_linear" -> 3.0, // 10× rows, ~8× time (fixed overhead) — clean
      "q_nlogn" -> 4.4, // ~11× — clean under factor 2
      "q_quadratic" -> 30.0, // ~75× — the accidental O(n²)
      "q_tiny_quad" -> 0.9, // superlinear but under the excess floor
      "q_fixed" -> 0.5) // pure startup floor at both SFs
    val small = Map("q_linear" -> 0.38, "q_nlogn" -> 0.4,
      "q_quadratic" -> 0.4, "q_tiny_quad" -> 0.02, "q_fixed" -> 0.45)
    assert(Bench.slopeFlags(main, small, rowRatio, factor, floorSec)
      === Seq("q_quadratic"))
  }

  test("slope flags skip queries with no or zero small-SF sample") {
    val main = Seq("q_a" -> 50.0, "q_b" -> 50.0)
    assert(Bench.slopeFlags(main, Map("q_b" -> 0.0), 10.0, 2.0, 1.0)
      === Seq.empty[String])
  }

  test("outlier repair flags the r17 q152 driver shape (2 of 3 samples stalled)") {
    // wall [7.91, 0.88, 15.63] on identical code: min 0.88 is the truth,
    // pass 0 is median-tolerated (and exempt as the build pass), pass 2
    // must be flagged for re-measurement — without it the median is 7.91
    val wall = Seq(
      Seq(7.913, 1.0), // pass 0 (exempt)
      Seq(0.881, 1.02),
      Seq(15.626, 0.98))
    assert(Bench.outlierSamples(wall, 2.0, 0.75) === Seq((2, 0)))
  }

  test("outlier repair ignores ordinary jitter and sub-floor swings") {
    val wall = Seq(
      Seq(1.0, 0.2, 3.0),
      Seq(1.3, 0.5, 3.4), // q2 is 2.5× min but excess 0.3 s < floor
      Seq(0.9, 0.21, 2.9))
    assert(Bench.outlierSamples(wall, 2.0, 0.75) === Seq.empty)
  }

  test("outlier repair flags every stalled non-first sample, not just one") {
    val wall = Seq(
      Seq(1.0, 5.0),
      Seq(4.0, 5.1), // q0 stalled here
      Seq(3.5, 5.2)) // and here; q1 is uniformly slow (real cost) — clean
    assert(Bench.outlierSamples(wall, 2.0, 0.75) === Seq((1, 0), (2, 0)))
  }

  test("outlier repair needs at least two passes") {
    assert(Bench.outlierSamples(Seq(Seq(9.0)), 2.0, 0.75) === Seq.empty)
  }

  test("a pass-0-only build spike is exempt (median already drops it)") {
    val wall = Seq(Seq(8.0), Seq(1.0), Seq(1.1))
    assert(Bench.outlierSamples(wall, 2.0, 0.75) === Seq.empty)
  }

  test("shuffle slope flags catch volume blowups over the 64 MB excess floor") {
    val rowRatio = 10.0
    val mainMb = Seq(
      "q_linear_shuffle" -> 900.0, // 10× rows, ~9× bytes — clean
      "q_blowup" -> 4000.0, // ~40× bytes — re-shuffling something quadratic
      "q_small_blowup" -> 60.0, // 60× ratio but excess under the MB floor
      "q_broadcast_only" -> 0.0) // no exchange at either SF
    val smallMb = Map("q_linear_shuffle" -> 100.0, "q_blowup" -> 100.0,
      "q_small_blowup" -> 1.0, "q_broadcast_only" -> 0.0)
    assert(Bench.shuffleSlopeFlags(mainMb, smallMb, rowRatio)
      === Seq("q_blowup"))
  }

  // summarize: every gate is a flag over the collected passes; nothing is
  // re-measured, and the medians come from the passes no gate flagged
  private def pass(steal: Double, qs: (Double, Long)*): Bench.Pass =
    Bench.Pass(qs.map { case (sec, cpu) =>
      Right(Bench.QSample(sec, 0L, cpu, 0L, 0L, 0L))
    }.toIndexedSeq, steal, Seq("steal_frac" -> steal.toString))

  test("summarize: a steal-flagged pass and a CPU-flagged pass stay out of the medians") {
    val passes = Seq(
      pass(0.001, 1.5 -> 1000L, 3.0 -> 10000L), // cold pass 0
      pass(0.20, 9.0 -> 1000L, 9.0 -> 10000L), // steal storm
      pass(0.002, 8.0 -> 1000L, 8.0 -> 50000L), // same-box contention
      pass(0.001, 1.0 -> 1000L, 2.0 -> 10000L),
      pass(0.001, 1.2 -> 1000L, 2.4 -> 10000L))
    val s = Bench.summarize(Seq("qa", "qb"), passes)
    assert(s.flags === IndexedSeq(Nil, Seq("over_max_steal"), Seq("over_cpu_inflation"), Nil, Nil))
    assert(s.used === IndexedSeq(0, 3, 4))
    assert(s.queries === Seq("qa" -> 1.2, "qb" -> 2.4))
    val json = s.fields.toMap
    assert(json("medians_from") === "\"unflagged_passes\"")
    assert(json("telemetry").contains("\"over_max_steal\":true"))
    assert(json("telemetry").contains("\"over_cpu_inflation\":true"))
  }

  test("summarize: with an even count of passes the median takes the lower sample, never the mean") {
    // a flagged warm pass leaves the cold pass 0 paired with one warm pass
    val passes = Seq(
      pass(0.003, 2.4 -> 8500L), pass(0.05, 0.9 -> 2800L), pass(0.004, 0.6 -> 1600L))
    val s = Bench.summarize(Seq("q141"), passes)
    assert(s.used === IndexedSeq(0, 2))
    assert(s.queries === Seq("q141" -> 0.6))
  }

  test("summarize: when every pass is flagged, all passes are used and the JSON says so") {
    val passes = Seq(
      pass(0.10, 1.0 -> 100L), pass(0.10, 3.0 -> 100L), pass(0.10, 2.0 -> 100L))
    val s = Bench.summarize(Seq("qa"), passes)
    assert(s.flags.forall(_ === Seq("over_max_steal")))
    assert(s.used === IndexedSeq(0, 1, 2))
    assert(s.queries === Seq("qa" -> 2.0))
    assert(s.fields.toMap.apply("medians_from") === "\"all_passes\"")
  }

  test("summarize: a lone unflagged pass is no median; all passes are used") {
    // a steal storm over passes 1-2 leaves only the cold pass 0 unflagged
    val passes = Seq(
      pass(0.02, 1.24 -> 4300L), pass(0.09, 0.79 -> 2300L), pass(0.17, 0.69 -> 1500L))
    val s = Bench.summarize(Seq("q03"), passes)
    assert(s.flags === IndexedSeq(Nil, Seq("over_max_steal"), Seq("over_max_steal")))
    assert(s.used === IndexedSeq(0, 1, 2))
    assert(s.queries === Seq("q03" -> 0.79))
    assert(s.fields.toMap.apply("medians_from") === "\"all_passes\"")
  }

  test("summarize: the r17 q152 shape is an outlier flag and the median stays raw") {
    val passes = Seq(
      pass(0.0, 7.913 -> 900L, 1.0 -> 900L),
      pass(0.0, 0.881 -> 900L, 1.02 -> 900L),
      pass(0.0, 15.626 -> 900L, 0.98 -> 900L))
    val s = Bench.summarize(Seq("q152", "qb"), passes)
    assert(s.outliers === Seq((2, 0)))
    assert(s.queries.toMap.apply("q152") === 7.913)
    val flags = s.fields.toMap.apply("outlier_flags")
    assert(flags.contains("\"query\":\"q152\",\"pass\":2,\"sec\":15.626,\"min_sec\":0.881"))
    assert(flags.contains("\"cpu_ms\":900"))
  }

  test("summarize: a query that throws is a failed_queries entry, not a time") {
    val names = Seq("qa", "qb", "qc")
    val p = Bench.timedPass(names,
      n => if (n == "qb") throw new IllegalStateException("boom \"quoted\"\nmore"),
      () => 0L)
    assert(p.samples(1).isLeft && p.samples(0).isRight && p.samples(2).isRight)
    val s = Bench.summarize(names, Seq(p))
    assert(s.failed.map(f => (f._1, f._2)) === Seq(("qb", 0)))
    assert(s.failed.head._3.contains("boom"))
    assert(s.queries.map(_._1) === Seq("qa", "qc"))
    assert(s.total === s.queries.map(_._2).sum)
    val failed = s.fields.toMap.apply("failed_queries")
    assert(failed.startsWith("[{\"query\":\"qb\",\"pass\":0,\"error\":"))
    assert(failed.contains("boom \\\"quoted\\\""))
    assert(!s.fields.toMap.apply("queries").contains("qb"))
  }
}

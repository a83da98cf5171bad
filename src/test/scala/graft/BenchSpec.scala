package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench measurement-protocol invariants (no SparkSession needed).
  *
  * The instability flag's contract (VERDICT r17 #2): the 5-rep adaptive
  * extension exists to dodge a JIT-cold FIRST rep, so the post-extension
  * spread test must not re-count that rep — one cold rep + four stable
  * reps has a stable median and is NOT unstable, while reps that stay
  * noisy after the cold one is dropped ARE.
  *
  * Since r20 the deep-extension event is an EXPLICIT marker carried in
  * Raw (ADVICE r19): the steady-window switch keys on the recorded event,
  * never on raw success counts, so a requested 8-rep run keeps its
  * all-reps median and an extension with one errored rep keeps its
  * steady-state window.
  */
class BenchSpec extends AnyFunSuite {
  private def ok(ts: Double*): Seq[(Double, Option[String])] =
    ts.map(t => (t, None: Option[String]))

  test("one JIT-cold first rep + four stable reps is NOT flagged") {
    // r15's q_cdc_debezium shape: cold 1.80, then settled ~1.2
    assert(!Bench.unstableAfterExtension(ok(1.80, 1.21, 1.24, 1.19, 1.22), deepExtended = false))
  }

  test("genuinely noisy reps stay flagged after the first is excluded") {
    assert(Bench.unstableAfterExtension(ok(1.80, 1.20, 2.10, 1.15, 1.95), deepExtended = false))
  }

  test("a cold rep that is NOT first still flags (not a JIT artifact)") {
    // the exclusion is chronological, not max-trimming: a late outlier is
    // real mid-run noise and must keep the flag
    assert(Bench.unstableAfterExtension(ok(1.20, 1.21, 1.80, 1.19, 1.22), deepExtended = false))
  }

  test("fewer than three successes: all reps count (no population to trim)") {
    assert(Bench.unstableAfterExtension(ok(1.0, 2.0), deepExtended = false))
    assert(!Bench.unstableAfterExtension(ok(1.0, 1.1), deepExtended = false))
  }

  test("errored reps are ignored; chronology is over successes only") {
    // first SUCCESSFUL rep is the cold one even when an error precedes it
    val runs = (0.1, Some("boom"): Option[String]) +: ok(1.80, 1.20, 1.21, 1.19)
    assert(!Bench.unstableAfterExtension(runs, deepExtended = false))
  }

  test("stable reps are not flagged; empty/all-errored never flags") {
    assert(!Bench.unstableAfterExtension(ok(1.0, 1.05, 1.1), deepExtended = false))
    assert(!Bench.unstableAfterExtension(Nil, deepExtended = false))
    assert(!Bench.unstableAfterExtension(Seq((1.0, Some("e"))), deepExtended = false))
  }

  // ---- deep extension (VERDICT r18 #6 + ADVICE r19): the EXPLICIT marker
  // switches the verdict and the reported median to the steady-state
  // window (successes after the first 3 reps) ----

  test("deep-extended JIT-descent row whose tail settled is NOT flagged") {
    // r18's q_ann_lsh shape extended: monotone descent, settled tail
    assert(Bench.unstableAfterExtension(ok(0.78, 0.62, 0.55, 0.50, 0.46), deepExtended = false))
    assert(!Bench.unstableAfterExtension(
      ok(0.78, 0.62, 0.55, 0.50, 0.46, 0.44, 0.43, 0.43), deepExtended = true))
  }

  test("deep-extended row still noisy in its tail stays flagged") {
    assert(Bench.unstableAfterExtension(
      ok(1.80, 1.20, 2.10, 1.15, 1.95, 1.30, 2.00, 1.20), deepExtended = true))
  }

  test("reportedMedian: steady-state window for deep-extended rows only") {
    // not deep-extended: all-successful-reps median (byte-compatible with
    // prior rounds' artifacts)
    assert(Bench.reportedMedian(ok(1.0, 3.0, 2.0), deepExtended = false) == 2.0)
    assert(Bench.reportedMedian(ok(1.80, 1.21, 1.24, 1.19, 1.22), deepExtended = false) == 1.22)
    // deep-extended 8 successes: median of the LAST 5 reps — the descent
    // reps the deep extension ran past must not drag the median up
    assert(Bench.reportedMedian(
      ok(0.78, 0.62, 0.55, 0.50, 0.46, 0.44, 0.43, 0.43), deepExtended = true) == 0.44)
  }

  test("requested 8-rep run WITHOUT deep extension keeps its all-reps median") {
    // ADVICE r19 #1: SPARK_GRAFT_BENCH_REPS=8 used to trip the 8-success
    // window switch and silently drop the caller's first reps
    val eight = ok(0.78, 0.62, 0.55, 0.50, 0.46, 0.44, 0.43, 0.43)
    assert(Bench.reportedMedian(eight, deepExtended = false) == 0.50)
  }

  test("deep extension with one errored rep keeps its steady-state window") {
    // ADVICE r19 #2: 7 successes out of 8 used to fall back to the
    // all-reps median that includes the JIT descent; the explicit marker
    // keeps the window at successes after the first 3 reps
    val sevenOkOneErr = ok(0.78, 0.62, 0.55) ++
      Seq((9.9, Some("boom"): Option[String])) ++ ok(0.46, 0.44, 0.43, 0.43)
    // window = successes among runs.drop(3) = [0.46, 0.44, 0.43, 0.43]
    assert(Bench.reportedMedian(sevenOkOneErr, deepExtended = true) == 0.44)
  }

  // ---- shallow monotone descent (VERDICT r19 #3) ----

  test("r19's q_pipeline_streaming_windowed shape triggers monotone descent") {
    // reps [2.587, 2.319, 2.344, 2.063, 1.941]: post-cold spread 0.403 is
    // under the 0.25·median instability threshold (0.580) but the row is
    // still descending toward its floor — this exact shape graded a
    // mid-descent median in r19 and must now deep-extend
    val r19 = ok(2.587, 2.319, 2.344, 2.063, 1.941)
    assert(!Bench.unstableAfterExtension(r19, deepExtended = false))
    assert(Bench.monotoneDescent(r19))
  }

  test("stable rows do not trigger monotone descent") {
    assert(!Bench.monotoneDescent(ok(1.20, 1.05, 1.06, 1.04, 1.05)))
    // last rep is the min but the drift is under 10% of the median
    assert(!Bench.monotoneDescent(ok(1.20, 1.05, 1.07, 1.06, 1.04)))
    // too few successes to read a direction
    assert(!Bench.monotoneDescent(ok(2.0, 1.5, 1.0)))
  }

  test("a row that bounced back up does not trigger monotone descent") {
    // ends above its min: whatever moved it, it is not descending
    assert(!Bench.monotoneDescent(ok(2.587, 2.319, 1.941, 2.063, 2.344)))
  }

  test("per-query JSON maps keep full SparkEntry query names") {
    // consumers join these keys to the sorted SparkEntry names; a
    // stripped "q_" prefix matched zero rows (n_common=0)
    assert(Bench.namedSeconds(Seq("q_sql_join" -> 0.404, "q1_agg" -> 1.236)) ==
      """{"q_sql_join":0.40,"q1_agg":1.24}""")
  }

  test("floor-graded set names q_cdc_capture (VERDICT r19 #4)") {
    assert(Bench.FloorGraded == Set("q_cdc_capture"))
  }

  test("sub-60ms spreads never flag: relative instability needs absolute size") {
    // the measured r20 q_field_rename shape: 56 ms window spread on a
    // 159 ms median is 35% relative but pure scheduler jitter — the
    // graded 2-decimal value is identical either way
    val tiny = ok(0.203, 0.181, 0.146, 0.159, 0.143, 0.143, 0.168, 0.199)
    assert(!Bench.unstableAfterExtension(tiny, deepExtended = true))
    // the same shape ×10 is a real 560 ms spread and must keep the flag
    val scaled = ok(2.03, 1.81, 1.46, 1.59, 1.43, 1.43, 1.68, 1.99)
    assert(Bench.unstableAfterExtension(scaled, deepExtended = true))
  }
}

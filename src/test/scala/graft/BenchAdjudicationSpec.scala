package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-adjudication rules (r19 task 1): a published number
  * must either be trustworthy (min of ≥2 read reps) or visibly flagged
  * (plan_hot, against a persisted per-query plan_ms floor).
  */
class BenchAdjudicationSpec extends AnyFunSuite {

  test("planHotRule flags only genuine floor blowouts") {
    // r18's real contention cases flag
    assert(Bench.planHotRule(14086, Some(963)))
    assert(Bench.planHotRule(10713, Some(827)))
    // clean steady state does not (within 3x of floor)
    assert(!Bench.planHotRule(1100, Some(963)))
    assert(!Bench.planHotRule(2800, Some(963)))
    // millisecond-scale plans never flag on JIT noise: 12 ms over a 3 ms
    // floor is 4x but under the 500 ms absolute slack
    assert(!Bench.planHotRule(12, Some(3)))
    assert(Bench.planHotRule(520, Some(3)))
    // no stored floor (first run on this machine) -> never flags
    assert(!Bench.planHotRule(14086, None))
    // failed query (sentinel -1) -> never flags
    assert(!Bench.planHotRule(-1, Some(963)))
  }

  test("writeHotRule flags the r19 write-family contention cases") {
    // r19's real misses, pinned: q57 published 7.93 s against a
    // 1.30-1.37 s two-round history; q57b 6.20 s against 0.68-0.81 s.
    // Both ran with hot:[] (loadavg peaked 6.0, under the 8.0 threshold)
    // and plan_hot inapplicable to writes — the elapsed floor is the
    // signal that survives.
    assert(Bench.writeHotRule(7.93, Some(1.30)))
    assert(Bench.writeHotRule(6.20, Some(0.68)))
    // the same queries' clean rounds do not flag
    assert(!Bench.writeHotRule(1.37, Some(1.30)))
    assert(!Bench.writeHotRule(0.81, Some(0.68)))
    // sub-second queries can't flag on JIT/GC noise: 0.9 s over a 0.25 s
    // floor is 3.6x but under the 1 s absolute slack
    assert(!Bench.writeHotRule(0.9, Some(0.25)))
    assert(Bench.writeHotRule(1.3, Some(0.25)))
    // no stored floor (first run on this machine) -> never flags
    assert(!Bench.writeHotRule(7.93, None))
    // failed query (sentinel -1) -> never flags
    assert(!Bench.writeHotRule(-1, Some(1.30)))
  }

  test("readHotRule flags the r20 read-family contention cases") {
    // r20's real misses, pinned (verdict task 5): q90 published 1.13 s
    // against a 0.15 s history, q78 1.95 s against 0.53 s, q82 1.06 s vs
    // 0.40 s — every rep contended, so min-of-reps couldn't self-rescue,
    // and plan_ms floors watch planning, not elapsed.
    assert(Bench.readHotRule(1.13, Some(0.15)))
    assert(Bench.readHotRule(1.95, Some(0.53)))
    // q82's 1.06 s vs 0.40 s was 2.65x — under the same 3x bar every other
    // floor rule uses, so it stays unflagged by design (drift, not blowout)
    assert(!Bench.readHotRule(1.06, Some(0.40)))
    // the same queries' clean rounds do not flag
    assert(!Bench.readHotRule(0.17, Some(0.15)))
    assert(!Bench.readHotRule(0.55, Some(0.53)))
    // sub-second absolutes need the 0.4 s slack too: 0.5 s over a 0.15 s
    // floor is 3.3x but only 0.35 s of drift — JIT/GC territory
    assert(!Bench.readHotRule(0.5, Some(0.15)))
    assert(Bench.readHotRule(0.6, Some(0.15)))
    // no stored floor (first run on this machine) -> never flags
    assert(!Bench.readHotRule(1.95, None))
    // failed query (sentinel -1) -> never flags
    assert(!Bench.readHotRule(-1, Some(0.4)))
  }

  test("construction-action queries are excluded from plan_hot (ADVICE r20)") {
    // q122 trains BPE and q131 runs the corpus-total action during frame
    // construction — their plan_ms measures job execution, not planning
    assert(Bench.constructionActions("q122_bpe_tokenize"))
    assert(Bench.constructionActions("q131_vocab_report"))
    // q56's PPJoin probes for hot tokens (a Spark job) while building its
    // frame (ADVICE r22)
    assert(Bench.constructionActions("q56_ngram_jaccard"))
    assert(!Bench.constructionActions("q90_rank_suite"))
  }

  test("retryOutcome self-heals planted contention and keeps honest flags") {
    // planted contention, r21's real shape: q90-style read published
    // 1.13 s against a 0.15 s floor (flagged), the retry rep lands clean
    // at 0.16 s -> published becomes 0.16, flag clears
    assert(Bench.retryOutcome(isWrite = false, 1.13, 0.16, Some(0.15)) ==
      ((0.16, false, Some(0.16))))
    // the retry itself ran contended too: published stays the better of
    // the two and the flag STAYS — a retry must never silently bless a
    // still-hot number
    assert(Bench.retryOutcome(isWrite = false, 1.13, 0.98, Some(0.15)) ==
      ((0.98, true, Some(0.98))))
    // write-family: contended 7.93 s median vs a clean 1.35 s rebuild —
    // the single clean rebuild wins and clears write_hot
    assert(Bench.retryOutcome(isWrite = true, 7.93, 1.35, Some(1.30)) ==
      ((1.35, false, Some(1.35))))
    // a retry SLOWER than the published value never replaces it
    assert(Bench.retryOutcome(isWrite = false, 1.13, 2.40, Some(0.15)) ==
      ((1.13, true, Some(2.40))))
    // a FAILED retry (sentinel -1) keeps the original value and flag
    assert(Bench.retryOutcome(isWrite = true, 7.93, -1.0, Some(1.30)) ==
      ((7.93, true, None)))
  }

  test("a failed retry rep never reaches the elapsed floor") {
    // the floor is the min over a query's reps: a retry that errors out
    // after 0.05 s must not be appended, or it would store a 0.05 s floor
    // and flag every later clean 1.3 s run write_hot
    val (sec, still, kept) =
      Bench.retryOutcome(isWrite = true, 7.93, -1.0, Some(1.30))
    assert(kept.isEmpty)
    assert((sec, still) == ((7.93, true)))
    // an OK retry is a real rep: it joins the reps the floor reads
    assert(Bench.retryOutcome(isWrite = true, 7.93, 1.35, Some(1.30))._3 ==
      Some(1.35))
  }

  test("median is the true middle for odd and even rep counts") {
    assert(Bench.median(Seq(3.0)) == 3.0)
    assert(Bench.median(Seq(1.0, 9.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 8.0, 9.0)) == 5.0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench probe-gate policy (Bench.gateSkip) is pure: a dirty
  * pre-control bracket skips the ~13-minute dataflow pair while budget
  * remains, and a budget reserve forces the minimum ungated fallback
  * pairs when the window never cleans up.
  */
class BenchPolicySpec extends AnyFunSuite {

  private val ctrlMin = 0.93

  test("dirty probe early in the budget skips the pair") {
    assert(Bench.gateSkip(Some(0.85), ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 100, budgetSec = 4500, estPairSec = 850))
  }

  test("clean probe never skips") {
    assert(!Bench.gateSkip(Some(0.95), ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 100, budgetSec = 4500, estPairSec = 850))
  }

  test("missing control (cluster mode / ctrlRuns=0) never gates") {
    assert(!Bench.gateSkip(None, ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 100, budgetSec = 4500, estPairSec = 850))
  }

  test("budget reserve forces ungated pairs: dirty probe runs anyway once " +
      "remaining budget only fits the missing fallback pairs") {
    // 3 pairs still needed × 850 s = 2550 s reserve; budget 4500 s →
    // the gate drops at elapsed > 1950 s
    assert(Bench.gateSkip(Some(0.5), ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 1950, budgetSec = 4500, estPairSec = 850))
    assert(!Bench.gateSkip(Some(0.5), ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 1951, budgetSec = 4500, estPairSec = 850))
  }

  test("reserve shrinks as fallback pairs land") {
    // with 2 of 3 pairs on the record only one 850 s slot is reserved
    assert(Bench.gateSkip(Some(0.5), ctrlMin, bufSize = 2, minPairs = 3,
      elapsedSec = 3000, budgetSec = 4500, estPairSec = 850))
    assert(!Bench.gateSkip(Some(0.5), ctrlMin, bufSize = 2, minPairs = 3,
      elapsedSec = 3700, budgetSec = 4500, estPairSec = 850))
  }

  test("past the minimum, dirty probes keep gating for the whole budget " +
      "(the outer loop's elapsed check owns termination)") {
    assert(Bench.gateSkip(Some(0.5), ctrlMin, bufSize = 3, minPairs = 3,
      elapsedSec = 4400, budgetSec = 4500, estPairSec = 850))
  }

  test("boundary: control exactly at the threshold qualifies (no skip)") {
    assert(!Bench.gateSkip(Some(ctrlMin), ctrlMin, bufSize = 0, minPairs = 3,
      elapsedSec = 100, budgetSec = 4500, estPairSec = 850))
  }

  // --- SMT-topology parsing for the clock-equalization no-sibling assert ---

  test("parseCpuList handles singletons, ranges and comma lists") {
    assert(Bench.parseCpuList("3") == Seq(3))
    assert(Bench.parseCpuList("0-3") == Seq(0, 1, 2, 3))
    assert(Bench.parseCpuList("0,16") == Seq(0, 16))
    assert(Bench.parseCpuList("0-1,16-17") == Seq(0, 1, 16, 17))
    assert(Bench.parseCpuList(" 5 \n") == Seq(5))
    assert(Bench.parseCpuList("") == Nil)
  }

  test("this host reports no SMT siblings (the activity-matching spinner's " +
      "no-port-contention claim is asserted, not assumed)") {
    // on an SMT host equalizeClock self-disables; this box is 32 physical
    // cores, so the assertion must hold here and the protocol stays active
    assert(!Bench.smtSiblingsPresent)
  }

  // --- burst-abort threshold (round 5): identical code measured 336 s and
  // 74.9 s forty minutes apart on this host — a side over mult × floor is
  // inside a burst that floor-tol would disqualify, so sampling it further
  // only burns pair budget ---

  test("burst-abort disabled until the minimum fallback pairs exist") {
    assert(Bench.abortThreshold(Seq(70.0, 80.0), mult = 3.0,
      haveMinPairs = false) == 0.0)
  }

  test("burst-abort threshold is mult x the run's own floor") {
    assert(Bench.abortThreshold(Seq(80.0, 70.0, 75.0), mult = 3.0,
      haveMinPairs = true) == 210.0)
  }

  test("burst-abort disabled with no floors or non-positive multiplier") {
    assert(Bench.abortThreshold(Nil, mult = 3.0, haveMinPairs = true) == 0.0)
    assert(Bench.abortThreshold(Seq(70.0), mult = 0.0,
      haveMinPairs = true) == 0.0)
  }

  // --- cross-run pair ledger (round 5, VERDICT r4 item 2): qualified pairs
  // accumulate across record runs; history is re-qualified under the
  // CURRENT thresholds with floors computed PER ORIGINATING RUN ---

  private def lp(run: String, lo: Double, hi: Double, clock: Double = 1.0,
      membw: Double = 1.0, ctrlPre: Option[Double] = Some(0.96),
      ctrlPost: Option[Double] = Some(0.96), ts: Long = 1L,
      proto: String = Bench.MeasuredPathVersion, clockEq: Boolean = true,
      pairSamples: Int = 2, cpus: Int = 32, triples: Long = 17108704L) =
    Bench.LedgerPair(run, ts, "test", proto, clockEq, pairSamples, cpus,
      triples, lo, hi, clock, membw, ctrlPre, ctrlPost)

  private val thresholds = Bench.Thresholds(ctrlMin = 0.93, clockLo = 0.95,
    clockHi = 1.15, membwLo = 0.80, membwHi = 1.30, floorTol = 1.12)

  private def qual(ps: Seq[Bench.LedgerPair]) =
    Bench.ledgerQualified(ps, thresholds)

  test("ledger line round-trips through the parser") {
    val p = lp("run-1", 321.5, 99.25, clock = 1.05, membw = 0.95, ts = 42L)
    val parsed = Bench.parseLedgerLine(Bench.ledgerLine(p))
    assert(parsed.contains(p.copy(loMin = 321.5, hiMin = 99.25)))
    assert(math.abs(parsed.get.wall - (321.5 / 99.25) / 4.0) < 1e-9)
  }

  test("ledger line without control brackets round-trips (ctrl = None " +
      "never gates, same as in-run qualification)") {
    val p = lp("run-1", 300.0, 90.0, ctrlPre = None, ctrlPost = None)
    val parsed = Bench.parseLedgerLine(Bench.ledgerLine(p))
    assert(parsed.contains(p))
    assert(parsed.get.ctrl.isEmpty)
    assert(qual(Seq(p, lp("run-1", 305.0, 92.0, ctrlPre = None,
      ctrlPost = None))).size == 2)
  }

  test("malformed or incomplete ledger lines are skipped, never fatal") {
    assert(Bench.parseLedgerLine("not json").isEmpty)
    assert(Bench.parseLedgerLine("""{"run":"x","ts":1}""").isEmpty)
    assert(Bench.parseLedgerLine("").isEmpty)
  }

  test("protocol identity: version, triples, equalization flag, samples, " +
      "cpus must all match and the current run is excluded") {
    val ok = lp("run-1", 300, 90)
    def m(p: Bench.LedgerPair, excl: String = "run-9") =
      Bench.ledgerMatches(p, Bench.MeasuredPathVersion, clockEq = true,
        pairSamples = 2, cpus = 32, triples = 17108704L, excludeRun = excl)
    assert(m(ok))
    assert(!m(ok.copy(proto = "r04.9")))
    assert(!m(ok.copy(triples = 17108705L)))
    assert(!m(ok.copy(clockEq = false)))
    assert(!m(ok.copy(pairSamples = 3)))
    assert(!m(ok.copy(cpus = 16)))
    assert(!m(ok, excl = "run-1")) // this run's own live pairs: in-run set
  }

  test("floors are per originating run: a slow-window run's clean pairs " +
      "qualify against their OWN floor, not another run's faster floor") {
    // run A measured in a uniformly suppressed window (both sides ~2x
    // slower than run B) — its wall RATIO is still unbiased and both its
    // pairs sit on their own floor; a global floor would reject them all
    val a1 = lp("run-A", 430.0, 130.0)
    val a2 = lp("run-A", 433.0, 131.0)
    val b1 = lp("run-B", 200.0, 62.0)
    val b2 = lp("run-B", 205.0, 63.0)
    assert(qual(Seq(a1, a2, b1, b2)).toSet == Set(a1, a2, b1, b2))
  }

  test("within a run the floor tolerance still disqualifies the inflated " +
      "pair (the r05_c pair-2 case: lo 433 s vs run floor 322 s)") {
    val inflated = lp("run-C", 433.0, 122.7, clock = 1.13, membw = 0.90)
    val floor = lp("run-C", 322.0, 134.3, clock = 1.27) // sets the lo floor
    val qs = qual(Seq(inflated, floor))
    assert(!qs.contains(inflated)) // 433 > 322 x 1.12
    assert(!qs.contains(floor)) // clock 1.27 outside [0.95, 1.15]
  }

  test("single-pair runs are excluded: a lone pair is trivially within " +
      "its own floor") {
    assert(qual(Seq(lp("run-solo", 300.0, 90.0))).isEmpty)
  }

  test("current thresholds apply to history: a pair qualified under the " +
      "old wide clock band re-reads unqualified under [0.95, 1.15]") {
    val drifted = lp("run-D", 190.0, 92.0, clock = 1.31)
    val clean = lp("run-D", 192.0, 91.0, clock = 1.02)
    assert(qual(Seq(drifted, clean)) == Seq(clean))
  }

  test("control, membw and floor gates all engage on history pairs") {
    val base = lp("run-E", 200.0, 62.0)
    val dirtyCtrl = lp("run-E", 201.0, 62.5, ctrlPost = Some(0.90))
    val dirtyBw = lp("run-E", 202.0, 62.6, membw = 1.68)
    val hiInflated = lp("run-E", 203.0, 62.0 * 1.13)
    assert(qual(Seq(base, dirtyCtrl, dirtyBw, hiInflated)) == Seq(base))
  }

  test("qualified history pairs come back in timestamp order") {
    val p1 = lp("run-F", 200.0, 62.0, ts = 100L)
    val p2 = lp("run-G", 210.0, 64.0, ts = 50L)
    val p3 = lp("run-F", 201.0, 62.5, ts = 60L)
    val p4 = lp("run-G", 212.0, 64.5, ts = 70L)
    assert(qual(Seq(p1, p2, p3, p4)).map(_.ts) == Seq(50L, 60L, 70L, 100L))
  }

  // --- true even-count median (round 6, VERDICT r5 item 2) ---

  test("median of an even-count set averages the two middle elements " +
      "(the r5 driver artifact read the UPPER middle: 0.8135 vs 0.795)") {
    assert(math.abs(Bench.median(Seq(0.7759, 0.8135)) - 0.7947) < 1e-9)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("median of an odd-count set is the middle element; empty is 0") {
    assert(Bench.median(Seq(0.9, 0.7, 0.8)) == 0.8)
    assert(Bench.median(Seq(0.42)) == 0.42)
    assert(Bench.median(Nil) == 0.0)
  }

  test("median of an even number of sides averages the two middle sides' " +
      "medians, stage maps and probe readings; min/max span all sides") {
    def side(med: Double, min: Double, max: Double, alu: Double, mem: Double,
        unspun: Double) = Bench.LevelResult(4, 1577L, min, max,
      Map("total_sec" -> med, "graph_write_sec" -> med / 2), alu, mem, unspun)
    val sides = Seq(side(30, 29, 31, 600, 500, 650), side(10, 9, 12, 700, 520, 720),
      side(20, 18, 25, 650, 510, 690), side(40, 35, 60, 550, 480, 600))
    val m = Bench.medianOf(sides) // middle sides: medianSec 20 and 30
    assert(m.medianSec == 25.0)
    assert(m.medianStages == Map("total_sec" -> 25.0, "graph_write_sec" -> 12.5))
    assert(m.aluMops == 625.0 && m.memMlongs == 505.0 && m.aluUnspun == 670.0)
    assert(m.minSec == 9.0 && m.maxSec == 60.0)
    val odd = Bench.medianOf(sides.take(3)) // the middle side itself
    assert(odd.medianSec == 20.0 && odd.aluMops == 650.0 && odd.aluUnspun == 690.0)
    assert(odd.minSec == 9.0 && odd.maxSec == 31.0)
  }

  test("qualification constants are the record runs' thresholds; the wide " +
      "clock band applies only to unequalized runs") {
    assert(Bench.thresholds(equalized = true) ==
      Bench.Thresholds(0.93, 0.95, 1.15, 0.80, 1.30, 1.12))
    assert(Bench.thresholds(equalized = false) ==
      Bench.Thresholds(0.93, 0.92, 1.35, 0.80, 1.30, 1.12))
    assert(Bench.PairSamples == 2 && Bench.AbortX == 3.0)
  }

  test("ledger numbers format locale-independently (ROOT decimal point)") {
    assert(Bench.d4(321.6166) == "321.6166")
    // no comma-decimal token anywhere (field separators are quote-adjacent)
    assert("[0-9],[0-9]".r.findFirstIn(
      Bench.ledgerLine(lp("run-1", 321.6166, 99.25))).isEmpty)
  }

  // --- snapshot/final shared ledger union (round 6, VERDICT r5 item 3) ---

  test("ledgerUnion re-reads a seeded ledger file: protocol-identical " +
      "qualified history pairs merge; malformed and bad-numeric lines are " +
      "skipped per-line, never nulling the whole history") {
    val f = java.nio.file.Files.createTempFile("graft-ledger-spec", ".jsonl")
    try {
      val good1 = lp("run-H", 300.0, 90.0, ts = 10L)
      val good2 = lp("run-H", 303.0, 91.0, ts = 20L)
      val otherProto = lp("run-I", 300.0, 90.0, proto = "r00.0")
      val lines = Seq(
        Bench.ledgerLine(good1),
        "not json at all",
        """{"run":"run-X","ts":5,"proto":"r05.1","clock_eq":1,"pair_samples":2,"cpus":32,"triples":17108704,"lo_min":+,"hi_min":90.0,"clock":1.0,"membw":1.0}""",
        Bench.ledgerLine(good2),
        Bench.ledgerLine(otherProto))
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val (loaded, qual) = Bench.ledgerUnion(f, enabled = true,
        Bench.MeasuredPathVersion, clockEq = true, pairSamples = 2, cpus = 32,
        triples = 17108704L, excludeRun = "run-live", thresholds)
      assert(loaded.toSet == Set(good1, good2))
      assert(qual.toSet == Set(good1, good2))
      // the snapshot headline over the union is the TRUE median
      assert(math.abs(Bench.median(qual.map(_.wall)) -
        (good1.wall + good2.wall) / 2) < 1e-9)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("ledgerUnion is empty when disabled or when the file is missing") {
    val missing = java.nio.file.Paths.get("/tmp/graft-no-such-ledger.jsonl")
    assert(Bench.ledgerUnion(missing, enabled = true,
      Bench.MeasuredPathVersion, clockEq = true, pairSamples = 2, cpus = 32,
      triples = 1L, excludeRun = "x", thresholds) == ((Nil, Nil)))
  }

  test("summary: in-run headline over the qualified pairs, all-pairs over " +
      "every pair, union headline adds the ledger's qualified pairs") {
    val clean = lp("run-now", 200.0, 62.0) // wall 0.8065
    val dirty = lp("run-now", 201.0, 62.5, clock = 1.31) // wall 0.8040
    val slow = lp("run-now", 300.0, 100.0) // wall 0.75, over both floors
    val hist = Seq(lp("run-old", 250.0, 80.0), lp("run-old", 251.0, 81.0))
    val s = Bench.Summary(Seq(clean, dirty, slow), thresholds, hist,
      Bench.ledgerQualified(hist, thresholds))
    assert(s.quals == Seq(true, false, false))
    assert(s.inRun == clean.wall)
    assert(s.union == Seq(clean.wall) ++ hist.map(_.wall))
    assert(s.headline == Bench.median(s.union))
    val k = s.keys.toMap
    assert(k("scaling_efficiency_all_pairs") == dirty.wall)
    assert(k("qualified_pairs") == 1.0 && k("qualified_pairs_union") == 3.0)
    assert(k("ledger_pairs_loaded") == 2.0 && k("ledger_pairs_qualified") == 2.0)
    assert(k("qual_pair1") == 1.0 && k("qual_pair2") == 0.0 && k("qual_pair3") == 0.0)
    // nothing qualified anywhere: every headline falls back to all pairs
    val none = Bench.Summary(Seq(dirty, slow), thresholds, Nil, Nil)
    assert(none.inRun == none.headline &&
      none.headline == Bench.median(Seq(dirty.wall, slow.wall)))
  }

  test("stray-bench sweep selects other Bench/BenchChild JVMs, never " +
      "itself, its own children/ancestors, non-JVM shells, or unrelated " +
      "processes") {
    val J = "/usr/lib/jvm/java-17/bin/java"
    val procs = Seq(
      (50L, J, s"$J -Dsbt.script=... runMain graft.Bench"), // own sbt ancestor
      (100L, J, s"$J -Xmx8g -cp ... graft.Bench"),          // self
      (101L, J, s"$J -cp ... graft.BenchChild local[4] 4"), // own child
      (200L, J, s"$J -Xmx8g -cp ... graft.Bench"),          // stray parent
      (201L, J, s"$J -cp ... graft.BenchChild local[1] 1"), // stray child
      (202L, "java", "java -cp ... graft.Bench"),           // stray, bare exe
      (300L, J, s"$J -cp ... graft.Verify /root/testdata"), // unrelated JVM
      (301L, "", ""),                                       // unreadable
      // a harness/session SHELL whose command TEXT mentions the class —
      // must never be killed (it is not a JVM)
      (302L, "/usr/bin/bash",
        "bash -c nohup java -cp ... graft.Bench > /tmp/x.out"),
      (303L, "/usr/bin/bash", "bash -c sleep 60"))
    assert(Bench.strayBenchPids(Set(50L, 100L, 101L), procs) ==
      Seq(200L, 201L, 202L))
  }
}

package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Replays the committed r06.1 record runs through the bench's
  * qualification rule and its shared summary. A run's own ledger rows are
  * its in-run pairs; the r06.1 rows of runs with an earlier `run-<millis>`
  * id are its ledger history. Every qualification flag, count and headline
  * the run's artifact emitted must come back, from the final summary and
  * from the shutdown snapshot alike.
  */
class BenchReplaySpec extends AnyFunSuite {

  private val Ledger = "bench-runs/pair_ledger.jsonl"
  private val Archive = "bench-runs/pair_ledger_r05.1.jsonl"

  // (artifact, JSON pointer of its queries, run id of its ledger rows,
  //  headline, ledger pairs loaded, ledger pairs qualified)
  private val Runs = Seq(
    ("bench-runs/BENCH_local_r06_b.json", "/queries", "run-1787388444641", "0.8824", 0, 0),
    ("bench-runs/BENCH_local_r06_c.json", "/queries", "run-1787394159635", "0.8517", 3, 0),
    ("bench-runs/BENCH_local_r06_d.json", "/queries", "run-1787399845355", "0.6983", 6, 0),
    ("bench-runs/BENCH_local_r06_e.json", "/queries", "run-1787404959773", "0.6651", 9, 0),
    ("bench-runs/BENCH_local_r06_f.json", "/queries", "run-1787410737147", "0.8289", 14, 0),
    ("BENCH_r06.json", "/samples/0/parsed/queries", "run-1787418880289", "0.6114", 19, 1))

  private val t = Bench.thresholds(equalized = true)

  private def lines(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).asScala.toSeq

  private lazy val ledger = lines(Ledger).flatMap(Bench.parseLedgerLine)

  private def millis(run: String): Long = run.stripPrefix("run-").toLong

  /** (loaded, qualified) history of `run`, through the file-reading merge. */
  private def history(run: String): (Seq[Bench.LedgerPair], Seq[Bench.LedgerPair]) = {
    val f = Files.createTempFile("graft-replay", ".jsonl")
    try {
      Files.write(f, ledger.filter(p => millis(p.run) < millis(run))
        .map(Bench.ledgerLine).asJava)
      Bench.ledgerUnion(f, enabled = true, Bench.MeasuredPathVersion,
        clockEq = true, Bench.PairSamples, cpus = 32, triples = 17108704L,
        excludeRun = run, t)
    } finally Files.deleteIfExists(f)
  }

  test("the default ledger holds only the mergeable r06.1 rows, each as " +
      "ledgerLine writes it; the r05.1 rows are archived") {
    assert(ledger.size == 21 && ledger.forall(_.proto == Bench.MeasuredPathVersion))
    assert(ledger.map(Bench.ledgerLine) == lines(Ledger))
    val archived = lines(Archive).flatMap(Bench.parseLedgerLine)
    assert(archived.size == 38 && archived.forall(_.proto == "r05.1"))
    assert(archived.count(p => p.cpus == 8 && p.triples == 173408L) == 7)
  }

  Runs.foreach { case (file, pointer, run, headline, loaded, ledgerQual) =>
    test(s"replay of $file: flags, counts and headlines as emitted") {
      val q: JsonNode = new ObjectMapper().readTree(Paths.get(file).toFile).at(pointer)
      def emitted(k: String): Double = {
        assert(q.has(k), s"$file has no $k")
        q.get(k).asDouble
      }
      val inRun = ledger.filter(_.run == run).sortBy(_.ts)
      val (hist, histQual) = history(run)
      val s = Bench.Summary(inRun, t, hist, histQual)
      assert(Bench.d4(s.headline) == headline)
      assert(hist.size == loaded && histQual.size == ledgerQual)

      val exact = Set("qualified_pairs", "attempted_pairs", "ledger_pairs_loaded",
        "ledger_pairs_qualified", "qualified_pairs_union") ++
        inRun.indices.map(i => s"qual_pair${i + 1}")
      assert(s.keys.map(_._1).toSet.intersect(exact) == exact)
      s.keys.foreach { case (k, v) =>
        if (exact(k)) assert(v == emitted(k), k)
        else assert(math.abs(v - emitted(k)) < 1e-4, k)
      }
      assert((if (s.ledgerQual.nonEmpty) 1.0 else 0.0) == emitted("headline_from_ledger"))

      // the constants are the values the run emitted
      assert(Seq(t.ctrlMin, t.clockLo, t.clockHi, t.membwLo, t.membwHi,
        t.floorTol, Bench.PairSamples.toDouble, Bench.AbortX) == Seq(
        "qual_ctrl_min", "qual_clock_lo", "qual_clock_hi", "qual_membw_lo",
        "qual_membw_hi", "qual_floor_tol", "pair_samples", "burst_abort_x")
        .map(emitted))

      // the shutdown snapshot emits the same shared keys
      val snap = new ObjectMapper().readTree(Bench.snapshotJson(s, tps4 = 1.0,
        equalized = true, probeSkips = 0, sfDir = "sf")).get("queries")
      s.keys.foreach { case (k, v) =>
        assert(snap.get(k).asDouble == Bench.d4(v).toDouble, k)
      }
    }
  }
}

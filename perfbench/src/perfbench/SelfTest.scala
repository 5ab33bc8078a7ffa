package perfbench

import java.nio.file.Path
import org.apache.spark.sql.functions._

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(work: Path): Unit = {
    // span self time: duration minus the union of child intervals, clipped
    expect("self time subtracts overlapping children once",
      Span.selfNanos((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 120L))) == 70L)
    expect("self time of a leaf is its duration", Span.selfNanos((5L, 9L), Nil) == 4L)
    expect("nested children count once", Span.covered(Seq((0L, 50L), (10L, 20L))) == 50L)

    // median and the highest percentile with ten samples beyond it
    expect("median of an even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median of an odd count", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("no percentile below 20 samples", Stats.highestSupported(19).isEmpty)
    expect("median at 20 samples", Stats.highestSupported(20).contains(50.0))
    expect("p90 at 100 samples", Stats.highestSupported(100).contains(90.0))
    expect("p95 at 200 samples", Stats.highestSupported(200).contains(95.0))
    expect("p99 at 1000 samples", Stats.highestSupported(1000).contains(99.0))
    expect("geomean", math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)

    // perturbations of the dirty corpus
    val t = "De heer Jansen interrumpeert de spreker"
    expect("truncated surname", Gen.perturb(t, 0L) == "De heer Janse interrumpeert de spreker")
    expect("surname typo", Gen.perturb(t, 1L) == "De heer Jnasen interrumpeert de spreker")
    expect("initial for a first name",
      Gen.perturb("Anna Jansen vraagt een reactie over dossier 36001 nr. 2", 2L) ==
        "A. Jansen vraagt een reactie over dossier 36001 nr. 2")
    expect("non-name turn unchanged", Gen.perturb("Opening van de vergadering", 0L) ==
      "Opening van de vergadering")

    val spark = Main.session(2, work)
    try {
      def turns(seed: Long, share: Double, name: String) =
        Gen.transcripts(spark, seed, 3000, share, work.resolve(name))
      val a = turns(7, 0.3, "a")
      val b = turns(7, 0.3, "b")
      val c = turns(8, 0.3, "c")
      expect("same seed gives the same table", Checks.hash(a) == Checks.hash(b))
      expect("another seed keeps the schema", a.schema == c.schema)
      val ids = (df: org.apache.spark.sql.DataFrame) =>
        df.select("conv_id").distinct().collect().map(_.getString(0)).toSet
      expect("another seed gives other conv_ids", ids(a).intersect(ids(c)).isEmpty)

      def fallbackRows(share: Double, name: String): Long = {
        val b = LayeredBuild(spark, NoTrace, turns(7, share, name))
        Checks.awaitRow(b.residual).getLong(0)
      }
      val clean = fallbackRows(0.0, "clean")
      val dirty = fallbackRows(0.3, "dirty")
      expect(s"clean corpus has no fallback rows ($clean)", clean == 0)
      expect(s"dirty corpus has fallback rows ($dirty)", dirty > 0)
    } finally spark.stop()

    if (failures > 0) throw new AssertionError(s"$failures self-test(s) failed")
    println("all self-tests passed")
  }
}

package graft

import java.io.File
import scala.reflect.io.Directory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.materialize.Materialize
import graft.pipeline.Pipeline
import graft.synth.TranscriptGen

/** A repeated build reuses its generated classes. Spark keeps compiled
  * classes in a 100-entry cache keyed by (class loader, code); a build whose
  * distinct classes outnumber it evicts its own classes before the next
  * build reads them, and a job run in a fresh session runs under a fresh
  * loader. Either way every build in a long-lived driver (streaming
  * micro-batches, GraftApp in one session, a benchmark loop) pays Janino
  * and JIT again — a later change that pushes the class set back past the
  * cache fails here.
  *
  * The cache is a 4-segment LRU and the segment a class lands in follows
  * the loaders' identity hashes, so how many classes a warm build
  * recompiles depends on the layout: whenever a segment overflows, its
  * classes are recompiled on every build. The test therefore measures the
  * second of two identical builds in three layouts — the shared session
  * and two sessions derived from it, each with its own executor loader —
  * and bounds the best of them by half of the best of six such second
  * builds when the link stage still planned its dimension lookups once per
  * use and the CC collect ran in a fresh session (91–111 classes; every
  * layout thrashed).
  */
class CodegenReuseSpec extends SparkSpec {

  private val ThrashingSecondBuild = 91

  test("a second identical build compiles at most half of a thrashing build's classes") {
    val base = java.nio.file.Files.createTempDirectory("codegen-reuse").toString
    val counts = try {
      // a written input, as a build reads it: the generator's own plan would
      // otherwise re-run (and re-compile) inside every build
      TranscriptGen.transcripts(spark, SparkSpec.testdata("sf0.001"))
        .write.parquet(s"$base/turns")
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      def secondBuild(s: SparkSession, name: String): Long = {
        val turns = s.read.parquet(s"$base/turns")
        def build(run: String): Long = Materialize.writeGraphFused(s, s"$base/$name-$run",
          Pipeline.build(s, turns).canonicalCompact)
        val n1 = build("first")
        val before = compiles.getCount
        val n2 = build("second")
        assert(n1 == n2 && n2 > 0)
        compiles.getCount - before
      }
      val derived = Seq.fill(2) {
        val s = spark.newSession()
        graft.functions.FuzzRatio.register(s)
        s
      }
      (spark +: derived).zipWithIndex.map { case (s, i) => secondBuild(s, s"s$i") }
    } finally new Directory(new File(base)).deleteRecursively()
    info(s"second builds compiled ${counts.mkString(", ")} classes")
    assert(counts.min <= ThrashingSecondBuild / 2,
      s"second builds compiled ${counts.mkString(", ")} classes " +
        s"(limit ${ThrashingSecondBuild / 2} in the best layout)")
  }
}

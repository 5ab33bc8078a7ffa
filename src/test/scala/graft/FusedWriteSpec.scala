package graft

import org.apache.spark.sql.DataFrame
import graft.canonicalize.Canonicalize
import graft.materialize.Materialize
import graft.pipeline.Pipeline
import graft.synth.{Dict, TranscriptGen}
import graft.triples.Triples

/** The two graph writers agree: `Materialize.writeGraphFused` (one-exchange
  * compact write, the initial load) must produce EXACTLY the warehouse
  * `Materialize.writeGraph` (keyed upserts of the decoded string set)
  * produces in an empty warehouse — same edge rows, same node rows, same
  * bucket values, same count — on the real generator corpus (speakers,
  * cases, votes, interruptions all present), in both the no-merge fast path
  * and the persoon-merge rewrite path.
  */
class FusedWriteSpec extends SparkSpec {

  private def readBack(path: String): DataFrame =
    spark.read.parquet(path)

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.map(org.apache.spark.sql.functions.col).toSeq
    val l = a.select(cols: _*)
    val r = b.select(cols: _*)
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
      s"$what differs between the two warehouses")
  }

  private def assertSameWarehouse(a: String, b: String): Unit = {
    assertSameRows(readBack(s"$a/edges"), readBack(s"$b/edges"), "edges")
    assertSameRows(readBack(s"$a/nodes"), readBack(s"$b/nodes"), "nodes")
  }

  private lazy val stages: Pipeline.Stages = {
    val turns = TranscriptGen.transcripts(spark, SparkSpec.testdata("sf0.001"))
    Pipeline.build(spark, turns)
  }

  test("fused write == string write (pipeline corpus, no-merge path)") {
    val base = java.nio.file.Files.createTempDirectory("fused-eq").toString
    Materialize.writeGraph(spark, s"$base/a", stages.canonical, nBuckets = 8)
    val nFused = Materialize.writeGraphFused(spark, s"$base/b",
      stages.canonicalCompact, nBuckets = 8, filesPerBucket = 2)
    val nString = readBack(s"$base/a/edges").count()
    assert(nString == nFused, s"edge counts differ: $nString vs $nFused")
    assert(nFused > 0)
    assertSameWarehouse(s"$base/a", s"$base/b")
  }

  test("fused write == string write under a persoon merge (rewrite path)") {
    import spark.implicits._
    // force a cross-entity merge: P01 canonicalizes into P00 — exercises
    // the compact rewrite joins AND the dedup of merge-collapsed rows
    val canonMap = Seq(
      ("persoon:P00", "persoon:P00"),
      ("persoon:P01", "persoon:P00")).toDF("node", "canon")
    // the string side rewrites in string space (the reference
    // `canonicalTriples`), independently of the compact rewrite
    val strings = Canonicalize.canonicalTriples(
      Triples.allNonMention(stages.linkedPersons, stages.linkedZaken,
        stages.votes, Dict.personsDf(spark), Dict.fractiesDf(spark)),
      canonMap, hasMerges = true)
    val compact = Canonicalize.rewriteCompact(
      Triples.allNonMentionCompact(stages.linkedPersons, stages.linkedZaken,
        stages.votes, Dict.personsDf(spark), Dict.fractiesDf(spark)),
      canonMap, hasMerges = true)
    val base = java.nio.file.Files.createTempDirectory("fused-merge").toString
    Materialize.writeGraph(spark, s"$base/a", strings, nBuckets = 4)
    val nFused = Materialize.writeGraphFused(spark, s"$base/b", compact, nBuckets = 4)
    val nString = readBack(s"$base/a/edges").count()
    assert(nString == nFused, s"edge counts differ: $nString vs $nFused")
    // the merge must actually have collapsed something: P01 gone, P00 present
    val srcs = readBack(s"$base/b/edges").select("src_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!srcs.contains("persoon:P01") && srcs.contains("persoon:P00"))
    assertSameWarehouse(s"$base/a", s"$base/b")
  }

  test("writeGraph ignores triplesDistinct: duplicated input, identical marked warehouses") {
    val dup = stages.canonical.unionByName(stages.canonical.limit(50))
    val base = java.nio.file.Files.createTempDirectory("string-dup").toString
    Materialize.writeGraph(spark, s"$base/a", dup, triplesDistinct = true, nBuckets = 4)
    Materialize.writeGraph(spark, s"$base/b", dup, triplesDistinct = false, nBuckets = 4)
    assertSameWarehouse(s"$base/a", s"$base/b")
    assert(readBack(s"$base/a/edges").count() == stages.canonical.count())
    for (w <- Seq("a", "b"); t <- Seq("nodes", "edges")) {
      val marker = java.nio.file.Paths.get(base, w, t, "_graft_nbuckets")
      assert(java.nio.file.Files.exists(marker), s"no bucket marker at $marker")
      assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == "4")
    }
  }

  test("the fused dedup rides the aligned exchange — no shuffle on the dedup keys") {
    val plan = Materialize.alignedDedupCoded(stages.canonicalCompact, 8, 2)
      .queryExecution.executedPlan.toString
    // exactly one write-aligned exchange on (bucket, _sub) ...
    val aligned = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(bucket"))
    assert(aligned == 1, s"expected 1 aligned exchange, found $aligned:\n$plan")
    // ... and the distinct() adds NO exchange of its own: no shuffle ever
    // partitions on the dedup key columns (the only other exchanges are the
    // small per-conversation interruption windows inside the derivation)
    val dedupExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("subj_pre"))
    assert(dedupExchanges == 0, s"dedup added its own exchange:\n$plan")
    // the dedup itself plans as hash aggregation directly over the aligned
    // exchange (partial+final in one stage), not as sort+window
    assert(plan.contains("HashAggregate"), s"no hash-agg dedup in plan:\n$plan")
  }

  test("the aligned exchange ships the coded payload — no pred/prefix strings") {
    // the dedup aggregate keys over the exchange are the CODED columns:
    // (_pc, a, b, bucket, _sub) — the pred/prefix strings exist only in the
    // post-dedup decode projection, so they never cross the shuffle
    val plan = Materialize.alignedDedupCoded(stages.canonicalCompact, 8, 2)
      .queryExecution.executedPlan.toString
    val aggKeys = plan.linesIterator
      .filter(_.contains("HashAggregate(keys=["))
      .map(l => l.substring(l.indexOf("keys=[") + 6, l.indexOf("]", l.indexOf("keys=["))))
      .toSeq
    assert(aggKeys.nonEmpty, s"no hash-agg dedup found:\n$plan")
    aggKeys.foreach { k =>
      assert(k.contains("_pc") && !k.contains("pred#") && !k.contains("_pre"),
        s"dedup keys carry string columns: $k")
    }
  }

  test("fused write file count is the aligned fan-out, independent of cores") {
    val base = java.nio.file.Files.createTempDirectory("fused-files").toString
    Materialize.writeGraphFused(spark, s"$base/w",
      stages.canonicalCompact, nBuckets = 8, filesPerBucket = 1)
    val files = new java.io.File(s"$base/w/edges").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    // ≤ nBuckets × filesPerBucket + hash-collision slack, never tasks×buckets
    assert(files <= 16, s"edge write fan-out exploded: $files files")
  }
}

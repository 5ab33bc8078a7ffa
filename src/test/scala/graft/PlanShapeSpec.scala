package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.extract.Extract
import graft.link.Link
import graft.synth.Dict

/** Physical-plan shape assertions — the 100-TB design claims, checked
  * against `explain` output rather than asserted in prose:
  *
  *  - the extract stage reads ONLY the columns it needs from the parquet
  *    scan (column pruning reaches `ReadSchema`);
  *  - person linking is broadcast-only on the fact side: both the exact
  *    block join and the contains fallback broadcast the dimension, and no
  *    corpus-sized sort-merge join or fact-side exchange appears;
  *  - `Pipeline.build` plans each dimension lookup once: the zaak tiers
  *    only inside the mention checkpoint, the argmax as a hash aggregate
  *    with no sort or explode, the fracties join once.
  *
  * Complements MaterializeCheckpointSpec's PartitionFilters assertion on
  * the upsert read path. The last three tests pin the round-6 plan wins
  * (before/after plans in `plans/r06/`) on the declared queries.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(1700000000000L + i * 60000L)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val turnsPath = {
    val dir = java.nio.file.Files.createTempDirectory("plan-turns").toString
    Seq(
      ("c1", 0, "member", "De voorzitter geeft het woord aan Anna Jansen", null.asInstanceOf[String], ts(0)),
      ("c1", 1, "member", "Mevrouw Jansen spreekt over dossier 36001 nr. 2", null.asInstanceOf[String], ts(1)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("extract scan prunes columns: ReadSchema excludes unused 'tool'") {
    val p = plan(Extract.speakerMentions(spark.read.parquet(turnsPath)))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$p")
    assert(!readSchema.contains("tool"), s"scan reads unused column 'tool': $readSchema")
    assert(readSchema.contains("text") && readSchema.contains("conv_id"))
  }

  test("person linking is broadcast-only: no sort-merge join, no fact-side shuffle join") {
    val p = plan(Link.linkPersons(
      Extract.speakerMentions(spark.read.parquet(turnsPath)), Dict.personsDf(spark)))
    assert(p.contains("Broadcast"), s"no broadcast join in link plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in link plan:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"shuffled join in link plan:\n$p")
  }

  test("graph degrees is join-free: two map-side-combined aggs, two exchanges") {
    val t = Seq(("a", "P", "b"), ("c", "P", "b")).toDF("subj", "pred", "obj")
    val p = plan(graft.analysis.GraphAnalytics.degrees(t))
    assert(!p.contains("Join"), s"join in degrees plan:\n$p")
    // partial aggregation before each exchange (map-side combine)
    assert(p.contains("partial_sum") || p.contains("partial"), s"no partial agg:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"degrees plan has $exchanges exchanges (expect <=2):\n$p")
  }

  test("the WHOLE canonical-triple plan contains no shuffle join (broadcast dims only)") {
    // r3: the discusses derivation is join-free (the co-row zaak link rides
    // the argmax as carry columns), so the only joins left anywhere in the
    // end-to-end canonical plan are broadcast dimension joins — at corpus
    // scale there is NO fact×fact shuffle join in the whole derivation
    val stages = graft.pipeline.Pipeline.build(spark,
      spark.read.parquet(turnsPath))
    val p = plan(stages.canonical)
    assert(p.contains("Broadcast"), s"no broadcast join in canonical plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in canonical plan:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"shuffled join in canonical plan:\n$p")
  }

  /** Executed plans of the `n` local checkpoints `body` materializes, in
    * the order they ran (the listener bus delivers them asynchronously).
    */
  private def checkpointPlans(n: Int)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (seen.size < n && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.size == n, s"expected $n checkpoint plans, saw ${seen.size}")
    seen.asScala.toSeq
  }

  /** An adaptive plan's final plan (its initial plan repeats every node). */
  private def finalPlan(p: String): String = p.split("== Initial Plan ==").head

  /** Operator names of a plan tree string, codegen stage ids stripped. */
  private def ops(p: String): Seq[String] =
    finalPlan(p).linesIterator
      .map(_.replaceFirst("^[ :+\\-]*(\\*\\(\\d+\\) )?", ""))
      .map(_.takeWhile(_.isLetterOrDigit)).toSeq

  /** Broadcast joins on any of the zaak tiers' dimension keys. */
  private def zaakTierJoins(p: String): Int = {
    val tierKey = "\\b(z_dnr|d_dnr|doc_dnr)#".r
    finalPlan(p).linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && tierKey.findFirstIn(l).nonEmpty)
  }

  /** (mention checkpoint, linked-persons checkpoint, compact triples)
    * executed plans of one `Pipeline.build` over the generator corpus.
    */
  private lazy val buildPlans: (String, String, String) = {
    val turns = graft.synth.TranscriptGen.transcripts(spark, SparkSpec.testdata("sf0.001"))
    var stages: graft.pipeline.Pipeline.Stages = null
    val Seq(mentions, linked) = checkpointPlans(2) {
      stages = graft.pipeline.Pipeline.build(spark, turns)
    }
    (mentions, linked, plan(stages.canonicalCompact))
  }

  test("Pipeline.build's linked-persons plan: hash-aggregate argmax, no Sort, " +
      "SortAggregate or Generate") {
    val (_, p, _) = buildPlans
    val linkOps = ops(p)
    Seq("Sort", "SortAggregate", "Generate").foreach { op =>
      assert(!linkOps.contains(op), s"$op in the link plan:\n$p")
    }
    assert(finalPlan(p).linesIterator.exists(l =>
      l.contains("HashAggregate") && !l.contains("SortAggregate") && l.contains("max(")),
      s"argmax is not a hash aggregate:\n$p")
  }

  test("Pipeline.build joins the zaak tiers only in the mention checkpoint") {
    val (mentions, linked, compact) = buildPlans
    assert(zaakTierJoins(mentions) == 3, s"mention checkpoint plan:\n$mentions")
    assert(zaakTierJoins(linked) == 0, s"zaak tier in the link plan:\n$linked")
    assert(zaakTierJoins(compact) == 0, s"zaak tier in the compact plan:\n$compact")
  }

  test("Pipeline.build's compact-triple plan joins fracties once") {
    val (_, _, p) = buildPlans
    val joins = p.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("fractie_naam"))
    assert(joins == 1, s"$joins fracties joins in the compact plan:\n$p")
  }

  /** Operator nodes named `op` in an executedPlan tree string. */
  private def nodes(p: String, op: String): Int =
    p.linesIterator.map(_.dropWhile(" :+-".contains(_)))
      .count(l => l == op || l.startsWith(op + " "))

  private lazy val documents = Seq(
    (1L, "the cat sat on the mat by the door"),
    (2L, "the cat sat on the mat by the"),
    (3L, "an unrelated sentence about parliament votes")).toDF("doc_id", "text")

  private lazy val embeddings = (1 to 6).map { i =>
    (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 17) % 13 - 6).toDouble))
  }.toDF("vec_id", "embedding")

  // the operator calls behind td_dup_shingle_ratio / td_ngram_jaccard_pairs
  test("shingle kernel has no Window or Sort; its consumers sort only for the final ORDER BY") {
    val sh = plan(graft.dataops.Dedup.shingles(documents))
    assert(nodes(sh, "Window") == 0 && nodes(sh, "Sort") == 0, s"shingle plan:\n$sh")
    Seq(graft.dataops.Dedup.dupShingleRatio(documents).orderBy("doc_id"),
      graft.dataops.Dedup.ngramJaccardPairs(documents, 800, 100).orderBy("doc_a", "doc_b"))
      .map(plan).foreach { p =>
        assert(nodes(p, "Window") == 0, s"Window in a shingle consumer:\n$p")
        assert(nodes(p, "Sort") == 1, s"a shingle consumer sorts more than its ORDER BY:\n$p")
      }
  }

  // kg_relmap_edges: REL_MAP edges over the expanded turn entity
  test("REL_MAP edge extraction scans its parent once") {
    val p = plan(graft.triples.RelMap.edges(
      graft.extract.Expand.withAttachments(spark.read.parquet(turnsPath)),
      graft.triples.RelMap.TurnRels))
    assert(nodes(p, "FileScan") == 1, s"REL_MAP scans:\n$p")
  }

  // td_ann_topk / td_embed_dup_pairs
  test("ANN pair projections use the cosine_sim kernel, not zip_with lambdas") {
    Seq(graft.dataops.Similarity.bruteForceTopK(embeddings, 5),
      graft.dataops.Dedup.embeddingDupPairs(embeddings, 900000L,
        SparkEntry.AnnBits, SparkEntry.AnnTables)).map(plan).foreach { p =>
      assert(p.contains("cosine_sim"), s"no cosine_sim:\n$p")
      assert(!p.contains("zip_with"), s"zip_with in an ANN plan:\n$p")
    }
  }
}

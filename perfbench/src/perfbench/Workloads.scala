package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.canonicalize.{Canonicalize, ConnectedComponents}
import graft.checkpoint.Checkpoint
import graft.extract.Extract
import graft.link.Link
import graft.materialize.Materialize
import graft.model.MatchType
import graft.pipeline.Pipeline
import graft.synth.Dict
import graft.triples.Triples
import graft.util.Ckpt

/** The calls `Pipeline.build` makes, one span per layer, each checkpoint
  * forced inside the span of the layer that produces it. The traced run
  * uses this; its warehouse must hash like the untraced `Pipeline.build`.
  */
final case class LayeredBuild(wide: DataFrame, linked: DataFrame, linkedZaken: DataFrame,
    votes: DataFrame, canon: DataFrame, hasMerges: Boolean, residual: Observation) {

  def compact(spark: SparkSession): DataFrame = Canonicalize.rewriteCompact(
    Triples.allNonMentionCompact(linked, linkedZaken, votes, Dict.personsDf(spark),
      Dict.fractiesDf(spark)), canon, hasMerges)

  def canonical(spark: SparkSession): DataFrame = Canonicalize.canonicalTriples(
    Triples.allNonMention(linked, linkedZaken, votes, Dict.personsDf(spark),
      Dict.fractiesDf(spark)), canon, hasMerges)
}

object LayeredBuild {
  def apply(spark: SparkSession, t: Tracer, turns: DataFrame): LayeredBuild = {
    val wide = t.span("mentions", "extract") {
      val w = Ckpt(Extract.mentionsWide(turns).drop("kind"))
      w.count()
      w
    }
    val residual = Observation()
    val linked = t.span("link persons", "link") {
      val speakersZ = Link.zaakEntityCarry(Extract.speakersWithCaseFrom(wide),
        Dict.zakenDf(spark), Dict.dossiersDf(spark), Dict.documentsDf(spark)).drop("z_score")
      val raw = Link.linkPersons(speakersZ, Dict.personsDf(spark),
        Seq("z_entity_id", "z_match_type"), Some(residual))
      val l = Ckpt(raw.drop("score", "fractie_id"))
      l.count()
      l
    }
    val linkedZaken = Link.linkZaken(Extract.casesFrom(wide), Dict.zakenDf(spark),
      Dict.dossiersDf(spark), Dict.documentsDf(spark))
    val votes = Extract.votesFrom(wide)
    val (canon, merges) = t.span("persoon canon", "canonicalize") {
      Canonicalize.persoonCanonWithFlag(linked)
    }
    LayeredBuild(wide, linked, linkedZaken, votes, canon, merges, residual)
  }

  /** Link and canonicalize counters of a finished build (extra passes over
    * the checkpoints; run outside any traced pass).
    */
  def counters(stats: LayerStats, b: LayeredBuild): Unit = {
    val speakers = b.wide.where(col("is_speaker")).count()
    val linked = b.linked.count()
    val exact = b.linked.where(col("match_type") === MatchType.Exact).count()
    stats.extra("link.hit_ratio", linked.toDouble / math.max(1L, speakers))
    stats.extra("link.exact_ratio", exact.toDouble / math.max(1L, linked))
    stats.extra("link.fallback_rows", Checks.awaitRow(b.residual).getLong(0).toDouble)
    val edges = Canonicalize.surfaceEdges(b.linked)
    stats.extra("canonicalize.edges", edges.count().toDouble)
    val comps = ConnectedComponents.auto(edges)
    // union operations CC performed: nodes minus components
    stats.extra("canonicalize.merges",
      (comps.count() - comps.select("component").distinct().count()).toDouble)
  }
}

object Workloads {

  /** GraftApp's configuration snapshot for the lineage table. */
  val ConfigHash: String = Checkpoint.configHash(
    "dict" -> Dict.Version,
    "nbuckets" -> Materialize.NBuckets.toString,
    "conv-buckets" -> Checkpoint.DefaultBuckets.toString)

  val SetupReps = 3

  /** Operations measured per run even when they overrun `--seconds`. */
  val MinOps = 2

  def run(h: Harness): Map[String, Double] = h.opts.workload match {
    case "bulk-dirty" => new Bulk(h).run()
    case "incremental" => new Incremental(h).run()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def sameWarehouse(spark: SparkSession, wh: Path, ref: (TableHash, TableHash)): Boolean =
    Checks.warehouse(spark, wh) == ref
}

/** One full initial build (`Pipeline.build` then `Materialize.writeGraphFused`)
  * per operation, over a fixed transcript table in which a share of the
  * speaker names is perturbed (see `Gen.perturb`).
  */
final class Bulk(h: Harness) {
  private def spark = h.spark
  private val Events = 40000L
  private val DirtyShare = 0.3

  private def build(turns: DataFrame, wh: Path): Long =
    Materialize.writeGraphFused(spark, wh.toString, Pipeline.build(spark, turns).canonicalCompact)

  def run(): Map[String, Double] = {
    val seed = h.opts.seed
    val last = h.setup(if (h.opts.trace) 1 else Workloads.SetupReps) { i =>
      Gen.bulk(spark, seed, Events, DirtyShare, h.work.resolve(s"input-$i"))
    }
    val dir = h.work.resolve(s"input-$last")
    println(s"[perfbench] input: ${Gen.bulkStats(spark, seed, DirtyShare, dir)}")
    def turns = {
      Gen.bulk(spark, seed, Events, DirtyShare, dir)
      spark.read.parquet(s"$dir/turns")
    }

    // reference: the string `canonical` path through writeGraph; also the
    // warm-up of the pipeline's code paths
    val refWh = h.work.resolve("wh-ref")
    Materialize.writeGraph(spark, refWh.toString, Pipeline.build(spark, turns).canonical,
      triplesDistinct = true)
    val ref = Checks.warehouse(spark, refWh)
    Harness.log("reference done")
    def verify(wh: Path, n: Long) = n == ref._2.rows && Workloads.sameWarehouse(spark, wh, ref)

    var k = 0
    def untraced(): Unit = {
      val wh = h.work.resolve(s"wh-$k")
      k += 1
      h.op(s"build ${k - 1}")(build(turns, wh))(verify(wh, _)).foreach { case (n, t) =>
        h.addTiming("build", t)
        h.add("triples_per_s", "1/s", n / t.wall)
        h.add("warehouse_bytes_per_triple", "B", Io.warehouseBytes(wh).toDouble / n)
      }
      Io.deleteTree(wh)
    }

    if (!h.opts.trace) {
      h.loop(h.opts.seconds, Workloads.MinOps)(untraced())
      Map("op_cpu_s" -> Stats.median(h.values("build_cpu_s")))
    } else {
      h.loop(h.opts.seconds / 2.0, Workloads.MinOps)(untraced())
      val stats = new LayerStats(spark)
      h.loop(h.opts.seconds / 2.0, 1) {
        val wh = h.work.resolve(s"wh-traced-$k")
        k += 1
        h.op("traced build") {
          stats.pass("build") {
            val b = LayeredBuild(spark, stats.tracer, turns)
            (b, stats.tracer.span("write graph", "materialize") {
              Materialize.writeGraphFused(spark, wh.toString, b.compact(spark))
            })
          }._1
        } { case (_, n) => verify(wh, n) }.foreach { case ((b, n), t) =>
          h.addTiming("traced_build", t)
          LayeredBuild.counters(stats, b)
          stats.extra("materialize.dedup_ratio", n.toDouble / b.compact(spark).count())
          stats.extra("materialize.files", Io.parquetBytes(wh)._2)
        }
        stats.discard()
        Io.deleteTree(wh)
      }
      val m = stats.metrics()
      h.check("task time attribution", stats.attributionGap() < 1e-3)
      val queries = new QueryMix(h).traced()
      val one = singleCoreTaskSeconds(turns)
      val inflation = Layers.InflationLayers.map(l =>
        s"$l.task_inflation" -> m.getOrElse(s"$l.task_s", 0.0) / math.max(1e-9, one(l)))
      // against the last untraced build, the one warmed most like the traced
      m ++ queries ++ inflation + ("op.wall_s" -> Stats.median(h.values("build_s"))) +
        ("trace.overhead" -> Stats.median(h.values("traced_build_s")) / h.values("build_s").last)
    }
  }

  /** Task seconds per layer of one traced build at `local[1]`. Replaces the
    * session; nothing runs on the old one afterwards.
    */
  private def singleCoreTaskSeconds(turns: => DataFrame): Map[String, Double] = {
    spark.stop()
    h.spark = Main.session(1, h.work)
    val stats = new LayerStats(spark)
    val wh = h.work.resolve("wh-local1")
    stats.pass("build@1") {
      val b = LayeredBuild(spark, stats.tracer, turns)
      stats.tracer.span("write graph", "materialize") {
        Materialize.writeGraphFused(spark, wh.toString, b.compact(spark))
      }
    }
    Io.deleteTree(wh)
    val m = stats.metrics()
    Layers.InflationLayers.map(l => l -> m.getOrElse(s"$l.task_s", 0.0)).toMap
  }
}

/** GraftApp's incremental path, batch after batch, on a copy of a base
  * warehouse; then a resume of a processed batch (lineage on) and a replay
  * of it (lineage ignored).
  */
final class Incremental(h: Harness) {
  private def spark = h.spark
  private val Events = 20000L

  /** GraftApp's `--resume` filter: the turns of buckets the lineage has not
    * recorded yet.
    */
  private def unprocessed(t: Tracer, wh: Path, turns: DataFrame): DataFrame =
    t.span("resume filter", "checkpoint") {
      val lineage = s"$wh/lineage"
      Checkpoint.requireCompatible(spark, lineage, "pipeline", Workloads.ConfigHash)
      Checkpoint.filterUnprocessed(turns,
        Checkpoint.processedBuckets(spark, lineage, "pipeline"), "conv_id")
    }

  /** GraftApp's run over `turns` against an existing warehouse. Returns the
    * canonical triple count and the turns it read after the resume filter.
    */
  private def applyBatch(t: Tracer, wh: Path, turns: DataFrame, resume: Boolean,
      runId: String, layered: Boolean): (Long, DataFrame) = {
    val in = if (resume) unprocessed(t, wh, turns) else turns
    val canonicalPlan =
      if (layered) LayeredBuild(spark, t, in).canonical(spark)
      else Pipeline.build(spark, in).canonical
    val n = t.span("upsert", "materialize") {
      val canonical = canonicalPlan.localCheckpoint(false)
      val n = canonical.count()
      Materialize.writeGraph(spark, wh.toString, canonical, triplesDistinct = true)
      n
    }
    t.span("record lineage", "checkpoint") {
      Checkpoint.recordProcessed(spark, s"$wh/lineage", runId, "pipeline", in, "conv_id",
        configHash = Workloads.ConfigHash)
    }
    (n, in)
  }

  def run(): Map[String, Double] = {
    val seed = h.opts.seed
    val last = h.setup(if (h.opts.trace) 1 else Workloads.SetupReps) { i =>
      Gen.incremental(spark, seed, Events, h.work.resolve(s"input-$i"))
    }
    val dir = h.work.resolve(s"input-$last")
    val base = dir.resolve("base-wh")
    // the base warehouse is built once, through GraftApp's initial path, and
    // its time is added to every set-up sample
    val (_, baseTime) = Harness.measure(Gen.ensure(base) {
      val turns = Gen.part(spark, dir, -1)
      val wh = base.resolve("wh")
      Materialize.writeGraphFused(spark, wh.toString, Pipeline.build(spark, turns).canonicalCompact)
      Checkpoint.recordProcessed(spark, s"$wh/lineage", "base", "pipeline", turns, "conv_id",
        configHash = Workloads.ConfigHash)
    })
    h.shiftSetup(baseTime)
    println(s"[perfbench] input: ${Gen.incrementalStats(spark, dir)}")
    def batch(i: Int) = {
      Gen.incremental(spark, seed, Events, dir)
      Gen.part(spark, dir, i)
    }
    val all = spark.read.parquet(s"$dir/turns").drop("part")

    // reference: a bulk build of every conversation, string canonical path
    val refWh = h.work.resolve("wh-ref")
    Materialize.writeGraph(spark, refWh.toString, Pipeline.build(spark, all).canonical,
      triplesDistinct = true)
    val ref = Checks.warehouse(spark, refWh)
    Harness.log("reference done")

    var round = 0
    def oneRound(stats: Option[LayerStats]): Unit = {
      val wh = h.work.resolve(s"wh-round-$round")
      Io.copyTree(base.resolve("wh"), wh)
      val r = round
      round += 1
      val t = stats.fold[Tracer](NoTrace)(_.tracer)
      val layered = stats.isDefined
      (0 until Gen.Batches).foreach { i =>
        val startMs = System.currentTimeMillis()
        def go() = applyBatch(t, wh, batch(i), resume = true, s"r$r-b$i", layered)
        h.op(s"batch $i")(stats.fold(go())(_.pass(s"batch $i")(go())._1))(_._1 > 0)
          .foreach { case ((n, _), t) =>
            h.addTiming("batch", t)
            h.add("triples_per_s", "1/s", n / t.wall)
            stats.foreach(s => rewriteCounters(s, wh, startMs, n))
          }
      }
      // resubmitting a processed batch with lineage on: the filter must drop
      // every row (GraftApp would then run the pipeline on nothing)
      h.op("resume")(unprocessed(t, wh, batch(0)).count())(left =>
        left == 0 && Workloads.sameWarehouse(spark, wh, ref)).foreach { case (_, t) =>
        h.addTiming("resume", t)
        stats.foreach { s =>
          s.extra("checkpoint.resume_s", t.wall)
          s.extra("checkpoint.skipped_rows", batch(0).count().toDouble)
        }
      }
      h.op("replay")(applyBatch(t, wh, batch(0), resume = false, s"r$r-replay", layered))(
        _ => Workloads.sameWarehouse(spark, wh, ref))
        .foreach { case (_, t) => h.addTiming("replay", t) }
      // the traced run's baseline for trace.overhead: the same replay, untraced
      if (layered)
        h.op("untraced replay")(applyBatch(NoTrace, wh, batch(0), resume = false,
          s"r$r-replay-untraced", layered = false))(_ => Workloads.sameWarehouse(spark, wh, ref))
          .foreach { case (_, t) => h.addTiming("untraced_replay", t) }
      stats.foreach(_.discard())
      h.add("warehouse_bytes_per_triple", "B", Io.warehouseBytes(wh).toDouble / ref._2.rows)
      Io.deleteTree(wh)
    }

    if (!h.opts.trace) {
      h.loop(h.opts.seconds, 1)(oneRound(None))
      // an upsert: each new batch, and the replay of a processed one
      Map("op_cpu_s" -> Stats.median(h.values("batch_cpu_s") ++ h.values("replay_cpu_s")))
    } else {
      val stats = new LayerStats(spark)
      h.loop(h.opts.seconds, 1)(oneRound(Some(stats)))
      val m = stats.metrics()
      h.check("task time attribution", stats.attributionGap() < 1e-3)
      m + ("op.wall_s" -> Stats.median(h.values("untraced_replay_s"))) + ("trace.overhead" ->
        Stats.median(h.values("replay_s")) / Stats.median(h.values("untraced_replay_s")))
    }
  }

  /** Buckets, rows and bytes one upsert rewrote: the parquet files written
    * since the batch started.
    */
  private def rewriteCounters(s: LayerStats, wh: Path, startMs: Long, n: Long): Unit = {
    def fresh(table: String) = {
      val st = Files.walk(wh.resolve(table))
      try st.iterator.asScala.filter(p => p.getFileName.toString.endsWith(".parquet") &&
        Files.getLastModifiedTime(p).toMillis >= startMs).toList
      finally st.close()
    }
    val edges = fresh("edges")
    val written = (edges ++ fresh("nodes")).map(Files.size).sum
    s.extra("materialize.buckets_touched", edges.map(_.getParent).distinct.size)
    val rows = if (edges.isEmpty) 0L else spark.read.parquet(edges.map(_.toString): _*).count()
    s.extra("materialize.rewrite_amplification", rows.toDouble / n)
    val writtenMb = s.lastPass().getOrElse("materialize.bytes_written_mb", 0.0)
    s.extra("materialize.staging_mb", math.max(0.0, writtenMb - written / 1048576.0))
  }
}

/** The analyst queries, each run with a noop sink as `PlanDump` times them;
  * each result's hash is observed during that very execution and must equal
  * the hash of a first, untraced execution (which is also their warm-up).
  * They run in the traced run only (see README.md).
  */
final class QueryMix(h: Harness) {
  private def spark = h.spark
  private val Events = 10000L
  private val Docs = 500L
  private val Vectors = 500L

  private def runQuery(t: Tracer, name: String, dir: Path): TableHash =
    t.span(s"q.$name", Layers.queryLayer(name)) {
      val (df, hash) = Checks.observed(graft.SparkEntry.queries(name)(spark, dir.toString))
      df.write.format("noop").mode("overwrite").save()
      hash()
    }

  /** The `analysis`, `dataops` and `q.*` metrics of one traced pass over
    * every query.
    */
  def traced(): Map[String, Double] = {
    val dir = h.work.resolve("query-input")
    Gen.queryInput(spark, h.opts.seed, Events, Docs, Vectors, dir)
    println(s"[perfbench] query input: ${Gen.queryStats(spark, dir)} documents=$Docs " +
      s"vectors=$Vectors")
    val ref = Layers.Queries.map(q => q -> runQuery(NoTrace, q, dir)).toMap
    Harness.log("query reference done")
    val stats = new LayerStats(spark)
    stats.pass("queries") {
      Layers.Queries.foreach(q => h.op(q)(runQuery(stats.tracer, q, dir))(_ == ref(q)))
    }
    h.check("query task time attribution", stats.attributionGap() < 1e-3)
    stats.metrics().filter { case (k, _) =>
      k.startsWith("analysis.") || k.startsWith("dataops.") || k.startsWith("q.")
    }
  }
}

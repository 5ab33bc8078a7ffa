package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.functions.FuzzRatio
import graft.materialize.Materialize
import graft.pipeline.{Metrics, Pipeline}
import graft.synth.TranscriptGen

/** spark-submit entry point — the analogue of the reference's `main.py` CLI
  * run (src/main.py:90-140, cli_config.py:8-55): stage DAG over the
  * transcript table with per-bucket checkpointing, resume, overwrite, and
  * counter metrics.
  *
  * Usage (all flags optional):
  *   spark-submit --class graft.GraftApp <jar>
  *     --sf-dir <dir>        input testdata dir (default /root/testdata/sf0.001)
  *     --input <parquet>     read transcripts from parquet instead of synth
  *     --warehouse <dir>     output graph warehouse (default ./graft-warehouse)
  *     --lineage <dir>       lineage table path (default <warehouse>/lineage)
  *     --run-id <id>         run identifier (default epoch millis at launch)
  *     --staging <dir>       stage the link intermediate as a written
  *                           parquet table instead of localCheckpoint
  *                           (the 10^12-row configuration)
  *     --resume              skip conversation buckets already in lineage
  *     --overwrite           ignore lineage (the reference's --overwrite)
  *     --master <m>          Spark master when not under spark-submit
  */
object GraftApp {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    val warehouse = opts.getOrElse("warehouse", "graft-warehouse")
    val lineage = opts.getOrElse("lineage", s"$warehouse/lineage")
    // pid suffix: two concurrent launches must not collide in lineage
    val runId = opts.getOrElse("run-id",
      s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}")
    val resume = opts.contains("resume") && !opts.contains("overwrite")
    // config snapshot: resuming under a different dictionary/bucketing would
    // silently mix outputs — refuse instead (reference main.py:74-87)
    val cfgHash = Checkpoint.configHash(
      "dict" -> graft.synth.Dict.Version,
      "nbuckets" -> Materialize.NBuckets.toString,
      "conv-buckets" -> Checkpoint.DefaultBuckets.toString)

    val builder = SparkSession.builder().appName("graft-kg")
      .config("spark.sql.session.timeZone", "UTC")
    graft.link.Salting.AqeSkewConf.foreach { case (k, v) => builder.config(k, v) }
    opts.get("master").foreach { m =>
      builder.master(m).config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    FuzzRatio.register(spark)

    // an explicitly-passed run-id must not silently join lineage rows
    // written under a different configuration (the default id cannot
    // collide: millis + pid)
    if (opts.contains("run-id"))
      Checkpoint.requireRunIdFresh(spark, lineage, runId, cfgHash)

    val allTurns = opts.get("input")
      .map(spark.read.parquet(_))
      .getOrElse(TranscriptGen.transcripts(spark, sfDir))

    // resume: drop conversation buckets already recorded for this stage —
    // after validating the lineage was written under a compatible config
    val turns =
      if (resume) {
        Checkpoint.requireCompatible(spark, lineage, "pipeline", cfgHash)
        Checkpoint.filterUnprocessed(allTurns,
          Checkpoint.processedBuckets(spark, lineage, "pipeline"), "conv_id")
      } else allTurns

    val stages = Pipeline.build(spark, turns,
      linkStagingDir = opts.get("staging").filter(_.nonEmpty))
    // one canonical derivation, two writers: the initial (cluster-sized)
    // load writes the compact rows with the FUSED one-exchange write —
    // dedup rides the write-aligned shuffle, key strings never shuffle,
    // node table derives from compact blocks, and the edge count comes
    // back from write metadata (no separate count pass). Incremental loads
    // upsert the decoded string view of the same rows.
    val nTriples =
      if (!Materialize.graphExists(spark, warehouse))
        Materialize.writeGraphFused(spark, warehouse, stages.canonicalCompact)
      else {
        // lazy localCheckpoint: one materialization at count(), flat plans
        // for every materialize action (no Catalyst re-run per action)
        val canonical = stages.canonical.localCheckpoint(false)
        val n = canonical.count()
        Materialize.writeGraph(spark, warehouse, canonical)
        n
      }
    Checkpoint.recordProcessed(spark, lineage, runId, "pipeline", turns, "conv_id",
      configHash = cfgHash)

    // link counters: one tiny aggregate over the CHECKPOINTED link output —
    // reads cached blocks, no recompute of extract+link. (An observe() on
    // the link frame would fire on the pipeline's first action, which since
    // round 2 is the surface-edge limit+collect — a deliberately partial
    // pass — so its counts would be wrong; Metrics.observeLink remains for
    // flows whose first action is a full pass.)
    val linkRow = stages.linkedPersons.agg(
      count(lit(1)).as("n_linked"),
      sum(when(col("match_type") === graft.model.MatchType.Exact, 1L)
        .otherwise(0L)).as("n_exact")).head()
    val nLinked = linkRow.getLong(0)
    val nExact = linkRow.getLong(1)
    println(s"[graft] run=$runId linked=$nLinked " +
      s"exact_permille=${Metrics.matchRatePermille(nExact, nLinked)} " +
      s"canonical_triples=$nTriples warehouse=$warehouse")
    spark.stop()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case flag :: rest if flag.startsWith("--") =>
        val key = flag.drop(2)
        rest match {
          case v :: tail if !v.startsWith("--") => parse(tail, acc + (key -> v))
          case _ => parse(rest, acc + (key -> ""))
        }
      case _ :: rest => parse(rest, acc)
    }
}

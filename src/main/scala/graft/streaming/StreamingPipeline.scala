package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.extract.Extract
import graft.materialize.Materialize
import graft.pipeline.Pipeline

/** Incremental ingestion — the Spark Structured Streaming re-expression of
  * the reference's incremental traits (SURVEY.md §2.10): date-watermark
  * loading (`start_date` S1 filters), skip-already-loaded (S8 anti-joins),
  * and checkpoint/resume (checkpoint_manager.py) become a file-source stream
  * with `Trigger.AvailableNow`, the engine's offset log as the resume
  * checkpoint, and the materializer's idempotent keyed upserts as the
  * exactly-once effect guarantee (re-delivered turns are no-ops by key).
  *
  * Per-batch canonicalization is safe here because every mention cluster
  * contains its linked entity and the canonical representative is the
  * smallest entity key — stable under any batch split, so the incremental
  * graph equals the one-shot batch graph (asserted in StreamingSpec).
  */
object StreamingPipeline {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** One micro-batch: extract → link → triples → canonicalize → upsert. */
  private[streaming] def processBatch(spark: SparkSession, batch: DataFrame,
      warehouse: String): Unit =
    Materialize.writeGraph(spark, warehouse, Pipeline.build(spark, batch).canonical)

  /** Drain all currently-available input files into the warehouse, then stop
    * (Trigger.AvailableNow). Re-running with the same `checkpointDir` resumes
    * from the streaming offset log — already-seen files are skipped, the
    * reference's processed-ID set semantics.
    */
  def runIncremental(spark: SparkSession, inputDir: String, warehouse: String,
      checkpointDir: String): Unit = {
    val stream = spark.readStream
      .schema(turnSchema)
      .option("maxFilesPerTrigger", 1) // bounded micro-batches at scale
      .option("recursiveFileLookup", "true")
      .parquet(inputDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, warehouse)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window vote aggregation — the streaming analogue
    * of A1/A5 with late-data tolerance: votes per fractie per 1-hour window,
    * 2-hour watermark.
    */
  def windowedVoteCounts(turns: DataFrame): DataFrame =
    Extract.voteMentionsWithTs(turns)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("fractie_naam"))
      .agg(count(lit(1)).as("n_votes"))
      .select(
        col("window.start").as("window_start"),
        col("fractie_naam"), col("n_votes"))
}

package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.synth.TranscriptGen

/** Seeded inputs. Every table derives from `seed` alone: the same seed gives
  * the same rows, another seed gives other conversation ids with the same
  * schema. Transcripts come from the program's own synthesizer
  * (`TranscriptGen`) over a generated `events` table shaped like the
  * repository's test data (event types, ~67 events per user, 30 days).
  */
object Gen {

  final case class Stats(turns: Long, conversations: Long, perturbedShare: Double,
      batchTurns: Seq[Long]) {
    override def toString: String =
      s"turns=$turns conversations=$conversations perturbed_share=" +
        f"$perturbedShare%.4f" +
        (if (batchTurns.isEmpty) "" else s" batch_turns=${batchTurns.mkString(",")}")
  }

  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val EventsPerUser = 67
  private val Epoch2024Micros = 1704067200000000L
  private val SpanMicros = 30L * 24 * 3600 * 1000000

  private def h(seed: Long, salt: Int, cols: org.apache.spark.sql.Column*) =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** `events` with the test-data schema. `ts` is strictly increasing in
    * `event_id`, which the synthesizer relies on for turn order. User ids are
    * offset by the seed, so each seed has its own conversation ids.
    */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val users = math.max(1L, n / EventsPerUser)
    val step = math.max(2L, SpanMicros / n)
    val id = col("id")
    val offset = math.floorMod(seed, 1000000L) * 1000000L
    spark.range(n).select(
      id.as("event_id"),
      expr(s"timestamp_micros($Epoch2024Micros + id * $step + pmod(xxhash64(${seed}L, 1, id), ${step - 1}))")
        .cast("timestamp_ntz").as("ts"),
      (lit(offset) + pmod(h(seed, 2, id), lit(users))).as("user_id"),
      element_at(lit(EventTypes), (pmod(h(seed, 3, id), lit(EventTypes.length)) + 1).cast("int"))
        .as("event_type"),
      bround(pmod(h(seed, 4, id), lit(10000L)) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, 5, id), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  private val Vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "a", "merge", "batch", "spark", "the", "line", "sort", "window", "order",
    "data", "column", "join", "small", "customer", "query", "big", "stream", "group",
    "filter", "vector", "dup")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  /** `documents` with the test-data schema: 10–100 words from the same
    * 31-word vocabulary, five language labels, twenty sources.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val nWords = (lit(10) + pmod(h(seed, 10, id), lit(91L))).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), nWords), i =>
      element_at(lit(Vocab), (pmod(h(seed, 11, id, i), lit(Vocab.length.toLong)) + 1).cast("int"))))
    spark.range(n).select(id.as("doc_id"), text.as("text"),
      element_at(lit(Langs), (pmod(h(seed, 12, id), lit(Langs.length.toLong)) + 1).cast("int"))
        .as("lang"),
      concat(lit("src"), pmod(h(seed, 13, id), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `embeddings` with the test-data schema: 64 float dimensions, labels 0–9. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val vec = transform(sequence(lit(0), lit(63)), i =>
      ((pmod(h(seed, 20, id, i), lit(2001L)) - 1000) / 4000.0).cast("float"))
    spark.range(n).select(id.as("vec_id"), vec.as("embedding"),
      pmod(h(seed, 21, id), lit(10L)).cast("int").as("label"))
  }

  /** Perturbations of a speaker name, one per dirty mention:
    * 0 truncated surname (misses the exact block, hits the `contains` tier),
    * 1 surname typo (misses both tiers), 2 first name replaced by its
    * initial, 3 first-name typo (exact block, lower score; grows the
    * surface-form graph CC runs on).
    */
  private val NameSpans = Seq(
    ("het woord aan (.+)$".r, true), ("^Mevrouw (.+) spreekt over".r, false),
    ("^De heer (.+) interrumpeert".r, false), ("^(.+) vraagt een reactie".r, true))

  def perturb(text: String, r: Long): String = {
    val kind = java.lang.Math.floorMod(r, 4L).toInt
    val k = (r >>> 8) & 0xffff
    NameSpans.iterator.flatMap { case (re, full) =>
      re.findFirstMatchIn(text).map(m => (m.start(1), m.end(1), full))
    }.nextOption() match {
      case None => text
      case Some((s, e, full)) =>
        val name = text.substring(s, e)
        val firstEnd = if (full) name.indexOf(' ') else -1
        val lastStart = name.lastIndexOf(' ') + 1
        val last = name.substring(lastStart)
        val out = kind match {
          case 0 if last.length > 3 =>
            name.substring(0, lastStart) +
              last.take(math.max(3, last.length - 1 - (k % 2).toInt))
          case 1 if last.length >= 4 =>
            val i = 1 + (k % (last.length - 2)).toInt
            name.substring(0, lastStart) + last.substring(0, i) + last(i + 1) + last(i) +
              last.substring(i + 2)
          case 2 if firstEnd > 1 =>
            name.substring(0, 1) + "." + name.substring(firstEnd)
          case 3 if firstEnd > 1 =>
            val i = 1 + (k % (firstEnd - 1)).toInt
            name.substring(0, i) + ('a' + ((k >>> 4) % 26).toInt).toChar +
              name.substring(i + 1)
          case _ => name
        }
        text.substring(0, s) + out + text.substring(e)
    }
  }

  /** `turns` with a seeded `dirtyShare` of rows marked `dirty` and their
    * speaker name perturbed in `text`.
    */
  private def perturbed(turns: DataFrame, seed: Long, dirtyShare: Double): DataFrame = {
    val perturbUdf = udf((t: String, r: Long) => perturb(t, r))
    val pick = pmod(h(seed, 30, col("conv_id"), col("turn_idx")), lit(1000000L)) <
      lit((dirtyShare * 1000000).toLong)
    turns.withColumn("dirty", pick)
      .withColumn("text", when(col("dirty"),
        perturbUdf(col("text"), h(seed, 31, col("conv_id"), col("turn_idx"))))
        .otherwise(col("text")))
  }

  /** Transcripts for `nEvents` events (written to `dir/events.parquet` first);
    * with `dirtyShare` > 0 that share of the turns, chosen by seed, gets a
    * perturbed speaker name.
    */
  def transcripts(spark: SparkSession, seed: Long, nEvents: Long, dirtyShare: Double,
      dir: Path): DataFrame = {
    events(spark, seed, nEvents).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val turns = TranscriptGen.transcripts(spark, dir.toString)
    if (dirtyShare <= 0) turns else perturbed(turns, seed, dirtyShare).drop("dirty")
  }

  /** Number of files each generated turns table is written as, so the scan
    * splits across cores.
    */
  private val TurnFiles = 16

  private def writeTurns(df: DataFrame, path: String): Unit =
    df.repartition(TurnFiles, col("conv_id")).write.mode("overwrite").parquet(path)

  private def marker(dir: Path): Path = dir.resolve("_SUCCESS")

  /** Run `make` unless `dir` holds a complete input (its `_SUCCESS` marker,
    * written last). A missing marker means a partial or wiped input: the
    * directory is rebuilt from scratch.
    */
  def ensure(dir: Path)(make: => Unit): Unit =
    if (!Files.exists(marker(dir))) {
      Files.createDirectories(dir.getParent)
      Io.deleteTree(dir)
      Files.createDirectories(dir)
      make
      Files.writeString(marker(dir), "")
    }

  /** Bulk input: `dir/turns`. */
  def bulk(spark: SparkSession, seed: Long, nEvents: Long, dirtyShare: Double,
      dir: Path): Unit =
    ensure(dir)(writeTurns(transcripts(spark, seed, nEvents, dirtyShare, dir), s"$dir/turns"))

  /** Turns, conversations, and the share of turns whose text the
    * perturbation changed.
    */
  def bulkStats(spark: SparkSession, seed: Long, dirtyShare: Double, dir: Path): Stats = {
    val clean = TranscriptGen.transcripts(spark, dir.toString)
    val changed =
      if (dirtyShare <= 0) 0L
      else perturbed(clean.withColumn("clean", col("text")), seed, dirtyShare)
        .where(col("dirty") && col("text") =!= col("clean")).count()
    val (n, convs) = sizes(spark.read.parquet(s"$dir/turns"))
    Stats(n, convs, changed.toDouble / n, Nil)
  }

  /** Turns and conversations of a turns table, in one job. */
  private def sizes(turns: DataFrame): (Long, Long) = {
    val r = turns.agg(count(lit(1)), countDistinct(col("conv_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Conversation buckets (of `Checkpoint.DefaultBuckets`) that form the base
    * warehouse; each incremental batch takes `BatchBuckets` fresh buckets, so
    * resume filters by bucket exactly as for a real new-conversation batch.
    */
  val BaseBuckets = 48
  val BatchBuckets = 8
  val Batches = 2

  /** Incremental input: one turns table partitioned by `part`, -1 for the
    * base conversations and `i` for batch `i`.
    */
  def incremental(spark: SparkSession, seed: Long, nEvents: Long, dir: Path): Unit =
    ensure(dir) {
      val cb = Checkpoint.bucketOf(col("conv_id"))
      transcripts(spark, seed, nEvents, 0, dir)
        .withColumn("part", when(cb < BaseBuckets, -1)
          .otherwise(floor((cb - BaseBuckets) / BatchBuckets)).cast("int"))
        .repartition(TurnFiles, col("conv_id"))
        .write.partitionBy("part").parquet(s"$dir/turns")
    }

  /** Turns of the base (`part` -1) or of batch `part`. */
  def part(spark: SparkSession, dir: Path, part: Int): DataFrame =
    spark.read.parquet(s"$dir/turns").where(col("part") === part).drop("part")

  def incrementalStats(spark: SparkSession, dir: Path): Stats = {
    val (n, convs) = sizes(spark.read.parquet(s"$dir/turns"))
    Stats(n, convs, 0.0, (0 until Batches).map(i => part(spark, dir, i).count()))
  }

  /** Query input directory: events, documents and embeddings. */
  def queryInput(spark: SparkSession, seed: Long, nEvents: Long, nDocs: Long,
      nVecs: Long, dir: Path): Unit =
    ensure(dir) {
      events(spark, seed, nEvents).write.parquet(s"$dir/events.parquet")
      documents(spark, seed, nDocs).write.parquet(s"$dir/documents.parquet")
      embeddings(spark, seed, nVecs).write.parquet(s"$dir/embeddings.parquet")
    }

  def queryStats(spark: SparkSession, dir: Path): Stats = {
    val (n, convs) = sizes(TranscriptGen.transcripts(spark, dir.toString))
    Stats(n, convs, 0.0, Nil)
  }
}

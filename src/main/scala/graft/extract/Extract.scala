package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Mention detection over transcript turns — the Spark re-expression of the
  * reference's VLOS XML extraction stage (src/vlos/extractors/xml_extractor.py):
  * speaker mentions (:118-192), case/zaak mentions (:194-217), fractie vote
  * utterances (:219-257), procedural filtering (:69-83), and first-seen
  * speaker dedup (:122-148).
  *
  * Everything here is narrow (per-row regex/projection): at 10^12 turns this
  * stage is a single map over the scan with full predicate pushdown — no
  * shuffle is introduced until the per-conversation window in `withSegments`.
  */
object Extract {

  /** Procedural-turn markers — reference vlos_config.py:72-80 + xml_extractor.py:69-83. */
  val ProceduralMarkers: Seq[String] =
    Seq("opening", "sluiting", "aanvang", "einde vergadering", "geschorst")

  // word-boundary anchored: a marker must appear as a word, not as a
  // substring of a longer token (reference checks the activity soort/titel
  // against a curated list, xml_extractor.py:69-83 — a speech merely
  // containing "verkoopopening" must not be dropped). \b is RE2-safe, so
  // the same pattern runs in the DuckDB oracle.
  private val proceduralRegex = "\\b(" + ProceduralMarkers.mkString("|") + ")\\b"

  def isProcedural(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lower(textCol).rlike(proceduralRegex)

  /** Drop procedural turns (P4). */
  def nonProcedural(turns: DataFrame): DataFrame =
    turns.where(!isProcedural(col("text")))

  /** Activity segmentation: a new segment starts at each conversation opening
    * marker (transcript-domain stand-in for the reference's activiteit
    * container). Adds `seg_id`. Requires one shuffle on conv_id — the same
    * partitioning every later per-conversation stage reuses.
    *
    * Word-boundary anchored like `isProcedural` (VERDICT r2): a real-corpus
    * token such as "heropening" must not open a phantom segment. \b is
    * RE2-safe, so the identical pattern runs in the DuckDB oracle.
    */
  def withSegments(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns.withColumn("seg_id",
      sum(when(lower(col("text")).rlike("\\bopening\\b"), 1).otherwise(0)).over(w))
  }

  /** ONE-PASS extraction of every mention type (speaker, case, vote) from a
    * single scan of the turns table. At 10^12 turns the raw scan + regex
    * evaluation IS the extract cost; running speaker/case/vote extraction
    * as three separate scans (round-2 shape) tripled it — the pipeline now
    * computes this wide form once (checkpointed/staged by `Pipeline.build`)
    * and the per-type extractors are cheap filtered projections of it. The
    * three public extractors below are thin wrappers, so oracle queries and
    * the pipeline share one source of truth.
    *
    * Output: one row per turn carrying at least one mention, with validity
    * flags (is_speaker/is_case/is_vote) and the typed fields of each kind.
    * NOTE: a single turn can carry several mention kinds — the flags are
    * independent, not a partition.
    *
    * Round 6: `ts` is no longer carried — no consumer of any mention view
    * ever read it past the view projection, yet the pipeline CHECKPOINTED
    * it with every wide row (8+ bytes/row of resident block bytes re-read
    * by every downstream scan — pure memory-bus traffic, the one term that
    * does not scale with cores on a socket; guide §2.3 "shuffle fewer
    * bytes" applied to checkpoint blocks).
    */
  def mentionsWide(turns: DataFrame): DataFrame = {
    // ALL the per-turn regex work in ONE fused kernel call per row
    // (graft.functions.MentionExtract): one String conversion, per-thread
    // reused matchers, indexOf-gated patterns — vs ~9 regexp_extract
    // columns each converting and allocating per row. Bit-identical values
    // (the kernel reproduces the regexp_extract column graph exactly; the
    // DuckDB oracle mirrors the same regexes). The kernel returns NULL for
    // procedural turns (P4) and turns with no valid mention (P5), so the
    // wide filter is a null check.
    turns
      .select(col("conv_id"), col("turn_idx"),
        graft.functions.MentionExtract.of(col("text")).as("m"))
      .where(col("m").isNotNull)
      .select(
        col("conv_id"), col("turn_idx"),
        col("m.is_speaker").as("is_speaker"), col("m.kind").as("kind"),
        col("m.v_first").as("v_first"), col("m.v_last").as("v_last"),
        col("m.is_case").as("is_case"),
        // guarded by the flag: dossierNumber's int cast is ANSI-strict and
        // must not see the empty code of speaker/vote-only rows
        when(col("m.is_case"),
          TextFunctions.dossierNumber(col("m.dossier_code"))).as("dossier_nr"),
        when(col("m.is_case"),
          TextFunctions.dossierToevoeging(col("m.dossier_code"))).as("toevoeging"),
        when(col("m.stuk") =!= "", col("m.stuk").cast("int")).as("stuk_nr"),
        col("m.is_vote").as("is_vote"),
        col("m.fractie_naam").as("fractie_naam"),
        TextFunctions.normalizeVote(col("m.vote_raw")).as("vote_norm"))
  }

  /** Speaker-mention view of the wide form (same rows/columns as round-2's
    * standalone extractor — reference speaker sources xml_extractor.py:124-191).
    */
  def speakersFrom(wide: DataFrame): DataFrame =
    wide.where(col("is_speaker"))
      .select("conv_id", "turn_idx", "kind", "v_first", "v_last")

  /** Speaker view CARRYING the co-row case fields: the wide table is one
    * row per turn, so a turn's speaker mention and case mention are the
    * same row — zaak-linking these columns (`Link.zaakEntityCarry`) and
    * threading them through the person-link argmax makes the DISCUSSES
    * derivation join-free. `Pipeline.build` now zaak-links the whole wide
    * table once, before its checkpoint, and reads the speaker rows off it;
    * this view serves compositions that link the speaker rows on their own
    * (the benchmark's per-layer build).
    */
  def speakersWithCaseFrom(wide: DataFrame): DataFrame =
    // the link stage drops everything but the mention key + carry columns:
    // `kind` is not selected, so a kind-less wide checkpoint suffices
    wide.where(col("is_speaker"))
      .select(col("conv_id"), col("turn_idx"),
        col("v_first"), col("v_last"),
        col("dossier_nr"),
        when(col("is_case"), col("stuk_nr")).as("stuk_nr"))

  /** Case-mention view (reference xml_extractor.py:194-217). */
  def casesFrom(wide: DataFrame): DataFrame =
    wide.where(col("is_case"))
      .select("conv_id", "turn_idx", "dossier_nr", "toevoeging", "stuk_nr")

  /** Vote-utterance view (reference xml_extractor.py:219-257). */
  def votesFrom(wide: DataFrame): DataFrame =
    wide.where(col("is_vote"))
      .select("conv_id", "turn_idx", "fractie_naam", "vote_norm")

  /** Speaker mentions: four surface patterns. Output: (conv_id, turn_idx,
    * kind, v_first, v_last) with v_first = '' when the surface form
    * carries no first name.
    */
  def speakerMentions(turns: DataFrame): DataFrame =
    speakersFrom(mentionsWide(turns))

  /** First-seen dedup of identical speaker mentions within a conversation —
    * reference seen_speakers set keyed voornaam|achternaam (xml_extractor.py:122-148).
    * Keeps the earliest turn via min(turn_idx): order-stable under parallelism.
    */
  def dedupSpeakers(mentions: DataFrame): DataFrame =
    mentions.groupBy("conv_id", "v_first", "v_last")
      .agg(min("turn_idx").as("turn_idx"), min_by(col("kind"), col("turn_idx")).as("kind"))

  /** Case (zaak) mentions: dossier number + optional stuk number / toevoeging —
    * reference xml_extractor.py:194-217 + dossier-code regex api_extractor.py:304-312.
    * Validity: mention must carry a dossier number (P5 analogue).
    */
  def caseMentions(turns: DataFrame): DataFrame =
    casesFrom(mentionsWide(turns))

  /** Fractie vote utterances → normalized votes —
    * reference xml_extractor.py:219-257 (+ vote normalization :244).
    */
  def voteMentions(turns: DataFrame): DataFrame =
    votesFrom(mentionsWide(turns))

  /** Vote utterances WITH the event-time column — the one consumer of `ts`
    * (the streaming watermarked window, StreamingPipeline.windowedVoteCounts)
    * gets its own view instead of `ts` riding — and being checkpointed
    * with — every batch-pipeline mention row.
    */
  def voteMentionsWithTs(turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        graft.functions.MentionExtract.of(col("text")).as("m"))
      .where(col("m").isNotNull && col("m.is_vote"))
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        col("m.fractie_naam").as("fractie_naam"),
        TextFunctions.normalizeVote(col("m.vote_raw")).as("vote_norm"))
}

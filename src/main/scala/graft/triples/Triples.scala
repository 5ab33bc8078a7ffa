package graft.triples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analysis.Interruptions
import graft.functions.TextFunctions
import graft.model.{InterruptionType, Pred}

/** Triple extraction — emits the typed `(subj, pred, obj)` Dataset that is the
  * canonical output unit of the pipeline (north rule), re-expressing the
  * reference's per-match Neo4j MERGE calls
  * (src/loaders/vlos_neo4j_loader.py:213-544) as declarative unions.
  *
  * Node-key convention: keys are namespaced (`persoon:P03`, `conv:c17`,
  * `zaak:Z36001-2`, `fractie:F05`, `mention:<md5>`, `vote:<md5>`) so one
  * string column carries (label, business key) — the reference's
  * (label, key-prop) pair (src/utils/helpers.py:13-27). Synthetic IDs are
  * content-stable md5 (the reference's process-salted Python `hash` is a
  * documented non-determinism we deliberately fix — SURVEY.md §7.4 / F13).
  *
  * Scale: every branch below is a narrow projection or a per-key
  * partial-aggregated distinct over already-linked rows; the only joins are
  * same-key equi-joins on `(conv_id, turn_idx)` (co-partitioned) and a
  * broadcast dim join for vote→fractie (J12). `unionByName` of the branches
  * introduces no shuffle of its own.
  */
object Triples {

  private val P = "persoon:"
  private val C = "conv:"
  private val F = "fractie:"

  private def persoonKey = concat(lit(P), col("persoon_id"))
  private def convKey = concat(lit(C), col("conv_id"))

  /** Projection without dedup — for branches whose input is already unique
    * per output key (one linker row per mention / one dict row per entity):
    * skipping the redundant `distinct` removes a full shuffle of the widest
    * data per branch.
    */
  private def triRaw(subj: org.apache.spark.sql.Column, pred: String,
      obj: org.apache.spark.sql.Column)(df: DataFrame): DataFrame =
    df.select(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))

  /** Mention provenance: VlosSpeaker-node MATCHES_PERSOON edge
    * (reference vlos_neo4j_loader.py:239-258).
    */
  def mentionMatches(linkedPersons: DataFrame): DataFrame =
    // linker emits exactly one row per mention key (argmax rn=1), so the
    // mention-keyed triple is unique by construction — no dedup shuffle
    triRaw(
      concat(lit("mention:"), TextFunctions.stableId(
        col("conv_id"), col("turn_idx"), col("v_first"), col("v_last"))),
      Pred.MatchesPersoon, persoonKey)(linkedPersons)

  /** Vote triples: synthetic vote node per utterance, fractie resolved by
    * name (J12 — reference vlos_neo4j_loader.py:536-540). `fracties` is a
    * broadcast dim.
    */
  def votes(voteMentions: DataFrame, fracties: DataFrame): DataFrame = {
    val withId = voteMentions
      .join(broadcast(fracties.select(col("naam"), col("fractie_id"))),
        voteMentions("fractie_naam") === col("naam"))
      .withColumn("vote_key", concat(lit("vote:"), TextFunctions.stableId(
        col("conv_id"), col("turn_idx"), col("fractie_naam"), col("vote_norm"))))
    // ≤1 vote mention per turn and the vote key embeds (conv, turn, naam,
    // vote) — both branches unique by construction
    triRaw(convKey, Pred.HasFractieVote, col("vote_key"))(withId)
      .unionByName(
        triRaw(col("vote_key"), Pred.CastByFractie, concat(lit(F), col("fractie_id")))(withId))
  }

  /** The raw (pred, a, b) branch union in COMPACT ID SPACE, pre-dedup —
    * the single source of the branch list (`allNonMentionCompact` adds the
    * prefix columns and the vote branches).
    */
  private def compactUnion(linkedPersons: DataFrame, linkedZaken: DataFrame,
      persons: DataFrame): DataFrame = {
    val speakers = linkedPersons
      .select(col("conv_id"), col("turn_idx"), col("persoon_id").as("speaker"))
    def compactTri(pred: org.apache.spark.sql.Column,
        a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)(
        df: DataFrame): DataFrame =
      df.select(pred.as("pred"), a.as("a"), b.as("b"))
    val z = linkedZaken.where(col("entity_id").isNotNull)
    // DISCUSSES input: when the linker output carries the co-row zaak link
    // (Pipeline.build threads z_entity_id/z_match_type through the argmax),
    // the same-turn speaker×zaak co-occurrence is a column reference — no
    // join. Plain linker output (direct callers) falls back to the
    // (conv_id, turn_idx) equi-join; both produce the same pairs because
    // the carried columns ARE the zaak link of the same turn row.
    def discussesPred(matchType: org.apache.spark.sql.Column) =
      when(matchType === graft.model.MatchType.Exact, Pred.DiscussesZaak)
        .otherwise(Pred.DiscussesDossier)
    // SPOKE_IN + CONTAINS_SPEAKER (+ DISCUSSES in carry mode) from ONE scan
    // of the linked blocks: each linker row emits its 2-3 compact triples
    // via an exploded struct array instead of one scan per branch — at
    // corpus scale the repeated block scans are pure memory traffic
    val linkedTris =
      if (linkedPersons.columns.contains("z_entity_id"))
        // the third struct's pred is NULL when the row carries no zaak link;
        // those sentinel rows are filtered right after the explode
        linkedPersons.select(explode(array(
          struct(lit(Pred.SpokeIn).as("pred"),
            col("persoon_id").as("a"), col("conv_id").as("b")),
          struct(lit(Pred.ContainsSpeaker).as("pred"),
            col("conv_id").as("a"), col("persoon_id").as("b")),
          struct(when(col("z_entity_id").isNotNull,
            discussesPred(col("z_match_type"))).as("pred"),
            col("persoon_id").as("a"), col("z_entity_id").as("b")))).as("t"))
          .select(col("t.pred").as("pred"), col("t.a").as("a"), col("t.b").as("b"))
          .where(col("pred").isNotNull)
      else {
        // plain linker output: DISCUSSES falls back to the co-partitioned
        // (conv_id, turn_idx) equi-join against the zaak links
        val discusses = linkedPersons.select("conv_id", "turn_idx", "persoon_id")
          .join(z.select("conv_id", "turn_idx", "entity_id", "match_type"),
            Seq("conv_id", "turn_idx"))
          .select(discussesPred(col("match_type")).as("pred"),
            col("persoon_id").as("a"), col("entity_id").as("b"))
        linkedPersons.select(explode(array(
          struct(lit(Pred.SpokeIn).as("pred"),
            col("persoon_id").as("a"), col("conv_id").as("b")),
          struct(lit(Pred.ContainsSpeaker).as("pred"),
            col("conv_id").as("a"), col("persoon_id").as("b")))).as("t"))
          .select(col("t.pred").as("pred"), col("t.a").as("a"), col("t.b").as("b"))
          .unionByName(discusses)
      }
    val events = Interruptions.detect(speakers)
    // ONE pass over the interruption events for all three predicates: the
    // three per-branch forms each re-planned the per-conversation
    // sort+window subtree (3× the window work inside the consuming job);
    // exploding an array of (pred, a, b) structs emits the same rows from
    // a single window pass
    val interruptionTris = events.select(explode(when(
      col("itype") === InterruptionType.WithResponse,
      array(
        struct(lit(Pred.InterruptedIn).as("pred"),
          col("interrupter").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.WasInterruptedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.RespondedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b"))))
      .otherwise(array(
        struct(lit(Pred.InterruptedIn).as("pred"),
          col("interrupter").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.WasInterruptedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b"))))).as("t"))
      .select(col("t.pred").as("pred"), col("t.a").as("a"), col("t.b").as("b"))
    linkedTris
      .unionByName(compactTri(lit(Pred.ContainsZaak), col("conv_id"), col("entity_id"))(z))
      .unionByName(compactTri(lit(Pred.MemberOf), col("persoon_id"), col("fractie_id"))(persons))
      .unionByName(interruptionTris)
  }

  /** The closed (pred, subj_pre, obj_pre) vocabulary of compact triple rows
    * — the prefix pair is a FUNCTION of the predicate (mention/vote rows
    * carry full keys with empty prefixes), which is what lets
    * `Materialize.alignedDedupCoded` dictionary-encode the whole string
    * triple to one small int for the write-aligned exchange, and what makes
    * `decode`'s id-space distinct exact. Mirrors `subjPrefixCol`/`objPrefixCol`
    * below; the agreement is pinned by TriplesSpec.
    */
  val compactVocab: Seq[(String, String, String)] = Seq(
    (Pred.SpokeIn, P, C),
    (Pred.DiscussesZaak, P, "zaak:"),
    (Pred.DiscussesDossier, P, "zaak:"),
    (Pred.InterruptedIn, P, C),
    (Pred.WasInterruptedIn, P, C),
    (Pred.RespondedIn, P, C),
    (Pred.MemberOf, P, F),
    (Pred.ContainsSpeaker, C, P),
    (Pred.ContainsZaak, C, "zaak:"),
    (Pred.HasFractieVote, "", ""),
    (Pred.CastByFractie, "", ""),
    (Pred.MatchesPersoon, "", ""))

  /** Key-namespace prefix of the subject / object as a function of the
    * predicate.
    */
  private def subjPrefixCol: org.apache.spark.sql.Column =
    when(col("pred").isin(Pred.ContainsSpeaker, Pred.ContainsZaak), C).otherwise(P)

  private def objPrefixCol: org.apache.spark.sql.Column =
    when(col("pred").isin(
      Pred.SpokeIn, Pred.InterruptedIn, Pred.WasInterruptedIn, Pred.RespondedIn), C)
      .when(col("pred").isin(Pred.DiscussesZaak, Pred.DiscussesDossier), "zaak:")
      .when(col("pred") === Pred.ContainsSpeaker, P)
      .when(col("pred") === Pred.ContainsZaak, "zaak:")
      .otherwise(F) // MEMBER_OF

  /** Every branch except mention provenance in COMPACT form — THE triple
    * derivation: one row per raw (pred, a, b) occurrence (no dedup here)
    * plus the namespace prefixes as data columns. Vote triples (unique by
    * construction, predicate-disjoint) carry their full key strings with
    * empty prefixes, so `concat(pre, id)` is the final key for every row.
    * Its consumers dedup it where it is cheapest: `decode` before building
    * key strings, `Materialize.writeGraphFused` inside its write-aligned
    * exchange. Mention provenance is left out because canonicalization
    * provably self-loops it away (`Canonicalize.rewriteCompact`).
    */
  def allNonMentionCompact(linkedPersons: DataFrame, linkedZaken: DataFrame,
      voteMentions: DataFrame, persons: DataFrame, fracties: DataFrame): DataFrame =
    compactUnion(linkedPersons, linkedZaken, persons)
      .select(col("pred"), col("a"), col("b"),
        subjPrefixCol.as("subj_pre"), objPrefixCol.as("obj_pre"))
      .unionByName(votes(voteMentions, fracties)
        .select(col("pred"), col("subj").as("a"), col("obj").as("b"),
          lit("").as("subj_pre"), lit("").as("obj_pre")))

  /** The string `(subj, pred, obj)` view of compact rows, as a set: the
    * distinct runs in COMPACT ID SPACE and the namespaced key strings are
    * built after it. Exact, because the prefix pair is a function of the
    * predicate (`compactVocab`), so id-space dedup ≡ string-space dedup. The
    * one corpus-sized exchange therefore carries ~1/3 the bytes of pre-built
    * key strings, and the concats run on the deduped (×5-10 smaller) rows.
    */
  def decode(compact: DataFrame): DataFrame =
    compact.select("pred", "a", "b", "subj_pre", "obj_pre").distinct()
      .select(concat(col("subj_pre"), col("a")).as("subj"), col("pred"),
        concat(col("obj_pre"), col("b")).as("obj"))

  /** Every branch except mention provenance, as a set of string triples:
    * `decode` of `allNonMentionCompact`.
    */
  def allNonMention(linkedPersons: DataFrame, linkedZaken: DataFrame,
      voteMentions: DataFrame, persons: DataFrame, fracties: DataFrame): DataFrame =
    decode(allNonMentionCompact(linkedPersons, linkedZaken, voteMentions, persons, fracties))

  /** The full triple set. Inputs are the upstream stage outputs; dims are the
    * dictionary DataFrames. (The mention branch is unique by construction,
    * disjoint from the rest by predicate, and `allNonMention` is already a
    * set — the union needs no further dedup.)
    */
  def all(linkedPersons: DataFrame, linkedZaken: DataFrame,
      voteMentions: DataFrame, persons: DataFrame, fracties: DataFrame): DataFrame =
    mentionMatches(linkedPersons)
      .unionByName(allNonMention(linkedPersons, linkedZaken, voteMentions, persons, fracties))
}

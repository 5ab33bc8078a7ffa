package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.canonicalize.Canonicalize
import graft.extract.Extract
import graft.link.Link
import graft.synth.Dict
import graft.triples.Triples

/** End-to-end pipeline facade: extract → link → triples → canonicalize.
  * The stage DAG mirrors the reference's loader ordering
  * (src/loaders/loader_manager.py:118-225): dimensions first (broadcast
  * dims feed the link stage), then the analysis pipeline.
  *
  * `linkedPersons` feeds three consumers (triples, interruptions, CC
  * edges) — it is persisted once per run so the extract+link work is not
  * recomputed per branch.
  */
object Pipeline {

  /** The canonical triple set has ONE derivation: `canonicalCompact`, the
    * pre-dedup compact rows (`Triples.allNonMentionCompact` with persoon
    * endpoints rewritten). Feed it to `Materialize.writeGraphFused`, whose
    * write-aligned exchange performs the dedup. `canonical` is its deduped
    * string view (`Triples.decode`) for every other consumer. `triples` is
    * the full pre-canonicalization set, mention provenance included.
    */
  final case class Stages(
      linkedPersons: DataFrame,
      linkedZaken: DataFrame,
      votes: DataFrame,
      triples: DataFrame,
      canonical: DataFrame,
      canonicalCompact: DataFrame)

  /** `linkStagingDir`: the linked-mentions intermediate feeds three
    * consumers. By default it is held as a lazy `localCheckpoint` —
    * right for single-box scale, but its blocks live in executor storage.
    * At 10^12 rows pass a staging dir instead: the intermediate becomes a
    * WRITTEN parquet table (durable, spillable, partition-prunable) that
    * each consumer re-reads — the cluster-scale form of the same seam.
    */
  def build(spark: SparkSession, turns: DataFrame,
      linkStagingDir: Option[String] = None): Stages = {
    // The raw-turn scan + regex evaluation is the dominant extract cost at
    // corpus scale — run it ONCE: the wide one-pass mention table
    // (Extract.mentionsWide) is checkpointed/staged, and the speaker/case/
    // vote branches are filtered projections of it. Round 2 re-scanned the
    // turns parquet (with regexes) once per mention type per action — two
    // full extra corpus passes inside the graph-write action.
    def stage(df: DataFrame, name: String): DataFrame = linkStagingDir match {
      case Some(dir) =>
        val path = s"$dir/$name"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      case None =>
        // lazy localCheckpoint rather than cache(): same recompute-
        // avoidance, PLUS it truncates the logical plan — downstream trees
        // (triples union branches, rewrite joins) otherwise each carry the
        // full extract subtree into Catalyst analysis/optimization on every
        // action, which is serial driver time. Block storage level is the
        // measured policy in graft.util.Ckpt (deserialized; the serialized
        // trade was A/B-rejected).
        graft.util.Ckpt(df)
    }
    // The staged wide table is PRUNED to the columns its three consumers
    // actually read downstream (round 6, guide §2.3 applied to checkpoint
    // blocks): `ts` is gone from the wide form entirely, and `kind` — only
    // needed by the standalone speaker-mention queries, never by the
    // pipeline (the link stage drops it) — is dropped before the
    // checkpoint. Checkpoint blocks are re-scanned by every consumer, so
    // dead columns are resident memory-bus bytes multiplied by the scan
    // count — the per-node term that does not scale with cores.
    //
    // The zaak tiers run HERE, once per build, inside the checkpoint: the
    // wide table is one row per turn, so a turn's speaker and case mentions
    // are the SAME row and both views below read the same carried
    // `z_entity_id` / `z_score` / `z_match_type` (broadcast tiers, no
    // shuffle). Speaker-only rows have a null `dossier_nr` and carry
    // (null, 0, NO_MATCH), as the per-view cascade gave them.
    val wide = stage(Link.zaakEntityCarry(Extract.mentionsWide(turns).drop("kind"),
      Dict.zakenDf(spark), Dict.dossiersDf(spark), Dict.documentsDf(spark)),
      "mentions")
    // The carried zaak link rides through the person-link argmax, so the
    // DISCUSSES triples read the carried columns instead of re-joining
    // linkedPersons × linkedZaken on (conv_id, turn_idx) (two corpus
    // exchanges saved per run).
    val speakers = wide.where(col("is_speaker"))
      .select("conv_id", "turn_idx", "v_first", "v_last", "z_entity_id", "z_match_type")
    val linkedRaw = Link.linkPersons(speakers, Dict.personsDf(spark),
      carry = Seq("z_entity_id", "z_match_type"))
    // Same pruning for the linked checkpoint: `score` and `fractie_id` are
    // dead past the link stage (triples build MEMBER_OF from the persons
    // dim; canonicalize reads surname/persoon columns; GraftApp's counters
    // read match_type) — they were checkpointed and re-scanned 3× per run.
    val linkedPersons = stage(linkedRaw.drop("score", "fractie_id"),
      "linked_persons")
    // the case view is a projection of the carried columns: no zaak join
    val linkedZaken = Link.carriedZaken(wide.where(col("is_case")))
    val votes = Extract.votesFrom(wide)
    val triples = Triples.all(linkedPersons, linkedZaken, votes,
      Dict.personsDf(spark), Dict.fractiesDf(spark))
    // Scale-path canonicalization: CC over the surface-form graph (bounded
    // by the alias space, not the corpus), then rewrite only `persoon:`
    // endpoints through the dimension-sized canon map (broadcast). The
    // mention branch provably self-loops away under rewrite, so it is never
    // computed here — equivalence with rewrite(all, canonicalMapScalable) is
    // asserted in ConnectedComponentsSpec. This removes every corpus-sized
    // shuffle from the canonicalize stage.
    val (persoonCanon, hasMerges) = Canonicalize.persoonCanonWithFlag(linkedPersons)
    val canonicalCompact = Canonicalize.rewriteCompact(
      Triples.allNonMentionCompact(linkedPersons, linkedZaken, votes,
        Dict.personsDf(spark), Dict.fractiesDf(spark)),
      persoonCanon, hasMerges)
    Stages(linkedPersons, linkedZaken, votes, triples,
      Triples.decode(canonicalCompact), canonicalCompact)
  }
}

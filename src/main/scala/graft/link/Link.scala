package graft.link

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions._
import graft.model.MatchType

/** Entity linking: candidate generation via broadcast dictionary joins on
  * block keys + the reference's weighted scoring + argmax selection.
  *
  * Re-expresses the reference's per-item API-lookup matching
  * (src/vlos/extractors/api_extractor.py:134-268,
  * src/vlos/matching/name_matcher.py:21-90) as declarative joins:
  *
  *  - The person dictionary is broadcast (dictionaries are ~5k rows at
  *    production scale — SURVEY.md §2.3), so linking 10^12 mentions is a
  *    map-side broadcast hash join with zero shuffle of the fact side.
  *    Hot mention keys (the chair appears in ~every fragment) are therefore
  *    harmless here — broadcast joins have no per-key reducer to skew. It is
  *    collected and prepared once per call on the driver (block rows,
  *    fallback rows, persoon ranks), so every broadcast is of a driver-local
  *    relation and needs no job.
  *  - Blocking = the join key (exact lowered surname), mirroring the
  *    reference's server-side `Achternaam eq '…'` filter (api_extractor.py:148-150);
  *    the contains-fallback tier only runs for mentions with no exact block hit.
  *  - Best-candidate selection = hash-aggregate argmax: `max` over one long
  *    packing (score, persoon rank), the rank ordering persoon_id in Spark's
  *    binary string order — the deterministic total order (score desc,
  *    persoon_id asc) replacing the reference's order-dependent first-best
  *    loop (name_matcher.py:71-81), stable under parallelism (SURVEY.md
  *    §7.4). Integer entity codes through the argmax, as SparkER keeps
  *    profiles as ids through blocking and matching. A hash aggregate
  *    rather than a `row_number` window or a struct `min_by` (both plan
  *    sorts): it partially combines map-side and never sorts — at 10^12
  *    mentions that is the difference between a sort of the corpus and a
  *    streaming reduction.
  */
object Link {

  /** Name-similarity score 0..100 — reference name_matcher.py:21-61 with
    * thresholds from vlos_config.py:35-43:
    *   +60 exact surname (bare or tussenvoegsel-full);
    *   else max(ratio(last,bare), ratio(last,full)) - 20 floored at 0;
    *   +40 if best first-name ratio >= 75, +20 if >= 60; capped at 100.
    */
  def nameScore(vFirst: Column, vLast: Column, bare: Column, full: Column,
      roepnaam: Column, voornamen: Column): Column = {
    val last = lower(vLast)
    val surnamePart = when(last === bare || last === full, 60)
      .otherwise(greatest(
        greatest(fuzzRatio(last, bare), fuzzRatio(last, full)) - 20, lit(0)))
    val bestFirst = greatest(
      fuzzRatio(lower(vFirst), lower(roepnaam)),
      fuzzRatio(lower(vFirst), lower(voornamen)))
    val firstPart = when(vFirst.isNull || vFirst === "", 0)
      .when(bestFirst >= 75, 40).when(bestFirst >= 60, 20).otherwise(0)
    least(surnamePart + firstPart, lit(100))
  }

  val MinSpeakerScore = 60 // vlos_config.py:43
  val ExactThreshold = 90 // name_matcher.py:84-90

  /** The dictionary with its two block keys as columns: `bare` (lowered
    * surname) and `full` (tussenvoegsel-full surname).
    */
  private def withSurnames(persons: DataFrame): DataFrame =
    persons
      .withColumn("bare", lower(col("achternaam")))
      .withColumn("full", fullSurname(col("tussenvoegsel"), col("achternaam")))

  /** Person dictionary exploded to one row per block key (bare surname and
    * tussenvoegsel-full surname), ready for an equi broadcast join.
    */
  def personBlocks(persons: DataFrame): DataFrame =
    withSurnames(persons)
      .withColumn("block_key", explode(array_distinct(array(col("bare"), col("full")))))

  /** Link speaker mentions to persons. Input: Extract.speakerMentions output.
    * Output: one row per MATCHED mention — mention keys + best persoon_id,
    * score, match_type (EXACT/FUZZY). Mentions with no candidate scoring
    * ≥ MinSpeakerScore are dropped (the reference returns None for them,
    * api_extractor.py:134-168); match-rate denominators therefore need the
    * mention count — see `linkPersonsWithNoMatch` for the padded variant the
    * ProcessingStatistics parity uses.
    */
  def linkPersons(mentions: DataFrame, persons: DataFrame): DataFrame =
    linkPersons(mentions, persons, Nil)

  /** As above with `carry` columns: extra mention-row attributes (constant
    * per mention by construction — e.g. the co-row zaak link the pipeline
    * attaches, see Pipeline.build) that ride through the candidate union
    * and the argmax as additional group keys, so downstream consumers need
    * no re-join on the mention key. Groups are unchanged because each carry
    * column is a function of the mention row.
    */
  def linkPersons(mentions: DataFrame, persons: DataFrame,
      carry: Seq[String]): DataFrame =
    linkPersons(mentions, persons, carry, None)

  /** Hard ceiling on `residual_rows × dictionary_rows` comparisons the
    * contains-fallback nested-loop tier may attempt (10^10 ≈ a few minutes
    * of one executor's `contains` throughput — past it the tier is the
    * wrong algorithm, not a slow path).
    */
  val DefaultMaxFallbackComparisons: Long = 10000000000L

  /** As above with an optional [[org.apache.spark.sql.Observation]] that
    * rides the fallback branch and reports `fallback_residual_rows` — the
    * number of mentions with NO exact surname-block hit. That residual is
    * the left side of a broadcast nested-loop `contains` join (residual ×
    * |dictionary| comparisons): fine while residuals stay the expected
    * trickle, INVISIBLE until slow on a dirty corpus where most surnames
    * miss the block. The counter makes the volume an emitted metric per
    * run. If `residual × dim_rows` grows past `maxFallbackComparisons`
    * (default 10^10), the job FAILS LOUDLY before the NLJ runs — an
    * in-plan guard (`assert_true` over a one-row broadcast of the residual
    * count, times the dictionary's row count as a literal, filtering the
    * residual side, so Catalyst cannot prune it and the first residual task
    * kills the job) — rather than quadratically absorbing a dirty corpus.
    * The escape hatch for a corpus that is legitimately over the cap:
    * switch the tier to a salted equi-join on dictionary-side token n-grams
    * (explode the dictionary's surname substrings of the residual token
    * lengths — turns `contains` into an equi-join at ×substring-count dim
    * blow-up), or raise the cap explicitly.
    *
    * The dictionary is prepared once on the driver (`personDict`); the
    * candidates carry the person's int rank, not its id strings, into the
    * argmax (`bestCandidate`).
    */
  def linkPersons(mentions: DataFrame, persons: DataFrame,
      carry: Seq[String],
      residualObs: Option[org.apache.spark.sql.Observation],
      maxFallbackComparisons: Long = DefaultMaxFallbackComparisons): DataFrame = {
    val dict = personDict(persons)
    val blocks = broadcast(dict.blocks)
    val blockHit = lower(col("v_last")) === col("block_key")

    // Tier 1: exact surname block join (reference api_extractor.py:148-155).
    val exact = mentions.join(blocks, blockHit)

    // Tier 2 (fallback): contains-join on the last token, only for mentions
    // with no exact hit (reference api_extractor.py:157-168). The fallback
    // side is a broadcast theta-join: tiny dim × (typically few) residuals.
    val lastToken = regexp_extract(lower(col("v_last")), "(\\S+)$", 1)
    val noExact0 = mentions.join(blocks, blockHit, "left_anti")
    val noExact = residualObs
      .map(o => noExact0.observe(o, count(lit(1)).as("fallback_residual_rows")))
      .getOrElse(noExact0)
    // in-plan volume guard (see Scaladoc): a one-row residual count
    // broadcast onto every residual row; assert_true sits inside the FILTER
    // predicate (`isNull` is true when the assertion passes) so Catalyst
    // cannot prune it away, and an over-cap volume throws in the first
    // residual task — BEFORE the contains-NLJ below absorbs the corpus. The
    // count rescans the (typically checkpointed) mentions.
    val volume = noExact0.groupBy().agg(count(lit(1)).as("residual_rows"))
    val dimRows = lit(dict.fallbackRows)
    val guarded = noExact
      .crossJoin(broadcast(volume))
      .where(assert_true(
        col("residual_rows") * dimRows <= lit(maxFallbackComparisons),
        format_string(
          "graft.link contains-fallback volume: %s residual mentions x %s " +
            "dictionary rows exceeds maxFallbackComparisons=%s — dirty " +
            "corpus would run quadratically; switch this tier to the salted " +
            "n-gram equi-join (Link.linkPersons Scaladoc) or raise the cap",
          col("residual_rows"), dimRows,
          lit(maxFallbackComparisons))).isNull)
      .drop("residual_rows")
    val fallback = guarded
      .withColumn("lt", lastToken)
      .join(broadcast(dict.fallback), col("bare").contains(col("lt")))
      .drop("lt")

    val cols = DefaultMentionKey ++ carry ++
      Seq("bare", "full", "roepnaam", "voornamen", "p_rank")
    val candidates = exact.select(cols.map(col): _*)
      .unionByName(fallback.select(cols.map(col): _*))
      .withColumn("score", nameScore(col("v_first"), col("v_last"),
        col("bare"), col("full"), col("roepnaam"), col("voornamen")))
      .where(col("score") >= MinSpeakerScore)

    bestCandidate(candidates, DefaultMentionKey ++ carry, dict.ranks)
      .withColumn("match_type",
        when(col("score") >= ExactThreshold, MatchType.Exact).otherwise(MatchType.Fuzzy))
  }

  /** The person dictionary prepared ONCE per `linkPersons` call, on the
    * driver. It is broadcast-sized by design and collected for its
    * broadcast anyway, so collecting it here lets every use be a
    * driver-local relation — a broadcast of a `LocalRelation` runs no job
    * (the rule `Dict.zakenDf` follows) — and keeps `explode`, `distinct`
    * shuffles and a dictionary-count aggregate out of the plan.
    *
    *  - `blocks`: `(block_key, bare, full, roepnaam, voornamen, p_rank)` —
    *    one row per (block key, candidate), the build side of the exact
    *    tier and of its anti join;
    *  - `fallback`: the contains tier's candidates, same columns with a
    *    null `block_key` (one schema, one generated row converter);
    *  - `fallbackRows`: the distinct dictionary-row count the volume guard
    *    multiplies by (what `personBlocks(persons).drop("block_key")
    *    .distinct()` counts);
    *  - `ranks`: `(p_rank, persoon_id, fractie_id)` — distinct
    *    (persoon_id, fractie_id) pairs ranked in Spark's binary UTF-8 string
    *    order (not Java `String` order), nulls first, so a smaller rank is
    *    exactly a smaller persoon_id in the argmax tie-break.
    */
  private final case class PersonDict(blocks: DataFrame, fallback: DataFrame,
      fallbackRows: Long, ranks: DataFrame)

  private def personDict(persons: DataFrame): PersonDict = {
    val spark = persons.sparkSession
    val rows = withSurnames(persons).collect().distinct.toSeq
    def s(r: Row, c: String): String = r.getAs[String](c)
    val utf8: Ordering[Option[String]] = Ordering.Option(Ordering.fromLessThan(
      (a: String, b: String) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0))
    val ids = rows.map(r => (s(r, "persoon_id"), s(r, "fractie_id"))).distinct
      .sortBy { case (p, f) => (Option(p), Option(f)) }(Ordering.Tuple2(utf8, utf8))
    val rankOf = ids.zipWithIndex.toMap
    def candidate(r: Row): Seq[Any] =
      Seq(s(r, "bare"), s(r, "full"), s(r, "roepnaam"), s(r, "voornamen"),
        rankOf((s(r, "persoon_id"), s(r, "fractie_id"))))
    val blocks = rows.flatMap { r =>
      Seq(s(r, "bare"), s(r, "full")).distinct.filter(_ != null).map(_ +: candidate(r))
    }
    val fallback = rows.map(null +: candidate(_))
    val rank = StructField("p_rank", IntegerType, nullable = false)
    def local(fields: Seq[StructField], rs: Seq[Seq[Any]]): DataFrame =
      spark.createDataFrame(rs.distinct.map(Row.fromSeq).asJava, StructType(fields))
    val columns = Seq("block_key", "bare", "full", "roepnaam", "voornamen")
      .map(StructField(_, StringType)) :+ rank
    PersonDict(
      blocks = local(columns, blocks),
      fallback = local(columns, fallback),
      fallbackRows = rows.size.toLong,
      ranks = local(Seq(rank, StructField("persoon_id", StringType),
        StructField("fractie_id", StringType)),
        ids.zipWithIndex.map { case ((p, f), i) => Seq(i, p, f) }))
  }

  private[link] val DefaultMentionKey =
    Seq("conv_id", "turn_idx", "v_first", "v_last")

  /** Deterministic argmax per mention key — score desc, then persoon_id asc
    * — as a HASH aggregate: (score, rank) is packed into one long,
    * `score << 32 | (Int.MaxValue - p_rank)`, whose `max` is the best
    * candidate, and the winner's ids come back through a broadcast join on
    * the driver-local rank table. A fixed-width long buffer is what lets
    * Spark plan a HashAggregate (partial-combined map-side, no sort, hot
    * mention keys combine before the shuffle); a `min_by` over struct
    * buffers plans as Sort + SortAggregate on both sides of the exchange.
    * `ranks` orders persoon_id in Spark's binary string order, so ties
    * resolve exactly as `(-score, persoon_id)` ascending does.
    */
  private[link] def bestCandidate(candidates: DataFrame, keyCols: Seq[String],
      ranks: DataFrame): DataFrame =
    candidates
      .groupBy(keyCols.map(col): _*)
      .agg(max(shiftleft(col("score").cast("long"), 32) +
        (lit(Int.MaxValue) - col("p_rank"))).as("best"))
      .select(keyCols.map(col) ++ Seq(
        shiftright(col("best"), 32).cast("int").as("score"),
        (lit(Int.MaxValue) - col("best").bitwiseAND(0xFFFFFFFFL)).cast("int").as("p_rank")): _*)
      .join(broadcast(ranks), "p_rank")
      .select(keyCols.map(col) ++
        Seq(col("persoon_id"), col("fractie_id"), col("score")): _*)

  /** `linkPersons` padded back to one row per mention: unmatched mentions are
    * emitted with null persoon_id, score 0, match_type NO_MATCH — the
    * reference's ProcessingStatistics denominator semantics
    * (vlos_pipeline.py:150-160 counts attempts, not successes).
    */
  def linkPersonsWithNoMatch(mentions: DataFrame, persons: DataFrame): DataFrame = {
    val linked = linkPersons(mentions, persons)
    mentions.select("conv_id", "turn_idx", "v_first", "v_last")
      .join(linked, Seq("conv_id", "turn_idx", "v_first", "v_last"), "left")
      .withColumn("score", coalesce(col("score"), lit(0)))
      .withColumn("match_type", coalesce(col("match_type"), lit(MatchType.NoMatch)))
  }

  /** J2: actor-priority candidate generation — the persons who are actors of
    * the conversation's matched activity are searched FIRST; the global
    * dictionary is consulted only when no actor candidate clears the
    * threshold (reference api_extractor.py:134-155: `find_persoon_by_name`
    * priority 1 = `_find_best_persoon_from_actors`, priority 2 = the global
    * Achternaam search). Priority is the leading component of the argmax
    * ordering (`source_rank` 0 = actor, 1 = global), so an actor-tier hit
    * beats any global candidate regardless of score — exactly the
    * reference's early-return. That argmax is a `min_by` over the struct
    * `(source_rank, -score, persoon_id)`, which Spark plans as a sort
    * aggregate — not the packed hash argmax of `linkPersons`.
    *
    * `actors`: `(conv_id, persoon_id)` — per-conversation actor sets. At
    * production scale this side is conv-count-sized (NOT broadcast): the
    * join on `(conv_id, surname-block)` is a shuffle equi-join, co-partitioned
    * with every other per-conversation stage.
    */
  def linkPersonsPriority(mentions: DataFrame, persons: DataFrame,
      actors: DataFrame): DataFrame = {
    val blocks = personBlocks(persons)
    val actorSide = actors
      .select(col("conv_id").as("a_conv"), col("persoon_id").as("a_pid"))
      .join(blocks.withColumnRenamed("persoon_id", "b_pid"),
        col("a_pid") === col("b_pid"))
      .withColumnRenamed("b_pid", "persoon_id")
    val mcols = Seq("conv_id", "turn_idx", "v_first", "v_last",
      "persoon_id", "fractie_id", "bare", "full", "roepnaam", "voornamen")
    val actorCands = mentions
      .join(actorSide, mentions("conv_id") === col("a_conv") &&
        lower(mentions("v_last")) === actorSide("block_key"))
      .select(mcols.map(col): _*)
      .withColumn("source_rank", lit(0))
    val globalCands = mentions
      .join(broadcast(blocks), lower(mentions("v_last")) === blocks("block_key"))
      .select(mcols.map(col): _*)
      .withColumn("source_rank", lit(1))
    val scored = actorCands.unionByName(globalCands)
      .withColumn("score", nameScore(col("v_first"), col("v_last"),
        col("bare"), col("full"), col("roepnaam"), col("voornamen")))
      .where(col("score") >= MinSpeakerScore)
    scored
      .groupBy("conv_id", "turn_idx", "v_first", "v_last")
      .agg(min_by(
        struct(col("persoon_id"), col("fractie_id"), col("score"), col("source_rank")),
        struct(col("source_rank"), (-col("score")).as("neg_score"),
          col("persoon_id"))).as("best"))
      .select(col("conv_id"), col("turn_idx"), col("v_first"), col("v_last"),
        col("best.persoon_id").as("persoon_id"),
        col("best.fractie_id").as("fractie_id"),
        col("best.score").as("score"),
        when(col("best.source_rank") === 0, "actor").otherwise("global").as("source"))
      .withColumn("match_type",
        when(col("score") >= ExactThreshold, MatchType.Exact).otherwise(MatchType.Fuzzy))
  }

  /** J7/U1: zaak matches from the agendapunten of accepted activity matches,
    * unioned with the text(XML)-derived matches — reference
    * vlos_pipeline.py:103-124 (`zaak_matches = xml_zaak_matches +
    * agendapunt_zaak_matches`), where each agendapunt-connected zaak becomes
    * an EXACT/100 match directly (`_create_zaak_match_from_agendapunt`,
    * :355-401).
    *
    * `acceptedMatches`: ActivityMatch output filtered to accepted rows
    *   (conv_id, cand_idx).
    * `agendapuntZaken`: broadcast dim (cand activity → its agendapunt's
    *   zaak ref) keyed (conv_id, cand_idx) in this synthetic domain.
    */
  def linkZakenUnion(textLinked: DataFrame, acceptedMatches: DataFrame,
      agendapuntZaken: DataFrame, zaken: DataFrame): DataFrame = {
    val outCols = Seq("conv_id", "turn_idx", "dossier_nr", "stuk_nr",
      "entity_id", "score", "match_type", "source").map(col)
    val z = broadcast(zaken.select(
      col("zaak_id"), col("dossier_nr").as("z_dnr"), col("stuk_nr").as("z_snr")))
    val ap = acceptedMatches
      .select("conv_id", "cand_idx")
      .join(agendapuntZaken, Seq("conv_id", "cand_idx"))
      .join(z, col("dossier_nr") === col("z_dnr") && col("stuk_nr") === col("z_snr"))
      .select(
        col("conv_id"), lit(null).cast("int").as("turn_idx"),
        col("dossier_nr"), col("stuk_nr"),
        col("zaak_id").as("entity_id"),
        lit(100).as("score"),
        lit(MatchType.Exact).as("match_type"),
        lit("agendapunt").as("source"))
    textLinked
      .withColumn("source", lit("xml"))
      .select(outCols: _*)
      .unionByName(ap.select(outCols: _*))
  }

  /** Zaak linking with the 3-tier fallback cascade — reference
    * api_extractor.py:207-268 + scoring vlos_pipeline.py:280-308:
    *   tier 1 (zaak on dossier+stuk)     → EXACT,    score 100
    *   tier 2 (dossier on dossier_nr)    → FALLBACK, score 75
    *   tier 3 (document on dossier+volg) → FALLBACK, score 60
    *   none                              → NO_MATCH, score 0
    * All three dims broadcast; the cascade is three left joins + coalesce,
    * evaluated in one pass over the mentions (no shuffle of the fact side).
    */
  def linkZaken(mentions: DataFrame, zaken: DataFrame, dossiers: DataFrame,
      documents: DataFrame): DataFrame =
    carriedZaken(zaakEntityCarry(mentions, zaken, dossiers, documents))

  /** `linkZaken`'s rows read off case-mention rows that already carry the
    * zaak tiers (`zaakEntityCarry`).
    */
  def carriedZaken(carried: DataFrame): DataFrame =
    carried.select(
      col("conv_id"), col("turn_idx"), col("dossier_nr"), col("stuk_nr"),
      col("toevoeging"),
      col("z_entity_id").as("entity_id"),
      col("z_score").as("score"),
      col("z_match_type").as("match_type"))

  /** The zaak tier cascade as a CARRY: attaches `z_entity_id` / `z_score` /
    * `z_match_type` to ANY frame with (dossier_nr, stuk_nr), keeping every
    * input column — still three broadcast left joins evaluated in one pass
    * with no fact-side shuffle. `linkZaken` is a projection of this
    * (`carriedZaken`). The pipeline applies it ONCE, to the wide mention
    * table inside its checkpoint: the table is one row per turn, so a
    * turn's speaker and case mentions are the SAME row, and both views read
    * the same carried columns — the DISCUSSES derivation becomes a column
    * reference instead of a fact×fact join on (conv_id, turn_idx). Exact
    * for speaker-only rows too: their `dossier_nr` is null, so every tier
    * misses and they carry (null, 0, NO_MATCH).
    */
  def zaakEntityCarry(df: DataFrame, zaken: DataFrame, dossiers: DataFrame,
      documents: DataFrame): DataFrame = {
    val z = broadcast(zaken.select(
      col("zaak_id"), col("dossier_nr").as("z_dnr"), col("stuk_nr").as("z_snr")))
    val d = broadcast(dossiers.select(
      col("dossier_nr").as("d_dnr"),
      concat(lit("D"), col("dossier_nr").cast("string")).as("dossier_id")))
    val doc = broadcast(documents.select(
      col("dossier_nr").as("doc_dnr"), col("volgnummer").as("doc_volg"),
      concat(lit("DOC"), col("dossier_nr").cast("string"), lit("-"),
        col("volgnummer").cast("string")).as("document_id")))

    df
      .join(z, col("dossier_nr") === col("z_dnr") && col("stuk_nr") === col("z_snr"), "left")
      .join(d, col("dossier_nr") === col("d_dnr"), "left")
      .join(doc, col("dossier_nr") === col("doc_dnr") &&
        col("stuk_nr") === col("doc_volg"), "left")
      .withColumn("z_entity_id",
        coalesce(col("zaak_id"), col("dossier_id"), col("document_id")))
      .withColumn("z_score",
        when(col("zaak_id").isNotNull, 100)
          .when(col("dossier_id").isNotNull, 75)
          .when(col("document_id").isNotNull, 60)
          .otherwise(0))
      .withColumn("z_match_type",
        when(col("zaak_id").isNotNull, MatchType.Exact)
          .when(col("dossier_id").isNotNull || col("document_id").isNotNull, MatchType.Fallback)
          .otherwise(MatchType.NoMatch))
      .drop("zaak_id", "z_dnr", "z_snr", "d_dnr", "dossier_id",
        "doc_dnr", "doc_volg", "document_id")
  }
}

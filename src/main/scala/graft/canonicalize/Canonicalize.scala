package graft.canonicalize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.model.Pred

/** Entity canonicalization: cluster mention surface forms with the entities
  * they link to via connected components, pick the lexicographically smallest
  * member as the canonical representative, and rewrite triples through the
  * mapping.
  *
  * Replaces the reference's implicit canonicalization (same Neo4j MERGE key ⇒
  * same node, src/utils/helpers.py:13-27) with an explicit, testable stage —
  * and goes further: two dictionary entries linked by a shared mention
  * surface collapse into one canonical entity, which MERGE-by-key cannot do.
  */
object Canonicalize {

  /** Match edges `(mention-node, persoon-node)` from the linker output —
    * the same namespaced keys Triples.mentionMatches emits.
    */
  def matchEdges(linkedPersons: DataFrame): DataFrame =
    linkedPersons.select(
      concat(lit("mention:"), TextFunctions.stableId(
        col("conv_id"), col("turn_idx"), col("v_first"), col("v_last"))).as("u"),
      concat(lit("persoon:"), col("persoon_id")).as("v")).distinct()

  /** Co-reference edges over SURFACE FORMS (lowercased name pair) rather
    * than per-occurrence mentions: the same (v_first, v_last) always links
    * to the same entity (scoring is a pure function of the names), so the
    * CC input is bounded by the alias space (≈ dictionary size × forms) —
    * NOT by corpus size. At 10^12 turns this is the difference between CC
    * over ~10^5 edges and CC over 10^12 star edges whose answer is known.
    */
  def surfaceEdges(linkedPersons: DataFrame): DataFrame =
    surfaceEdgeRows(linkedPersons).distinct()

  /** `surfaceEdges` before its dedup: one row per linker row. */
  private def surfaceEdgeRows(linkedPersons: DataFrame): DataFrame =
    linkedPersons.select(
      concat(lit("surface:"), lower(col("v_first")), lit("|"),
        lower(col("v_last"))).as("u"),
      concat(lit("persoon:"), col("persoon_id")).as("v"))

  /** `(node, component)` for every node incident to a match edge
    * (per-occurrence node space — small inputs / tests).
    */
  def components(linkedPersons: DataFrame): DataFrame =
    ConnectedComponents.run(matchEdges(linkedPersons))

  /** Canonical entity id per cluster: the smallest `persoon:`-namespaced
    * member if the cluster contains one (mentions canonicalize to their
    * entity), else the smallest member overall (unlinked-mention clusters).
    * Returns `(node, canon)`.
    */
  def canonicalMap(comps: DataFrame): DataFrame = {
    val best = comps.groupBy("component").agg(
      min(when(col("node").startsWith("persoon:"), col("node"))).as("entity_min"),
      min("node").as("node_min"))
    comps.join(best, "component")
      .select(col("node"), coalesce(col("entity_min"), col("node_min")).as("canon"))
  }

  /** Scalable canonical map: CC over the surface-form graph, then projected
    * back onto the per-occurrence mention node space (broadcast join of the
    * tiny surface→canon map against the linker output). For linker-produced
    * input (argmax ⇒ one entity per surface form) this yields exactly the
    * same (node, canon) pairs as `canonicalMap(components(linked))` —
    * asserted in ConnectedComponentsSpec — with CC cost independent of
    * corpus size. (On adversarial inputs where one surface links different
    * entities in different occurrences, surface-level CC merges MORE —
    * that is the intended entity-resolution semantics.)
    */
  def canonicalMapScalable(linkedPersons: DataFrame): DataFrame = {
    val surfaceCanon = canonicalMap(ConnectedComponents.run(surfaceEdges(linkedPersons)))
    val persoonRows = surfaceCanon.where(col("node").startsWith("persoon:"))
    val surfaceRows = broadcast(
      surfaceCanon.where(col("node").startsWith("surface:"))
        .withColumnRenamed("node", "surface_key"))
    val mentionRows = linkedPersons
      .withColumn("surface_key",
        concat(lit("surface:"), lower(col("v_first")), lit("|"), lower(col("v_last"))))
      .join(surfaceRows, "surface_key")
      .select(
        concat(lit("mention:"), TextFunctions.stableId(
          col("conv_id"), col("turn_idx"), col("v_first"), col("v_last"))).as("node"),
        col("canon"))
      .distinct()
    mentionRows.unionByName(persoonRows)
  }

  /** `(persoon canon rows, hasMerges)` with the whole dimension-bounded CC +
    * canonical-rule fold done on the DRIVER when the surface edge set is
    * small (it is, by construction — alias space, not corpus): one collect
    * job replaces the per-round star jobs, the canonical-map groupBy/join,
    * and the has-merges probe — all pure serial latency in the scaling
    * budget. Distributed fallback above the threshold.
    */
  def persoonCanonWithFlag(linkedPersons: DataFrame,
      localMaxEdges: Int = 2000000): (DataFrame, Boolean) = {
    val spark = linkedPersons.sparkSession
    // undeduplicated: both paths dedup globally first (the collect in a
    // map-side-combined shuffle, the distributed loop in its first step)
    val edges = surfaceEdgeRows(linkedPersons)
    ConnectedComponents.collectIfSmall(edges, localMaxEdges) match {
      case None =>
        val m = canonicalMap(ConnectedComponents.run(edges))
          .where(col("node").startsWith("persoon:"))
        (m, !m.where(col("node") =!= col("canon")).isEmpty)
      case Some(collected) =>
        val comps = ConnectedComponents.localUnionFind(collected.toSeq)
        val canon = comps.groupBy(_._2).iterator.flatMap { case (_, members) =>
          val ms = members.map(_._1)
          val rep = ms.filter(_.startsWith("persoon:")).minOption.getOrElse(ms.min)
          ms.iterator.map(_ -> rep)
        }.toSeq
        val persoonRows = canon.filter(_._1.startsWith("persoon:"))
        import spark.implicits._
        (persoonRows.toDF("node", "canon"),
          persoonRows.exists { case (n, c) => n != c })
    }
  }

  /** String-space form of `rewriteCompact` over `Triples.allNonMention`
    * rows — kept as the reference the specs and the benchmark compare the
    * compact path against; production code derives canonical triples as
    * `Triples.decode(rewriteCompact(…))`.
    *
    * Key fact (provable from the linker's construction): every
    * MATCHES_PERSOON triple collapses to a self-loop under rewrite. A
    * mention node's canon is the canon of its surface-form cluster; the
    * linked persoon is IN that cluster (the (surface, persoon) edge exists
    * because this linker row exists), so subj-canon == obj-canon, and
    * `rewrite` drops the row. The canonical set is therefore exactly the
    * NON-mention triples with `persoon:` endpoints rewritten through the
    * dimension-sized persoon canon map (`persoonCanonWithFlag`) — two
    * broadcast joins instead of two corpus-sized sort-merge joins, and when
    * CC produced no cross-entity merges (`hasMerges` false: the map is the
    * identity) the rewrite and the re-dedup are skipped entirely, because
    * `allNonMention` is already a set.
    */
  def canonicalTriples(nonMentionTriples: DataFrame, persoonCanon: DataFrame,
      hasMerges: Boolean): DataFrame = {
    if (!hasMerges) nonMentionTriples
    else {
      val subjMap = broadcast(persoonCanon
        .select(col("node").as("subj"), col("canon").as("subj_canon")))
      val objMap = broadcast(persoonCanon
        .select(col("node").as("obj"), col("canon").as("obj_canon")))
      nonMentionTriples
        .join(subjMap, Seq("subj"), "left")
        .join(objMap, Seq("obj"), "left")
        .select(
          coalesce(col("subj_canon"), col("subj")).as("subj"),
          col("pred"),
          coalesce(col("obj_canon"), col("obj")).as("obj"))
        .distinct()
    }
  }

  /** Persoon-endpoint rewrite in COMPACT ID SPACE (the fused-write path,
    * `Triples.allNonMentionCompact` rows): rows whose subject / object
    * prefix is `persoon:` get their raw id mapped through the
    * dimension-sized canon map — two BROADCAST left joins, fully map-side,
    * BEFORE the write-aligned exchange, so dedup downstream runs once over
    * post-rewrite rows (merge-collapsed duplicates included) and the bucket
    * hash is computed on the canonical key. `hasMerges=false` (the
    * identity map) skips everything. `Pipeline.build` feeds the result to
    * both `Triples.decode` (the string view) and `Materialize.writeGraphFused`.
    */
  def rewriteCompact(compact: DataFrame, persoonCanon: DataFrame,
      hasMerges: Boolean): DataFrame = {
    if (!hasMerges) compact
    else {
      val P = "persoon:"
      // raw-id form of the map: "persoon:X" -> "persoon:Y" becomes X -> Y
      // (a cluster containing a persoon node always canonicalizes to a
      // persoon node, so the canon side carries the prefix too)
      val raw = persoonCanon.select(
        expr(s"substring(node, ${P.length + 1})").as("k"),
        expr(s"substring(canon, ${P.length + 1})").as("v"))
      val subjMap = broadcast(raw.select(col("k").as("_sk"), col("v").as("_sv")))
      val objMap = broadcast(raw.select(col("k").as("_ok"), col("v").as("_ov")))
      compact
        .join(subjMap, col("subj_pre") === P && col("a") === col("_sk"), "left")
        .join(objMap, col("obj_pre") === P && col("b") === col("_ok"), "left")
        .select(col("pred"),
          coalesce(col("_sv"), col("a")).as("a"),
          coalesce(col("_ov"), col("b")).as("b"),
          col("subj_pre"), col("obj_pre"))
    }
  }

  /** Rewrite triple endpoints through the canonical map (two left joins;
    * un-mapped nodes stay themselves), then re-dedup. Identity edges created
    * by the rewrite (mention → its own canon via MATCHES_PERSOON) collapse to
    * self-loops and are dropped. The generic reference the scale path
    * (`persoonCanonWithFlag` + `rewriteCompact`) is checked against.
    */
  def rewrite(triples: DataFrame, canonMap: DataFrame): DataFrame = {
    val subjMap = canonMap.select(col("node").as("subj"), col("canon").as("subj_canon"))
    val objMap = canonMap.select(col("node").as("obj"), col("canon").as("obj_canon"))
    triples
      .join(subjMap, Seq("subj"), "left")
      .join(objMap, Seq("obj"), "left")
      .select(
        coalesce(col("subj_canon"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_canon"), col("obj")).as("obj"))
      .where(!(col("subj") === col("obj") && col("pred") === Pred.MatchesPersoon))
      .distinct()
  }
}

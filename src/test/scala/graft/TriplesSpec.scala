package graft

import org.apache.spark.sql.DataFrame
import graft.model.{MatchType, Pred}
import graft.triples.Triples

/** The compact triple form's closed vocabulary: every `(pred, subj_pre,
  * obj_pre)` row `Triples.allNonMentionCompact` emits is an entry of
  * `Triples.compactVocab`. The fused writer's prefix coding and `decode`'s
  * id-space distinct both rely on it.
  */
class TriplesSpec extends SparkSpec {
  import spark.implicits._

  private val persons = Seq(("P1", "F1"), ("P2", "F1"), ("P3", "F2"))
    .toDF("persoon_id", "fractie_id")
  private val fracties = Seq(("Alpha", "F1"), ("Beta", "F2")).toDF("naam", "fractie_id")
  private val votes = Seq(("c1", 3, "Alpha", "voor"))
    .toDF("conv_id", "turn_idx", "fractie_naam", "vote_norm")
  // one exact zaak link and one dossier-tier link
  private val zaken = Seq(("c1", 0, "Z1", MatchType.Exact), ("c1", 1, "D2", MatchType.Fuzzy))
    .toDF("conv_id", "turn_idx", "entity_id", "match_type")
  // P1, P2, P1 in c1: an interruption with response
  private val linked = Seq(
    ("c1", 0, "Anna", "Jansen", "P1"),
    ("c1", 1, "", "Berg", "P2"),
    ("c1", 2, "Anna", "Jansen", "P1")
  ).toDF("conv_id", "turn_idx", "v_first", "v_last", "persoon_id")
  // the same links in the carry form Pipeline.build produces
  private val linkedCarry = linked.join(
    zaken.withColumnRenamed("entity_id", "z_entity_id")
      .withColumnRenamed("match_type", "z_match_type"),
    Seq("conv_id", "turn_idx"), "left")

  private def vocabRows(linkedPersons: DataFrame): Set[(String, String, String)] =
    Triples.allNonMentionCompact(linkedPersons, zaken, votes, persons, fracties)
      .select("pred", "subj_pre", "obj_pre").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("every compact row's (pred, subj_pre, obj_pre) is in compactVocab") {
    val vocab = Triples.compactVocab.toSet
    for ((lp, form) <- Seq((linked, "join"), (linkedCarry, "carry"))) {
      val rows = vocabRows(lp)
      assert(rows.subsetOf(vocab), s"$form form: outside the vocabulary: ${rows -- vocab}")
      // the fixture emits every predicate the compact derivation has
      assert(rows.map(_._1) == vocab.map(_._1) - Pred.MatchesPersoon,
        s"$form form: predicates not covered: ${vocab.map(_._1) -- rows.map(_._1)}")
    }
  }
}

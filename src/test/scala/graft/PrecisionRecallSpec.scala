package graft

import graft.pipeline.Pipeline
import graft.synth.TranscriptGen

/** North-rule gate: pipeline triple set vs the row-at-a-time RowOracle at
  * P/R ≥ 0.95 (exact equality expected at this scale — SURVEY.md §5.2).
  */
class PrecisionRecallSpec extends SparkSpec {

  test("canonical triples match the row-at-a-time oracle with P = R = 1.0") {
    val turnsDf = TranscriptGen.transcripts(spark, SparkSpec.testdata("sf0.001"))
    val collected = turnsDf.select("conv_id", "turn_idx", "text").collect()
      .map(r => RowOracle.T(r.getString(0), r.getInt(1), r.getString(2))).toSeq
    val expected = RowOracle.canonicalTriples(collected)

    val canonical = Pipeline.build(spark, turnsDf).canonical
    // the Set below would hide duplicate rows: the canonical set is a set
    val n = canonical.count()
    assert(n == canonical.distinct().count(), s"duplicate canonical rows among $n")
    val got = canonical.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    val inter = got.intersect(expected)
    val precision = inter.size.toDouble / got.size
    val recall = inter.size.toDouble / expected.size
    withClue(s"P=$precision R=$recall got=${got.size} expected=${expected.size} " +
      s"spuriousSample=${(got -- expected).take(3)} missingSample=${(expected -- got).take(3)}") {
      assert(precision == 1.0 && recall == 1.0)
    }
    assert(got.nonEmpty)
  }
}

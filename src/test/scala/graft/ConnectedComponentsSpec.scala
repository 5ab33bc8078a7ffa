package graft

import scala.util.Random
import graft.canonicalize.{Canonicalize, ConnectedComponents}

/** Large-star/small-star CC vs a union-find oracle, including multi-round
  * convergence shapes (long chains) and hot-hub stars.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Union-find oracle: node -> min node of its component. */
  private def oracle(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.values.flatMap { ns => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  private def run(edges: Seq[(String, String)]): Map[String, String] =
    ConnectedComponents.run(edges.toDF("u", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("long chain converges to single min-labeled component (multi-round)") {
    val edges = (0 until 32).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val got = run(edges)
    assert(got.values.toSet == Set("n00"))
    assert(got.keySet.size == 33)
  }

  test("two disjoint components keep separate representatives") {
    val got = run(Seq(("a", "b"), ("b", "c"), ("x", "y")))
    assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
    assert(got("x") == "x" && got("y") == "x")
  }

  test("hot hub star (skew shape) resolves to hub-component min") {
    val edges = (1 to 200).map(i => (f"leaf$i%03d", "hub")) :+ (("aaa", "hub"))
    val got = run(edges)
    assert(got.values.toSet == Set("aaa"))
  }

  test("self-loops and duplicate edges are harmless") {
    val got = run(Seq(("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")))
    assert(got == Map("a" -> "a", "b" -> "a"))
  }

  test("randomized graphs match union-find oracle (seeded)") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = (1 to n).map { _ =>
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")
      }.filter(e => e._1 != e._2)
      assert(run(edges) == oracle(edges), s"trial $trial")
    }
  }

  test("localUnionFind survives a 200k-edge chain (iterative find, union by size)") {
    // chain order builds the adversarial O(N) parent path that a recursive
    // find without rank overflows the driver stack on (ADVICE r2)
    val n = 200000
    val edges = (0 until n).map(i => (f"a$i%07d", f"a${i + 1}%07d"))
    val got = ConnectedComponents.localUnionFind(edges)
    assert(got.size == n + 1)
    assert(got.values.toSet == Set("a0000000"))
    // reversed order hits the opposite chain direction
    val gotRev = ConnectedComponents.localUnionFind(edges.reverse)
    assert(gotRev.values.toSet == Set("a0000000"))
  }

  test("surface-level scalable canonical map equals occurrence-level CC on linker output") {
    // shape of real linker output: one persoon per (surface) form
    val linked = Seq(
      ("c1", 0, "Anna", "Jansen", "P1"),
      ("c2", 7, "Anna", "Jansen", "P1"), // same surface, different conv
      ("c1", 5, "", "Jansen", "P1"),
      ("c3", 2, "", "Berg", "P3")
    ).toDF("conv_id", "turn_idx", "v_first", "v_last", "persoon_id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val occurrence = asMap(Canonicalize.canonicalMap(Canonicalize.components(linked)))
    val scalable = asMap(Canonicalize.canonicalMapScalable(linked))
    assert(scalable == occurrence)
  }

  // identity case: argmax-shaped linker output (one persoon per surface)
  private lazy val cleanLinked = Seq(
    ("c1", 0, "Anna", "Jansen", "P1"),
    ("c1", 2, "", "Berg", "P2"),
    ("c1", 5, "", "Jansen", "P1")
  ).toDF("conv_id", "turn_idx", "v_first", "v_last", "persoon_id")

  // merge case: one surface linking two entities collapses P3 into P2
  private lazy val mergedLinked = Seq(
    ("c1", 0, "Anna", "Jansen", "P1"),
    ("c2", 1, "", "Smit", "P2"),
    ("c2", 4, "", "Smit", "P3")
  ).toDF("conv_id", "turn_idx", "v_first", "v_last", "persoon_id")

  test("scale-path canonicalTriples equals generic rewrite (identity and merge cases)") {
    import org.apache.spark.sql.functions.col
    val personsDim = Seq(("P1", "F1"), ("P2", "F1"), ("P3", "F2"))
      .toDF("persoon_id", "fractie_id")
    val fractiesDim = Seq(("Alpha", "F1"), ("Beta", "F2")).toDF("naam", "fractie_id")
    val zaken = Seq(("c1", 0, "Z1", "EXACT")).toDF("conv_id", "turn_idx", "entity_id", "match_type")
    val votes = Seq(("c1", 3, "Alpha", "voor")).toDF("conv_id", "turn_idx", "fractie_naam", "vote_norm")
    def canonSets(linked: org.apache.spark.sql.DataFrame) = {
      val full = graft.canonicalize.Canonicalize.rewrite(
        graft.triples.Triples.all(linked, zaken, votes, personsDim, fractiesDim),
        Canonicalize.canonicalMapScalable(linked))
      val (canon, hasMerges) = Canonicalize.persoonCanonWithFlag(linked)
      val fast = Canonicalize.canonicalTriples(
        graft.triples.Triples.allNonMention(linked, zaken, votes, personsDim, fractiesDim),
        canon, hasMerges)
      // the production derivation: compact rewrite, then the string view
      val production = graft.triples.Triples.decode(Canonicalize.rewriteCompact(
        graft.triples.Triples.allNonMentionCompact(linked, zaken, votes, personsDim,
          fractiesDim), canon, hasMerges))
      def s(df: org.apache.spark.sql.DataFrame) =
        df.select(col("subj"), col("pred"), col("obj"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(s(production) == s(fast))
      (s(full), s(fast))
    }
    val (fullClean, fastClean) = canonSets(cleanLinked)
    assert(fastClean == fullClean)
    val (fullMerged, fastMerged) = canonSets(mergedLinked)
    assert(fastMerged == fullMerged)
    assert(fastMerged.exists(_._1 == "persoon:P2") &&
      !fastMerged.exists(t => t._1 == "persoon:P3" && t._2 == "SPOKE_IN"))
  }

  test("persoon canon map: distributed CC fallback equals the driver-side path") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((linked, expectMerges) <- Seq((cleanLinked, false), (mergedLinked, true))) {
      val (local, localMerges) = Canonicalize.persoonCanonWithFlag(linked)
      // localMaxEdges = 1: every input here has more surface edges, so CC
      // runs distributed
      val (dist, distMerges) = Canonicalize.persoonCanonWithFlag(linked, localMaxEdges = 1)
      assert(asMap(dist) == asMap(local))
      assert(distMerges == localMerges && localMerges == expectMerges)
    }
  }

  test("canonicalMap prefers entity-namespaced representative") {
    val linked = Seq(
      // two mention surfaces both linking to P1 -> one cluster, canon persoon:P1
      ("c1", 0, "Anna", "Jansen", "P1"),
      ("c1", 5, "", "Jansen", "P1"),
      // a mention linking to both P2 and P3 merges them (cross-entity cluster)
      ("c2", 1, "", "Smit", "P2"),
      ("c2", 1, "", "Smit", "P3")
    ).toDF("conv_id", "turn_idx", "v_first", "v_last", "persoon_id")
    val canon = Canonicalize.canonicalMap(Canonicalize.components(linked))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon("persoon:P1") == "persoon:P1")
    assert(canon("persoon:P2") == "persoon:P2")
    assert(canon("persoon:P3") == "persoon:P2") // merged via shared mention
    assert(canon.count { case (n, c) => n.startsWith("mention:") && c == "persoon:P1" } == 2)
  }
}

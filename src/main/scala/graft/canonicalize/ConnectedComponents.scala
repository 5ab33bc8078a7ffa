package graft.canonicalize

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Connected components over an edge DataFrame via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — the canonicalization primitive of the
  * north rule, replacing the reference's in-memory PROCESSED-set +
  * Neo4j-MERGE-key entity canonicalization (SURVEY.md §7.2 step 6).
  *
  * Design for 10^12-edge scale:
  *  - No per-node adjacency materialization (`collect_set` would OOM on hot
  *    hubs like the chair): both star operations are expressed as a per-node
  *    `min` aggregation joined back edge-at-a-time, so partial aggregation
  *    (map-side combine) absorbs skew and the shuffle carries one row per
  *    (node, min) + one per edge.
  *  - O(log n) rounds (vs O(diameter) for naive label propagation).
  *  - `localCheckpoint` each round cuts the exponentially-growing lineage
  *    (SURVEY.md §7.4).
  *  - Convergence detection via a count+checksum pair — one cheap aggregate
  *    per round instead of a full self-join diff.
  */
object ConnectedComponents {

  /** Adaptive entry: when the (deduplicated) edge set fits the driver
    * comfortably — the surface-form graph is DIMENSION-bounded (≈ alias
    * space ~10^5, never corpus-sized) and its canonical map feeds a
    * broadcast join, i.e. the data ends up on the driver anyway — run
    * union-find locally: ONE collect job instead of one job per star round
    * (each distributed round costs a full driver round-trip, which is pure
    * serial time in the scaling budget). Falls back to the distributed
    * large/small-star loop above the threshold.
    */
  def auto(edges: DataFrame, localMaxEdges: Int = 2000000): DataFrame = {
    val spark = edges.sparkSession
    collectIfSmall(edges, localMaxEdges) match {
      case None => run(edges)
      case Some(es) =>
        import spark.implicits._
        localUnionFind(es.toSeq).toSeq.toDF("node", "component")
    }
  }

  /** The ONE collect-threshold policy (shared by `auto` and
    * Canonicalize.persoonCanonWithFlag — ADVICE r2: two inlined copies
    * drift): normalize + dedup the edges, collect them if they fit under
    * `localMaxEdges`, else None (caller runs the distributed loop).
    */
  private[graft] def collectIfSmall(edges: DataFrame,
      localMaxEdges: Int): Option[Array[(String, String)]] = {
    val e = edges.select(col("u").cast("string"), col("v").cast("string"))
      .where(col("u") =!= col("v"))
    // ONE collect job over every partition at once: the edge set is
    // dimension-bounded, and a `limit(n).collect()` would ramp up
    // incrementally (1 → 4 → 16 → 64 partitions = 4 driver-serial jobs,
    // ~2 s each measured, at EVERY cluster size — pure Amdahl). The dedup
    // is global and comes first (an RDD shuffle with map-side combine,
    // which adds no generated class to the build's codegen working set), so
    // the partitions are disjoint and the driver-memory guard is the one a
    // one-job `CollectLimit` has: each task ships at most
    // `localMaxEdges + 1` edges, and the driver keeps results only until
    // their union passes `localMaxEdges`.
    //
    // It runs in the CALLER's session as a SQL execution of its own, like a
    // Dataset action, and leaves the session conf as it is (ADVICE r3: a
    // conf override, even one restored in a finally, races any concurrent
    // query on the same session). Its tasks therefore load generated classes
    // through the session's class loader — part of the codegen cache key —
    // and reuse what the pipeline's other jobs compiled; a throwaway
    // `newSession()` would run under a new loader and miss every entry.
    val cap = localMaxEdges + 1
    val kept = ArrayBuffer.empty[(String, String)]
    val qe = e.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collectIfSmall")) {
      val distinct = qe.toRdd.map(r => (r.getString(0), r.getString(1))).distinct()
      distinct.sparkContext.runJob(distinct,
        (it: Iterator[(String, String)]) => it.take(cap).toArray,
        (_: Int, part: Array[(String, String)]) =>
          if (kept.length <= localMaxEdges) kept ++= part: Unit)
    }
    if (kept.length > localMaxEdges) None else Some(kept.toArray)
  }

  /** Driver-side union-find with min-node component labels — semantics
    * identical to `run` (asserted against the same oracle in
    * ConnectedComponentsSpec). `find` is ITERATIVE (walk to root, second
    * pass compresses) and union is BY SIZE: chain-ordered edge lists
    * (a1-a2, a2-a3, …) otherwise build an O(N) parent chain whose recursive
    * traversal overflows the driver stack well below the 2M-edge collect
    * threshold (ADVICE r2) — exercised by a 200k-edge chain in
    * ConnectedComponentsSpec.
    */
  private[graft] def localUnionFind(
      edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    val size = scala.collection.mutable.Map[String, Int]()
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (sa, sb) = (size.getOrElse(ra, 1), size.getOrElse(rb, 1))
        val (small, big) = if (sa < sb) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) = sa + sb
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.groupBy(find).iterator.flatMap { case (_, ns) =>
      val m = ns.min
      ns.iterator.map(_ -> m)
    }.toMap
  }

  /** `edges(u, v)`: undirected string-keyed edges. Returns `(node, component)`
    * for every node incident to an edge, where `component` is the
    * lexicographically smallest node in its component (deterministic
    * canonical representative). Isolated nodes don't appear — callers union
    * them back with `component = node`.
    */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    require(maxIter > 0)
    // lazy localCheckpoint: the signature aggregate is the action that
    // materializes the checkpoint — ONE Spark job per round (an eager
    // checkpoint would cost a second full pass), while still cutting
    // lineage so per-round plans stay constant-size.
    var e = edges.select(col("u").cast("string"), col("v").cast("string"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var converged = false
    var iter = 0
    var sig = signature(e)
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      iter += 1
    }
    if (!converged)
      // surface, don't silently mislabel: partially-converged labels would
      // merge clusters incompletely downstream (ADVICE r1)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds " +
          s"(last signature $sig); raise maxIter")
    // At convergence every edge is (child, root): project to labels, and give
    // roots their own label row.
    val child = e.select(col("u").as("node"), col("v").as("component"))
    val roots = e.select(col("v").as("node"), col("v").as("component")).distinct()
    child.unionByName(roots).groupBy("node").agg(min("component").as("component"))
  }

  /** (row count, order-insensitive hash) — equal signatures ⇒ same edge set
    * (modulo an astronomically unlikely 64-bit collision; acceptable for a
    * convergence test bounded by maxIter anyway). `bit_xor` rather than `sum`:
    * commutative, and cannot overflow under ANSI mode.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Large-star: for each node u over its full (symmetric) neighborhood,
    * m = min(N(u) ∪ {u}); connect every strictly-larger neighbor to m.
    */
  private[canonicalize] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(least(min("v"), first("u")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: orient each edge high→low; for each node u over its smaller
    * neighbors, m = min; connect every smaller neighbor (and u itself) to m.
    */
  private[canonicalize] def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = oriented.groupBy("u").agg(min("v").as("m"))
    val neighborToMin = oriented.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
    val selfToMin = mins.select(col("u"), col("m").as("v"))
    neighborToMin.unionByName(selfToMin)
      .where(col("u") =!= col("v"))
      .distinct()
  }
}

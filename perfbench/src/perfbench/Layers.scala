package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The repository's modules as the traced run names them. `analysis` and
  * `dataops` are the query operators; `driver` is Spark driver-serial time.
  */
object Layers {
  val Compute: Seq[String] =
    Seq("extract", "link", "canonicalize", "materialize", "checkpoint", "analysis", "dataops")
  val Stats: Seq[String] = Seq("wall_s", "self_s", "task_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "rows_in", "rows_out")
  val InflationLayers: Seq[String] = Seq("extract", "link", "canonicalize", "materialize")

  /** The analyst queries the traced run times: `kg_two_hop` and
    * `td_ngram_jaccard_pairs` (both have open work in ROADMAP.md), and two
    * more of the round-6 cost ranking cheap enough to fit the run, one per
    * layer.
    */
  val Queries: Seq[String] =
    Seq("td_ngram_jaccard_pairs", "td_ann_topk", "kg_relmap_edges", "kg_two_hop")

  def queryLayer(q: String): String = if (q.startsWith("td_")) "dataops" else "analysis"

  /** Every per-layer metric with its unit, in report order. A workload that
    * does not exercise a metric reports 0 for it.
    */
  val Metrics: Seq[(String, String)] =
    Compute.flatMap(l => Stats.map(s => s"$l.$s" -> unitOf(s))) ++ Seq(
      "unattributed.task_s" -> "s", "unattributed.wall_s" -> "s",
      "extract.ckpt_mb" -> "MB", "link.ckpt_mb" -> "MB",
      "link.hit_ratio" -> "ratio", "link.exact_ratio" -> "ratio",
      "link.fallback_rows" -> "count",
      "canonicalize.edges" -> "count", "canonicalize.merges" -> "count",
      "materialize.dedup_ratio" -> "ratio", "materialize.bytes_written_mb" -> "MB",
      "materialize.files" -> "count",
      "materialize.buckets_touched" -> "count", "materialize.rewrite_amplification" -> "ratio",
      "materialize.staging_mb" -> "MB",
      "checkpoint.resume_s" -> "s", "checkpoint.skipped_rows" -> "count",
      "driver.gap_s" -> "s", "driver.jobs" -> "count", "driver.stages" -> "count",
      "trace.total_task_s" -> "s", "trace.overhead" -> "ratio", "jvm.peak_heap_mb" -> "MB",
      "op.wall_s" -> "s") ++
      Queries.map(q => s"q.$q.s" -> "s") ++
      InflationLayers.map(l => s"$l.task_inflation" -> "ratio")

  private def unitOf(stat: String): String =
    if (stat.endsWith("_s")) "s" else if (stat.endsWith("_mb")) "MB" else "count"
}

/** What the listener and the tracer saw during one pass. */
final case class PassTrace(spans: Seq[Span], totals: Map[String, LayerTotals],
    tasks: Seq[(Long, Long)], allTaskNs: Long, startMs: Long, endMs: Long)

/** Collects traced passes and turns them into per-layer metrics: each value
  * is the mean over passes of that pass's total.
  */
final class LayerStats(spark: SparkSession) {
  val tracer = new SpanTracer(spark)
  private val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  private val passes = mutable.ArrayBuffer.empty[PassTrace]
  private val extras = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def extra(name: String, v: Double): Unit =
    extras.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run `body` as one traced pass under a root span; returns its result and
    * wall seconds. Tasks outside the root span are not counted.
    */
  def pass[T](name: String)(body: => T): (T, Double) = {
    listener.settle(spark)
    listener.take()
    tracer.drain()
    val ms0 = System.currentTimeMillis()
    val (r, secs) = Harness.timed(tracer.span(name, LayerListener.Unattributed)(body))
    val ms1 = System.currentTimeMillis()
    listener.settle(spark)
    val (totals, tasks, all) = listener.take()
    passes += PassTrace(tracer.drain(), totals, tasks, all, ms0, ms1)
    (r, secs)
  }

  /** Discard what the listener saw outside a pass (e.g. counter queries). */
  def discard(): Unit = {
    listener.settle(spark)
    listener.take()
    tracer.drain()
  }

  /** Per-layer totals of one pass. */
  def summarize(p: PassTrace): Map[String, Double] = {
    val byId = p.spans.map(s => s.id -> s).toMap
    val children = p.spans.groupBy(_.parent)
    def self(s: Span) =
      Span.selfNanos((s.start, s.end), children.getOrElse(Some(s.id), Nil).map(c => (c.start, c.end)))
    def insideSameLayer(s: Span): Boolean = {
      var cur = s.parent.flatMap(byId.get)
      var found = false
      while (cur.isDefined && !found) {
        found = cur.get.layer == s.layer
        cur = cur.get.parent.flatMap(byId.get)
      }
      found
    }
    val out = mutable.Map.empty[String, Double]
    val mb = 1048576.0
    (Layers.Compute :+ LayerListener.Unattributed).foreach { l =>
      val spans = p.spans.filter(_.layer == l)
      out(s"$l.wall_s") = spans.filterNot(insideSameLayer).map(_.nanos).sum / 1e9
      out(s"$l.self_s") = spans.map(self).sum / 1e9
      out(s"$l.ckpt_mb") = spans.map(_.ckptBytes).sum / mb
      val t = p.totals.getOrElse(l, new LayerTotals)
      out(s"$l.task_s") = t.taskNs / 1e9
      out(s"$l.gc_s") = t.gcNs / 1e9
      out(s"$l.shuffle_write_mb") = t.shuffleWrite / mb
      out(s"$l.shuffle_read_mb") = t.shuffleRead / mb
      out(s"$l.spill_mb") = t.spill / mb
      out(s"$l.rows_in") = t.rowsIn.toDouble
      out(s"$l.rows_out") = t.rowsOut.toDouble
      out(s"$l.bytes_written_mb") = t.bytesWritten / mb
    }
    out("unattributed.wall_s") = out("unattributed.self_s")
    out("driver.jobs") = p.totals.values.map(_.jobs).sum.toDouble
    out("driver.stages") = p.totals.values.map(_.stages).sum.toDouble
    val busy = Span.covered(p.tasks.map { case (a, b) => (math.max(a, p.startMs), math.min(b, p.endMs)) })
    out("driver.gap_s") = (p.endMs - p.startMs - busy) / 1e3
    out("trace.total_task_s") = p.allTaskNs / 1e9
    p.spans.filter(_.name.startsWith("q.")).foreach(s => out(s"${s.name}.s") = s.nanos / 1e9)
    out.toMap
  }

  /** Task time attributed to the layers and the unattributed row, against
    * the task time of every task the listener saw, per pass.
    */
  def attributionGap(): Double = passes.map { p =>
    val attributed = (Layers.Compute :+ LayerListener.Unattributed)
      .map(l => p.totals.get(l).map(_.taskNs).getOrElse(0L)).sum
    math.abs(attributed - p.allTaskNs) / 1e9
  }.maxOption.getOrElse(0.0)

  /** Summary of the most recent pass. */
  def lastPass(): Map[String, Double] = passes.lastOption.map(summarize).getOrElse(Map.empty)

  /** Mean per pass of every summarized value, plus the extras' means. */
  def metrics(): Map[String, Double] = {
    val sums = passes.map(summarize)
    val keys = sums.flatMap(_.keys).distinct
    keys.map(k => k -> sums.map(_.getOrElse(k, 0.0)).sum / math.max(1, sums.size)).toMap ++
      extras.map { case (k, xs) => k -> xs.sum / xs.size }
  }
}

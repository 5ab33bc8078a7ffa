package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of a traced pass: `layer` is the repository module the
  * wrapped call belongs to, `parent` the span that caused it.
  */
final case class Span(id: Int, parent: Option[Int], name: String, layer: String,
    start: Long, end: Long, ckptBytes: Long) {
  def nanos: Long = end - start
}

object Span {

  /** Length covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part of it its children cover
    * (children are clipped to the span; overlapping children count once).
    */
  def selfNanos(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    (e - s) - covered(children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) })
  }
}

/** Wraps calls into a layer. The untraced run uses [[NoTrace]], so both runs
  * execute the same calls.
  */
trait Tracer {
  def span[T](name: String, layer: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String, layer: String)(body: => T): T = body
}

/** Records spans in memory and sets the Spark job group to the innermost
  * span's layer, so [[LayerListener]] can attribute every task to a layer.
  * Each span also records the bytes of block storage (checkpoints) created
  * while it was open.
  */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String)]
  private var nextId = 0

  private def stored(): Map[Int, Long] =
    sc.getRDDStorageInfo.map(r => r.id -> (r.memSize + r.diskSize)).toMap

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    val before = stored()
    open = (id, name, layer) :: open
    sc.setJobGroup(layer, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val created = stored().collect { case (rdd, b) if !before.contains(rdd) => b }.sum
      done += Span(id, parent, name, layer, t0, t1, created)
      open = open.tail
      open.headOption match {
        case Some((_, n, l)) => sc.setJobGroup(l, n)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spans closed since the last call, in the order they were opened. */
  def drain(): Seq[Span] = {
    val out = done.sortBy(_.id).toList
    done.clear()
    out
  }
}

/** Task metrics summed for one layer. Times in nanoseconds, sizes in bytes. */
final class LayerTotals {
  var taskNs = 0L
  var gcNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  var bytesWritten = 0L
  var jobs = 0L
  var stages = 0L
}

/** Attributes each finished task to the job group that was active when its
  * job started (the layer of the innermost open span), or to
  * [[LayerListener.Unattributed]].
  */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val totals = mutable.Map.empty[String, LayerTotals]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private var allTaskNs = 0L

  private def layerOf(stage: Int): String =
    Option(stageLayer.get(stage)).getOrElse(LayerListener.Unattributed)

  private def acc(layer: String): LayerTotals =
    totals.getOrElseUpdate(layer, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.Unattributed)
    e.stageInfos.foreach(si => stageLayer.putIfAbsent(si.stageId, layer))
    acc(layer).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(layerOf(e.stageInfo.stageId)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(layerOf(e.stageId))
      val runNs = m.executorRunTime * 1000000L
      a.taskNs += runNs
      allTaskNs += runNs
      a.gcNs += m.jvmGCTime * 1000000L
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.rowsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      a.rowsOut += m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  /** Wait until every event posted so far has been handled. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Totals per layer, all task intervals (epoch ms), and the task time of
    * every task whether attributed or not; then start from zero.
    */
  def take(): (Map[String, LayerTotals], Seq[(Long, Long)], Long) = synchronized {
    val out = (totals.toMap, tasks.toList, allTaskNs)
    totals.clear()
    tasks.clear()
    allTaskNs = 0L
    out
  }
}

object LayerListener {
  val Unattributed = "unattributed"
}

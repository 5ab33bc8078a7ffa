package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Options of one run, as passed on the command line. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: Path)

/** Wall seconds, and the CPU seconds all of the JVM's threads used meanwhile
  * (time the host's hypervisor steals from this VM is in the first only).
  */
final case class Timing(wall: Double, cpu: Double)

/** Times operations, counts attempted and failed ones, and keeps samples. */
final class Harness(var spark: SparkSession, val opts: Opts) {
  val samples = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  var attempted = 0
  var failed = 0
  var peakHeapMb = 0.0

  def work: Path = opts.work

  def add(name: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty))._2 += v

  /** `<name>_s` (wall) and `<name>_cpu_s` samples. */
  def addTiming(name: String, t: Timing): Unit = {
    add(s"${name}_s", "s", t.wall)
    add(s"${name}_cpu_s", "s", t.cpu)
  }

  def values(name: String): Seq[Double] =
    samples.get(name).map(_._2.toSeq).getOrElse(Nil)

  def fail(what: String, why: String): Unit = {
    failed += 1
    println(s"[perfbench] FAILED $what: $why")
  }

  /** A check that is not part of an operation counts as one attempt. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) fail(what, "check failed")
  }

  /** One operation: `body` is timed; `check` (untimed) must accept its
    * result. A throw or a rejected result counts as failed and yields None.
    */
  def op[T](what: String)(body: => T)(check: T => Boolean): Option[(T, Timing)] = {
    attempted += 1
    try {
      val (r, t) = Harness.measure(body)
      val ok = check(r)
      Harness.log(f"$what%s: ${t.wall}%.3f s wall, ${t.cpu}%.3f s cpu")
      if (opts.trace) sampleHeap()
      if (ok) Some((r, t)) else { fail(what, "output check failed"); None }
    } catch {
      case NonFatal(e) =>
        fail(what, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Live heap after a full collection: the old generation once everything
    * unreachable is gone. Taken after each operation of a traced run; the
    * peak is reported as `jvm.peak_heap_mb`. (Block-manager cleanup is
    * asynchronous, so it varies too much between runs for an end-to-end
    * bound.)
    */
  def sampleHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen"))
      .map(_.getUsage.getUsed).sum
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  /** Repeat the set-up `reps` times (fresh directories), record each as a
    * `setup_wall_s` and a `setup_cpu_s` sample, and return the index of the
    * last repetition.
    */
  def setup(reps: Int)(one: Int => Unit): Int = {
    (0 until reps).foreach { i =>
      val (_, t) = Harness.measure(one(i))
      add("setup_wall_s", "s", t.wall)
      add("setup_cpu_s", "s", t.cpu)
      Harness.log(f"setup $i: ${t.wall}%.3f s wall, ${t.cpu}%.3f s cpu")
    }
    reps - 1
  }

  /** Add a one-off set-up cost (e.g. a base warehouse) to every sample. */
  def shiftSetup(t: Timing): Unit = {
    def shift(name: String, by: Double) =
      samples.get(name).foreach { case (_, xs) => xs.indices.foreach(i => xs(i) += by) }
    shift("setup_wall_s", t.wall)
    shift("setup_cpu_s", t.cpu)
  }

  /** Passes until `seconds` have elapsed, at least `min` of them. */
  def loop(seconds: Double, min: Int)(pass: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      pass
      i += 1
    }
  }

  def report(name: String): Unit = samples.get(name).foreach { case (unit, xs) =>
    println(f"  $name%-28s ${Stats.describe(xs.toSeq, unit)}")
  }
}

object Harness {
  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench +$up%.1fs] $msg")
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def measure[T](body: => T): (T, Timing) = {
    val w0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    val r = body
    (r, Timing((System.nanoTime() - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }

  def timed[T](body: => T): (T, Double) = {
    val (r, t) = measure(body)
    (r, t.wall)
  }
}

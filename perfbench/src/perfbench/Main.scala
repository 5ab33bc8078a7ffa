package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point the benchmark's `run.py` launches; see perfbench/README.md. */
object Main {

  /** The session every workload runs in. Pinned here, and read from no
    * environment variable, so what is measured cannot drift with the shell:
    * the values are `graft.Bench`'s documented defaults.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.locality.wait", "0")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.rdd.compress", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.maxConcurrentOutputFileWriters", "8")
    graft.link.Salting.AqeSkewConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.FuzzRatio.register(spark)
    spark
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case k :: v :: rest if k.startsWith("--") && !v.startsWith("--") =>
      parse(rest) + (k.drop(2) -> v)
    case k :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> "")
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"unexpected argument ${other.head}")
  }

  private def json(metrics: Seq[(String, Double, String)], correct: Boolean, attempted: Int,
      failed: Int): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList)
    val work = Paths.get(a("work"))
    if (a.contains("self-test")) {
      SelfTest.run(work)
      return
    }
    require(sys.env.get("SPARK_GRAFT_CKPT_SER").isEmpty,
      "SPARK_GRAFT_CKPT_SER must be unset: the benchmark measures the default checkpoint level")
    val opts = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cores").toInt, work)
    val h = new Harness(session(opts.cores, work), opts)
    val conf = h.spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"[perfbench] commit=${a("commit")} source=${a("source-hash")} " +
      s"workload=${opts.workload} seed=${opts.seed} seconds=${opts.seconds} " +
      s"trace=${a("trace")} master=local[${opts.cores}] " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576}")
    println(s"[perfbench] config: $conf")

    Harness.log("session ready")
    val out = Workloads.run(h)
    Harness.log("workload done")
    h.spark.stop()

    println(s"[perfbench] ${opts.workload}:")
    h.samples.keys.foreach(h.report)
    if (opts.trace) println(f"  peak_heap_mb                 ${h.peakHeapMb}%.1f MB")
    println(f"  failed_frac                  ${h.failed}/${h.attempted} = " +
      f"${h.failed.toDouble / math.max(1, h.attempted)}%.4f")

    val metrics =
      if (!opts.trace) Seq(
        ("op_cpu_s", out("op_cpu_s"), "s"),
        ("setup_s", Stats.median(h.values("setup_cpu_s")), "s"),
        ("warehouse_bytes_per_triple", Stats.median(h.values("warehouse_bytes_per_triple")), "B"))
      else {
        val all = out + ("jvm.peak_heap_mb" -> h.peakHeapMb)
        Layers.Metrics.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    if (opts.trace) metrics.filter(_._2 != 0).foreach { case (n, v, u) =>
      println(f"  $n%-40s $v%.4f $u")
    }
    metrics.filterNot(m => java.lang.Double.isFinite(m._2))
      .foreach(m => h.fail(m._1, "not a finite number"))
    val safe = metrics.map { case (n, v, u) => (n, if (java.lang.Double.isFinite(v)) v else 0.0, u) }
    Files.writeString(Paths.get(a("result")),
      json(safe, h.failed == 0, h.attempted, h.failed) + "\n")
  }
}

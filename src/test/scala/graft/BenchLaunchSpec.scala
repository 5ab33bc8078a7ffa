package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's Spark session settings and its child-JVM command lines are
  * part of the measurement protocol: ledger pairs from earlier record runs
  * are only comparable if both stay exactly as they were. Every expected
  * value below is written out literally.
  */
class BenchLaunchSpec extends AnyFunSuite {

  private def expectedConf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (4 * cores).toString,
    "spark.sql.files.maxPartitionBytes" -> "16777216",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> "/dev/shm/graft-bench/local",
    "spark.executor.cores" -> "1",
    "spark.executor.memory" -> "4g",
    "spark.cores.max" -> cores.toString,
    "spark.locality.wait" -> "0",
    "spark.io.compression.codec" -> "lz4",
    "spark.rdd.compress" -> "false",
    "spark.sql.parquet.compression.codec" -> "snappy",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.maxConcurrentOutputFileWriters" -> "8",
    "spark.sql.adaptive.enabled" -> "true")

  test("bench session settings are the record runs' values at every level") {
    Seq(1, 4, 8, 32).foreach { cores =>
      val conf = Bench.sessionConf(cores, "4g")
      assert(conf.map(_._1).distinct.size == conf.size, s"duplicate key in $conf")
      assert(conf.toMap == expectedConf(cores), s"at $cores cores")
    }
  }

  /** `.config("key", expr)` lines of perfbench's pinned session, with the
    * value evaluated at `cores` when it is a literal or a product of
    * integer literals and `cores`; None for any other expression.
    */
  private def perfbenchConf(cores: Int): Map[String, Option[String]] = {
    val src = Paths.get("perfbench/src/perfbench/Main.scala")
    assert(Files.exists(src), s"missing $src")
    val Config = """^\s*\.config\("([^"]+)",\s*(.+)\)\s*$""".r
    val Literal = "\"([^\"]*)\"".r
    def eval(expr: String): Option[String] = expr.trim match {
      case Literal(v) => Some(v)
      case e if e.endsWith(".toString") =>
        val factors = e.stripSuffix(".toString").stripPrefix("(").stripSuffix(")")
          .split('*').map(_.trim)
        val vals = factors.map {
          case "cores" => Some(cores.toLong)
          case f => f.stripSuffix("L").toLongOption
        }
        if (vals.forall(_.isDefined)) Some(vals.flatten.product.toString) else None
      case _ => None
    }
    val lines = scala.io.Source.fromFile(src.toFile, "UTF-8")
    try lines.getLines().collect { case Config(k, v) => k -> eval(v) }.toMap
    finally lines.close()
  }

  test("bench session agrees with perfbench's pinned session on every shared key") {
    val cores = 4
    val bench = Bench.sessionConf(cores, "4g").toMap
    val pinned = perfbenchConf(cores) ++
      graft.link.Salting.AqeSkewConf.map { case (k, v) => k -> Some(v) }
    // per-run directories are the only settings perfbench derives from its
    // work path; everything else it pins as a value
    assert(pinned.collect { case (k, None) => k }.toSet ==
      Set("spark.local.dir", "spark.sql.warehouse.dir"))
    val shared = pinned.collect { case (k, Some(v)) if bench.contains(k) => k -> v }
    assert(shared.size >= 11, s"too few shared keys: $shared")
    shared.foreach { case (k, v) => assert(bench(k) == v, s"$k: bench ${bench(k)}, perfbench $v") }
  }

  private val javaExe = "/jdk/bin/java"
  private val launcher = Bench.Launcher(javaExe, "CP")
  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("cluster daemons: pinned, module opens, heap, system properties") {
    assert(launcher.daemon("30-31", "1g", "org.apache.spark.deploy.master.Master",
      Seq("--host", "127.0.0.1", "--port", "7177", "--webui-port", "8190"),
      Seq("-Dspark.master.rest.enabled=false")) ==
      Seq("taskset", "-c", "30-31", javaExe) ++ opens ++ Seq("-Xmx1g",
        "-Dspark.master.rest.enabled=false", "-cp", "CP",
        "org.apache.spark.deploy.master.Master", "--host", "127.0.0.1",
        "--port", "7177", "--webui-port", "8190"))
    assert(launcher.daemon("3", "1g", "org.apache.spark.deploy.worker.Worker",
      Seq("--cores", "1"), Nil) ==
      Seq("taskset", "-c", "3", javaExe) ++ opens ++ Seq("-Xmx1g", "-cp", "CP",
        "org.apache.spark.deploy.worker.Worker", "--cores", "1"))
  }

  test("clock spinner: serial GC, one processor per spun core, no module opens") {
    assert(launcher.spinner(2, 5) == Seq("taskset", "-c", "2-4", javaExe,
      "-Xmx64m", "-XX:+UseSerialGC", "-XX:ActiveProcessorCount=3",
      "-cp", "CP", "graft.Spinner", "3"))
  }

  test("clock probe: heap sized by thread count, optional ALU-only mode") {
    assert(launcher.probe("0-1", 1, aluOnly = false) == Seq("taskset", "-c",
      "0-1", javaExe, "-Xmx768m", "-cp", "CP", "graft.AluProbe", "1"))
    assert(launcher.probe("0-4", 4, aluOnly = true) == Seq("taskset", "-c",
      "0-4", javaExe, "-Xmx1536m", "-cp", "CP", "graft.AluProbe", "4", "alu"))
  }

  test("compute control: pinned from core 0, n+1 processors") {
    assert(launcher.control(4, 2, pinned = 5) ==
      Seq("taskset", "-c", "0-4", javaExe) ++ opens ++ Seq("-Xmx4g",
        "-XX:ActiveProcessorCount=5", "-Dspark.ui.enabled=false", "-cp", "CP",
        "graft.ComputeControl", "4", "2"))
  }

  test("dataflow child: heap, n+1 processors, UTC session, abort threshold") {
    assert(launcher.child("0-1", "20g", "local[1]", 1, "/in/turns", "/in/warm",
      2, 0.0) ==
      Seq("taskset", "-c", "0-1", javaExe) ++ opens ++ Seq("-Xmx20g",
        "-XX:ActiveProcessorCount=2", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", "CP", "graft.BenchChild",
        "local[1]", "1", "/in/turns", "/in/warm", "2", "0.000"))
    assert(launcher.child("28-29", "8g", "spark://127.0.0.1:7177", 4, "/a",
      "/b", 3, 612.34567).takeRight(7) ==
      Seq("graft.BenchChild", "spark://127.0.0.1:7177", "4", "/a", "/b", "3",
        "612.346"))
  }
}

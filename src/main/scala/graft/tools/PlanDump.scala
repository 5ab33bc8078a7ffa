package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round instrumentation (guide §1): dump the FORMATTED physical
  * plan of every declared query to `<outDir>/<name>_<suffix>.txt`, and
  * optionally time each query with the noop sink (guide §1.4 — computes every
  * column of every row, no sink cost, full plan in the SQL tab) with labeled
  * jobs (§1.5).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [time|plan]
  *        [queryNameFilter...]
  *
  * One query's plan and timing: `PlanDump <sfDir> <outDir> <suffix> time
  * <queryName>` (writes the formatted plan, prints two timed runs).
  *
  * Separate main from `graft.Bench` (the driver-contract bench is frozen);
  * this is the §1.4 isolation harness the round's evidence cites.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val doTime = args.lift(3).contains("time")
    val only = args.drop(4).toSet

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-plandump")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Files.createDirectories(Paths.get(outDir))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val planTxt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          planTxt.getBytes("UTF-8"))
        val tPlan = (System.nanoTime() - t0) / 1e9
        if (doTime) {
          // two timed noop executions; report both (min = noise-robust)
          val times = (1 to 2).map { i =>
            spark.sparkContext.setJobDescription(s"$name run$i")
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t1) / 1e9
          }
          println(f"TIME $name%-28s plan ${tPlan}%6.2f s  run1 ${times(0)}%7.2f s  run2 ${times(1)}%7.2f s")
        } else println(f"PLAN $name%-28s ${tPlan}%6.2f s")
      } catch {
        case e: Throwable =>
          println(s"FAIL $name: ${String.valueOf(e.getMessage).take(200)}")
      } finally spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}

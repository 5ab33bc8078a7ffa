package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the environment variables the program reads. Adding or
  * removing a knob means editing `Kept` here, so every change to the set
  * shows up in review.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val Kept = Seq(
    "SPARK_GRAFT_ARTIFACT_FILE", "SPARK_GRAFT_BENCH_MODE",
    "SPARK_GRAFT_BENCH_REPL", "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_CHILD_MEM", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CTRL_ROWS",
    "SPARK_GRAFT_CTRL_RUNS", "SPARK_GRAFT_DRIVER_CORE",
    "SPARK_GRAFT_EQ_CLOCK", "SPARK_GRAFT_EST_PAIR_SEC",
    "SPARK_GRAFT_EXEC_MEM", "SPARK_GRAFT_HI_RESERVE_MIN",
    "SPARK_GRAFT_KILL_STRAY_BENCH", "SPARK_GRAFT_LEDGER",
    "SPARK_GRAFT_MAX_ABORTS", "SPARK_GRAFT_MAX_PAIRS",
    "SPARK_GRAFT_PAIR_BUDGET_MIN", "SPARK_GRAFT_PAIR_LEDGER",
    "SPARK_GRAFT_PAIR_SAMPLES", "SPARK_GRAFT_PROBE_SLEEP_SEC",
    "SPARK_GRAFT_QUAL_CLOCK", "SPARK_GRAFT_QUAL_CTRL",
    "SPARK_GRAFT_QUAL_FLOOR_TOL", "SPARK_GRAFT_QUAL_MEMBW",
    "SPARK_GRAFT_QUAL_PAIRS", "SPARK_GRAFT_RUN_ABORT_X",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_TOTAL_BUDGET_MIN",
    "SPARK_GRAFT_WORKER_MEM")

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  // an env access and the variable name it reads, possibly across lines:
  // `sys.env("X")`, `sys.env.get("X")`, `sys.env\n  .getOrElse("X", …)`
  private val EnvRead =
    """(?:sys\.env|System\.getenv)(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*"([A-Za-z_][A-Za-z0-9_]*)"""".r
  private val EnvAccess = """sys\.env|System\.getenv""".r

  test("every environment read names its variable literally") {
    sources.foreach { case (p, text) =>
      assert(EnvAccess.findAllMatchIn(text).size == EnvRead.findAllMatchIn(text).size,
        s"$p reads the environment through a non-literal name")
    }
  }

  test("the variables read under src/main/scala are exactly the kept knobs") {
    assert(Kept.size == 30 && Kept.distinct == Kept)
    val read = sources.flatMap { case (_, t) => EnvRead.findAllMatchIn(t).map(_.group(1)) }
    assert(read.distinct.sorted == Kept.sorted)
  }

  test("every SPARK_GRAFT_* name in the sources is a kept knob") {
    val named = sources.flatMap { case (_, t) =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(t) }.distinct
    assert(named.filterNot(Kept.contains).isEmpty)
  }
}

package graft

import java.io.File
import scala.reflect.io.Directory

/** Crash-safety of the bench input (round 5): round 4's driver artifact
  * died when something external deleted `/dev/shm/graft-bench` 42 minutes
  * into the run — the child's retry re-read the same missing path and the
  * whole run aborted with no JSON. `Bench.ensureInput` now runs before every
  * child launch: this spec issues exactly that external `rm -rf` and
  * asserts detection + deterministic rebuild.
  */
class BenchInputSpec extends SparkSpec {

  private val sfDir = SparkSpec.testdata("sf0.001")

  test("ensureInput survives external rm -rf of the bench input: " +
      "detects the missing table and rebuilds it deterministically") {
    spark // force the shared test context so prepareInput reuses it
    val root = s"/tmp/graft-bench-input-spec-${System.nanoTime()}"
    try {
      val (dir, _) = Bench.ensureInput(sfDir, repl = 1, root = root)
      assert(Bench.inputReady(root))
      val rows = spark.read.parquet(dir).count()
      assert(rows > 0)

      // the external cleanup the round-4 record run died on
      new Directory(new File(root)).deleteRecursively()
      assert(!Bench.inputReady(root))

      val (dir2, warm2) = Bench.ensureInput(sfDir, repl = 1, root = root)
      assert(Bench.inputReady(root))
      // seeded generator → the rebuild reproduces the same table
      assert(spark.read.parquet(dir2).count() === rows)
      assert(spark.read.parquet(warm2).count() > 0)

      // a present input is NOT rebuilt (the pre-child check must be cheap)
      val marker = new File(s"$root/in/turns/_SUCCESS")
      val mtime = marker.lastModified()
      Bench.ensureInput(sfDir, repl = 1, root = root)
      assert(marker.lastModified() === mtime)
    } finally {
      new Directory(new File(root)).deleteRecursively()
      ()
    }
  }

  test("partial deletion (warm table only) also triggers the rebuild") {
    spark
    val root = s"/tmp/graft-bench-input-spec-${System.nanoTime()}"
    try {
      Bench.ensureInput(sfDir, repl = 1, root = root)
      new Directory(new File(s"$root/in/warm")).deleteRecursively()
      assert(!Bench.inputReady(root))
      Bench.ensureInput(sfDir, repl = 1, root = root)
      assert(Bench.inputReady(root))
    } finally {
      new Directory(new File(root)).deleteRecursively()
      ()
    }
  }
}

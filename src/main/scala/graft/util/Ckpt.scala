package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Storage policy for the pipeline's multi-consumer checkpoint blocks
  * (the wide mention table, linked persons, the fused write's coded rows).
  *
  * These blocks are written once and re-scanned by several consumers, so
  * their resident bytes are memory-bus traffic — the one resource on a
  * single socket that does NOT scale with cores (BASELINE.md's measured
  * diagnosis). The obvious trade — store them SERIALIZED
  * (`MEMORY_AND_DISK_SER`, optionally lz4 via `spark.rdd.compress`) to
  * swap per-scan decode CPU (scales) for block bytes (doesn't) — was
  * MEASURED AND REJECTED (2026-08-18 interleaved A/B, 4 pinned cores,
  * repl-128): serialized walls 67.3/70.9/71.4 s vs deserialized
  * 60.9/62.6 s (+10–15%, task time +15–40 s). Checkpointed rows are
  * already UnsafeRow byte arrays, so the serializer pass buys almost no
  * byte reduction and its copy cost lands in BOTH scaling levels. The
  * level is therefore deserialized `MEMORY_AND_DISK`.
  */
object Ckpt {

  /** Lazy local checkpoint at the policy's storage level: same plan
    * truncation + recompute-avoidance as `localCheckpoint(false)`.
    */
  def apply(df: DataFrame): DataFrame =
    df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)
}

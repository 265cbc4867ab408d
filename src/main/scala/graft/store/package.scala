package graft

/** Persisted index stores ([[graft.store.Warehouse]],
  * [[graft.store.TextIndex]], [[graft.store.BandIndex]],
  * [[graft.store.IvfStore]]) and their shared maintenance discipline,
  * written once in [[graft.store.StagedCommit]]: staged writes, commit
  * markers, publish-by-rename, swap-with-backup compaction; and the
  * single-writer [[graft.store.Lease]].
  *
  * ==Filesystem contract==
  * Every crash-safety and mutual-exclusion guarantee in this package
  * rests on two HDFS-class atomicity properties of the underlying
  * `org.apache.hadoop.fs.FileSystem`:
  *
  *  1. `create(path, overwrite = false)` fails all but exactly one of
  *     several racing creators (lease acquisition);
  *  2. `rename(src, dst)` is a single atomic operation with exactly one
  *     winner (commit markers, publish, compaction swaps, stale-lease
  *     takeover).
  *
  * Local filesystems and HDFS provide both. S3-class object stores do
  * NOT — S3A "rename" is a copy+delete emulation and create-exclusivity
  * is best-effort — so on such stores the lease degrades to advisory and
  * staged publishes lose crash atomicity. Run mutations there only
  * behind a conditional-write/CAS seam; [[graft.store.StagedCommit.fsOf]]
  * logs a once-per-scheme warning when an index root resolves to a known
  * object-store scheme. Readers are unaffected either way (append-only
  * or swap-published state by design). */
package object store {
  /** Run a STORE WRITE with AQE's partition-coalescing floor scoped to
    * the writer's file-sizing target (64 MB — guide-of-record output
    * sizing), independent of the session's QUERY-tuned floor. The r16
    * optimization round lowered the session floor to 64 KB so that
    * compute-heavy sub-MB shuffles parallelize; a writer inheriting that
    * floor fragments its output (BandIndexSpec measured 64 live band
    * files where the auto-compact contract allows 40). Writers own their
    * output layout: within this scope small indexes coalesce to one
    * partition (one file per partitionBy value — the pre-r16 behavior)
    * and at scale partitions target the advisory size, exactly as
    * before. Conf is restored on exit (same scoped-conf discipline as
    * Dedup.checkpointKeepingMetrics). */
  private[graft] def withWriterCoalesce[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "64m")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

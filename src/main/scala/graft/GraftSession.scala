package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for the graft engine.
  *
  * The only place in the engine that builds a SparkSession: every main
  * calls [[local]], the tests and htabench call [[builder]].
  *
  * Scale notes (local mode here; design target is a 1000-executor cluster):
  *  - shuffle.partitions is sized for local mode; on a cluster this comes from
  *    AQE (`spark.sql.adaptive.coalescePartitions.enabled`) which is on.
  *  - `nanosAsLong` keeps int64-ns parquet timestamps as LongType — the engine
  *    is ns-exact everywhere (reference include/hta/chrono.hpp:38); Spark's
  *    TimestampType is µs and would silently round boundary semantics.
  */
object GraftSession {
  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing sizes post-shuffle partitions by BYTES; this
      // engine's shuffles carry gram/fingerprint/window rows whose
      // per-row compute (hashing, window chains, pair fan-outs) is heavy
      // relative to their bytes, so the 1 MB default floor routinely
      // coalesced an expensive stage onto ONE task (r16 profiles: q75/
      // q151/q169 window stages, q66 vectorize — all single-task). 64 KB
      // keeps parallelismFirst semantics (never BELOW this size) while
      // letting sub-MB-but-compute-bound shuffles spread; at cluster
      // scale shuffles big enough to matter coalesce by the advisory
      // size exactly as before.
      // (A/B settled in OPTIMIZATION_r17.md: "Global 64k stays")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // default-on since 3.2, pinned explicitly: runtime re-splitting of
      // skewed shuffle joins is part of the 100 TB skew story alongside the
      // chunked gap lift (AggOps.gapLiftChunked)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")

  /** WindowExec's "No Partition Defined" warning fires on EVERY
    * unpartitioned window — including the ADJUDICATED answer-sized
    * frames this engine uses deliberately (top-k rank fusions,
    * vocabulary cuts, grid carries: frames bounded by construction,
    * never corpus-sized). A constant partition key cannot silence it
    * (the optimizer's EliminateWindowPartitions removes foldable
    * specs), so the logger is scoped to ERROR and the inventory is
    * ENFORCED instead: UnpartitionedWindowAuditSpec fails the build if
    * any registered query outside the adjudicated list plans an
    * unpartitioned window — a stronger guarantee than a log line that
    * scrolls past. Call AFTER `setLogLevel` (which resets levels). */
  def quietAdjudicatedWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** A `spark.graft.*` long setting, or `default` when unset; a malformed
    * value fails naming the key and the value. */
  def confLong(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { raw =>
      raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a long integer, got '$raw'"))
    }

  /** A boolean setting (`true`/`false`, any case), as [[confLong]]. */
  def confBool(spark: SparkSession, key: String, default: Boolean): Boolean =
    spark.conf.getOption(key).fold(default) { raw =>
      raw.trim.toBooleanOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be true or false, got '$raw'"))
    }

  /** A positive integer environment value: `raw` as read from `key`; a
    * non-integer or non-positive value fails naming the key and the value. */
  def positiveInt(key: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$key must be a positive integer, got '$raw'"))

  /** The environment's `key` through [[positiveInt]], or `default` when unset. */
  def envInt(key: String, default: => Int): Int =
    sys.env.get(key).fold(default)(positiveInt(key, _))

  /** The session every main runs on: [[builder]] with `SPARK_GRAFT_CPUS`
    * cores and shuffle partitions (else every processor the JVM sees),
    * logging at WARN with the adjudicated window warnings quiet. */
  def local(): SparkSession = {
    val n = envInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)
    val s = builder(s"local[$n]", n).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietAdjudicatedWarnings()
    s
  }
}

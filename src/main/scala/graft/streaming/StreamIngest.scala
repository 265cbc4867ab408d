package graft.streaming

import graft.model.Meta
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingest — the streaming-parity tier (SURVEY §7.1.6).
  *
  * Exact replica of the reference's insert cascade (src/metric.cpp:510-603,
  * src/level.hpp:47-68) as per-metric state in flatMapGroupsWithState:
  * state = the open-interval accumulator of every ladder level + the
  * monotonicity cursor (F5); output = every CLOSED level row, exactly the
  * records the reference appends to its level files. Spark's state-store
  * checkpointing replaces `restore_level` (Q4) for free — a restarted query
  * resumes from the open accumulators as if the process never died.
  *
  * Scale: state is O(#levels × 56 bytes) per metric; the stream shuffles
  * once on `metric`. Sink the output with
  * `writeStream.partitionBy("interval").format("parquet")` into the same
  * `levels/` layout batch queries read (exactly-once via checkpoint +
  * task-commit protocol).
  */
object StreamIngest {

  final case class Sample(metric: String, time: Long, value: Double)

  final case class AggS(minimum: Double, maximum: Double, sum: Double,
                        count: Long, integral: Double, active_time: Long,
                        minimum_home: Double = Double.PositiveInfinity,
                        maximum_home: Double = Double.NegativeInfinity) {
    def +(o: AggS): AggS = AggS(
      math.min(minimum, o.minimum), math.max(maximum, o.maximum),
      sum + o.sum, count + o.count, integral + o.integral,
      active_time + o.active_time,
      math.min(minimum_home, o.minimum_home),
      math.max(maximum_home, o.maximum_home))
  }
  object AggS {
    val identity: AggS =
      AggS(Double.PositiveInfinity, Double.NegativeInfinity, 0, 0, 0, 0)
    /** A2 point lift (src/aggregate.cpp:37-41); the point is a home
      * contribution, so it feeds the home-only min/max too. */
    def lift(v: Double, gap: Long): AggS = AggS(v, v, v, 1, v * gap, gap, v, v)
    /** A3 partial edge (src/metric.cpp:541-548) — not a home contribution
      * (home fields stay at the ±Inf identity). */
    def partial(v: Double, gap: Long): AggS = AggS(v, v, 0, 0, v * gap, gap)
  }

  final case class LevelS(timeCurrent: Long, agg: AggS)
  final case class IngestState(previousTime: Long, levels: Map[Long, LevelS])

  final case class ClosedRow(metric: String, interval: Long, time: Long,
                             minimum: Double, maximum: Double, sum: Double,
                             count: Long, integral: Double, active_time: Long,
                             minimum_home: Double, maximum_home: Double)

  private def intervalEndL(t: Long, d: Long): Long = t - Math.floorMod(t, d) + d

  /** One metric's cascade for one (sorted) batch of samples. */
  def foldBatch(metric: String, samples: Seq[Sample],
                                   st0: IngestState, meta: Meta): (Seq[ClosedRow], IngestState) = {
    val ladder = meta.levelIntervals
    val out = Seq.newBuilder[ClosedRow]
    var levels = st0.levels
    var prev = st0.previousTime

    def level(i: Long): LevelS = levels.getOrElse(i, LevelS(0L, AggS.identity))

    // Metric::insert(Row) — parent accumulation (src/metric.cpp:562-603)
    def insertUp(childInterval: Long, rowTime: Long, rowAgg: AggS): Unit = {
      out += ClosedRow(metric, childInterval, rowTime, rowAgg.minimum, rowAgg.maximum,
        rowAgg.sum, rowAgg.count, rowAgg.integral, rowAgg.active_time,
        rowAgg.minimum_home, rowAgg.maximum_home)
      val interval = Math.multiplyExact(childInterval, meta.intervalFactor)
      if (interval > meta.intervalMax) return
      var lvl = level(interval)
      if (lvl.timeCurrent == 0L) lvl = lvl.copy(timeCurrent = rowTime)
      else require(lvl.timeCurrent == rowTime,
        s"inconsistent level time for interval $interval")
      val end = intervalEndL(lvl.timeCurrent, interval)
      val rowEnd = rowTime + childInterval
      if (rowEnd >= end) {
        val closed = lvl.agg + rowAgg
        levels -= interval
        insertUp(interval, end - interval, closed)
        levels += interval -> LevelS(end, AggS.identity)
      } else {
        levels += interval -> LevelS(rowEnd, lvl.agg + rowAgg)
      }
    }

    // Metric::insert(TimeValue) (src/metric.cpp:510-560)
    for (s <- samples) {
      require(s.time != 0L, "cannot insert invalid (0) timestamp")
      require(s.time > prev, s"non-monotonic timestamp ${s.time} after $prev")
      prev = s.time
      val i0 = ladder.head
      var lvl = level(i0)
      if (lvl.timeCurrent == 0L) lvl = lvl.copy(timeCurrent = s.time)
      var end = intervalEndL(lvl.timeCurrent, i0)
      while (s.time >= end) {
        val closed = lvl.agg + AggS.partial(s.value, end - lvl.timeCurrent)
        levels -= i0
        insertUp(i0, end - i0, closed)
        lvl = LevelS(end, AggS.identity)
        end = intervalEndL(end, i0)
      }
      levels += i0 -> LevelS(s.time, lvl.agg + AggS.lift(s.value, s.time - lvl.timeCurrent))
    }
    (out.result(), IngestState(prev, levels))
  }

  /** Streaming sink into the Warehouse layout: raw samples appended to
    * `root/raw` (time-bucketed) and closed level rows into
    * `root/levels/interval=…` — the same directories batch queries read.
    * Exactly-once via [[publishLevelBatch]]: a replayed micro-batch (plain
    * parquet append would duplicate closed rows on retry) re-stages and
    * re-publishes under the same deterministic names, converging to one
    * copy; the state store replaces restore_level (Q4). */
  def sinkToWarehouse(samples: Dataset[Sample], meta: Meta, root: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = samples.sparkSession
    import spark.implicits._
    // recover an interrupted compact swap BEFORE writing anything: a sink
    // that recreated a missing dir would strand the backup (restore skips
    // when dst exists) and the next compact would delete the only copy
    graft.store.Warehouse.restoreStore(root)
    graft.store.Warehouse.writeMetaPublic(meta, root, spark)
    closedRows(samples, meta)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[ClosedRow], bid: Long) =>
        publishLevelBatch(batch.toDF(), root, bid)
      }
      .start()
  }

  /** Idempotent batch-id-keyed publish of closed level rows — see
    * [[publishBatch]]. */
  def publishLevelBatch(batch: org.apache.spark.sql.DataFrame, root: String,
                        bid: Long): Unit =
    publishBatch(batch, root, table = "levels", partitionCol = "interval", bid)

  /** Idempotent batch-id-keyed publish into a partitioned store table:
    *  1. committed marker present → no-op (fully replayed batch);
    *  2. write to `_stream_staging/<table>/bid=N` with Overwrite (restaging
    *     after a crash is itself idempotent);
    *  3. delete any `bid-N-*` files left by a partial publish, then rename
    *     staged files to `<table>/<part>=…/bid-N-k.parquet`;
    *  4. write the commit marker last.
    * Any crash point replays into the same end state — exactly one copy of
    * every row. Underscore-prefixed dirs are invisible to Spark's file
    * index, so staging/markers never pollute the table. */
  private def publishBatch(batch: org.apache.spark.sql.DataFrame, root: String,
                           table: String, partitionCol: String, bid: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = graft.store.StagedCommit.fsOf(root)
    val marker = new Path(s"$root/_stream_commits/$table/$bid")
    // pre-per-table stores wrote LEVEL markers flat at _stream_commits/<bid>
    // (the raw sink, and with it the <table>/ namespacing, came later) —
    // honor them so an old store keeps its replay suppression instead of
    // duplicating every historical batch on the first restart after upgrade
    if (fs.exists(marker) ||
        (table == "levels" && fs.isFile(new Path(s"$root/_stream_commits/$bid"))))
      return
    val staging = new Path(s"$root/_stream_staging/$table/bid=$bid")
    batch.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(staging.toString)
    for (ip <- fs.listStatus(staging) if ip.isDirectory) {
      val target = new Path(s"$root/$table/${ip.getPath.getName}")
      fs.mkdirs(target)
      fs.listStatus(target)
        .filter(_.getPath.getName.startsWith(s"bid-$bid-"))
        .foreach(f => fs.delete(f.getPath, false))
      var k = 0
      for (f <- fs.listStatus(ip.getPath) if f.getPath.getName.endsWith(".parquet")) {
        val dst = new Path(target, s"bid-$bid-$k.parquet")
        // abort WITHOUT the marker on a failed rename: the staged file would
        // be deleted below while the marker suppressed the replay, silently
        // losing this micro-batch's rows
        if (!fs.rename(f.getPath, dst))
          throw new java.io.IOException(
            s"publishBatch($table): rename ${f.getPath} -> $dst failed; batch $bid will replay")
        k += 1
      }
    }
    fs.delete(staging, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Companion raw sink: append the sample stream itself into the
    * warehouse's time-bucketed raw layout. Run alongside [[sinkToWarehouse]]
    * (separate checkpoint) for full store parity with batch ingest.
    *
    * Publishes through the same batch-id-keyed [[publishBatch]] as the level
    * sink, NOT Spark's parquet file sink: the file sink's `_spark_metadata`
    * log makes every later BATCH read of `root/raw` resolve against
    * sink-committed files only — hiding batch-ingested history and breaking
    * once compaction rewrites files out from under the log. */
  def sinkRawToWarehouse(samples: Dataset[Sample], meta: Meta, root: String,
                         checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    // same pre-start recovery as sinkToWarehouse: a sink that recreates a
    // missing $root/raw would mask an interrupted compact swap
    graft.store.Warehouse.restoreStore(root)
    samples.toDF()
      .withColumn("tb", col("time") - pmod(col("time"), lit(meta.intervalMax)))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        publishBatch(batch.toDF(), root, table = "raw", partitionCol = "tb", bid)
      }
      .start()
  }

  /** The streaming transform: samples → closed level rows. */
  def closedRows(samples: Dataset[Sample], meta: Meta): Dataset[ClosedRow] = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples.groupByKey(_.metric)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (metric: String, it: Iterator[Sample], state: GroupState[IngestState]) =>
          val st0 = state.getOption.getOrElse(IngestState(0L, Map.empty))
          // micro-batch iterators are unordered; the ordered-ingest contract
          // (F5) is per stream, so sort the batch before folding
          val (rows, st1) = foldBatch(metric, it.toSeq.sortBy(_.time), st0, meta)
          state.update(st1)
          rows.iterator
      }
  }
}

package graft.store

import graft.hta.AggOps
import graft.model.Meta
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse layout (SURVEY.md §7.1) — the Spark-native replacement for the
  * reference's per-metric directory of flat binary files
  * (src/storage/file/metric.cpp:517-527, src/directory.cpp:59-123):
  *
  *   <root>/raw/tb=<bucket>/...parquet      time-bucketed raw samples
  *   <root>/levels/interval=<ns>/...parquet one partition per ladder level
  *   <root>/meta.json                       per-store Meta (interval ladder)
  *   <root>/catalog.json                    the [[StoreCatalog]]: per metric
  *                                          first/last point and count, per
  *                                          (level, metric) first row and
  *                                          closed end, and the files it
  *                                          describes
  *
  * Scale design:
  *  - raw is partitioned by a coarse time bucket (`tb = time / interval_max`)
  *    so range queries prune whole directories, and parquet row-group min/max
  *    on `time` prunes within files — this replaces the reference's
  *    hierarchical positional index descent (A8) with free Catalyst pruning;
  *  - levels are partitioned by `interval`: retrieveFlex touches exactly one
  *    directory per chosen level; within a partition, files are written
  *    sorted by (metric, time) for row-group skipping;
  *  - one ladder writer: ingest and append both build every level's rows
  *    in one plan from one pruned raw scan, one gap lift and one
  *    aggregation with the interval as a grouping column (no per-point
  *    cascade, no level read back); ingest is the append plan run into an
  *    empty store, so neither one's Spark job count grows with the ladder;
  *  - both write the catalog last, from what they already collected, and
  *    reads plan from it (flex routing, the aggregate's clamp, the routing
  *    watermark) without a Spark job.
  */
final case class Hta(raw: DataFrame, levels: DataFrame, meta: Meta,
                     catalog: Option[StoreCatalog] = None) {

  /** Each metric's first and last point and point count: the catalog's when
    * [[Warehouse.open]] found it current, else one raw aggregate collected
    * on first use (it reads the snapshot this handle opened). */
  lazy val extents: Map[String, MetricExtent] =
    catalog.fold(StoreCatalog.metricsOf(raw))(_.metrics)

  /** Each (level interval, metric)'s first row and closed end, from the
    * catalog as [[extents]]; a metric with no closed row at a level has no
    * entry there. */
  lazy val levelExtents: Map[(Long, String), LevelExtent] =
    catalog.fold(StoreCatalog.levelsOf(levels))(_.levels)
}

object Warehouse {

  /** Batch ingest (A4+A5): the [[append]] plan run into an empty store, as the
    * reference ingests through its insert cascade (src/metric.cpp:510-603).
    * One row per metric is collected before any write: F5's zero and
    * duplicate times when `validate` (src/metric.cpp:515-524), and its first
    * and last points and count; with no store to join, a metric's start at
    * every level is its first point. */
  def ingest(points: DataFrame, meta: Meta, root: String,
             validate: Boolean = true): Hta = {
    val spark = points.sparkSession
    val spans = batchSpans(points, validate).collect().map { r =>
      checkBatch(r, "ingest")
      r.getString(0) -> MetricExtent(r.getAs[Long]("b_first"), r.getAs[Long]("b_last"),
        r.getAs[Long]("b_count"))
    }.toMap
    writeRaw(points, meta.intervalMax, s"$root/raw", SaveMode.Overwrite)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$root/levels"), true)
    fs.mkdirs(new Path(s"$root/levels"))
    val tails = tailsOf(spans, meta, Map.empty)
    writeTails(readRaw(spark, root).drop("tb"), meta, root, tails)
    writeMetaPublic(meta, root, spark)
    writeCatalog(spark, root, spans, levelsAfter(Map.empty, tails))
    open(spark, root)
  }

  /** The one raw writer: points partitioned by `tb` under `dir`, sorted by
    * (metric, time), spread as in [[writeLevel]]. */
  private def writeRaw(points: DataFrame, intervalMax: Long, dir: String, mode: SaveMode,
                       spread: Int = 1): Unit =
    withWriterCoalesce(points.sparkSession) {
      val withTb = points.withColumn("tb", AggOps.intervalBegin(col("time"), intervalMax))
      (if (spread == 1) withTb.repartition(col("tb"))
       else withTb.repartition(col("tb"), pmod(xxhash64(col("metric")), lit(spread))))
        .sortWithinPartitions("metric", "time")
        .write.mode(mode).partitionBy("tb")
        .parquet(dir)
    }

  /** The one level writer: rows partitioned by `interval` under `dir`, sorted
    * by (metric, time) for row-group skipping, in one file per partition at
    * small scale, or spread over `spread` files by metric hash. */
  private[graft] def writeLevel(level: DataFrame, dir: String, mode: SaveMode,
                                spread: Int = 1): Unit =
    withWriterCoalesce(level.sparkSession) {
      (if (spread == 1) level.repartition(col("interval"))
       else level.repartition(col("interval"), pmod(xxhash64(col("metric")), lit(spread))))
        .sortWithinPartitions("interval", "metric", "time")
        .write.mode(mode).partitionBy("interval")
        .parquet(dir)
    }

  /** Writes the catalog of the data just written, with the files it lists
    * now: the last step of [[ingest]] and [[append]]. */
  private def writeCatalog(spark: SparkSession, root: String,
                           metrics: Map[String, MetricExtent],
                           levels: Map[(Long, String), LevelExtent]): Unit =
    StoreCatalog.write(spark, root, StoreCatalog(
      StoreCatalog.filesOf(root, readRaw(spark, root), readLevels(spark, root)), metrics, levels))

  /** Writes `meta.json`; public for the streaming sinks. */
  def writeMetaPublic(meta: Meta, root: String, spark: SparkSession): Unit = {
    val json =
      s"""{"interval_min":${meta.intervalMin},"interval_max":${meta.intervalMax},"interval_factor":${meta.intervalFactor}}"""
    val p = new Path(s"$root/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes("UTF-8")); out.close()
  }

  def readMeta(spark: SparkSession, root: String): Meta = {
    val p = new Path(s"$root/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val s = scala.io.Source.fromInputStream(in).mkString; in.close()
    def grab(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    Meta(grab("interval_min"), grab("interval_max"), grab("interval_factor"))
  }

  /** Q4 analogue — incremental batch append (reference restore_level,
    * src/metric.cpp:451-497): recompute only each level's OPEN TAIL, the
    * region at/after the last closed interval end. New points never touch a
    * closed row (a row closes only when a later point crosses its end), so
    * appends are strictly additive; all levels come from one [[writeTails]].
    * F5 (src/metric.cpp:515-524): a zero or duplicate time, or a point at or
    * before its metric's last, rejects the batch before anything is written.
    * The store's side (each metric's first and last point, each level's
    * closed end) comes from its catalog, so only the batch is aggregated:
    * one row per metric of the batch is collected. */
  def append(points: DataFrame, root: String): Hta = {
    val spark = points.sparkSession
    val existing = open(spark, root)
    val meta = existing.meta
    val stored = existing.extents

    // F5 pre-pass over the batch: zero and duplicate times, first/last point
    val batch = batchSpans(points, f5 = true).collect().map { r =>
      checkBatch(r, "append")
      val m = r.getString(0)
      val (bFirst, bLast) = (r.getAs[Long]("b_first"), r.getAs[Long]("b_last"))
      val old = stored.get(m)
      require(old.forall(_.last < bFirst), "append batch not monotonic vs existing data")
      m -> MetricExtent(old.fold(bFirst)(_.first), bLast,
        old.fold(0L)(_.count) + r.getAs[Long]("b_count"))
    }
    // every store metric takes part: one whose levels lag its raw (a raw-only
    // stream sink) closes its rows here too
    val spans = stored ++ batch

    val closed = existing.levelExtents.map { case (k, e) => k -> e.closedEnd }
    val tails = tailsOf(spans, meta, closed)
    writeRaw(points, meta.intervalMax, s"$root/raw", SaveMode.Append)
    writeTails(tailRegion(spark, root, tails.groupMapReduce(_._1)(_._3)(math.min),
      meta.intervalMax), meta, root, tails)
    writeCatalog(spark, root, spans, levelsAfter(existing.levelExtents, tails))
    open(spark, root)
  }

  /** One row per metric of a batch: its first and last point, its count
    * and, when `f5`, its counts of zero and of duplicate times (zeros
    * otherwise). */
  private def batchSpans(points: DataFrame, f5: Boolean): DataFrame =
    points.groupBy("metric")
      .agg((if (f5) count(when(col("time") === 0L, 1)) else lit(0L)).as("zeros"),
        (if (f5) count("time") - countDistinct("time") else lit(0L)).as("dups"),
        min("time").as("b_first"), max("time").as("b_last"), count(lit(1)).as("b_count"))

  /** F5 on one [[batchSpans]] row. */
  private def checkBatch(r: org.apache.spark.sql.Row, what: String): Unit =
    for ((f, kind) <- Seq("zeros" -> "zero", "dups" -> "duplicate"))
      require(r.getAs[Long](f) == 0L, s"$kind timestamp in $what batch")

  /** Every (metric, level, start, open bucket) whose open tail now closes
    * rows: from the level's closed end (none yet: the metric's first point)
    * up to the bucket holding its last point. `spans` holds each metric's
    * extent once the batch is in. */
  private def tailsOf(spans: Map[String, MetricExtent], meta: Meta,
                      closed: Map[(Long, String), Long]): Seq[(String, Long, Long, Long)] =
    for {
      (m, s) <- spans.toSeq; k <- meta.levelIntervals
      start = closed.getOrElse((k, m), s.first)
      lastBucket = s.last - Math.floorMod(s.last, k)
      if start - Math.floorMod(start, k) < lastBucket
    } yield (m, k, start, lastBucket)

  /** The level half of the catalog once `tails` are written: each tail
    * closes its level up to its open bucket; a level's first row is the
    * bucket of its first tail's start. */
  private def levelsAfter(before: Map[(Long, String), LevelExtent],
                          tails: Seq[(String, Long, Long, Long)]): Map[(Long, String), LevelExtent] =
    before ++ tails.map { case (m, k, start, open) =>
      (k, m) -> LevelExtent(before.get((k, m)).fold(start - Math.floorMod(start, k))(_.first), open)
    }

  /** Appends the rows every tail closes, all levels in one plan (no tails: no
    * plan, `region` unbuilt): one gap lift of raw `region` (chunk grid == tb
    * layout), one broadcast join to the tails, one split with the interval as
    * a column, one aggregation, one level write. A metric's first point lifts
    * to the sentinel, which the level's start replaces: the closed end (the
    * reference's Level restore gap origin), or the point's own time at a
    * level with no closed rows. */
  private def writeTails(region: => DataFrame, meta: Meta, root: String,
                         tails: Seq[(String, Long, Long, Long)]): Unit =
    if (tails.nonEmpty) {
      val raw = region
      import raw.sparkSession.implicits._
      val lifted = AggOps.gapLiftChunked(raw, meta.intervalMax,
        firstDefault = Some(lit(Long.MinValue)))
      val newRows = AggOps.boundarySplit(
          lifted.join(broadcast(tails.toDF("metric", "interval", "_start", "_open")),
              Seq("metric"))
            .where(col("time") >= col("_start"))
            .withColumn("prev_time", greatest(col("prev_time"), col("_start"))),
          col("interval"), "time")
        .where(col("bstart") < col("_open"))
        .groupBy(col("metric"), col("interval"), col("bstart").as("time"))
        .agg(AggOps.segmentAggCols(col("value")).head,
          AggOps.segmentAggCols(col("value")).tail: _*)
      writeLevel(newRows, s"$root/levels", SaveMode.Append)
    }

  /** The raw tail scan an append recomputes: the lowest of `starts` as
    * literal `tb`/`time` bounds, so the parquet source prunes directories and
    * row groups (PartitionFilters on tb — asserted by RestoreSpec), then each
    * metric's own start trims the rest; metrics without one are dropped. */
  def tailRegion(spark: SparkSession, root: String, starts: Map[String, Long],
                 intervalMax: Long): DataFrame = {
    import spark.implicits._
    val bound = starts.values.min
    val tbBound = bound - Math.floorMod(bound, intervalMax)
    readRaw(spark, root)
      .where(col("tb") >= tbBound && col("time") >= bound)
      .drop("tb")
      .join(broadcast(starts.toSeq.toDF("metric", "_tail_start")), Seq("metric"))
      .where(col("time") >= col("_tail_start"))
      .drop("_tail_start")
  }

  import org.apache.spark.sql.types._
  /** Declared table schemas: reads skip the schema-inference job, partition
    * columns stay LongType (inference narrows a small `tb` or ladder to
    * int), and a column a file lacks reads as null. */
  val rawSchema: StructType = StructType(Seq(
    StructField("metric", StringType), StructField("time", LongType),
    StructField("value", DoubleType), StructField("tb", LongType)))

  /** Level rows; stores written before the home-only min/max columns (or
    * converted from .hta files) read them as null, which RollupRouting
    * checks before it routes MIN/MAX. */
  val levelSchema: StructType = StructType(Seq(
    StructField("metric", StringType), StructField("time", LongType),
    StructField("minimum", DoubleType), StructField("maximum", DoubleType),
    StructField("sum", DoubleType), StructField("count", LongType),
    StructField("integral", DoubleType), StructField("active_time", LongType),
    StructField("minimum_home", DoubleType), StructField("maximum_home", DoubleType),
    StructField("interval", LongType)))

  /** `raw` keeps the `tb` partition column so query paths can hand Scoped a
    * bucket hint for directory-level pruning (Scoped.scopedRange doc). */
  private def readRaw(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(rawSchema).parquet(s"$root/raw")

  /** Guard for [[compact]]: streaming publishes land as
    * `<table>/<part>=…/bid-N-k.parquet` with a commit marker written LAST
    * (StreamIngest.publishBatch). A bid file whose marker is missing is a
    * crash mid-publish that the stream WILL replay on restart; its cleanup
    * keys on the `bid-N-` file names, which compaction would erase. */
  private def assertNoUncommittedPublishes(
      fs: FileSystem, root: String): Unit = {
    val bidName = "bid-(\\d+)-.*".r
    for (table <- Seq("raw", "levels")) {
      val dir = new Path(s"$root/$table")
      if (fs.exists(dir)) {
        val bids = for {
          part <- fs.listStatus(dir).toSeq if part.isDirectory
          f <- fs.listStatus(part.getPath)
          m <- bidName.findPrefixMatchOf(f.getPath.getName)
        } yield m.group(1)
        for (bid <- bids.distinct) {
          // legacy fallback: pre-per-table stores marked LEVEL commits flat
          // at _stream_commits/<bid> (see StreamIngest.publishBatch) — an
          // upgraded store must not be refused as "uncommitted"
          val committed =
            fs.exists(new Path(s"$root/_stream_commits/$table/$bid")) ||
              (table == "levels" &&
                fs.isFile(new Path(s"$root/_stream_commits/$bid")))
          require(committed,
            s"compact: uncommitted streaming batch $bid in $table/ — restart the " +
              s"stream so it replays batch $bid (or remove the partial bid-$bid-* " +
              "files) before compacting")
        }
      }
    }
  }

  /** Restore both store directories after an interrupted compact swap.
    * Called by every entry point that READS OR WRITES the store outside the
    * per-read guards ([[compact]] before its rewrite, the streaming sinks
    * before their first micro-batch): a writer that recreates a missing
    * `raw/` before any reader runs would otherwise strand the backup — the
    * restore then skips (dst exists) and the next compact deletes the only
    * pre-crash copy. */
  private[graft] def restoreStore(root: String): Unit = {
    StagedCommit.restore(root, "levels")
    StagedCommit.restore(root, "raw")
  }

  /** Levels table; a legitimately empty directory (a store whose data span
    * closes no interval: tests/basics.cpp:88-93) reads as empty. Restores
    * an interrupted compact swap first: otherwise the missing directory
    * would read as a legitimately empty store, and a later compact would
    * delete the backup and commit an empty levels table. */
  def readLevels(spark: SparkSession, root: String): DataFrame = {
    StagedCommit.restore(root, "levels")
    spark.read.schema(levelSchema).parquet(s"$root/levels")
  }

  /** Opens a store snapshot without running a Spark job. The catalog is
    * kept only when the files it lists are the files this snapshot reads. */
  def open(spark: SparkSession, root: String): Hta = {
    restoreStore(root)
    val (raw, levels) = (readRaw(spark, root), readLevels(spark, root))
    Hta(raw, levels, readMeta(spark, root),
      StoreCatalog.read(spark, root).filter(_.files == StoreCatalog.filesOf(root, raw, levels)))
  }

  /** Offline maintenance: rewrite the store into few large sorted files per
    * partition. Streaming micro-batches (one `bid-N-k` file set each) and
    * incremental appends accumulate small parquet files — the classic
    * small-files problem that erodes scan efficiency at 100 TB (tiny row
    * groups defeat min/max pruning, file-open overhead dominates). Compaction
    * restores large sorted row groups while keeping layout and content
    * identical. Directory-level swap ([[StagedCommit.swap]]): run offline,
    * like every reference maintenance tool; streaming commit markers are
    * untouched so replayed micro-batches remain no-ops after compaction. The
    * catalog is rewritten last with the new file list: the pre-compact one's
    * facts when it was current, else derived from the data. */
  def compact(spark: SparkSession, root: String,
              filesPerPartition: Int = 8): Hta = {
    // a previous compact may have crashed mid-swap — `open` recovers BOTH
    // dirs before reading and before the swaps delete any backup
    val before = open(spark, root)
    // a crashed stream may have left a PARTIAL publish (bid-N-k files with
    // no commit marker). Compacting would rewrite those into anonymous
    // part-files, so the restarted stream's replay cleanup (delete bid-N-*,
    // republish) would find nothing to delete and DUPLICATE the rows —
    // refuse until the stream has replayed (or the partials are removed).
    assertNoUncommittedPublishes(StagedCommit.fsOf(root), root)
    StagedCommit.swap(root, "levels", "Warehouse.compact") { tmp =>
      writeLevel(before.levels, tmp, SaveMode.Overwrite, filesPerPartition)
    }
    StagedCommit.swap(root, "raw", "Warehouse.compact") { tmp =>
      writeRaw(before.raw.drop("tb"), before.meta.intervalMax, tmp, SaveMode.Overwrite,
        filesPerPartition)
    }
    recatalog(spark, root, before.catalog)
  }

  /** Writes a catalog for the files maintenance left: `kept`'s facts (the
    * maintenance moved rows between files without changing them), or the
    * facts derived from the data; returns the reopened store. Written after
    * the data, as by append: a crash in between leaves it unused. */
  private[graft] def recatalog(spark: SparkSession, root: String,
                               kept: Option[StoreCatalog]): Hta = {
    val c = kept.getOrElse(StoreCatalog.derive(open(spark, root)))
    writeCatalog(spark, root, c.metrics, c.levels)
    open(spark, root)
  }

  /** S6/O5 — sorted metric names, from the catalog. */
  def metricNames(hta: Hta): Seq[String] = hta.extents.keys.toSeq.sorted
}

package graft.tools

import graft.hta.{AggOps, Throttle}
import graft.model.Meta
import graft.store.{Hta, StagedCommit, StoreCatalog, Warehouse}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's CLI tools (src/tools: check, repair, clone, throttle,
  * dump, dummy) as DataFrame jobs.
  * T6 (per-metric GNU-parallel fan-out, helpers/check_db_directory.sh) is
  * inherent here: every job processes all metrics in one distributed pass. */
object Tools {

  val Genesis: Long = 946684800000000000L // 2000-01-01 (check.cpp:48)
  val ValueMax: Double = 1e20             // check.cpp:45-46

  /** T2 — hta_check (src/tools/check.cpp:55-254) as one validation job.
    * Returns an issues DataFrame (metric, layer, issue, n); empty == healthy.
    *
    * Raw rules: finite values, |v| <= 1e20, strictly monotonic unique times,
    * first/last timestamp within [genesis, now].
    * Level rules (per interval): `time == epoch_k + i*interval` exactness
    * (dense, epoch_k = interval_begin(first_raw, interval)), monotonic
    * unique, finite aggregate fields, last row time + interval ==
    * interval_begin(last_raw, interval), and the top-level emptiness rule
    * (single-spanned levels must be empty, check.cpp:239-247).
    * Catalog rule: a current store catalog (one `open` kept) must equal the
    * catalog the data derives — one `catalog_mismatch` row per metric, `n`
    * its differing entries. */
  /** `genesis` defaults to the reference's ns-domain 2000-01-01 bound
    * (check.cpp:48); stores using another tick unit (e.g. the µs-domain
    * oracle warehouse) pass their own lower bound.
    *
    * `fast` is check.cpp's `--fast` ("check only the most recent data"):
    * raw rules run only on each metric's trailing `intervalMax` window,
    * and the level dense-time rule validates the window's rows against
    * the window's own first row (alignment to the metric epoch still
    * checked) instead of row-numbering the level from its beginning —
    * history before the window is trusted. Bounds-derived rules
    * (implausible_range, last_interval_mismatch, spanning emptiness) are
    * cheap aggregates and run identically in both modes. */
  def check(hta: Hta, now: Long, genesis: Long = Genesis,
            fast: Boolean = false): DataFrame = {
    val issue = (layer: String, name: String, pred: org.apache.spark.sql.Column,
                 df: DataFrame) =>
      df.where(pred).groupBy("metric")
        .agg(count(lit(1)).as("n"))
        .select(col("metric"), lit(layer).as("layer"), lit(name).as("issue"), col("n"))

    val bounds = hta.raw.groupBy("metric")
      .agg(min("time").as("_first"), max("time").as("_last"))

    val rawSrc =
      if (!fast) hta.raw.drop("tb")
      else hta.raw.drop("tb").join(broadcast(bounds), Seq("metric"))
        .where(col("time") >= col("_last") - hta.meta.intervalMax)
        .drop("_first", "_last")
    // chunked lag over the raw table (MinValue sentinel marks each
    // metric's first point so duplicate timestamps still trip the check) —
    // a whole-metric window here would serialize a 100 TB metric's scan
    val raw = AggOps.gapLiftChunked(rawSrc, hta.meta.intervalMax,
        firstDefault = Some(lit(Long.MinValue)))
      .withColumn("_p",
        when(col("prev_time") === Long.MinValue, lit(null).cast("long"))
          .otherwise(col("prev_time")))

    val rawIssues = Seq(
      issue("raw", "nonfinite_value",
        isnan(col("value")) || col("value") === Double.PositiveInfinity ||
          col("value") === Double.NegativeInfinity, raw),
      issue("raw", "implausible_value", abs(col("value")) > ValueMax, raw),
      issue("raw", "nonmono_or_dup_time", col("_p").isNotNull && col("time") <= col("_p"), raw),
      issue("raw", "implausible_range",
        col("_first") < genesis || col("_first") > now ||
          col("_last") < genesis || col("_last") > now, bounds))

    val wl = Window.partitionBy("metric", "interval").orderBy("time")
    val lvAll = hta.levels
      .join(broadcast(bounds), Seq("metric"))
      .withColumn("_epoch", AggOps.intervalBegin(col("_first"), col("interval")))
    val lvSrc =
      if (!fast) lvAll
      // per-interval cutoff relative to the level's own grid keeps every
      // level's last closed rows in the window (for the coarsest level
      // a fixed `_last - intervalMax` cutoff could exclude them)
      else lvAll.where(col("time") >=
        AggOps.intervalBegin(col("_last"), col("interval")) - hta.meta.intervalMax)
    val lv = lvSrc
      .withColumn("_i", row_number().over(wl) - 1)
      .withColumn("_p", lag("time", 1).over(wl))
      .withColumn("_w0", min("time").over(Window.partitionBy("metric", "interval")))
    val lvGrouped = (name: String, pred: org.apache.spark.sql.Column) =>
      lv.where(pred).groupBy("metric", "interval").agg(count(lit(1)).as("n"))
        .select(col("metric"), col("interval").cast("string").as("layer"),
          lit(name).as("issue"), col("n"))

    // full mode: dense from the metric epoch. fast mode: dense within the
    // window from its first row, which must itself align to the epoch.
    val denseTime =
      if (!fast) col("time") =!= col("_epoch") + col("_i") * col("interval")
      else col("time") =!= col("_w0") + col("_i") * col("interval") ||
        pmod(col("_w0") - col("_epoch"), col("interval")) =!= 0

    val levelIssues = Seq(
      lvGrouped("bogus_time", denseTime),
      lvGrouped("nonmono_or_dup_time", col("_p").isNotNull && col("time") <= col("_p")),
      lvGrouped("nonfinite_aggregate",
        isnan(col("sum")) || isnan(col("integral")) ||
          col("minimum") === Double.NaN || isnan(col("minimum")) || isnan(col("maximum"))),
      // last closed interval must abut interval_begin(raw_end) (check.cpp:128-135)
      lv.groupBy("metric", "interval")
        .agg(max("time").as("_lt"), max("_last").as("_le"))
        .where(col("_lt") + col("interval") =!=
          AggOps.intervalBegin(col("_le"), col("interval")))
        .select(col("metric"), col("interval").cast("string").as("layer"),
          lit("last_interval_mismatch").as("issue"), lit(1L).as("n")),
      // top-level emptiness: a level spanning first..last in one interval
      // must have no rows (check.cpp:239-247)
      lv.where(AggOps.intervalBegin(col("_first"), col("interval")) ===
          AggOps.intervalBegin(col("_last"), col("interval")))
        .groupBy("metric", "interval").agg(count(lit(1)).as("n"))
        .select(col("metric"), col("interval").cast("string").as("layer"),
          lit("nonempty_spanning_level").as("issue"), col("n")))

    (rawIssues ++ levelIssues :+ catalogIssues(hta)).reduce(_ unionByName _)
  }

  /** The catalog rule of [[check]], on the driver: both halves derived from
    * the data (two aggregates), compared with the stored ones. */
  private def catalogIssues(hta: Hta): DataFrame = {
    def differ[K](a: Map[K, _], b: Map[K, _]): Seq[K] =
      (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).toSeq
    val rows = hta.catalog.toSeq.flatMap { c =>
      val d = StoreCatalog.derive(hta)
      (differ(c.metrics, d.metrics) ++ differ(c.levels, d.levels).map(_._2))
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (m, diffs) => Row(m, "catalog", "catalog_mismatch", diffs.size.toLong) }
    }
    hta.raw.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("metric", StringType), StructField("layer", StringType),
        StructField("issue", StringType), StructField("n", LongType))))
  }

  /** F2 predicates of hta_repair (src/tools/repair.cpp:94-133). */
  def repairFilter(points: DataFrame,
                   dropBelow: Double = Double.NegativeInfinity,
                   dropAbove: Double = Double.PositiveInfinity,
                   dropRanges: Seq[(Long, Long)] = Nil,
                   useAbs: Boolean = false,
                   chunkWidth: Option[Long] = None): DataFrame = {
    val v0 = if (useAbs) abs(col("value")) else col("value")
    var out = points.withColumn("value", v0)
      .where(!isnan(col("value")) &&
        col("value") =!= Double.PositiveInfinity &&
        col("value") =!= Double.NegativeInfinity &&
        col("value") >= dropBelow && col("value") <= dropAbove)
    for ((b, e) <- dropRanges)
      out = out.where(!(col("time") >= b && col("time") < e))
    // non-monotonic duplicates are silently dropped on re-insert (:214-230);
    // chunked lag when a width is supplied (repair feeds full rebuilds —
    // one skewed metric must not serialize the scan)
    monotonicDedup(out, chunkWidth)
  }

  /** Keep only rows strictly after their metric's previous timestamp. */
  private def monotonicDedup(points: DataFrame,
                             chunkWidth: Option[Long]): DataFrame =
    chunkWidth match {
      case Some(cw) =>
        AggOps.gapLiftChunked(points, cw,
            firstDefault = Some(lit(Long.MinValue)))
          .where(col("prev_time") === Long.MinValue ||
            col("time") > col("prev_time"))
          .drop("prev_time")
      case None =>
        val w = Window.partitionBy("metric").orderBy("time")
        points.withColumn("_p", lag("time", 1).over(w))
          .where(col("_p").isNull || col("time") > col("_p"))
          .drop("_p")
    }

  /** T3 — hta_repair: filter + full rebuild into a fresh warehouse. */
  def repair(hta: Hta, root: String, dropBelow: Double = Double.NegativeInfinity,
             dropAbove: Double = Double.PositiveInfinity,
             dropRanges: Seq[(Long, Long)] = Nil, useAbs: Boolean = false): Hta =
    Warehouse.ingest(
      repairFilter(hta.raw.drop("tb"), dropBelow, dropAbove, dropRanges, useAbs,
        chunkWidth = Some(hta.meta.intervalMax)),
      hta.meta, root, validate = false)

  /** T4 — hta_clone: monotonic-deduped copy re-aggregated under new Meta
    * (src/tools/clone.cpp:57-104). */
  def clone(hta: Hta, newMeta: Meta, root: String): Hta =
    Warehouse.ingest(
      monotonicDedup(hta.raw.drop("tb"), Some(hta.meta.intervalMax)),
      newMeta, root, validate = false)

  /** T5 — hta_throttle: clone + cooldown downsampling (src/tools/throttle.cpp). */
  def throttleClone(hta: Hta, cooldown: Long, root: String): Hta =
    Warehouse.ingest(Throttle.throttle(hta.raw, cooldown), hta.meta, root,
      validate = false)

  /** Retention: drop everything before `horizon` from a store. The
    * horizon FLOORS to an `intervalMax` boundary, so every raw bucket
    * and every ladder row (all level intervals divide intervalMax) is
    * wholly in or wholly out — raw retention is pure PARTITION
    * DELETION (no rewrite of surviving data), and level retention is a
    * filtered rewrite behind the compact-style crash-safe swap.
    *
    * Retained level rows keep their ORIGINAL aggregates — including
    * integral/active-time mass contributed by segments from
    * now-deleted pre-horizon samples — so aligned reads served from
    * levels answer with full history, where a naive re-ingest of the
    * filtered raw would lose those boundary segments. The one
    * unavoidable loss: a RAW-routed window edge starting exactly at
    * the horizon has no prior sample left to carry from (spec-pinned
    * on both sides — fully-retained windows match the un-retired
    * store exactly).
    *
    * Crash ordering: levels swap first; a crash before the raw deletes
    * leaves only EXTRA raw partitions, and a re-run (idempotent)
    * finishes the job. The catalog the retired data derives is written
    * last, so a crash before it leaves the old one unused, not wrong.
    * Refuses to empty the store entirely — that is `drop`, not
    * retention. */
  def retire(spark: SparkSession, root: String, horizon: Long): Hta = {
    Warehouse.restoreStore(root)
    val meta = Warehouse.readMeta(spark, root)
    val h = horizon - Math.floorMod(horizon, meta.intervalMax)
    val fs = StagedCommit.fsOf(root)
    val rawDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/raw"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .map(st => st.getPath.getName.stripPrefix("tb=").toLong -> st.getPath)
    require(rawDirs.exists(_._1 >= h),
      s"retire($h) would delete EVERY raw bucket — refusing; " +
        "dropping a whole store is a delete, not retention")
    StagedCommit.swap(root, "levels", "Tools.retire") { tmp =>
      Warehouse.writeLevel(Warehouse.readLevels(spark, root).where(col("time") >= h),
        tmp, org.apache.spark.sql.SaveMode.Overwrite)
    }
    for ((tb, p) <- rawDirs if tb < h)
      require(fs.delete(p, true), s"retire: delete $p failed")
    Warehouse.recatalog(spark, root, None)
  }

  /** T1 — hta_dump (src/tools/dump.cpp:44-88): per-metric summary. */
  def dump(hta: Hta): DataFrame =
    hta.raw.groupBy("metric").agg(
      count(lit(1)).as("n_rows"),
      min("time").as("first_time"),
      max("time").as("last_time"))

  /** S8 — synthetic constant-value generator (src/tools/dummy.cpp:53-79):
    * `n` samples at 50 ms spacing. */
  def generate(spark: SparkSession, metric: String, n: Long, startTime: Long,
               value: Double = 42.0, spacing: Long = 50000000L): DataFrame =
    spark.range(n).select(
      lit(metric).as("metric"),
      (lit(startTime) + col("id") * spacing).as("time"),
      lit(value).as("value"))
}

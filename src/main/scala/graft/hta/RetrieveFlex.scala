package graft.hta

import graft.model.{IntervalScope, Scope}
import graft.store.{Hta, LevelExtent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q2/Q3 — `retrieve_flex`, the reference's interactive query entry point
  * (src/metric.cpp:356-412), re-architected for Spark:
  *
  * The reference routes ONE metric at a time: pick the coarsest level whose
  * interval fits `interval_upper_limit`, fall back down while the level is
  * empty in-range, then positionally smooth by `limit/interval`.
  *
  * Here the router is a *materialized-view selection* over all metrics in
  * one distributed plan:
  *   1. per (metric, candidate level), emptiness in scope by arithmetic on
  *      the store catalog's first row and closed end (`Hta.levelExtents`):
  *      level rows are dense in between, as the reference's index is;
  *   2. per metric, choose the coarsest non-empty level, on the driver;
  *   3. one pruned scan of exactly the chosen (metric, level) partitions,
  *      scope-filtered, positionally smoothed with a per-metric factor.
  *
  * On an opened store with a current catalog no Spark job runs before the
  * plan is returned, and step 3 reads exactly one level per metric. Raw is
  * touched only in the `limit < interval_min` branch.
  *
  * Result schema (Row form, include/hta/types.hpp:109-127):
  *   (metric, interval, time, minimum, maximum, sum, count, integral,
  *    active_time) — `interval` is the source level width (0 for raw points).
  */
object RetrieveFlex {
  import AggOps._

  private val rowCols = Seq("metric", "interval", "time", "minimum", "maximum",
    "sum", "count", "integral", "active_time")

  /** Bucket-pruning hint for raw scans when the warehouse partition column
    * is present (in-memory Hta frames simply don't have it). */
  private def rawBucket(hta: Hta): Option[(String, Long)] =
    if (hta.raw.columns.contains("tb")) Some(("tb", hta.meta.intervalMax)) else None

  /** Row-form retrieve (Q3: reference src/metric.cpp:414-439): like
    * [[retrieveFlex]] but raw results are lifted to interval-0 rows. */
  def retrieve(hta: Hta, begin: Long, end: Long, limit: Long,
               scope: IntervalScope = IntervalScope.retrieveDefault): DataFrame = {
    val flex = retrieveFlex(hta, begin, end, limit, scope, smooth = false)
    flex // retrieveFlex already returns Row form with raw lifted
  }

  /** `retrieve(b, e, min_samples)` (O4: src/metric.cpp:245-257):
    * min_samples → interval_upper_limit = (end-begin)/min_samples. The
    * Row-form retrieve() wrapper passes smooth=false (src/metric.cpp:414-416). */
  def retrieveMinSamples(hta: Hta, begin: Long, end: Long, minSamples: Long,
                         scope: IntervalScope = IntervalScope.retrieveDefault): DataFrame = {
    require(begin <= end, s"invalid request: begin $begin > end $end")
    retrieveFlex(hta, begin, end, (end - begin) / minSamples, scope, smooth = false)
  }

  def retrieveFlex(hta: Hta, begin: Long, end: Long, limit: Long,
                   scope: IntervalScope = IntervalScope.retrieveDefault,
                   smooth: Boolean = true): DataFrame =
    retrieveFlexMulti(Seq(hta), begin, end, limit, scope, smooth)

  /** Q2 over one OR several independent stores (MultiWarehouse config
    * groups, each with its own ladder, each routed from its own catalog). */
  def retrieveFlexMulti(groups: Seq[Hta], begin: Long, end: Long, limit: Long,
                        scope: IntervalScope = IntervalScope.retrieveDefault,
                        smooth: Boolean = true): DataFrame = {
    require(groups.nonEmpty, "no stores to retrieve from")
    if (scope.begin != Scope.Infinity && scope.end != Scope.Infinity)
      require(begin <= end, s"invalid request: begin $begin > end $end")

    if (limit < 0) {
      // single-aggregate branch (→ A6); one row per metric
      return groups.map { hta =>
        Queries.aggregateRange(hta.raw, begin, end)
          .select(col("metric"), lit(end - begin).as("interval"), lit(begin).as("time"),
            col("minimum"), col("maximum"), col("sum"), col("count"),
            col("integral"), col("active_time"))
      }.reduce(_ unionByName _)
    }

    val (rawGs, lvlGs) = groups.partition(h => limit < h.meta.intervalMin)
    val parts = rawGs.map(h => rawBranch(h, begin, end, limit, scope, smooth)) ++
      lvlGs.map(h => levelRouted(h, begin, end, limit, scope, smooth))
    parts.reduce(_ unionByName _)
  }

  /** Whether a level holds a row in scope of [begin, end], by arithmetic:
    * its rows sit on every interval from `ext.first` to the closed end (the
    * reference's `offset/interval` index, src/metric.cpp:394-409). Each
    * begin mode picks the first row it admits; the end mode tests that row;
    * an extended side also admits the row before `begin` (after `end`). */
  private[graft] def nonEmptyAt(ext: LevelExtent, interval: Long, begin: Long, end: Long,
                                scope: IntervalScope): Boolean = {
    val last = ext.closedEnd - interval
    // the first row at or after `from` (`from` within [first, last])
    def rowFrom(from: Long): Long = last - Math.floorDiv(last - from, interval) * interval
    val firstIn = scope.begin match {
      case Scope.Infinity => Some(ext.first)
      case Scope.Closed =>
        if (begin <= ext.first) Some(ext.first) else if (begin > last) None else Some(rowFrom(begin))
      case Scope.Open | Scope.Extended =>
        if (begin < ext.first) Some(ext.first) else if (begin >= last) None else Some(rowFrom(begin + 1))
    }
    firstIn.exists(t => scope.end match {
      case Scope.Closed => t <= end
      case Scope.Open | Scope.Extended => t < end
      case Scope.Infinity => true
    }) || (scope.begin == Scope.Extended && ext.first <= begin) ||
      (scope.end == Scope.Extended && last >= end)
  }

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  /** The level selection (materialized-view routing) of one ladder, on the
    * driver. The reference probes the coarsest fitting level and descends
    * only while it is empty (src/metric.cpp:394-409); here each metric takes
    * its coarsest candidate level that is non-empty in scope ([[nonEmptyAt]]
    * on the catalog), so no level is read to route. */
  private def levelRouted(h: Hta, begin: Long, end: Long, limit: Long,
                          scope: IntervalScope, smooth: Boolean): DataFrame = {
    val ladder = h.meta.levelIntervals
    val capped = math.min(limit, h.meta.intervalMax)
    val coarsest = ladder.takeWhile(_ <= capped).lastOption.getOrElse(h.meta.intervalMin)
    val candidates = ladder.filter(_ <= coarsest)
    val routed = h.levelExtents.toSeq.collect {
      case ((i, m), ext) if candidates.contains(i) && nonEmptyAt(ext, i, begin, end, scope) =>
        m -> i
    }.groupMapReduce(_._1)(_._2)(math.max).toSeq
    // explicit-schema local relation (not spark.implicits.toDF: Product
    // encoders need compile-time reflection that breaks under REPL/notebook
    // classloaders — a library entry point can't assume an application one)
    val chosen = h.raw.sparkSession.createDataFrame(
      java.util.Arrays.asList(routed.map { case (m, i) => Row(m, i) }: _*),
      StructType(Seq(StructField("metric", StringType), StructField("interval", LongType))))
    routeAndSmooth(h, chosen, routed.map(_._2).distinct, begin, end,
      scope, smooth, capped, candidates)
  }

  private def routeAndSmooth(hta: Hta, chosen: DataFrame, usedIntervals: Seq[Long],
                             begin: Long, end: Long,
                             scope: IntervalScope, smooth: Boolean, capped: Long,
                             candidates: Seq[Long]): DataFrame = {
    // literal isin on the routed intervals (known on the driver) → STATIC
    // partition pruning of the level scan; the broadcast join then trims to
    // exactly the chosen (metric, interval) pairs
    val pruned =
      if (usedIntervals.isEmpty) hta.levels.where(lit(false))
      else hta.levels.where(col("interval").isin(usedIntervals: _*))
    val routed = Scoped.scopedRange(
      pruned.join(broadcast(chosen), Seq("metric", "interval")),
      begin, end, scope)

    if (!smooth) {
      routed.select(rowCols.map(col): _*)
    } else {
      // positional smoothing by per-metric factor = limit / interval
      // (src/metric.cpp:313-354 via convert_timeaggregates_to_rows).
      // The ladder is tiny, so the factor map is a driver-built CASE chain —
      // exact long arithmetic, no float division at ns magnitudes.
      // The per-metric row_number window is display-bounded: `routed` holds
      // one ROUTED level per metric over [begin,end), ≈ limit/interval rows
      // per metric — not a whole-metric history — so no partition can grow
      // with store size.
      val factor = candidates.foldLeft(lit(1L)) { (acc, i) =>
        when(col("interval") === i, lit(capped / i)).otherwise(acc)
      }
      val w = Window.partitionBy("metric").orderBy("time")
      routed
        .withColumn("_f", factor)
        .withColumn("_chunk", (((row_number().over(w) - 1) / col("_f")).cast("long")))
        .groupBy(col("metric"), col("interval"), col("_chunk"))
        .agg(min("time").as("time"),
          min("minimum").as("minimum"), max("maximum").as("maximum"),
          sum("sum").as("sum"), sum("count").as("count"),
          sum("integral").as("integral"), sum("active_time").as("active_time"))
        .select(rowCols.map(col): _*)
    }
  }

  /** limit < interval_min: raw retrieval, optionally smoothed into
    * begin-anchored windows of width `limit` when points are denser than the
    * limit (src/metric.cpp:370-386). Per-metric branch decision. */
  private def rawBranch(hta: Hta, begin: Long, end: Long, limit: Long,
                        scope: IntervalScope, smooth: Boolean): DataFrame = {
    val scoped = Scoped.scopedRange(hta.raw, begin, end, scope, bucket = rawBucket(hta))
    if (!smooth || limit <= 0)
      return Queries.rawToRows(scoped, Some(hta.meta.intervalMax))
        .select(rowCols.map(col): _*)
    // reference: average_interval = (end-begin)/n < limit (integer division);
    // equivalently end-begin < limit*n — exact long comparison, no division
    val counts = scoped.groupBy("metric").agg(count(lit(1)).as("_n"))
      .withColumn("_smooth", lit(end - begin) < lit(limit) * col("_n"))
    val flagged = scoped.join(broadcast(counts.select("metric", "_smooth")), Seq("metric"))
    val smoothed = Queries.smoothRaw(
        flagged.where(col("_smooth")).drop("_smooth"), begin, end, limit)
      .select(rowCols.map(col): _*)
    val rawRows = Queries.rawToRows(flagged.where(!col("_smooth")).drop("_smooth"),
      Some(hta.meta.intervalMax))
      .select(rowCols.map(col): _*)
    smoothed.unionByName(rawRows)
  }
}

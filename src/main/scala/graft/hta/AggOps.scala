package graft.hta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The HTA aggregation algebra, expressed as Catalyst column expressions so
  * every operator stays inside whole-stage codegen and benefits from Spark's
  * partial (map-side) aggregation.
  *
  * Semantics derived from the reference (metricq/hta):
  *  - Aggregate is a commutative monoid `(min,max,sum,count,integral,active_time)`
  *    under element-wise merge                      [src/aggregate.cpp:50-59]
  *  - identity = (+inf, -inf, 0, 0, 0, 0)           [include/hta/types.hpp:64-70]
  *  - point lift under LAST semantics: a sample `v` with preceding gap `d`
  *    covers `(t-d, t]` and lifts to `(v,v,v,1,v*d,d)`  [src/aggregate.cpp:37-41]
  *  - a gap that crosses interval boundaries is split: the head segment (the
  *    one containing the point) carries `count=1, sum=v`; every other crossed
  *    segment contributes `(v,v,0,0,v*len,len)`     [src/metric.cpp:541-548]
  *
  * All time arithmetic is int64 ticks (the reference uses nanoseconds; any
  * fixed tick unit works as long as it is used consistently).
  */
object AggOps {

  /** interval_begin(t, d) = t - (t mod+ d) (include/hta/types.hpp:144-149).
    * Pure long arithmetic — ns epochs (~1.7e18) exceed double's 2^53 exact
    * range, so any float division here would corrupt bucket assignment. */
  def intervalBegin(t: Column, d: Long): Column = t - pmod(t, lit(d))
  def intervalBegin(t: Column, d: Column): Column = t - pmod(t, d)

  /** interval_end(t, d) = interval_begin(t, d) + d (include/hta/types.hpp:151-154). */
  def intervalEnd(t: Column, d: Long): Column = intervalBegin(t, d) + lit(d)

  /** A2 gap lift: adds `prev_time` = previous sample's time within the metric
    * (the very first sample gets prev_time = its own time, i.e. gap 0 — the
    * reference initialises the open interval at the first point,
    * src/metric.cpp:533-537).
    *
    * Scale: one shuffle on `metric` (window partition). At 100 TB this is the
    * single unavoidable shuffle of ingest; everything downstream reuses it.
    * Skew note: if one metric dominates, pre-split it by time range and stitch
    * the single boundary gap on the driver.
    */
  def gapLift(points: DataFrame,
              metric: String = "metric",
              time: String = "time"): DataFrame = {
    val w = Window.partitionBy(metric).orderBy(time)
    points.withColumn("prev_time", coalesce(lag(col(time), 1).over(w), col(time)))
  }

  /** Skew-resistant [[gapLift]]: partitions the lag window by
    * (metric, time-chunk) instead of metric alone, so ONE dominant metric no
    * longer serializes onto one task — parallelism becomes
    * #metrics × #chunks. The only rows a plain per-metric lag would see
    * differently are each chunk's first rows; their `prev_time` is stitched
    * from a (metrics × chunks)-sized boundary table joined back via
    * broadcast. Bit-identical to [[gapLift]] (AggOpsSpec property).
    *
    * `chunkWidth` should match the raw layout's bucket width (intervalMax)
    * so the chunking adds no extra shuffle beyond the bucketed layout.
    *
    * `firstDefault`: prev_time for a metric's very first row (default: its
    * own time, i.e. gap 0). A6 passes the clamped range start `_b` so the
    * fold seeds at the query edge (src/metric.cpp:115-118). */
  def gapLiftChunked(points: DataFrame, chunkWidth: Long,
                     metric: String = "metric",
                     time: String = "time",
                     firstDefault: Option[Column] = None): DataFrame = {
    val ck = intervalBegin(col(time), chunkWidth)
    val wc = Window.partitionBy(col(metric), col("_ck")).orderBy(col(time))
    // last time of every (metric, chunk): tiny aggregate
    val chunkLast = points.withColumn("_ck", ck)
      .groupBy(col(metric), col("_ck")).agg(max(col(time)).as("_ck_last"))
    // previous nonempty chunk's last time, per metric (empty chunks skipped
    // by ordering over existing chunk rows only)
    val wPrev = Window.partitionBy(metric).orderBy("_ck")
    val boundary = chunkLast
      .withColumn("_prev_chunk_last", lag("_ck_last", 1).over(wPrev))
      .select(col(metric), col("_ck"), col("_prev_chunk_last"))
    points.withColumn("_ck", ck)
      .join(broadcast(boundary), Seq(metric, "_ck"), "left")
      .withColumn("prev_time",
        coalesce(lag(col(time), 1).over(wc), col("_prev_chunk_last"),
          firstDefault.getOrElse(col(time))))
      .drop("_ck", "_prev_chunk_last")
  }

  /** A3 boundary split: explode each sample's covering gap `(prev_time, time]`
    * into per-bucket segments of the epoch-aligned grid of width `interval`.
    *
    * Output columns added: `bstart` (interval start time of the segment),
    * `seg_len` (ticks of the gap inside that bucket), `is_home` (this bucket
    * contains the point itself → carries count/sum).
    *
    * Requires `prev_time` (from [[gapLift]]). A sample whose gap spans k
    * buckets produces k rows — identical to the k closed-interval
    * contributions the reference writes (src/metric.cpp:541-556).
    * All arithmetic stays in the long domain (ns exactness, see above).
    */
  def boundarySplit(lifted: DataFrame, interval: Long,
                    time: String = "time"): DataFrame =
    boundarySplit(lifted, lit(interval), time)

  /** [[boundarySplit]] with the interval as a column: one split serves rows
    * of several levels at once (the all-levels append). */
  def boundarySplit(lifted: DataFrame, interval: Column, time: String): DataFrame = {
    val t = col(time)
    val s0 = intervalBegin(col("prev_time"), interval)
    val sk = intervalBegin(t, interval)
    lifted
      .withColumn("bstart", explode(sequence(s0, sk, interval)))
      .withColumn("seg_len",
        least(t, col("bstart") + interval) -
          greatest(col("prev_time"), col("bstart")))
      .withColumn("is_home", col("bstart") === sk)
  }

  /** A1 monoid merge as aggregation columns over segment rows produced by
    * [[boundarySplit]] (value column `v`, flags `is_home`, lengths `seg_len`).
    * Yields the six Aggregate fields in canonical order, PLUS home-only
    * min/max: HTA minima/maxima include the boundary partial of the next
    * point (A3), which answers display semantics but not relational MIN/MAX
    * over raw points. minimum_home/maximum_home cover only the points
    * themselves (±Inf identity when a bucket has no home point), letting
    * RollupRouting route relational MIN/MAX through the level table. */
  def segmentAggCols(v: Column): Seq[Column] = Seq(
    min(v).as("minimum"),
    max(v).as("maximum"),
    sum(when(col("is_home"), v).otherwise(lit(0.0))).as("sum"),
    sum(when(col("is_home"), 1L).otherwise(0L)).as("count"),
    sum(v * col("seg_len").cast("double")).as("integral"),
    sum(col("seg_len")).as("active_time"),
    coalesce(min(when(col("is_home"), v)), lit(Double.PositiveInfinity))
      .as("minimum_home"),
    coalesce(max(when(col("is_home"), v)), lit(Double.NegativeInfinity))
      .as("maximum_home")
  )

  /** A1 monoid merge of already-aggregated rows (e.g. level k → level k+1):
    * element-wise min/max/+/+/+/+ (src/aggregate.cpp:50-59); home-only
    * min/max merge by min/max (±Inf identities make this a monoid). */
  def mergeAggCols: Seq[Column] = Seq(
    min("minimum").as("minimum"),
    max("maximum").as("maximum"),
    sum("sum").as("sum"),
    sum("count").as("count"),
    sum("integral").as("integral"),
    sum("active_time").as("active_time"),
    min("minimum_home").as("minimum_home"),
    max("maximum_home").as("maximum_home")
  )

  /** Identity element of the Aggregate monoid (include/hta/types.hpp:64-70):
    * queries over empty ranges must return ±inf min/max. */
  def identityAggCols: Seq[Column] = Seq(
    lit(Double.PositiveInfinity).as("minimum"),
    lit(Double.NegativeInfinity).as("maximum"),
    lit(0.0).as("sum"),
    lit(0L).as("count"),
    lit(0.0).as("integral"),
    lit(0L).as("active_time")
  )

  /** A10 derived means (include/hta/types.hpp:72-89). Division by zero must
    * yield NaN like the reference's C++ double division (tests/aggregate.cpp
    * :263-273 pins isnan(mean_sum) on count==0) — guarded because Spark's
    * ANSI mode would throw instead. */
  def withMeans(df: DataFrame): DataFrame = {
    val nan = lit(Double.NaN)
    df.withColumn("mean_sum",
        when(col("count") > 0, col("sum") / col("count")).otherwise(nan))
      .withColumn("mean_integral",
        when(col("active_time") > 0, col("integral") / col("active_time")).otherwise(nan))
      .withColumn("mean",
        when(col("active_time") > 0, col("mean_integral")).otherwise(col("mean_sum")))
  }

  /** A4 tumbling-window level build directly from raw points.
    *
    * Produces one row per CLOSED interval of width `interval`, per metric —
    * exactly the rows the reference's ingest cascade persists to the level
    * file (src/metric.cpp:510-560): dense buckets from the first point's
    * bucket up to (but excluding) the bucket containing the last point.
    *
    * `points` must have (metric, time, value). Output:
    * (metric, time, minimum, maximum, sum, count, integral, active_time)
    * with `time` = interval start.
    *
    * Scale: shuffle on metric (gap lift) then partial-aggregated shuffle on
    * (metric, bucket); both grids are epoch-aligned so every level build is an
    * independent, embarrassingly parallel job — no sequential cascade.
    */
  def levelBuild(points: DataFrame, interval: Long,
                 metric: String = "metric",
                 time: String = "time",
                 value: String = "value",
                 chunkWidth: Option[Long] = None): DataFrame = {
    val lifted = chunkWidth match {
      case Some(w) => gapLiftChunked(points, w, metric, time)
      case None => gapLift(points, metric, time)
    }
    levelBuildFromLifted(lifted, interval, metric, time, value)
  }

  /** Convenience: the canonical output column set of a level row. */
  val levelCols: Seq[String] =
    Seq("metric", "time", "minimum", "maximum", "sum", "count", "integral", "active_time")

  /** [[levelBuild]] on a pre-lifted frame. */
  def levelBuildFromLifted(lifted: DataFrame, interval: Long,
                           metric: String = "metric",
                           time: String = "time",
                           value: String = "value"): DataFrame = {
    // per-metric last time via broadcast-joined scalar agg, NOT a window —
    // an unordered window over partitionBy(metric) would force every row of
    // a metric onto one task (skew killer at scale)
    val last = lifted.groupBy(col(metric))
      .agg(max(col(time)).as("_last_time"))
    val segs = boundarySplit(
      lifted.join(broadcast(last), Seq(metric)),
      interval, time)
      // only CLOSED intervals: the bucket holding the last point is still open
      .where(col("bstart") < intervalBegin(col("_last_time"), interval))
    segs
      .groupBy(col(metric).as("metric"), col("bstart").as("time"))
      .agg(segmentAggCols(col(value)).head, segmentAggCols(col(value)).tail: _*)
  }

  /** A5 hierarchical rollup: merge level-k rows into closed level-(k+1) rows.
    * `level` must be a levelBuild output at `childInterval`;
    * `parentInterval = childInterval * factor`.
    * A parent interval is closed iff its children run to its end
    * (src/metric.cpp:576-603: the child whose end == parent end closes it).
    * Stores build each parent straight from lifted raw instead
    * (Warehouse.writeTails); LevelBuildSpec pins the two equal. */
  def rollup(level: DataFrame, childInterval: Long, parentInterval: Long): DataFrame = {
    require(parentInterval % childInterval == 0)
    val last = level.groupBy("metric")
      .agg((max(col("time")) + childInterval).as("_last_end"))
    level
      .join(broadcast(last), Seq("metric"))
      .withColumn("bstart", intervalBegin(col("time"), parentInterval))
      .where(col("bstart") + parentInterval <= col("_last_end"))
      .groupBy(col("metric"), col("bstart").as("time"))
      .agg(mergeAggCols.head, mergeAggCols.tail: _*)
  }
}

package graft.hta

import graft.store.Hta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A6 performance tier — the reference's telescoping range-aggregate plan
  * (src/metric.cpp:160-231): instead of folding every raw point in [b, e),
  * read raw only at the two unaligned edges and cover the middle with
  * aligned runs of successively coarser pre-aggregated levels
  * (O(2·factor·#levels) level rows + O(interval_min) raw points per metric).
  *
  * As in the reference, each metric's range is clamped to its data range
  * (`Hta.extents`, read from the store catalog) before it is
  * decomposed; metrics disjoint from [b, e) get the identity row. The
  * decomposition is driver-side arithmetic, shared by metrics with the same
  * clamp, and becomes two broadcast tables: level runs (metric, interval,
  * lo, hi) and raw edges (metric, rb, re). One pruned level scan, one raw
  * scan under the lowest edge start (read twice: once for each edge's next
  * point, once for its kept points) and one monoid merge answer every
  * metric; the reference's postcondition `active_time == e' - b'` fails the
  * query when the levels do not cover what raw holds.
  */
object Telescope {

  private def intervalBeginL(t: Long, d: Long): Long = t - Math.floorMod(t, d)
  private def intervalEndL(t: Long, d: Long): Long = intervalBeginL(t, d) + d

  sealed trait Slice
  final case class RawEdge(b: Long, e: Long) extends Slice
  final case class LevelRun(interval: Long, b: Long, e: Long) extends Slice

  /** The reference's loop at src/metric.cpp:184-227, verbatim arithmetic. */
  def decompose(b: Long, e: Long, ladder: Seq[Long], factor: Long): Seq[Slice] = {
    val imin = ladder.head
    val imax = ladder.last
    var begin = b
    var end = e
    val nb = intervalEndL(begin - 1, imin)
    val ne = intervalBeginL(end, imin)
    if (nb >= ne) return Seq(RawEdge(b, e))
    val out = Seq.newBuilder[Slice]
    out += RawEdge(begin, nb)
    out += RawEdge(ne, end)
    begin = nb; end = ne
    var interval = imin
    var done = false
    while (!done) {
      val next = Math.multiplyExact(interval, factor)
      val nb2 = intervalEndL(begin - 1, next)
      val ne2 = intervalBeginL(end, next)
      if (next > imax || nb2 >= ne2) {
        out += LevelRun(interval, begin, end)
        done = true
      } else {
        if (begin < nb2) out += LevelRun(interval, begin, nb2)
        if (ne2 < end) out += LevelRun(interval, ne2, end)
        begin = nb2; end = ne2; interval = next
      }
    }
    out.result().filter {
      case LevelRun(_, rb, re) => rb < re
      case RawEdge(rb, re) => rb <= re
    }
  }

  /** One exact Aggregate row per metric over [b, e) — same semantics as
    * Queries.aggregateRange, telescoped. */
  def aggregateRange(hta: Hta, b: Long, e: Long): DataFrame = {
    require(b < e, s"invalid request: begin $b >= end $e")
    val spark = hta.raw.sparkSession
    import spark.implicits._
    val meta = hta.meta
    // overlap test and clamp per metric (src/metric.cpp:169-181); metrics
    // with the same clamp share one decomposition
    val (live, disjoint) = hta.extents.partition { case (_, x) => e > x.first && b <= x.last }
    val slices = live.toSeq.groupMap { case (_, x) => (math.max(b, x.first), math.min(e, x.last)) }(_._1)
      .toSeq.flatMap { case ((cb, ce), ms) =>
        val ss = decompose(cb, ce, meta.levelIntervals, meta.intervalFactor)
        for (m <- ms; s <- ss) yield m -> s
      }
    val aggCols = Seq("minimum", "maximum", "sum", "count", "integral", "active_time")
    val identity = disjoint.keys.toSeq.toDF("metric")
      .select(col("metric") +: AggOps.identityAggCols: _*)
    if (slices.isEmpty) return identity

    // every level run in one scan of the runs' partitions and time span
    val runs = slices.collect { case (m, LevelRun(i, lo, hi)) => (m, i, lo, hi) }
    val levelRows = if (runs.isEmpty) None else Some(
      hta.levels.where(col("interval").isin(runs.map(_._2).distinct: _*) &&
          col("time") >= runs.map(_._3).min && col("time") < runs.map(_._4).max)
        .join(broadcast(runs.toDF("metric", "interval", "_lo", "_hi")), Seq("metric", "interval"))
        .where(col("time") >= col("_lo") && col("time") < col("_hi"))
        .select(col("metric") +: aggCols.map(col) :+ lit(null).cast("long").as("_rb") :+
          lit(null).cast("long").as("_re"): _*))

    // every raw edge from one scan under the lowest edge start:
    // aggregate_raw (src/metric.cpp:112-137), scope (closed, extended) on
    // [rb, re) with the gap seeded at rb. Points in [rb, re) and the edge's
    // first point at or after re are kept before the lag, so the lag sees
    // O(interval_min) points per edge, not the store's tail.
    val edges = slices.collect { case (m, RawEdge(rb, re)) => (m, rb, re) }
    val lo = edges.map(_._2).min
    val scan = (if (hta.raw.columns.contains("tb"))
        hta.raw.where(col("tb") >= lo - Math.floorMod(lo, meta.intervalMax))
      else hta.raw).where(col("time") >= lo)
      .join(broadcast(edges.toDF("metric", "_rb", "_re")), Seq("metric"))
      .where(col("time") >= col("_rb"))
    val ext = scan.where(col("time") >= col("_re"))
      .groupBy("metric", "_rb").agg(min("time").as("_ext"))
    val t = col("time")
    val prev = coalesce(lag(t, 1).over(Window.partitionBy("metric", "_rb").orderBy(t)), col("_rb"))
    val in = t < col("_re")
    val edgeRows = scan.join(broadcast(ext), Seq("metric", "_rb"))
      .where(in || t === col("_ext"))
      .withColumn("_gap", least(t, col("_re")) - prev)
      .select(col("metric"), col("value").as("minimum"), col("value").as("maximum"),
        when(in, col("value")).otherwise(0.0).as("sum"), when(in, 1L).otherwise(0L).as("count"),
        (col("value") * col("_gap").cast("double")).as("integral"),
        col("_gap").as("active_time"), col("_rb"), col("_re"))

    // one monoid merge; the reference's postcondition (:229) fails loudly
    // when the levels do not cover what raw holds. A metric's edges start
    // at its clamped b' and end at its clamped e'.
    levelRows.fold(edgeRows)(_.unionByName(edgeRows)).groupBy("metric")
      .agg(min("minimum").as("minimum"), max("maximum").as("maximum"),
        sum("sum").as("sum"), sum("count").as("count"),
        sum("integral").as("integral"), sum("active_time").as("active_time"),
        (max("_re") - min("_rb")).as("_span"))
      .withColumn("active_time", when(col("active_time") === col("_span"), col("active_time"))
        .otherwise(raise_error(concat(lit("telescoped aggregate: metric "), col("metric"),
          lit(" covers "), col("active_time"), lit(s" ns of [$b, $e), its data range holds "),
          col("_span"), lit(" ns: levels do not cover raw")))))
      .drop("_span")
      .unionByName(identity)
  }
}

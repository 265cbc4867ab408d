package graft.hta

import graft.SparkSpec
import graft.model.{IntervalScope, Meta, Scope}
import graft.store.{Hta, Warehouse}
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.Sample
import graft.tools.Tools
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** retrieveFlex routes by arithmetic on the store catalog: a level is
  * non-empty in scope iff a row between its first row and closed end is.
  * That must equal emptiness scanned from the level's rows, for every
  * begin/end scope pair, on stores whose catalog is written (ingest) or
  * derived (retire, the stream sinks). */
class LevelEmptinessSpec extends SparkSpec {
  import Scope._

  private val meta = Meta(10 * S, 1000 * S, 10)

  private def series(metric: String, secs: Seq[Long]) =
    secs.map(t => (metric, tp(t), (t % 7 - 3).toDouble))

  // `paused` is silent for 1400 s, across a 1000 s interval; `single` has
  // one point and `short` two in one 10 s interval, so neither closes a row
  private val pts = (series("steady", 5L to 2500L by 3) ++
    series("paused", (10L to 300L by 13) ++ (1700L to 2400L by 13)) ++
    series("single", Seq(777L)) ++ series("short", Seq(1201L, 1205L))).sortBy(_._2)

  private def df = {
    val s = spark
    import s.implicits._
    pts.toDF("metric", "time", "value")
  }

  private val modes = Seq(Closed, Open, Extended, Infinity)

  /** The filter the routed scan applies, as a scan of `times`. */
  private def scanned(times: Seq[Long], b: Long, e: Long, sc: IntervalScope): Boolean = {
    def inBegin(t: Long) = sc.begin match {
      case Closed => t >= b
      case Open | Extended => t > b
      case Infinity => true
    }
    def inEnd(t: Long) = sc.end match {
      case Closed => t <= e
      case Open | Extended => t < e
      case Infinity => true
    }
    times.exists(t => inBegin(t) && inEnd(t)) ||
      (sc.begin == Extended && times.exists(_ <= b)) ||
      (sc.end == Extended && times.exists(_ >= e))
  }

  private def arithmeticMatchesScan(h: Hta): Unit = {
    val rows = h.levels.select("interval", "metric", "time").collect().toSeq
      .groupMap(r => (r.getLong(0), r.getString(1)))(_.getLong(2))
    assert(h.levelExtents.keySet === rows.keySet)
    assert(rows.keySet.map(_._2) === Set("steady", "paused"))
    for (((i, m), times) <- rows) {
      val ext = h.levelExtents((i, m))
      val marks = Seq(times.min - i, times.min, (times.min + times.max) / 2, times.max,
        ext.closedEnd, tp(0), tp(1000), tp(3000))
      val probes = marks.flatMap(t => Seq(t - 1, t, t + 1, t + i / 2))
      for (b <- modes; e <- modes; sc = IntervalScope(b, e); begin <- probes; end <- probes)
        assert(RetrieveFlex.nonEmptyAt(ext, i, begin, end, sc) === scanned(times, begin, end, sc),
          s"level $i metric $m scope $sc [$begin, $end]")
    }
  }

  test("arithmetic emptiness == scanned emptiness on an ingested store") {
    val h = Warehouse.ingest(df, meta, tmpDir("empty_ingest"))
    assert(h.catalog.isDefined)
    arithmeticMatchesScan(h)
  }

  test("arithmetic emptiness == scanned emptiness on a retired store") {
    val root = tmpDir("empty_retire")
    Warehouse.ingest(df, meta, root)
    val h = Tools.retire(spark, root, tp(1500))
    assert(h.catalog.isDefined)
    arithmeticMatchesScan(h)
  }

  test("arithmetic emptiness == scanned emptiness on a stream-written store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmpDir("empty_stream")
    val (lv, raw) = (MemoryStream[Sample], MemoryStream[Sample])
    val qs = Seq(StreamIngest.sinkToWarehouse(lv.toDS(), meta, root, tmpDir("empty_ckpt_lv")),
      StreamIngest.sinkRawToWarehouse(raw.toDS(), meta, root, tmpDir("empty_ckpt_raw")))
    try {
      for (mem <- Seq(lv, raw)) mem.addData(pts.map { case (m, t, v) => Sample(m, t, v) }: _*)
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    val h = Warehouse.open(spark, root)
    assert(h.catalog.isEmpty)
    arithmeticMatchesScan(h)
  }
}

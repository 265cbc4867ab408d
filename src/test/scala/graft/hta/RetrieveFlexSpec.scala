package graft.hta

import graft.SparkSpec
import graft.model.{IntervalScope, Meta, Scope}
import graft.store.Warehouse
import org.apache.spark.sql.Row

/** Port of /root/reference/tests/retrieve.cpp:113-211 and tests/flex.cpp —
  * the retrieve/retrieve_flex router (Q2/Q3/O4): min_samples → level
  * selection, raw fallback, row lifting, begin==end, begin>end throws. */
class RetrieveFlexSpec extends SparkSpec {

  private lazy val hta = Warehouse.ingest(
    fixtureDf, Meta(10 * S, 1000 * S, 10), tmpDir("flex"))

  private def ret(b: Long, e: Long, minSamples: Long): Array[Row] =
    RetrieveFlex.retrieveMinSamples(hta, b, e, minSamples)
      .orderBy("time").collect()

  test("begin > end throws (retrieve.cpp:118-124)") {
    intercept[IllegalArgumentException](RetrieveFlex.retrieveMinSamples(hta, tp(10), tp(1), 1))
    intercept[IllegalArgumentException](RetrieveFlex.retrieveMinSamples(hta, tp(100), tp(10), 1))
  }

  test("min_samples=31 routes to raw: 110 interval-0 rows (retrieve.cpp:128-131)") {
    val r = ret(tp(0), tp(300), 31)
    assert(r.length === 110)
    assert(r.forall(_.getAs[Long]("interval") === 0L))
    // Q3 lifting: first point gap 0, others gap to previous point
    assert(r(0).getAs[Long]("active_time") === 0L)
    assert(r(1).getAs[Long]("active_time") === 10 * S)
    assert(r(1).getAs[Double]("integral") === -36.0 * 10 * 1e9)
  }

  test("min_samples=30 routes to the 10s level: 21 golden rows (retrieve.cpp:133-172)") {
    val r = ret(tp(0), tp(300), 30)
    assert(r.length === 21)
    val ns = 1e9
    assert(r(0).getAs[Long]("time") === tp(10))
    assert(r(0).getAs[Long]("active_time") === 9 * S)
    assert(r(0).getAs[Long]("count") === 1)
    assert(r(0).getAs[Double]("integral") === 9 * ns * -36.0)
    assert(r(0).getAs[Double]("sum") === -37.0)
    assert(r(0).getAs[Double]("maximum") === -36.0)
    assert(r(0).getAs[Double]("minimum") === -37.0)
    assert(r(1).getAs[Double]("integral") === ns * (-36.0 + 9 * -30.0))
    assert(r(2).getAs[Long]("count") === 0)
    assert(r(2).getAs[Double]("sum") === 0.0)
    assert(r(3).getAs[Double]("integral") === ns * (2 * -30.0 + 6 * -20.0 + 2 * -10.0))
    assert(r(20).getAs[Long]("time") === tp(210))
    assert(r(20).getAs[Double]("integral") === ns * (7 * 35.0 + 2 * 45.0 + 1 * 35.0))
  }

  test("min_samples=5 still the 10s level: 21 rows (retrieve.cpp:174-177)") {
    assert(ret(tp(0), tp(300), 5).length === 21)
  }

  test("min_samples=3 routes to the 100s level: 2 golden rows (retrieve.cpp:178-205)") {
    val r = ret(tp(0), tp(300), 3)
    assert(r.length === 2)
    assert(r(0).getAs[Long]("time") === tp(0))
    assert(r(0).getAs[Long]("active_time") === 89 * S)
    assert(r(0).getAs[Long]("count") === 7)
    assert(r(0).getAs[Double]("maximum") === 20.0)
    assert(r(0).getAs[Double]("minimum") === -37.0)
    assert(r(1).getAs[Long]("time") === tp(100))
    assert(r(1).getAs[Long]("count") === 99)
    assert(r(1).getAs[Double]("integral") === (99 * 20.0 + 1 * 31.0) * 1e9)
    assert(r(1).getAs[Double]("sum") === 99 * 20.0)
  }

  test("the routed plan reads exactly one interval= partition, no finer level") {
    val pruned = formatted(RetrieveFlex.retrieveFlex(hta, tp(0), tp(300), 100 * S))
      .linesIterator.filter(_.startsWith("PartitionFilters")).toSeq.distinct
    assert(pruned.size === 1 && pruned.head.contains(s"(interval = ${100 * S})"), pruned)
  }

  test("begin == end with extended scope returns the containing row (retrieve.cpp:207-211)") {
    val r = RetrieveFlex.retrieveFlex(hta, tp(15), tp(15), 10 * S, smooth = false)
    assert(r.collect().length === 1)
  }

  test("empty level falls back to a finer level") {
    // limit of 1000s: the 1000s level has no closed rows (last point 225s),
    // so the router must descend to 100s (src/metric.cpp:394-409)
    val r = RetrieveFlex.retrieveFlex(hta, tp(0), tp(300), 1000 * S, smooth = false)
      .orderBy("time").collect()
    assert(r.length === 2)
    assert(r.forall(_.getAs[Long]("interval") === 100 * S))
  }

  test("limit < 0 returns the single range aggregate (src/metric.cpp:366-370)") {
    val r = RetrieveFlex.retrieveFlex(hta, tp(20), tp(220), -1)
      .collect().head
    assert(r.getAs[Long]("count") === 108)
    assert(r.getAs[Long]("active_time") === 200 * S)
    assert(r.getAs[Long]("interval") === 200 * S)
    assert(r.getAs[Long]("time") === tp(20))
  }

  test("smooth=true compacts level rows positionally (flex smoothing, A9)") {
    // limit 50s → level 10s, smooth factor 5 → ceil(21/5) = 5 rows
    val r = RetrieveFlex.retrieveFlex(hta, tp(0), tp(300), 50 * S, smooth = true)
      .orderBy("time").collect()
    assert(r.length === 5)
    assert(r(0).getAs[Long]("time") === tp(10))
    // first chunk = rows t=10..50: counts 1+1+0+2+1
    assert(r(0).getAs[Long]("count") === 5)
    assert(r(0).getAs[Long]("active_time") === 49 * S)
    // trailing partial chunk (21 = 4*5 + 1) keeps the last row alone
    assert(r(4).getAs[Long]("time") === tp(210))
    assert(r(4).getAs[Long]("count") === 2)
  }

  test("smoothRaw: dense raw points compacted into begin-anchored windows") {
    // (100..200) has ~1s spacing; ask for 5s windows below interval_min=10s
    val scoped = Scoped.scopedRange(fixtureDf, tp(100), tp(130), IntervalScope.retrieveDefault)
    val rows = Queries.smoothRaw(scoped, tp(100), tp(130), 5 * S)
      .orderBy("time").collect()
    assert(rows.length === 6)
    assert(rows.forall(_.getAs[Long]("time") % (5 * S) === 0))
    // each full window holds 5 of the constant-20 points
    assert(rows(1).getAs[Long]("count") === 5)
    assert(rows(1).getAs[Long]("active_time") === 5 * S)
    assert(rows(1).getAs[Double]("integral") === 20.0 * 5 * 1e9)
  }

  test("count checks at 10s count=5 (fixture 101..199 run)") {
    val lvl = hta.levels.where(hta.levels("interval") === 10 * S)
    assert(lvl.count() === 21)
    assert(hta.levels.where(hta.levels("interval") === 100 * S).count() === 2)
    // 1000s level: no closed interval before 225s → empty (overflow.cpp:93-97)
    assert(hta.levels.where(hta.levels("interval") === 1000 * S).count() === 0)
  }
}

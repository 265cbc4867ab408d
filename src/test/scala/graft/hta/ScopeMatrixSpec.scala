package graft.hta

import graft.SparkSpec
import graft.model.{IntervalScope, Meta, Scope}
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** Port of /root/reference/tests/scope.cpp:52-238 — 1M-point ±1 ns epsilon
  * probes of every scope combination at raw resolution and on the 100 s
  * level. (Level ladder capped at 1000 s instead of the reference's default
  * 1-year max — the probes only touch the 10 s/100 s levels and level
  * selection is identical for limit=100 s.) */
class ScopeMatrixSpec extends SparkSpec {

  private val Off2 = 1500000000L * S
  private val N = 1000000L

  private lazy val raw = {
    spark.range(N).select(
      lit("foo").as("metric"),
      (lit(Off2) + col("id") * S).as("time"),
      col("id").cast("double").as("value"))
  }.cache()

  private lazy val hta = Warehouse.ingest(raw, Meta(10 * S, 1000 * S, 10), tmpDir("scope"))

  private def t2(sec: Long, eps: Long = 0): Long = Off2 + sec * S + eps
  import Scope._
  private def is(b: Scope, e: Scope) = IntervalScope(b, e)

  private def rawCount(be: Long, ee: Long, sc: IntervalScope): Long =
    Scoped.scopedRange(raw, t2(10100, be), t2(10300, ee), sc).count()

  private def lvlCount(be: Long, ee: Long, sc: IntervalScope): Long =
    RetrieveFlex.retrieveFlex(hta, t2(10100, be), t2(10300, ee), 100 * S, sc,
      smooth = false).count()

  test("corner timestamps (scope.cpp:97-135)") {
    assert(Scoped.scopedRange(raw, t2(0), t2(N - 1), is(Closed, Closed)).count() === N)
    assert(Scoped.scopedRange(raw, t2(0), t2(N - 1), is(Open, Open)).count() === N - 2)
    assert(Scoped.scopedRange(raw, t2(0, -1), t2(N - 1, 1), is(Closed, Closed)).count() === N)
    assert(Scoped.scopedRange(raw, t2(0, -1), t2(N - 1, 1), is(Open, Open)).count() === N)
    assert(Scoped.scopedRange(raw, t2(0), t2(N - 1), is(Closed, Open)).count() === N - 1)
  }

  test("raw ±1ns matrix (scope.cpp:140-187)") {
    val expect = Seq(
      (is(Closed, Open), Seq((0L, 0L, 200L), (-1L, 0L, 200L), (1L, 0L, 199L), (0L, -1L, 200L), (0L, 1L, 201L))),
      (is(Closed, Closed), Seq((0L, 0L, 201L), (-1L, 0L, 201L), (1L, 0L, 200L), (0L, -1L, 200L), (0L, 1L, 201L))),
      (is(Closed, Extended), Seq((0L, 0L, 201L), (-1L, 0L, 201L), (1L, 0L, 200L), (0L, -1L, 201L), (0L, 1L, 202L))),
      (is(Open, Open), Seq((0L, 0L, 199L), (-1L, 0L, 200L), (1L, 0L, 199L), (0L, -1L, 199L), (0L, 1L, 200L))),
      (is(Extended, Open), Seq((0L, 0L, 200L), (-1L, 0L, 201L), (1L, 0L, 200L), (0L, -1L, 200L), (0L, 1L, 201L))))
    for ((sc, probes) <- expect; (be, ee, n) <- probes)
      assert(rawCount(be, ee, sc) === n, s"scope $sc eps ($be,$ee)")
    assert(rawCount(0, 0, is(Infinity, Infinity)) === N)
  }

  test("100s level ±1ns matrix (scope.cpp:189-238)") {
    val expect = Seq(
      (is(Closed, Open), Seq((0L, 0L, 2L), (-1L, 0L, 2L), (1L, 0L, 1L), (0L, -1L, 2L), (0L, 1L, 3L))),
      (is(Closed, Closed), Seq((0L, 0L, 3L), (-1L, 0L, 3L), (1L, 0L, 2L), (0L, -1L, 2L), (0L, 1L, 3L))),
      (is(Closed, Extended), Seq((0L, 0L, 3L), (-1L, 0L, 3L), (1L, 0L, 2L), (0L, -1L, 3L), (0L, 1L, 4L))),
      (is(Open, Open), Seq((0L, 0L, 1L), (-1L, 0L, 2L), (1L, 0L, 1L), (0L, -1L, 1L), (0L, 1L, 2L))),
      (is(Extended, Open), Seq((0L, 0L, 2L), (-1L, 0L, 3L), (1L, 0L, 2L), (0L, -1L, 2L), (0L, 1L, 3L))))
    for ((sc, probes) <- expect; (be, ee, n) <- probes)
      assert(lvlCount(be, ee, sc) === n, s"scope $sc eps ($be,$ee)")
  }

  /** The formatted plan's detail lines that start with `key`. */
  private def planLines(df: org.apache.spark.sql.DataFrame, key: String): Seq[String] =
    formatted(df).linesIterator.filter(_.startsWith(key)).toSeq

  test("a bucketed raw scope pushes the time bounds and prunes tb partitions") {
    val q = Scoped.scopedRange(hta.raw, t2(10100), t2(10300), is(Closed, Open),
      bucket = Some(("tb", 1000 * S)))
    val pushed = planLines(q, "PushedFilters")
    assert(pushed.exists(l => l.contains("GreaterThanOrEqual(time,") &&
      l.contains("LessThan(time,")), pushed)
    val pruned = planLines(q, "PartitionFilters")
    assert(pruned.exists(l => l.contains("(tb >= ") && l.contains("(tb <")), pruned)
  }

  test("a level read prunes to its interval= partition") {
    val q = hta.levels.where(col("interval") === 100 * S &&
      col("time") >= t2(10100) && col("time") < t2(10300))
    val pruned = planLines(q, "PartitionFilters")
    assert(pruned.size === 1 && pruned.head.contains(s"(interval = ${100 * S})"), pruned)
    assert(planLines(q, "PushedFilters").exists(_.contains("GreaterThanOrEqual(time,")))
  }

  test("O3 range() bounds (scope.cpp:95-96)") {
    val r = Queries.rangeBounds(raw).collect().head
    assert(r.getAs[Long]("first_time") === t2(0))
    assert(r.getAs[Long]("last_time") === t2(N - 1))
  }
}

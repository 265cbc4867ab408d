package graft.store

import graft.SparkSpec
import graft.hta.{AggOps, RetrieveFlex, Telescope}
import graft.model.Meta
import graft.plans.RollupRouting
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.Sample
import graft.tools.Tools
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Port of /root/reference/tests/restore.cpp:60-215 — ingesting the fixture
  * across multiple sessions (batch appends) must produce exactly the same
  * levels and retrieve() results as one-shot ingest. */
class RestoreSpec extends SparkSpec {

  private val meta = Meta(10 * S, 1000 * S, 10)
  private val wide = Meta(10 * S, 10000000 * S, 10)

  test("multi-batch append == one-shot ingest (levels bit-identical)") {
    val all = fixture110
    val oneShot = Warehouse.ingest(pointsDf(all), meta, tmpDir("oneshot"))

    // 6 sessions like the reference: uneven splits incl. single points
    val cuts = Seq(3, 7, 30, 31, 80, all.length)
    val root = tmpDir("restore")
    var prev = 0
    var hta: Hta = null
    for (c <- cuts) {
      val batch = pointsDf(all.slice(prev, c))
      hta = if (prev == 0) Warehouse.ingest(batch, meta, root)
            else Warehouse.append(batch, root)
      prev = c
    }

    val a = oneShot.levels.orderBy("interval", "metric", "time").collect()
    val b = hta.levels.orderBy("interval", "metric", "time").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    assert(Tools.check(hta, tp(100000)).count() === 0)
  }

  test("append tail scan prunes raw partitions (PartitionFilters on tb)") {
    val root = tmpDir("restore3")
    Warehouse.ingest(pointsDf(fixture110.take(80)), meta, root)
    // level-0 closed ends stand in for the append's per-metric tail starts
    val starts = Warehouse.open(spark, root).levelExtents.collect {
      case ((i, m), ext) if i == meta.levelIntervals.head => m -> ext.closedEnd
    }
    val region = Warehouse.tailRegion(spark, root, starts, meta.intervalMax)
    val plan = region.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("\n").exists(l => l.contains("PartitionFilters") && l.contains("tb")),
      s"tail scan must show tb partition pruning:\n$plan")
    // and the time bound reaches the parquet scan as a pushed filter
    assert(plan.split("\n").exists(l => l.contains("PushedFilters") &&
      l.contains("GreaterThanOrEqual(time")), s"time bound not pushed:\n$plan")
  }

  test("retrieve goldens survive restore (restore.cpp goldens == retrieve.cpp)") {
    val root = tmpDir("restore2")
    Warehouse.ingest(pointsDf(fixture110.take(50)), meta, root)
    val hta = Warehouse.append(pointsDf(fixture110.drop(50)), root)
    val r = RetrieveFlex.retrieveMinSamples(hta, tp(0), tp(300), 30)
      .orderBy("time").collect()
    assert(r.length === 21)
    assert(r(0).getAs[Long]("active_time") === 9 * S)
    assert(r(3).getAs[Double]("integral") === 1e9 * (2 * -30.0 + 6 * -20.0 + 2 * -10.0))
    assert(r(20).getAs[Double]("integral") === 1e9 * (7 * 35.0 + 2 * 45.0 + 1 * 35.0))
  }

  test("ingest rejects a zero and a duplicate timestamp (F5)") {
    intercept[IllegalArgumentException](Warehouse.ingest(
      pointsDf(Seq(0L -> 1.0, tp(5) -> 2.0)), meta, tmpDir("f5_zero")))
    intercept[IllegalArgumentException](Warehouse.ingest(
      pointsDf(Seq(tp(5) -> 1.0, tp(5) -> 2.0, tp(9) -> 3.0)), meta, tmpDir("f5_dup")))
  }

  test("append rejects stale, duplicate and zero timestamps and writes nothing (F5)") {
    val root = tmpDir("f5_append")
    Warehouse.ingest(pointsDf(fixture110.take(50)), meta, root)
    def rows(h: Hta) = (h.raw.count(), h.levels.count(), Warehouse.metricNames(h))
    val before = rows(Warehouse.open(spark, root))
    val last = fixture110(49)._1
    val bad = Seq(
      "a point at the existing last" -> pointsDf(Seq(last -> 1.0, tp(300) -> 2.0)),
      "a point before the existing last" -> pointsDf(Seq(last - S -> 1.0)),
      "a duplicate inside the batch" -> pointsDf(Seq(tp(300) -> 1.0, tp(300) -> 2.0)),
      "a duplicate of a new metric" ->
        pointsDf(Seq(tp(300) -> 1.0, tp(300) -> 2.0), metric = "fresh"),
      "a zero timestamp of a new metric" ->
        pointsDf(Seq(0L -> 1.0, tp(300) -> 2.0), metric = "fresh"))
    for ((what, batch) <- bad) {
      intercept[IllegalArgumentException](Warehouse.append(batch, root))
      assert(rows(Warehouse.open(spark, root)) === before, s"$what was written")
    }
    val after = Warehouse.append(pointsDf(fixture110.drop(50)), root)
    assert(after.raw.count() === fixture110.length)
  }

  test("multi-metric append in seeded cuts == one-shot ingest (levels and raw bit-identical)") {
    def series(metric: String, secs: Seq[Long]) =
      secs.map(t => (metric, tp(t), (t % 7 - 3).toDouble))
    // different spacings close different rows per level; `late` is first
    // seen in a later batch; `gappy` stays silent for several 100 s
    // intervals across a cut; `sparse` gets no points in the middle batches
    val pts = (series("fast", 5L to 2500L by 3) ++
      series("slow", 20L to 2600L by 37) ++
      series("late", 1200L to 2700L by 11) ++
      series("gappy", (10L to 300L by 13) ++ (1700L to 2400L by 13)) ++
      series("sparse", (0L to 200L by 17) ++ (1500L to 1600L by 9)))
      .sortBy(p => (p._2, p._1))
    val s = spark
    import s.implicits._
    def df(p: Seq[(String, Long, Double)]) = p.toDF("metric", "time", "value")
    val oneShot = Warehouse.ingest(df(pts), meta, tmpDir("multi_oneshot"))

    // a one-point ingest, two one-point appends, one cut inside gappy's gap
    // (one point either side of it), the rest seeded
    val inGap = pts.indexWhere(_._2 >= tp(1000))
    val rnd = new scala.util.Random(11)
    val cuts = (Seq(1, 2, 3, inGap, inGap + 1, pts.length) ++
      Seq.fill(3)(4 + rnd.nextInt(pts.length - 5))).distinct.sorted
    val root = tmpDir("multi_restore")
    var hta: Hta = null
    for ((from, until) <- (0 +: cuts).zip(cuts)) {
      val batch = df(pts.slice(from, until))
      hta = if (from == 0) Warehouse.ingest(batch, meta, root)
            else Warehouse.append(batch, root)
      assert(Warehouse.metricNames(hta) === pts.take(until).map(_._1).distinct.sorted,
        s"catalog after the batch ending at $until")
    }

    val a = oneShot.levels.orderBy("interval", "metric", "time").collect()
    val b = hta.levels.orderBy("interval", "metric", "time").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    assert(hta.raw.drop("tb").orderBy("metric", "time").collect().toSeq ===
      oneShot.raw.drop("tb").orderBy("metric", "time").collect().toSeq)
    assert(Tools.check(hta, tp(100000)).count() === 0)
  }

  test("append issues as many Spark jobs into 7 levels as into 3") {
    def appendJobs(m: Meta, tag: String): Int = {
      val root = tmpDir(tag)
      Warehouse.ingest(pointsDf(fixture110.take(80)), m, root)
      jobsOf(Warehouse.append(pointsDf(fixture110.drop(80)), root))
    }
    assert(meta.levelIntervals.length === 3 && wide.levelIntervals.length === 7)
    val three = appendJobs(meta, "jobs3")
    val seven = appendJobs(wide, "jobs7")
    assert(three > 0 && seven === three,
      s"append jobs grow with the ladder: 3 levels $three, 7 levels $seven")
  }

  test("ingest issues as many Spark jobs into 7 levels as into 3") {
    def ingestJobs(m: Meta, tag: String): Int =
      jobsOf(Warehouse.ingest(pointsDf(fixture110), m, tmpDir(tag)))
    val three = ingestJobs(meta, "ingest_jobs3")
    val seven = ingestJobs(wide, "ingest_jobs7")
    assert(three > 0 && seven === three,
      s"ingest jobs grow with the ladder: 3 levels $three, 7 levels $seven")
  }

  test("ingest levels equal AggOps.levelBuild level by level, bit for bit") {
    def series(metric: String, secs: Seq[Long]) =
      secs.map(t => (metric, tp(t), (t % 7 - 3) * 0.25))
    // `paused` is silent across a 1000 s interval and a raw bucket; `single`
    // has one point and `short` two in one 10 s interval, so neither closes
    // a row; `dups` repeats its first time with two values (both points get
    // gap 0, whichever sorts first) and a later time with one value
    val pts = series("steady", 5L to 2500L by 3) ++
      series("paused", (10L to 300L by 13) ++ (1700L to 2400L by 13)) ++
      series("single", Seq(777L)) ++
      series("short", Seq(1201L, 1205L)) ++
      Seq(("dups", tp(40), 1.0), ("dups", tp(400), 2.0), ("dups", tp(400), 2.0)) ++
      series("dups", 40L to 1500L by 17)
    val s = spark
    import s.implicits._
    val df = pts.toDF("metric", "time", "value")
    val hta = Warehouse.ingest(df, meta, tmpDir("ingest_vs_build"), validate = false)
    val cols = AggOps.levelCols ++ Seq("minimum_home", "maximum_home")
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })
    for (k <- meta.levelIntervals) {
      val built = AggOps.levelBuild(df, k).select(cols.map(org.apache.spark.sql.functions.col): _*)
        .orderBy("metric", "time").collect()
      val got = hta.levels.where(s"interval = $k").select(cols.head, cols.tail: _*)
        .orderBy("metric", "time").collect()
      assert(built.map(_.getString(0)).distinct.sorted.toSeq === Seq("dups", "paused", "steady"),
        s"level $k: metrics with closed rows")
      assert(bits(got) === bits(built), s"level $k")
    }
  }

  /** After a write the catalog does not describe: `open` ignores the stale
    * catalog, so flex, aggregate and the routing watermarks equal a handle
    * that derives from the data (and the stale catalog would not have); a
    * following append of `next` writes a current catalog and, whatever the
    * levels lagged or led, the one-shot ingest's levels. */
  private def staleCatalogIgnored(root: String, stale: StoreCatalog,
                                  next: Seq[(Long, Double)]): Unit = {
    val opened = Warehouse.open(spark, root)
    assert(opened.catalog.isEmpty, "open kept a catalog whose files are not the store's")
    val fresh = Hta(opened.raw, opened.levels, opened.meta)
    val derived = StoreCatalog.derive(fresh)
    assert((stale.metrics, stale.levels) !== ((derived.metrics, derived.levels)),
      "the stale catalog describes the data")
    def reads(h: Hta) = (
      Seq(10 * S, 100 * S).map(l => RetrieveFlex.retrieveFlex(h, tp(0), tp(300), l)
        .orderBy("interval", "time").collect().toSeq),
      Telescope.aggregateRange(h, tp(0), tp(100)).collect().toSeq,
      RollupRouting.watermarks(h))
    assert(reads(opened) === reads(fresh))

    val after = Warehouse.append(pointsDf(next), root)
    val current = StoreCatalog.derive(Hta(after.raw, after.levels, after.meta))
    assert(after.catalog.map(c => (c.metrics, c.levels)) ===
      Some((current.metrics, current.levels)), "the append's catalog")
    val oneShot = Warehouse.ingest(pointsDf(fixture110), meta, tmpDir("stale_oneshot"))
    assert(after.levels.orderBy("interval", "time").collect().toSeq ===
      oneShot.levels.orderBy("interval", "time").collect().toSeq)
  }

  test("a catalog put back over an append (a crash before its write) is ignored") {
    val root = tmpDir("stale_crash")
    Warehouse.ingest(pointsDf(fixture110.take(40)), meta, root)
    val old = StoreCatalog.read(spark, root).get
    Warehouse.append(pointsDf(fixture110.slice(40, 80)), root)
    StoreCatalog.write(spark, root, old)
    staleCatalogIgnored(root, old, fixture110.drop(80))
  }

  test("raw appended by the raw stream sink makes the catalog stale") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmpDir("stale_rawsink")
    Warehouse.ingest(pointsDf(fixture110.take(40)), meta, root)
    val old = StoreCatalog.read(spark, root).get
    val mem = MemoryStream[Sample]
    val q = StreamIngest.sinkRawToWarehouse(mem.toDS(), meta, root, tmpDir("stale_ckpt"))
    try {
      mem.addData(fixture110.slice(40, 80).map { case (t, v) => Sample("foo", t, v) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    staleCatalogIgnored(root, old, fixture110.drop(80))
  }

  test("a level file written by hand makes the catalog stale") {
    val root = tmpDir("stale_level")
    Warehouse.ingest(pointsDf(fixture110.take(40)), meta, root)
    val old = StoreCatalog.read(spark, root).get
    // the 10 s rows a later append would close, written ahead of their raw
    val end = old.levels((meta.intervalMin, "foo")).closedEnd
    val full = Warehouse.ingest(pointsDf(fixture110), meta, tmpDir("stale_full"))
    Warehouse.writeLevel(full.levels.where(col("interval") === meta.intervalMin &&
      col("time") >= end && col("time") < tp(170)), s"$root/levels", SaveMode.Append)
    staleCatalogIgnored(root, old, fixture110.drop(40))
  }
}

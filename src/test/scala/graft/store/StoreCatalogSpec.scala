package graft.store

import graft.SparkSpec
import graft.hta.{RetrieveFlex, Telescope}
import graft.model.Meta
import graft.plans.RollupRouting
import org.apache.spark.sql.functions.col

/** The store catalog ingest and append write equals the one the data
  * derives, and reads that plan from it start no Spark job to plan. */
class StoreCatalogSpec extends SparkSpec {

  private val meta = Meta(10 * S, 1000 * S, 10)

  private def series(metric: String, secs: Seq[Long]) =
    secs.map(t => (metric, tp(t), (t % 7 - 3).toDouble))

  // `paused` is silent across a 1000 s interval; `single` and `short` close
  // no row; `late` first appears in the second batch
  private val pts = (series("steady", 5L to 2500L by 3) ++
    series("paused", (10L to 300L by 13) ++ (1700L to 2400L by 13)) ++
    series("single", Seq(777L)) ++ series("short", Seq(1201L, 1205L)) ++
    series("late", 1900L to 2600L by 11)).sortBy(_._2)

  private def df(p: Seq[(String, Long, Double)]) = {
    val s = spark
    import s.implicits._
    p.toDF("metric", "time", "value")
  }

  private def derived(h: Hta): StoreCatalog = StoreCatalog.derive(Hta(h.raw, h.levels, h.meta))

  private lazy val root = {
    val r = tmpDir("catalog_store")
    val cut = pts.indexWhere(_._2 >= tp(1500))
    Warehouse.ingest(df(pts.take(cut)), meta, r)
    Warehouse.append(df(pts.slice(cut, cut + 40)), r)
    Warehouse.append(df(pts.drop(cut + 40)), r)
    r
  }

  test("ingest and append write the catalog the data derives") {
    val r = tmpDir("catalog_steps")
    val cuts = Seq(1, 2, 500, pts.indexWhere(_._2 >= tp(1500)), pts.length)
    for ((from, until) <- (0 +: cuts).zip(cuts)) {
      val h = if (from == 0) Warehouse.ingest(df(pts.slice(from, until)), meta, r)
              else Warehouse.append(df(pts.slice(from, until)), r)
      val d = derived(h)
      assert(h.catalog.map(c => (c.metrics, c.levels)) === Some((d.metrics, d.levels)),
        s"catalog after the batch ending at $until")
    }
    // maintenance keeps the catalog current: compact moves rows between
    // files, retire drops whole buckets
    for ((what, run) <- Seq[(String, () => Hta)](
        "compact" -> (() => Warehouse.compact(spark, r, filesPerPartition = 2)),
        "retire" -> (() => graft.tools.Tools.retire(spark, r, tp(1200))))) {
      val h = run()
      val opened = Warehouse.open(spark, r)
      assert(opened.catalog.isDefined, s"open keeps the catalog after $what")
      val d = derived(opened)
      for (c <- Seq(h.catalog, opened.catalog))
        assert(c.map(c => (c.metrics, c.levels)) === Some((d.metrics, d.levels)),
          s"catalog after $what")
    }
    val opened = Warehouse.open(spark, root)
    assert(opened.catalog.isDefined)
    assert(opened.extents === derived(opened).metrics)
    assert(opened.levelExtents === derived(opened).levels)
  }

  test("retrieveFlex on an opened store starts no job before it returns") {
    val h = Warehouse.open(spark, root)
    for (limit <- Seq(5 * S, 30 * S, 500 * S, 5000 * S))
      assert(jobsOf(RetrieveFlex.retrieveFlex(h, tp(100), tp(2300), limit)) === 0,
        s"limit $limit")
  }

  test("the first aggregate after open starts as many jobs as the second") {
    val h = Warehouse.open(spark, root)
    val first = jobsOf(Telescope.aggregateRange(h, tp(70), tp(2200)).collect())
    val second = jobsOf(Telescope.aggregateRange(h, tp(70), tp(2200)).collect())
    assert(first > 0 && first === second, s"first $first jobs, second $second")
  }

  test("RollupRouting.install starts no job beyond the home-column probe") {
    val h = Warehouse.open(spark, root)
    val probe = jobsOf(h.levels.where(col("minimum_home").isNull).limit(1).count())
    assert(jobsOf(RollupRouting.install(spark, h)) === probe)
    assert(RollupRouting.watermarks(h) === RollupRouting.watermarks(Hta(h.raw, h.levels, h.meta)))
  }
}

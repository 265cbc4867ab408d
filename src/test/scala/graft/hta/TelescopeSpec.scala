package graft.hta

import graft.SparkSpec
import graft.model.Meta
import graft.store.Warehouse
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.Sample
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Telescoped A6 must be bit-identical to the correctness-tier raw fold
  * (the reference asserts the same plan equivalence via its golden suite —
  * every integral here is exact in binary64). */
class TelescopeSpec extends SparkSpec {

  private val meta = Meta(10 * S, 1000 * S, 10)

  private lazy val hta = Warehouse.ingest(fixtureDf, meta, tmpDir("tele"))

  private val probes = Seq(
    (20L, 220L),   // spans levels
    (11L, 225L),   // exactly first..last
    (110L, 130L),  // aligned
    (110L, 125L), (115L, 130L), // half-aligned
    (20L, 30L), (12L, 20L),     // sub-interval
    (1L, 230L),    // overshoots both ends: clamped
    (0L, 10L),     // before all data: identity
    (225L, 500L))  // begins at last point: clamped to one point

  test("telescoped == raw-fold on every probe") {
    for ((b, e) <- probes) {
      val exact = Queries.aggregateRange(fixtureDf, tp(b), tp(e)).collect().head
      val tele = Telescope.aggregateRange(hta, tp(b), tp(e)).collect().head
      assert(tele === exact, s"probe ($b, $e)")
    }
  }

  test("decomposition reads O(factor·levels) slices, not the raw range") {
    val slices = Telescope.decompose(tp(11), tp(225), Seq(10 * S, 100 * S, 1000 * S), 10)
    val rawSpan = slices.collect { case Telescope.RawEdge(b, e) => e - b }.sum
    assert(rawSpan <= 2 * 10 * S) // raw reads bounded by 2·interval_min
    val levelRows = slices.collect { case Telescope.LevelRun(i, b, e) => (e - b) / i }.sum
    assert(levelRows <= 2 * 10 * 3) // ≤ 2·factor·#levels rows
  }

  test("levels are scanned once under interval IN (…), raw under one tb bound") {
    val scans = formatted(Telescope.aggregateRange(hta, tp(20), tp(220)))
      .split("\n\n").map(_.trim).filter(_.matches("(?s)\\(\\d+\\) Scan parquet.*")).toSeq
    def partitionFilters(scan: String) =
      scan.linesIterator.find(_.startsWith("PartitionFilters")).getOrElse("")
    val (levels, raw) = scans.partition(_.matches("(?s).*Location: [^\n]*/levels\\].*"))
    assert(levels.size === 1, scans)
    assert(partitionFilters(levels.head).contains("interval IN ("), levels)
    assert(raw.size === 2, scans)
    assert(raw.map(partitionFilters).distinct.size === 1 &&
      partitionFilters(raw.head).contains("(tb >= "), raw)
  }

  /** Metrics with their own data ranges (seconds), integer values. */
  private def series(metric: String, secs: Seq[Long]): Seq[(String, Long, Double)] =
    secs.map(t => (metric, tp(t), (t * 7 % 23 - 11).toDouble))

  private lazy val multiPts = {
    val s = spark
    import s.implicits._
    (fixture110.map { case (t, v) => ("full", t, v) } ++
      series("late", 150L to 400L by 3) ++     // starts inside most windows
      series("early", 5L to 120L by 7) ++      // ends inside most windows
      series("inside", 61L to 89L by 4) ++     // wholly inside wide windows
      series("paused", (10L to 100L by 5) ++ (600L to 700L by 5)) ++
      series("single", Seq(130L)) ++
      series("far", 5000L to 5100L by 10))     // disjoint from most windows
      .toDF("metric", "time", "value")
  }
  private lazy val multi = Warehouse.ingest(multiPts, meta, tmpDir("tele_multi"))

  private val multiProbes = Seq(
    (20L, 220L), (1L, 10000L), (100L, 1000L), (55L, 333L),
    (200L, 400L),            // inside paused's pause
    (225L, 500L),            // b == full's last
    (130L, 300L),            // b == single's last
    (1L, 12L), (100L, 151L), // e == first + 1 (full, late)
    (55L, 60L), (131L, 133L), (401L, 405L), // narrower than interval_min
    (3000L, 4000L))          // disjoint from every metric

  test("multi-metric telescoped == raw fold, row for row") {
    for ((b, e) <- multiProbes) {
      val exact = Queries.aggregateRange(multiPts, tp(b), tp(e)).orderBy("metric").collect()
      val tele = Telescope.aggregateRange(multi, tp(b), tp(e)).orderBy("metric").collect()
      assert(tele.toSeq === exact.toSeq, s"probe ($b, $e)")
    }
    // a disjoint metric gets the identity row
    val far = Telescope.aggregateRange(multi, tp(20), tp(220))
      .where("metric = 'far'").collect().head
    assert(far.getDouble(1) === Double.PositiveInfinity && far.getLong(6) === 0L)
  }

  test("a window most metrics do not cover issues as many jobs as a covered one") {
    multi.extents // collected once per opened store, outside both counts
    val covered = jobsOf(Telescope.aggregateRange(multi, tp(70), tp(85)).collect())
    val uncovered = jobsOf(Telescope.aggregateRange(multi, tp(20), tp(220)).collect())
    assert(covered > 0 && uncovered === covered,
      s"covered window: $covered jobs, uncovered window: $uncovered")
  }

  test("raw past the levels fails the postcondition, naming the metric") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val root = tmpDir("tele_rawonly")
    Warehouse.ingest(pointsDf(fixture110, metric = "probe"), meta, root)
    val mem = MemoryStream[Sample]
    val q = StreamIngest.sinkRawToWarehouse(mem.toDS(), meta, root, tmpDir("tele_ckpt"))
    try {
      mem.addData((300L to 700L by 10).map(t => Sample("probe", tp(t), 1.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val h = Warehouse.open(spark, root)
    val e = intercept[Exception](Telescope.aggregateRange(h, tp(300), tp(600)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("metric probe")), e.toString)
  }
}

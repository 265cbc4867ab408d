package graft.plans

import graft.SparkSpec
import graft.model.Meta
import graft.store.Warehouse
import org.apache.spark.sql.functions._

/** The optimizer rule must (a) actually reroute eligible plans to the level
  * table, (b) produce identical results, (c) leave ineligible plans alone. */
class RollupRoutingSpec extends SparkSpec {

  private lazy val hta = {
    val h = Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), tmpDir("route"))
    RollupRouting.install(spark, h)
    h
  }

  private def rawAgg(b: Long, e: Long) =
    hta.raw.where(col("time") >= b && col("time") < e)
      .groupBy("metric")
      .agg(sum("value").as("s"), count("value").as("c"))

  test("aligned in-watermark aggregate is rewritten to the level scan") {
    val df = rawAgg(tp(20), tp(100))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("interval"), s"not rerouted:\n$optimized")
    // results identical to an un-routed computation on the raw points
    val expect = fixtureDf.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(sum("value"), count("value")).collect().head
    val got = df.collect().head
    assert(got.getDouble(1) === expect.getDouble(1))
    assert(got.getLong(2) === expect.getLong(2))
    // and the physical scan reads the levels directory, not raw
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("levels"))
    assert(!phys.contains("/raw"))
  }

  test("unaligned or beyond-watermark ranges stay on raw") {
    // unaligned begin
    val un = rawAgg(tp(21), tp(100))
    assert(un.queryExecution.executedPlan.toString.contains("/raw"))
    // aligned but beyond the closed watermark (last closed 10s end = 220s)
    val late = rawAgg(tp(20), tp(230))
    assert(late.queryExecution.executedPlan.toString.contains("/raw"))
  }

  test("MIN/MAX route through the home-only level columns") {
    val mm = hta.raw.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric")
      .agg(max("value").as("mx"), min("value").as("mn"))
    val phys = mm.queryExecution.executedPlan.toString
    assert(phys.contains("levels") && !phys.contains("/raw"),
      s"MIN/MAX not routed:\n$phys")
    val r = mm.collect().head
    // relational max/min over raw [20,100): 0.0 at 67s / -36.0 at 21s —
    // NOT the HTA level min/max (which carry A3 boundary partials)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === -36.0)
    // and they equal the un-routed computation exactly
    val direct = fixtureDf.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(max("value"), min("value")).collect().head
    assert(r.getDouble(1) === direct.getDouble(1))
    assert(r.getDouble(2) === direct.getDouble(2))
  }

  test("windows where a metric has buckets but no points drop the group (SQL parity)") {
    // fixture has no points in [110s, 120s)? it does (constant run) — use
    // [90s, 100s): gap between 80s and 101s spans it, so the 10s bucket at
    // 90s exists (count=0 carrier) while raw has zero points there
    val b = tp(90); val e = tp(100)
    val routed = rawAgg(b, e)
    assert(routed.queryExecution.executedPlan.toString.contains("levels"),
      "window should be routable")
    val direct = fixtureDf.where(col("time") >= b && col("time") < e)
      .groupBy("metric").agg(sum("value"), count("value"))
    assert(direct.count() === 0, "raw side must really be empty here")
    assert(routed.count() === 0,
      "routed plan must not emit groups for count=0 bucket carriers")
  }

  test("a metric with raw rows but no closed level rows blocks routing (ADVICE r2)") {
    // 'lonely' has all its points inside one open bucket: raw rows exist,
    // level rows don't. Routing would silently drop its group — the install
    // coverage gate must refuse to route this warehouse's levels.
    val pts = fixtureDf.unionByName(
      pointsDf(Seq(tp(1) -> 1.0, tp(2) -> 2.0), metric = "lonely"))
    val h = Warehouse.ingest(pts, Meta(10 * S, 1000 * S, 10), tmpDir("route_gap"))
    RollupRouting.install(spark, h)
    val df = h.raw.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(sum("value").as("s"), count("value").as("c"))
    assert(df.queryExecution.executedPlan.toString.contains("/raw"),
      "must stay on raw when a metric lacks level coverage")
    // the lonely metric's group must appear when its rows are in range
    val all = h.raw.where(col("time") >= tp(0) && col("time") < tp(100))
      .groupBy("metric").agg(sum("value").as("s")).collect().map(_.getString(0)).toSet
    assert(all.contains("lonely"))
  }

  test("AVG routes through SUM(sum)/SUM(count) on the level table") {
    val df = hta.raw.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(avg("value").as("a"))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("levels") && !phys.contains("/raw"), s"AVG not routed:\n$phys")
    val direct = fixtureDf.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(avg("value")).collect().head
    assert(df.collect().head.getDouble(1) === direct.getDouble(1))
  }

  test("global (ungrouped) aggregates route and agree") {
    val routed = hta.raw.where(col("time") >= tp(20) && col("time") < tp(100))
      .agg(sum("value").as("s"), count("value").as("c"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("a"))
    val phys = routed.queryExecution.executedPlan.toString
    assert(phys.contains("levels") && !phys.contains("/raw"),
      s"global aggregate not routed:\n$phys")
    val direct = fixtureDf.where(col("time") >= tp(20) && col("time") < tp(100))
      .agg(sum("value"), count("value"), min("value"), max("value"), avg("value"))
      .collect().head
    val got = routed.collect().head
    assert(got.getDouble(0) === direct.getDouble(0))
    assert(got.getLong(1) === direct.getLong(1))
    assert(got.getDouble(2) === direct.getDouble(2))
    assert(got.getDouble(3) === direct.getDouble(3))
    assert(got.getDouble(4) === direct.getDouble(4))
  }

  test("global aggregate over a carrier-only range returns the raw null row") {
    // [90s,100s): the 10s bucket exists as a count=0 carrier (gap 80s→101s)
    // while raw has zero points — raw returns one row of nulls + count 0;
    // the routed plan must not leak sum=0 / ±Inf home identities
    val routed = hta.raw.where(col("time") >= tp(90) && col("time") < tp(100))
      .agg(sum("value").as("s"), count("value").as("c"),
        min("value").as("mn"), max("value").as("mx"), avg("value").as("a"))
    assert(routed.queryExecution.executedPlan.toString.contains("levels"),
      "carrier window should be routable")
    val r = routed.collect().head
    assert(r.isNullAt(0) && r.getLong(1) === 0L && r.isNullAt(2) &&
      r.isNullAt(3) && r.isNullAt(4))
  }

  test("a store mixing legacy (null home) level rows blocks MIN/MAX routing (ADVICE r3)") {
    val root = tmpDir("route_mixed")
    val h0 = Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), root)
    // fabricate a legacy file (pre-home-columns schema) inside the same
    // partition dir, as a .hta-converted store would contain
    h0.levels.where(col("interval") === 10 * S)
      .drop("minimum_home", "maximum_home", "interval").limit(2)
      .write.mode("append").parquet(s"$root/levels/interval=${10 * S}")
    val h = Warehouse.open(spark, root)
    RollupRouting.install(spark, h)
    val rng = col("time") >= tp(20) && col("time") < tp(100)
    // SUM/COUNT still route…
    val sc = h.raw.where(rng).groupBy("metric").agg(sum("value").as("s"))
    assert(sc.queryExecution.executedPlan.toString.contains("levels"))
    // …but MIN/MAX must stay on raw: the rewrite would skip the null rows
    val mm = h.raw.where(rng).groupBy("metric").agg(min("value"), max("value"))
    assert(mm.queryExecution.executedPlan.toString.contains("/raw"),
      "MIN/MAX must not route through a store with null home rows")
  }

  test("routed and raw answers agree on every aligned window") {
    for ((b, e) <- Seq((0L, 100L), (100L, 200L), (0L, 200L), (40L, 60L))) {
      val routed = rawAgg(tp(b), tp(e)).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
      val direct = fixtureDf.where(col("time") >= tp(b) && col("time") < tp(e))
        .groupBy("metric").agg(sum("value"), count("value")).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(routed === direct, s"window ($b, $e)")
    }
  }

  test("re-install after compact replaces the store's route") {
    val root = tmpDir("route_reinstall")
    RollupRouting.install(spark, Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), root))
    // compact rewrites every file: the first route's levels listing is stale
    val h = Warehouse.compact(spark, root, filesPerPartition = 1)
    RollupRouting.install(spark, h)
    val df = h.raw.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(sum("value").as("s"), count("value").as("c"))
    assert(df.queryExecution.executedPlan.toString.contains("levels"), "not routed")
    val got = df.collect().head
    val expect = fixtureDf.where(col("time") >= tp(20) && col("time") < tp(100))
      .groupBy("metric").agg(sum("value"), count("value")).collect().head
    assert(got.getDouble(1) === expect.getDouble(1))
    assert(got.getLong(2) === expect.getLong(2))
    assert(RollupRouting.routes.count(_.rawPaths.exists(_.contains(root))) === 1)
  }
}

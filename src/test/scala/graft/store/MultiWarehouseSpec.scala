package graft.store

import graft.SparkSpec
import graft.model.Meta
import org.apache.spark.sql.functions._

/** Per-metric Meta semantics (reference tests/prefix.cpp:45-107 joined with
  * the store): one warehouse holding metrics with different ladders must
  * ingest, retrieve, and append each under its own config. */
class MultiWarehouseSpec extends SparkSpec {

  private val fineMeta = Meta(10 * S, 1000 * S, 10)     // 10 s ladder
  private val coarseMeta = Meta(60 * S, 6000 * S, 10)   // 60 s ladder

  private val configs = Seq(
    "foo" -> MetricConfig(fineMeta),                     // exact
    "slow." -> MetricConfig(coarseMeta, isPrefix = true) // prefix
  )

  private def slowDf = pointsDf(fixture110, metric = "slow.one")

  test("two metrics with different ladders in one warehouse route separately") {
    val root = tmpDir("multi")
    val mh = MultiWarehouse.ingest(fixtureDf.unionByName(slowDf), configs, root)
    assert(mh.groups.map(_._1) === Seq(0, 1))

    // each group's levels exist at ITS OWN intervals
    val fineIv = mh.groups(0)._2.levels.select("interval").distinct()
      .collect().map(_.getLong(0)).toSet
    val coarseIv = mh.groups(1)._2.levels.select("interval").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(fineIv.subsetOf(fineMeta.levelIntervals.toSet) && fineIv.contains(10 * S))
    assert(coarseIv.subsetOf(coarseMeta.levelIntervals.toSet) && coarseIv.contains(60 * S))

    // flex retrieve: 'foo' answers from its 10s-ladder, 'slow.one' from 60s
    val r = MultiWarehouse.retrieveFlex(mh, tp(0), tp(230), 100 * S)
    val ivByMetric = r.groupBy("metric").agg(max("interval").as("iv"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ivByMetric("foo") === 100 * S)     // 10s ladder has a 100s level
    assert(ivByMetric("slow.one") === 60 * S) // 60s ladder caps at 60s here

    // results per metric are bit-identical to a dedicated single-Meta store
    val solo = Warehouse.ingest(slowDf, coarseMeta, tmpDir("solo"))
    val a = graft.hta.RetrieveFlex.retrieveFlex(solo, tp(0), tp(230), 100 * S)
      .orderBy("time").collect()
    val b = r.where(col("metric") === "slow.one").orderBy("time").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("open round-trip preserves catalog order and group metas") {
    val root = tmpDir("multi_rt")
    MultiWarehouse.ingest(fixtureDf.unionByName(slowDf), configs, root)
    val re = MultiWarehouse.open(spark, root)
    assert(re.configs.map(_._1) === Seq("foo", "slow."))
    assert(re.groups(0)._2.meta === fineMeta)
    assert(re.groups(1)._2.meta === coarseMeta)
    val agg = MultiWarehouse.aggregateRange(re, tp(0), tp(230))
    assert(agg.select("metric").collect().map(_.getString(0)).toSet ===
      Set("foo", "slow.one"))
  }

  test("append routes to each group's own ladder (restore parity)") {
    val root = tmpDir("multi_app")
    val both = fixtureDf.unionByName(slowDf)
    MultiWarehouse.ingest(
      both.where(col("time") <= tp(100)), configs, root)
    val mh = MultiWarehouse.append(both.where(col("time") > tp(100)), root)
    val oneShot = MultiWarehouse.ingest(both, configs, tmpDir("multi_one"))
    for (g <- Seq(0, 1)) {
      val a = mh.groups.find(_._1 == g).get._2.levels
        .orderBy("interval", "metric", "time").collect()
      val b = oneShot.groups.find(_._1 == g).get._2.levels
        .orderBy("interval", "metric", "time").collect()
      assert(a.toSeq === b.toSeq, s"group $g")
    }
  }

  test("distributed config resolution == Catalog.resolve (exact beats prefix, insertion order)") {
    // overlapping entries in adversarial order: a prefix registered BEFORE
    // the exact entry must still lose to it; among prefixes the first
    // registered match wins even when a longer prefix comes later
    val cfgs = Seq(
      "ab" -> MetricConfig(fineMeta, isPrefix = true),
      "abc" -> MetricConfig(coarseMeta),                  // exact
      "abcd" -> MetricConfig(coarseMeta, isPrefix = true) // longer prefix, later
    )
    val cat = new Catalog(cfgs)
    val names = Seq("abc", "ab", "abx", "abcd", "abcde", "abcx")
    val s = spark
    val df = s.createDataFrame(
      java.util.Arrays.asList(names.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("metric",
          org.apache.spark.sql.types.StringType))))
    val dist = df.withColumn("_g",
        MultiWarehouse.configColumn(cfgs, org.apache.spark.sql.functions.col("metric")))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (n <- names) {
      val expected = cfgs.indexWhere(c => c._2 eq cat.resolve(n))
      assert(dist(n) === expected, s"name $n")
    }
    // an unmatched name resolves to -1 distributed, throws on the driver
    val miss = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("zzz")),
      df.schema)
      .withColumn("_g", MultiWarehouse.configColumn(cfgs,
        org.apache.spark.sql.functions.col("metric")))
      .collect()(0).getInt(1)
    assert(miss === -1)
    intercept[MissingMetricConfig](cat.resolve("zzz"))
  }

  test("probe action count is independent of the number of configs (batched descent)") {
    // one SQLExecutionStart per Spark action; broadcasts stay inside their
    // parent execution, so this counts exactly the routing collects — none:
    // each group routes from its store catalog
    def countActions(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              n.incrementAndGet()
            case _ => ()
          }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1000) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    def store(nPairs: Int, tag: String) = {
      val cfgs = (0 until nPairs).flatMap { k =>
        Seq(s"m$k" -> MetricConfig(fineMeta),
          s"p$k." -> MetricConfig(coarseMeta, isPrefix = true))
      }
      val pts = (0 until nPairs).map { k =>
        pointsDf(fixture110, metric = s"m$k")
          .unionByName(pointsDf(fixture110, metric = s"p$k.x"))
      }.reduce(_ unionByName _)
      MultiWarehouse.ingest(pts, cfgs, tmpDir(s"multi_batch_$tag"))
    }
    val small = store(1, "s"); val big = store(3, "b")
    // warm both plans once so codegen/file-listing doesn't skew counts
    MultiWarehouse.retrieveFlex(small, tp(0), tp(230), 100 * S).collect()
    val aSmall = countActions(
      MultiWarehouse.retrieveFlex(small, tp(0), tp(230), 100 * S))
    val aBig = countActions(
      MultiWarehouse.retrieveFlex(big, tp(0), tp(230), 100 * S))
    assert(aSmall === 0, "routing an opened store runs no Spark action")
    assert(aBig === aSmall,
      s"probe actions must not grow with config count: 2 configs=$aSmall, 6 configs=$aBig")
  }

  test("config names with tab/newline are rejected at ingest (ADVICE r3: TSV round-trip)") {
    val bad = Seq("ok" -> MetricConfig(fineMeta),
      "evil\tname" -> MetricConfig(coarseMeta, isPrefix = true))
    val root = tmpDir("multi_badname")
    val e = intercept[IllegalArgumentException] {
      MultiWarehouse.ingest(fixtureDf.withColumn("metric", lit("ok")), bad, root)
    }
    assert(e.getMessage.contains("tab/newline"))
    // FAIL-FAST: rejected before ANY sub-store ingest ran — a post-ingest
    // abort would leave g=N data dirs with no catalog to open them
    val leftovers = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
    assert(leftovers.isEmpty, s"bad name must abort before writing: ${leftovers.mkString(", ")}")
  }

  test("unmatched metric and read-only config are rejected (prefix.cpp modes)") {
    val root = tmpDir("multi_err")
    intercept[MissingMetricConfig] {
      MultiWarehouse.ingest(pointsDf(fixture110.take(3), metric = "qux"),
        configs, root)
    }
    val roConfigs = Seq("ro" -> MetricConfig(fineMeta, mode = "R"))
    intercept[IllegalStateException] {
      MultiWarehouse.ingest(pointsDf(fixture110.take(3), metric = "ro"),
        roConfigs, tmpDir("multi_ro"))
    }
  }
}

package graft.tools

import graft.SparkSpec
import graft.model.Meta
import graft.store.{StoreCatalog, Warehouse}
import org.apache.spark.sql.functions._

/** T1-T5 tool jobs over the canonical fixture warehouse. */
class ToolsSpec extends SparkSpec {

  private lazy val hta = Warehouse.ingest(
    fixtureDf, Meta(10 * S, 1000 * S, 10), tmpDir("tools"))
  private val now = tp(100000)

  test("T2 check: freshly ingested warehouse has zero issues") {
    assert(Tools.check(hta, now).count() === 0)
  }

  test("T2 check flags corrupted level times") {
    val broken = hta.copy(levels =
      hta.levels.withColumn("time",
        when(col("time") === tp(40), col("time") + 1).otherwise(col("time"))))
    val issues = Tools.check(broken, now).collect()
    assert(issues.exists(_.getAs[String]("issue") == "bogus_time"))
  }

  test("T2 check flags a current catalog that differs from the data") {
    val root = tmpDir("tools_catalog")
    Warehouse.ingest(fixtureDf.unionByName(pointsDf(fixture110.take(30), metric = "bar")),
      Meta(10 * S, 1000 * S, 10), root)
    assert(Tools.check(Warehouse.open(spark, root), now).count() === 0)
    // tamper foo's last point but keep the file list, so open keeps it
    val c = StoreCatalog.read(spark, root).get
    val foo = c.metrics("foo")
    StoreCatalog.write(spark, root,
      c.copy(metrics = c.metrics.updated("foo", foo.copy(last = foo.last + 1))))
    val opened = Warehouse.open(spark, root)
    assert(opened.catalog.isDefined)
    val issues = Tools.check(opened, now).collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[String]("issue"), r.getAs[Long]("n")))
    assert(issues.toSeq === Seq(("foo", "catalog_mismatch", 1L)))
  }

  test("T2 check flags non-finite raw values") {
    val broken = hta.copy(raw =
      hta.raw.withColumn("value",
        when(col("time") === tp(42), lit(Double.NaN)).otherwise(col("value"))))
    val issues = Tools.check(broken, now).collect()
    assert(issues.exists(_.getAs[String]("issue") == "nonfinite_value"))
  }

  test("T3 repair drops exactly the out-of-range rows and rebuilds") {
    val dirty = pointsDf(fixture110 ++ Seq(tp(300) -> Double.NaN, tp(301) -> 1e30))
    val rebuilt = Tools.repair(
      Warehouse.ingest(dirty, Meta(10 * S, 1000 * S, 10), tmpDir("dirty"), validate = false),
      tmpDir("repaired"), dropBelow = -100, dropAbove = 100)
    assert(rebuilt.raw.count() === 110)
    assert(Tools.check(rebuilt, now).count() === 0)
  }

  test("T4 clone re-aggregates under a new Meta") {
    val cloned = Tools.clone(hta, Meta(20 * S, 2000 * S, 10), tmpDir("clone"))
    assert(cloned.raw.count() === 110)
    assert(cloned.levels.select("interval").distinct().collect()
      .map(_.getLong(0)).toSet.subsetOf(Set(20 * S, 200 * S, 2000 * S)))
    assert(Tools.check(cloned, now).count() === 0)
  }

  test("T5 throttle-clone keeps cooldown-spaced points") {
    val th = Tools.throttleClone(hta, 50 * S, tmpDir("throt"))
    // 11, then >61 → 67, then >117 → 118, 169, then >219 → 225
    assert(th.raw.orderBy("time").collect().map(_.getAs[Long]("time")).toSeq ===
      Seq(tp(11), tp(67), tp(118), tp(169), tp(225)))
  }

  test("T1 dump summarizes per metric") {
    val d = Tools.dump(hta).collect().head
    assert(d.getAs[Long]("n_rows") === 110)
    assert(d.getAs[Long]("first_time") === tp(11))
    assert(d.getAs[Long]("last_time") === tp(225))
  }

  test("S8 generator emits 50ms-spaced constant series") {
    val g = Tools.generate(spark, "dummy", 100, tp(0)).collect()
    assert(g.length === 100)
    assert(g.map(_.getAs[Long]("time")).toSeq ===
      (0 until 100).map(i => tp(0) + i * 50000000L))
  }

  test("T2 check --fast validates the trailing window only") {
    // healthy store: clean under both tiers
    assert(Tools.check(hta, now, fast = true).count() === 0)
    // a corruption in the RECENT window is caught by fast
    val brokenRecent = hta.copy(raw =
      hta.raw.withColumn("value",
        when(col("time") === tp(225), lit(Double.NaN)).otherwise(col("value"))))
    assert(Tools.check(brokenRecent, now, fast = true).collect()
      .exists(_.getAs[String]("issue") == "nonfinite_value"))
    // a corruption OLDER than the trailing intervalMax window (fixture
    // spans 11..225 s, intervalMax = 1000 s, so shrink the window by
    // checking the full tier still sees what fast by-design trusts)
    val brokenOld = hta.copy(raw =
      hta.raw.withColumn("value",
        when(col("time") === tp(11), lit(Double.NaN)).otherwise(col("value"))))
    assert(Tools.check(brokenOld, now, fast = false).collect()
      .exists(_.getAs[String]("issue") == "nonfinite_value"))
    // recent level-time corruption trips fast's window-dense rule
    val brokenLv = hta.copy(levels =
      hta.levels.withColumn("time",
        when(col("time") === tp(200), col("time") + 1).otherwise(col("time"))))
    assert(Tools.check(brokenLv, now, fast = true).collect()
      .exists(_.getAs[String]("issue") == "bogus_time"))
  }

  test("CLI: check/dump parse flags and directories (check.cpp, dump.cpp)") {
    val root = tmpDir("cliwh")
    Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), root)
    assert(Main.run(Array("check", root), spark) === 0)
    assert(Main.run(Array("check", "--fast", root), spark) === 0)
    assert(Main.run(Array("check", root, root), spark) === 0) // multi-positional
    assert(Main.run(Array("dump", root), spark) === 0)
    // a directory that is not a warehouse reports and continues (exit 2)
    assert(Main.run(Array("check", tmpDir("notawh")), spark) === 2)
    assert(Main.run(Array("check"), spark) === 1)       // no positional
    assert(Main.run(Array("frobnicate"), spark) === 1)  // unknown command
    assert(Main.run(Array("--help"), spark) === 0)
  }

  test("CLI: neardup-index build/append/probe/compact round-trip") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("clinix")
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus.parquet")
    Seq((3L, "totally different text body here now"))
      .toDF("doc_id", "text").write.parquet(s"$dir/drop.parquet")
    Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch.parquet")
    val idx = s"$dir/bix"
    // half-specified geometry is a clear error (both flags or neither —
    // neither derives the knee-rule geometry from --threshold)
    assert(Main.run(Array("neardup-index", "build", "--bands", "8",
      s"$dir/corpus.parquet", idx), spark) === 1)
    assert(Main.run(Array("neardup-index", "build", "--hashes", "32",
      "--bands", "8", s"$dir/corpus.parquet", idx), spark) === 0)
    assert(Main.run(Array("neardup-index", "append",
      s"$dir/drop.parquet", idx), spark) === 0)
    assert(Main.run(Array("neardup-index", "probe", "--threshold", "0.8",
      idx, s"$dir/batch.parquet"), spark) === 0)
    assert(Main.run(Array("neardup-index", "compact", idx), spark) === 0)
    assert(graft.store.BandIndex.open(idx).nDocs === 3)
    // the probe actually finds the planted copy through the CLI-built index
    val hits = graft.pipeline.Dedup.nearDupPairsAgainstIndex(
        graft.store.BandIndex.open(idx),
        spark.read.parquet(s"$dir/batch.parquet"), 0.8)
      .collect()
    assert(hits.length === 1 && hits.head.getLong(1) === 1L)
    // arg errors are reported, not thrown
    assert(Main.run(Array("neardup-index", "probe", idx), spark) === 1)
    assert(Main.run(Array("neardup-index", "frob"), spark) === 1)
  }

  test("CLI: ann-index build/append/probe/retire/compact round-trip") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("cliann")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.where(col("vec_id") < 250).write.parquet(s"$dir/base.parquet")
    emb.where(col("vec_id") >= 250).write.parquet(s"$dir/drop.parquet")
    emb.where(col("vec_id") === 400).select(lit(9400L).as("vec_id"),
      col("embedding")).write.parquet(s"$dir/q.parquet")
    val idx = s"$dir/ivf"
    assert(Main.run(Array("ann-index", "build", "--nlist", "16",
      "--kmeans-iters", "0", s"$dir/base.parquet", idx), spark) === 0)
    assert(Main.run(Array("ann-index", "append",
      s"$dir/drop.parquet", idx), spark) === 0)
    assert(Main.run(Array("ann-index", "probe", "--k", "1",
      idx, s"$dir/q.parquet"), spark) === 0)
    // the appended twin is findable at rank 1 through the CLI-built index
    val hit = graft.store.IvfStore.probeTopK(
      spark.read.parquet(s"$dir/q.parquet"),
      graft.store.IvfStore.open(spark, idx), k = 1).collect()
    assert(hit.length === 1 && hit(0).getLong(1) === 400L)
    Seq(400L).toDF("vec_id").write.parquet(s"$dir/ret.parquet")
    assert(Main.run(Array("ann-index", "retire",
      s"$dir/ret.parquet", idx), spark) === 0)
    val hit2 = graft.store.IvfStore.probeTopK(
      spark.read.parquet(s"$dir/q.parquet"),
      graft.store.IvfStore.open(spark, idx), k = 1).collect()
    assert(hit2.length === 1)
    assert(hit2(0).getLong(1) !== 400L)
    assert(Main.run(Array("ann-index", "compact", idx), spark) === 0)
    assert(Main.run(Array("ann-index", "probe", idx), spark) === 1)
    assert(Main.run(Array("ann-index", "drift", idx), spark) === 0)
    assert(Main.run(Array("ann-index", "frob"), spark) === 1)
  }

  test("CLI: repair honors --abs/--drop-* and repairs in place (repair.cpp)") {
    val root = tmpDir("clirepair") + "/m"
    val dirty = fixtureDf.withColumn("value",
      when(col("time") === tp(42), lit(5000.0))
        .when(col("time") === tp(48), lit(-7.0))
        .otherwise(col("value")))
    Warehouse.ingest(dirty, Meta(10 * S, 1000 * S, 10), root, validate = false)
    assert(Main.run(Array("repair", "--abs", "--drop-above", "100",
      "--drop-interval", s"${tp(50)}-${tp(59)}", root), spark) === 0)
    val repaired = Warehouse.open(spark, root)
    val vals = repaired.raw.select("time", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!vals.contains(tp(42)), "drop-above must remove the spike")
    assert(vals(tp(48)) === 7.0, "--abs must fold negatives")
    assert(!vals.keys.exists(t => t >= tp(50) && t <= tp(59)),
      "drop-interval is a closed timestamp interval")
    // original moved aside, not destroyed (repair.cpp's backup rename)
    val parent = new java.io.File(root).getParentFile
    assert(parent.listFiles().exists(_.getName.startsWith("m.backup-")))
    // bad arguments exit 1
    assert(Main.run(Array("repair", "--drop-interval", "junk", root), spark) === 1)
    assert(Main.run(Array("repair"), spark) === 1)
  }

  test("CLI: clone/throttle dir forms re-aggregate and downsample (clone.cpp, throttle.cpp)") {
    val src = tmpDir("clisrc")
    Warehouse.ingest(fixtureDf, Meta(10 * S, 1000 * S, 10), src)
    val cdst = tmpDir("clicloned") + "/c"
    assert(Main.run(Array("clone", "--interval-min", (20 * S).toString,
      "--interval-max", (2000 * S).toString, src, cdst), spark) === 0)
    val cloned = Warehouse.open(spark, cdst)
    assert(cloned.meta === Meta(20 * S, 2000 * S, 10))
    assert(cloned.raw.count() === hta.raw.count())
    val tdst = tmpDir("clithrot") + "/t"
    assert(Main.run(Array("throttle", src, tdst, "50000"), spark) === 0)
    val th = Warehouse.open(spark, tdst)
    assert(th.raw.count() ===
      Tools.throttleClone(hta, 50 * S, tmpDir("throtref")).raw.count())
    assert(Main.run(Array("throttle", src, tdst), spark) === 1) // arity
  }

  test("CLI: config.json forms resolve names, Meta and R/W modes (dummy.cpp, clone.cpp)") {
    val base = tmpDir("clicfg")
    val cfg = new java.io.File(base, "config.json")
    val json =
      s"""{"type": "file", "path": "$base",
         | "metrics": {
         |   "dummy": {"interval_min": ${10 * S}, "interval_factor": 10,
         |             "interval_max": ${1000 * S}},
         |   "copy": {"interval_min": ${20 * S}, "interval_factor": 10,
         |            "interval_max": ${2000 * S}},
         |   "sealed": {"mode": "R"}
         | }}""".stripMargin
    val w = new java.io.FileWriter(cfg); try w.write(json) finally w.close()
    // generate: reference dummy.cpp semantics — t = 1 ms + 50 ms·i, 42.0
    assert(Main.run(Array("generate", cfg.getAbsolutePath, "200"), spark) === 0)
    val gen = Warehouse.open(spark, s"$base/dummy")
    assert(gen.raw.count() === 200)
    val first = gen.raw.orderBy("time").select("time", "value").collect().head
    assert(first.getLong(0) === 1000000L && first.getDouble(1) === 42.0)
    // clone through the catalog: dst Meta comes from the config entry
    assert(Main.run(Array("clone", cfg.getAbsolutePath, "dummy", "copy"), spark) === 0)
    assert(Warehouse.open(spark, s"$base/copy").meta ===
      Meta(20 * S, 2000 * S, 10))
    // R-mode destination refuses the write (read_write.cpp at the CLI)
    assert(Main.run(Array("clone", cfg.getAbsolutePath, "dummy", "sealed"), spark) === 1)
    // unconfigured names fail like MissingMetricConfig
    assert(Main.run(Array("clone", cfg.getAbsolutePath, "dummy", "absent"), spark) === 1)
  }

  test("CLI: index/search build, append to, and probe a text index") {
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val idx = java.nio.file.Files.createTempDirectory("cli_tix").toString
    assert(Main.run(Array("index", "--buckets", "8", docsPath, idx),
      spark) === 0)
    assert(Main.run(Array("search", "--k", "3", idx, "query", "merge"),
      spark) === 0)
    assert(Main.run(Array("search", "--bm25", "--k", "3", idx, "query"),
      spark) === 0)
    // append the same docs again: n_docs doubles (append, not upsert)
    val before = graft.store.TextIndex.open(idx).nDocs
    assert(Main.run(Array("index", "--append", docsPath, idx), spark) === 0)
    assert(graft.store.TextIndex.open(idx).nDocs === 2 * before)
    // arity errors exit 1
    assert(Main.run(Array("index", docsPath), spark) === 1)
    assert(Main.run(Array("search", idx), spark) === 1)
  }
}

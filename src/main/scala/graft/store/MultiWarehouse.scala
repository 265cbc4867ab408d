package graft.store

import graft.model.{IntervalScope, Meta}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-metric Meta — the reference gives every metric its own aggregation
  * ladder via directory configs with exact-name and prefix-pattern entries
  * (src/directory.cpp:59-123, include/hta/meta.hpp:41-54; resolution and
  * mode semantics pinned by tests/prefix.cpp:45-107). A single-Meta
  * [[Warehouse]] cannot hold a 1 kHz metric and a 1 Sa/h metric with
  * appropriate ladders; this layer can.
  *
  * Spark-first layout: one independent [[Warehouse]] sub-store per CONFIG
  * (not per metric) — metrics sharing a config share partitions, so the
  * sub-store count is bounded by the config list, not the metric count:
  *
  *   <root>/_catalog.tsv                       ordered configs
  *   <root>/g=<i>/{raw,levels,meta.json}       sub-store of config i
  *
  * Ingest tags each point with its config index via one codegen'd CASE
  * chain (exact entries win, then prefixes in insertion order) and runs the
  * standard distributed ingest once per USED config. Retrieval unions the
  * per-group plans — each group routes against its own ladder, exactly the
  * reference's per-metric routing, but still one Spark action over all
  * metrics. Non-readable (mode "W") configs are skipped by whole-store
  * retrieves; writes into non-writable (mode "R") configs throw, like the
  * reference (src/metric.cpp:73-95).
  */
object MultiWarehouse {

  final case class MultiHta(root: String, groups: Seq[(Int, Hta)], catalog: Catalog,
                            configs: Seq[(String, MetricConfig)])

  /** Config-index resolution as one codegen'd CASE chain (−1 = no match). */
  def configColumn(configs: Seq[(String, MetricConfig)], metric: Column): Column = {
    val exacts = configs.zipWithIndex.filter(!_._1._2.isPrefix)
    val prefixes = configs.zipWithIndex.filter(_._1._2.isPrefix)
    val ordered = exacts.map { case ((n, _), i) => (metric === n, i) } ++
      prefixes.map { case ((p, _), i) => (metric.startsWith(p), i) }
    ordered.foldRight(lit(-1)) { case ((pred, i), acc) =>
      when(pred, lit(i)).otherwise(acc)
    }
  }

  def ingest(points: DataFrame, configs: Seq[(String, MetricConfig)], root: String,
             validate: Boolean = true): MultiHta = {
    // fail fast, before ANY sub-store ingest runs: a bad name detected only
    // at catalog-write time would abort post-ingest, leaving g=N data dirs
    // with no catalog to open them
    validateConfigNames(configs)
    val spark = points.sparkSession
    val tagged = points.withColumn("_g", configColumn(configs, col("metric"))).cache()
    try {
      enforceWritable(tagged, configs)
      val used = tagged.select("_g").distinct().collect().map(_.getInt(0)).sorted
      val groups = used.toSeq.map { i =>
        i -> Warehouse.ingest(tagged.where(col("_g") === i).drop("_g"),
          configs(i)._2.meta, s"$root/g=$i", validate)
      }
      writeCatalog(configs, root, spark)
      MultiHta(root, groups, new Catalog(configs), configs)
    } finally tagged.unpersist()
  }

  /** Incremental append routed per config: existing sub-stores append
    * (open-tail recompute), first-seen configs ingest fresh. */
  def append(points: DataFrame, root: String): MultiHta = {
    val spark = points.sparkSession
    val configs = readCatalog(spark, root)
    val existing = openGroupIds(spark, root, configs).toSet
    val tagged = points.withColumn("_g", configColumn(configs, col("metric"))).cache()
    try {
      enforceWritable(tagged, configs)
      val used = tagged.select("_g").distinct().collect().map(_.getInt(0)).sorted
      used.foreach { i =>
        val sub = tagged.where(col("_g") === i).drop("_g")
        if (existing.contains(i)) Warehouse.append(sub, s"$root/g=$i")
        else Warehouse.ingest(sub, configs(i)._2.meta, s"$root/g=$i")
      }
      open(spark, root)
    } finally tagged.unpersist()
  }

  def open(spark: SparkSession, root: String): MultiHta = {
    val configs = readCatalog(spark, root)
    val groups = openGroupIds(spark, root, configs)
      .map(i => i -> Warehouse.open(spark, s"$root/g=$i"))
    MultiHta(root, groups, new Catalog(configs), configs)
  }

  /** Q2 over a multi-Meta store: each group routes against its OWN ladder
    * from its own store catalog — no Spark action to route, whatever the
    * config count. Non-readable configs skipped. */
  def retrieveFlex(mh: MultiHta, begin: Long, end: Long, limit: Long,
                   scope: IntervalScope = IntervalScope.retrieveDefault,
                   smooth: Boolean = true): DataFrame =
    graft.hta.RetrieveFlex.retrieveFlexMulti(readable(mh).map(_._2),
      begin, end, limit, scope, smooth)

  /** A6 over a multi-Meta store (telescoped per group). */
  def aggregateRange(mh: MultiHta, begin: Long, end: Long): DataFrame =
    readable(mh)
      .map { case (_, h) => graft.hta.Telescope.aggregateRange(h, begin, end) }
      .reduce(_ unionByName _)

  private def readable(mh: MultiHta): Seq[(Int, Hta)] = {
    val r = mh.groups.filter { case (i, _) => mh.configs(i)._2.mode.contains("R") }
    require(r.nonEmpty, "no readable config groups in store")
    r
  }

  private def enforceWritable(tagged: DataFrame,
                              configs: Seq[(String, MetricConfig)]): Unit = {
    val miss = tagged.where(col("_g") === -1).select("metric").limit(1).collect()
    if (miss.nonEmpty) throw new MissingMetricConfig(miss(0).getString(0))
    val ro = configs.zipWithIndex.collect {
      case ((_, c), i) if !c.mode.contains("W") => i
    }
    if (ro.nonEmpty) {
      val bad = tagged.where(col("_g").isInCollection(ro)).select("metric")
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        s"metric ${bad(0).getString(0)} not writable (mode R)")
    }
  }

  private def openGroupIds(spark: SparkSession,
                           root: String,
                           configs: Seq[(String, MetricConfig)]): Seq[(Int)] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    configs.indices.filter(i =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/g=$i/meta.json")))
  }

  /** Names must survive the tab-separated catalog format; checked at
    * [[ingest]] entry (fail-fast, before any data is written). */
  private def validateConfigNames(configs: Seq[(String, MetricConfig)]): Unit =
    configs.foreach { case (n, _) =>
      require(!n.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'),
        s"config name may not contain tab/newline: ${n.replaceAll("\\s", "?")}")
    }

  // catalog (de)serialization: one tab-separated line per config, insertion
  // order preserved (resolution order is semantic — prefix.cpp:45-107)
  private def writeCatalog(configs: Seq[(String, MetricConfig)], root: String,
                           spark: SparkSession): Unit = {
    val body = configs.map { case (n, c) =>
      Seq(n, c.isPrefix, c.mode, c.meta.intervalMin, c.meta.intervalMax,
        c.meta.intervalFactor).mkString("\t")
    }.mkString("\n")
    val p = new org.apache.hadoop.fs.Path(s"$root/_catalog.tsv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  def readCatalog(spark: SparkSession, root: String): Seq[(String, MetricConfig)] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/_catalog.tsv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val body = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    body.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val f = line.split("\t")
      f(0) -> MetricConfig(Meta(f(3).toLong, f(4).toLong, f(5).toLong),
        mode = f(2), isPrefix = f(1).toBoolean)
    }
  }
}

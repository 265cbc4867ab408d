package graft.store

import graft.SparkSpec
import graft.pipeline.Ann
import org.apache.spark.sql.functions._

/** IVF recall-drift monitoring: the frozen-quantizer delta contract
  * degrades probe recall SILENTLY when appends drift off the build
  * distribution. The monitor observes each drop's assignment residuals
  * on the write pass itself: an in-distribution drop tracks the build
  * baseline (ratio ~ 1), a deliberately shifted drop inflates it and
  * trips the rebuild advisory, and a rebuild resets the ledger. */
class IvfDriftSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val base = emb.where(col("vec_id") < 250)
  private lazy val inDist =
    emb.where(col("vec_id") >= 250 && col("vec_id") < 375)
  // shifted cluster: +4.0 per dimension, far from every stored centroid —
  // the residual to the nearest frozen centroid explodes
  private def shifted(ids: org.apache.spark.sql.DataFrame) = ids
    .select(col("vec_id"),
      transform(col("embedding"), x => x + lit(4.0f)).as("embedding"))

  test("in-distribution appends stay flat; a shifted drop trips the advisory") {
    val root = tmpDir("ivf-drift")
    val h = Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    val d0 = IvfStore.driftStats(spark, root).get
    assert(d0.buildN === 250 && d0.buildMean > 0 && d0.appendedN === 0)
    assert(d0.ratio === 1.0 && !d0.rebuildAdvised())

    IvfStore.append(inDist, h)
    val d1 = IvfStore.driftStats(spark, root).get
    assert(d1.appendedN === 125 && d1.lastDropN === 125)
    assert(d1.ratio > 0.7 && d1.ratio < 1.3,
      s"in-distribution drop must track the baseline, got ${d1.ratio}")
    assert(!d1.rebuildAdvised())

    IvfStore.append(
      shifted(emb.where(col("vec_id") >= 375))
        .withColumn("vec_id", col("vec_id") + 10000L), h)
    val d2 = IvfStore.driftStats(spark, root).get
    assert(d2.appendedN === 250 && d2.lastDropN === 125)
    assert(d2.lastDropMean > 3 * d2.buildMean,
      s"shifted residuals must explode: ${d2.lastDropMean} vs build ${d2.buildMean}")
    assert(d2.ratio > 1.5 && d2.rebuildAdvised(),
      s"advisory must trip after the shifted drop, ratio ${d2.ratio}")
  }

  test("a rebuild refreshes the geometry and RESETS the drift ledger") {
    val root = tmpDir("ivf-drift-rb")
    val h = Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    val drifted = shifted(emb.where(col("vec_id") >= 375))
      .withColumn("vec_id", col("vec_id") + 10000L)
    IvfStore.append(drifted, h)
    assert(IvfStore.driftStats(spark, root).get.rebuildAdvised())
    // rebuild over the union (kmeans adapts centroids to BOTH clusters)
    Ann.writeIvfIndex(
      base.select("vec_id", "embedding").unionByName(drifted), root,
      nlist = 16, kmeansIters = 3)
    val d = IvfStore.driftStats(spark, root).get
    assert(d.appendedN === 0 && !d.rebuildAdvised())
    assert(d.buildN === 375)
    // the refreshed geometry absorbs the drifted cluster: residuals of a
    // FURTHER drifted drop are now in-distribution again
    IvfStore.append(
      shifted(emb.where(col("vec_id") >= 250 && col("vec_id") < 375))
        .withColumn("vec_id", col("vec_id") + 20000L),
      IvfStore.open(spark, root))
    val d2 = IvfStore.driftStats(spark, root).get
    assert(d2.ratio < 1.5,
      s"post-rebuild shifted appends are in-distribution, got ${d2.ratio}")
  }

  test("streaming appendBatch records drift idempotently (replay no double-count)") {
    val root = tmpDir("ivf-drift-stream")
    Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    IvfStore.appendBatch(root, bid = 0)(inDist)
    val d1 = IvfStore.driftStats(spark, root).get
    assert(d1.appendedN === 125 && d1.lastDropN === 125)
    // replay: marker present — nothing re-evaluated, nothing re-counted
    IvfStore.appendBatch(root, bid = 0)(inDist)
    assert(IvfStore.driftStats(spark, root).get.appendedN === 125)
    // a second real batch accumulates
    IvfStore.appendBatch(root, bid = 1)(
      emb.where(col("vec_id") >= 375 && col("vec_id") < 400))
    assert(IvfStore.driftStats(spark, root).get.appendedN === 150)
  }

  test("an index built before the monitor reports None, not a fake baseline") {
    val root = tmpDir("ivf-drift-legacy")
    Ann.writeIvfIndex(base, root, nlist = 16, kmeansIters = 0)
    StagedCommit.fsOf(root).delete(
      new org.apache.hadoop.fs.Path(root, "drift.json"), false)
    assert(IvfStore.driftStats(spark, root).isEmpty)
    // appends on a legacy index skip the advisory, never crash
    IvfStore.append(inDist, Ann.openIvfIndex(spark, root))
    assert(IvfStore.driftStats(spark, root).isEmpty)
  }
}

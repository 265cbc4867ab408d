package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Band-index shingle-distribution drift monitoring — the [[IvfStore]]
  * drift monitor's analog for the MinHash-LSH tier: the knee-rule
  * geometry is derived at build time from the corpus's shingle
  * distribution, and appended docs that stop resembling it (much
  * shorter/longer) silently erode probe recall on the drifted docs.
  * The monitor observes each drop's distinct-shingle volume on the gram
  * staging write itself (zero extra jobs): an in-distribution drop
  * tracks the build baseline (ratio ~ 1), a shifted-length drop moves
  * the statistic and trips the rebuild advisory, and a rebuild resets
  * the ledger. */
class BandDriftSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs =
    spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val base = docs.where(col("doc_id") < 250)
  private lazy val inDist =
    docs.where(col("doc_id") >= 250 && col("doc_id") < 375)

  /** A drop of drastically SHORTER docs: ~2 distinct 3-gram shingles
    * each, far below the corpus mean — the geometry-eroding event. */
  private def shortDocs(n: Int, idBase: Long) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (idBase + i, s"tiny doc $i end"))
      .toDF("doc_id", "text")
  }

  test("in-distribution appends stay flat; a shifted-length drop trips " +
    "the advisory") {
    val path = tmpDir("band-drift")
    val h = BandIndex.write(base, path)
    val d0 = BandIndex.driftStats(path).get
    assert(d0.buildN === 250 && d0.buildMeanShingles > 0)
    assert(d0.appendedN === 0 && d0.ratio === 1.0 && !d0.rebuildAdvised())

    val h1 = BandIndex.append(inDist, h)
    val d1 = BandIndex.driftStats(path).get
    assert(d1.appendedN === 125 && d1.lastDropN === 125)
    assert(d1.ratio > 1.0 / 1.5 && d1.ratio < 1.5,
      s"in-distribution drop must track the baseline, got ${d1.ratio}")
    assert(!d1.rebuildAdvised())

    BandIndex.append(shortDocs(125, 50000L), h1)
    val d2 = BandIndex.driftStats(path).get
    assert(d2.appendedN === 250 && d2.lastDropN === 125)
    assert(d2.lastDropMean < d2.buildMeanShingles / 3,
      s"short docs must collapse the shingle mean: ${d2.lastDropMean} " +
        s"vs build ${d2.buildMeanShingles}")
    assert(d2.ratio < 1.0 / 1.5 && d2.rebuildAdvised(),
      s"advisory must trip after the shifted drop, ratio ${d2.ratio}")
  }

  test("a rebuild re-derives the geometry and RESETS the drift ledger") {
    val path = tmpDir("band-drift-rb")
    val h = BandIndex.write(base, path)
    BandIndex.append(shortDocs(125, 50000L), h)
    val preRebuild = BandIndex.driftStats(path).get
    assert(preRebuild.rebuildAdvised())
    // rebuild over the union: the short docs are now part of the
    // baseline distribution
    BandIndex.write(
      base.select("doc_id", "text")
        .unionByName(shortDocs(125, 50000L)), path)
    val d = BandIndex.driftStats(path).get
    assert(d.appendedN === 0 && !d.rebuildAdvised())
    assert(d.buildN === 375)
    // the refreshed baseline absorbs the short cluster: its mean sits
    // between the two length clusters, so a FURTHER short drop's ratio
    // moves strictly closer to 1 than against the long-only baseline
    BandIndex.append(shortDocs(60, 60000L), BandIndex.open(path))
    val d2 = BandIndex.driftStats(path).get
    assert(d2.lastDropN === 60)
    assert(d2.ratio > preRebuild.ratio,
      s"post-rebuild short appends must sit closer to the baseline: " +
        s"${d2.ratio} vs pre-rebuild ${preRebuild.ratio}")
  }

  test("streaming appendBatch records drift idempotently (replay no " +
    "double-count)") {
    val path = tmpDir("band-drift-stream")
    BandIndex.write(base, path)
    BandIndex.appendBatch(path, bid = 0)(inDist)
    val d1 = BandIndex.driftStats(path).get
    assert(d1.appendedN === 125 && d1.lastDropN === 125)
    // replay: marker present — nothing re-evaluated, nothing re-counted
    BandIndex.appendBatch(path, bid = 0)(inDist)
    assert(BandIndex.driftStats(path).get.appendedN === 125)
    // a second real batch accumulates
    BandIndex.appendBatch(path, bid = 1)(
      docs.where(col("doc_id") >= 375 && col("doc_id") < 400))
    assert(BandIndex.driftStats(path).get.appendedN === 150)
  }

  test("an index built before the monitor reports None, not a fake baseline") {
    val path = tmpDir("band-drift-legacy")
    val h = BandIndex.write(base, path)
    StagedCommit.fsOf(path).delete(
      new org.apache.hadoop.fs.Path(path, "band_drift.json"), false)
    assert(BandIndex.driftStats(path).isEmpty)
    // appends on a legacy index skip the advisory, never crash
    BandIndex.append(inDist, h)
    assert(BandIndex.driftStats(path).isEmpty)
  }
}

package graft.store

import graft.SparkSpec
import graft.pipeline.Ann
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{Path => HPath}

/** Staged in-place rebuilds (round 16): `BandIndex.write` /
  * `TextIndex.write` / `Ann.writeIvfIndex` over an EXISTING index stage
  * the new generation into `_rebuild_tmp` dirs and commit via an atomic
  * `rebuild.intent.json` marker rename — the live index stays fully
  * intact and readable until the commit, and `open()` rolls a committed
  * marker forward from any crash point. Before this, the rebuild paths
  * overwrote the live dirs in place: a crash (or a lease lost to a
  * GC-pause takeover) mid-build left NEW data under the OLD meta — a
  * mixed-generation index that answered probes wrongly with no error.
  * Also pins: the advisory drift ledgers never fail a published append
  * (a crash-truncated ledger degrades to "no baseline", not a parse
  * error after every later drop). */
class RebuildSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs =
    spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val corpusA = docs.where(col("doc_id") < 20)
  private lazy val corpusB =
    docs.where(col("doc_id") >= 100 && col("doc_id") < 150)

  private def fs(p: String) = StagedCommit.fsOf(p)
  private def exists(p: String, n: String) = fs(p).exists(new HPath(p, n))

  test("BandIndex rebuild: a crash BEFORE the commit marker leaves the " +
    "old generation fully intact, and a rerun completes") {
    val p = tmpDir("rebuild-band-pre")
    val h = BandIndex.write(corpusA, p)
    BandIndex.retire(corpusA.where(col("doc_id") < 2).select("doc_id"), h)
    val e = intercept[RuntimeException](
      BandIndex.write(corpusB, p, 3, 0, 0, "text", 0.8, 1))
    assert(e.getMessage.contains("step 1"))
    assert(!exists(p, "rebuild.intent.json"), "step 1 is pre-commit")
    val healed = BandIndex.open(p)
    assert(healed.nDocs === 20, "the old generation must survive unchanged")
    assert(exists(p, "tombstones"),
      "a pre-commit crash must not strip the old generation's tombstones")
    assert(spark.read.parquet(s"$p/grams")
      .select("doc_id").distinct().count() === 20)
    // the stale tmps are harmless: a rerun overwrites them and completes
    assert(BandIndex.write(corpusB, p).nDocs === 50)
  }

  test("BandIndex rebuild: a crash AFTER the commit marker rolls forward " +
    "on open — new data, superseded state gone, fresh drift baseline") {
    val p = tmpDir("rebuild-band-post")
    val h = BandIndex.write(corpusA, p)
    BandIndex.retire(corpusA.where(col("doc_id") < 2).select("doc_id"), h)
    val e = intercept[RuntimeException](
      BandIndex.write(corpusB, p, 3, 0, 0, "text", 0.8, 2))
    assert(e.getMessage.contains("step 2"))
    assert(exists(p, "rebuild.intent.json"), "step 2 is post-commit")
    val healed = BandIndex.open(p)
    assert(healed.nDocs === 50, "open() must roll the committed rebuild forward")
    assert(!exists(p, "rebuild.intent.json"))
    assert(!exists(p, "tombstones"),
      "the superseded generation's tombstones must die with it")
    assert(!exists(p, "bands_rebuild_tmp") && !exists(p, "grams_rebuild_tmp"))
    assert(spark.read.parquet(s"$p/grams")
      .select("doc_id").distinct().count() === 50)
    assert(BandIndex.driftStats(p)
      .exists(d => d.buildN === 50 && d.appendedN === 0),
      "the roll-forward must write the NEW corpus's drift baseline")
  }

  test("BandIndex rebuild: a writer that loses its lease mid-rebuild " +
    "aborts at the commit fence with the live index untouched") {
    val p = tmpDir("rebuild-band-fence")
    BandIndex.write(corpusA, p)
    val gramsBefore = spark.read.parquet(s"$p/grams").count()
    val e = intercept[IllegalStateException] {
      Lease.withLease(p, "spec.outer") {
        Lease.plant(p, ageMs = 0) // takeover landed during our "pause"
        BandIndex.write(corpusB, p) // stages, then must abort at the fence
      }
    }
    assert(e.getMessage.contains("takeover"))
    assert(!exists(p, "rebuild.intent.json"),
      "an aborted rebuild must not commit")
    val healed = BandIndex.open(p)
    assert(healed.nDocs === 20,
      "the live index must be untouched — the pre-r16 in-place overwrite " +
        "had already clobbered it at this point")
    assert(spark.read.parquet(s"$p/grams").count() === gramsBefore)
  }

  test("TextIndex rebuild: pre-commit crash leaves the old index; " +
    "post-commit rolls forward and supersedes the positional tier") {
    val p = tmpDir("rebuild-text")
    val h = TextIndex.write(corpusA, p, buckets = 4)
    TextIndex.writePositional(corpusA, h)
    val e1 = intercept[RuntimeException](
      TextIndex.write(corpusB, p, 4, "text", 1))
    assert(e1.getMessage.contains("step 1"))
    assert(TextIndex.open(p).nDocs === 20)
    // the OLD positional tier still answers (no supersession pre-commit)
    TextIndex.phraseSearch(spark, TextIndex.open(p), Seq("the", "of")).count()
    val e2 = intercept[RuntimeException](
      TextIndex.write(corpusB, p, 4, "text", 2))
    assert(e2.getMessage.contains("step 2"))
    val healed = TextIndex.open(p)
    assert(healed.nDocs === 50, "open() must roll the committed rebuild forward")
    assert(!exists(p, "rebuild.intent.json"))
    assert(!exists(p, "postings_rebuild_tmp"))
    // positions/ indexed the SUPERSEDED corpus — answering from it would
    // silently return the old corpus's phrases; it dies with its
    // generation and phraseSearch refuses loudly until rebuilt
    val pe = intercept[IllegalArgumentException](
      TextIndex.phraseSearch(spark, healed, Seq("the", "of")))
    assert(pe.getMessage.contains("positional tier"))
    TextIndex.writePositional(corpusB, healed)
    TextIndex.phraseSearch(spark, healed, Seq("the", "of")).count() // answers again
  }

  test("IVF rebuild: quantizer and lists land together — pre-commit " +
    "crash leaves the old pair, post-commit rolls both forward") {
    val p = tmpDir("rebuild-ivf")
    val a = emb.where(col("vec_id") < 64)
    val b = emb.where(col("vec_id") >= 64 && col("vec_id") < 192)
    Ann.writeIvfIndex(a, p, nlist = 4, kmeansIters = 0)
    val e1 = intercept[RuntimeException](Ann.writeIvfIndex(b, p, 4, 0, 1))
    assert(e1.getMessage.contains("step 1"))
    IvfStore.open(spark, p)
    assert(spark.read.parquet(s"$p/vectors").count() === 64,
      "the old lists must survive a pre-commit crash")
    assert(spark.read.parquet(s"$p/centroids").count() === 4)
    val e2 = intercept[RuntimeException](Ann.writeIvfIndex(b, p, 4, 0, 2))
    assert(e2.getMessage.contains("step 2"))
    assert(exists(p, "rebuild.intent.json"))
    IvfStore.open(spark, p) // rolls forward
    assert(!exists(p, "rebuild.intent.json"))
    assert(spark.read.parquet(s"$p/vectors").count() === 128,
      "open() must roll the committed rebuild forward")
    assert(!exists(p, "centroids_rebuild_tmp") &&
      !exists(p, "vectors_rebuild_tmp"))
    assert(IvfStore.driftStats(spark, p)
      .exists(d => d.buildN === 128 && d.appendedN === 0),
      "the roll-forward must write the NEW corpus's residual baseline")
  }

  test("a crash-truncated drift ledger never fails a published append " +
    "and degrades to no-baseline (BandIndex + IvfStore)") {
    val p = tmpDir("poison-band")
    val h = BandIndex.write(corpusA, p)
    // simulate a crash mid-ledger-write: 0-byte band_drift.json
    StagedCommit.writeSmall(fs(p), new HPath(p, "band_drift.json"), "")
    val drop = docs.where(col("doc_id") >= 400 && col("doc_id") < 405)
    val h2 = BandIndex.append(drop, h) // must publish, not throw
    assert(h2.nDocs === 25)
    assert(BandIndex.driftStats(p).isEmpty,
      "a damaged ledger degrades to no-baseline, never a parse error")
    // a rebuild restores monitoring
    BandIndex.write(corpusA, p)
    assert(BandIndex.driftStats(p).exists(_.buildN === 20))

    val ip = tmpDir("poison-ivf")
    val ih = Ann.writeIvfIndex(emb.where(col("vec_id") < 64), ip,
      nlist = 4, kmeansIters = 0)
    StagedCommit.writeSmall(fs(ip), new HPath(ip, "drift.json"), "")
    val vdrop = emb.where(col("vec_id") >= 400 && col("vec_id") < 405)
    IvfStore.append(vdrop, ih) // must publish, not throw
    assert(spark.read.parquet(s"$ip/vectors").count() === 69)
    assert(IvfStore.driftStats(spark, ip).isEmpty)
  }
}

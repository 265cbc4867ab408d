package graft.streaming

import graft.SparkSpec
import graft.pipeline.Ann
import graft.store.IvfStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming semantic-dedup sink: micro-batches probe the persisted
  * IVF index for near-duplicate embeddings, survivors append under the
  * frozen quantizer, replays are no-ops — end state equal to the batch
  * pipeline over the same drops in order. */
class StreamSemanticDedupSpec extends SparkSpec {

  private def vec(id: Long, e: Float*): (Long, Seq[Float]) = (id, e.toSeq)
  private val base = Seq(
    vec(1, 100f, 0f, 0f, 0f),
    vec(2, 0f, 100f, 0f, 0f))

  private def mkDf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def storedIds(root: String): Set[Long] =
    spark.read.parquet(s"$root/vectors").select("vid")
      .collect().map(_.getLong(0)).toSet

  test("stream sink: semantic dups dropped, survivors appended, later " +
    "batches see them") {
    val root = tmpDir("ssd")
    Ann.writeIvfIndex(mkDf(base), root, nlist = 2, kmeansIters = 0)
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamSemanticDedup.start(mem.toDF().toDF("vec_id", "embedding"),
      root, tmpDir("ssd-ckpt"), threshold = 0.95)
    try {
      // batch 1: a scaled copy of stored vector 1 (cosine 1 — dropped)
      // and an orthogonal novel vector (kept)
      mem.addData(vec(100, 55f, 0f, 0f, 0f), vec(101, 0f, 0f, 80f, 0f))
      q.processAllAvailable()
      assert(storedIds(root) === Set(1L, 2L, 101L))
      // batch 2: a copy of batch 1's ACCEPTED vector must now drop,
      // and a fresh novel direction lands
      mem.addData(vec(200, 0f, 0f, 77f, 0f), vec(201, 0f, 0f, 0f, 60f))
      q.processAllAvailable()
      assert(storedIds(root) === Set(1L, 2L, 101L, 201L))
    } finally q.stop()
  }

  test("appendBatch replays are no-ops and staged batches publish once") {
    val root = tmpDir("ssd-replay")
    Ann.writeIvfIndex(mkDf(base), root, nlist = 2, kmeansIters = 0)
    IvfStore.appendBatch(root, bid = 0)(mkDf(Seq(vec(300, 0f, 0f, 90f, 0f))))
    assert(storedIds(root) === Set(1L, 2L, 300L))
    // replay: marker present -> novel must not re-run
    IvfStore.appendBatch(root, bid = 0) {
      fail("novel must not re-run for a committed bid")
    }
    assert(storedIds(root) === Set(1L, 2L, 300L))
    // a fresh stream at the same root must clear the dead stream's state
    graft.store.StagedCommit.clearStreamState(root)
    IvfStore.appendBatch(root, bid = 0)(mkDf(Seq(vec(301, 0f, 0f, 0f, 70f))))
    assert(storedIds(root) === Set(1L, 2L, 300L, 301L))
  }

  test("rebuild supersedes tombstones and streaming state") {
    val root = tmpDir("ssd-super")
    val h = Ann.writeIvfIndex(mkDf(base), root, nlist = 2, kmeansIters = 0)
    IvfStore.retire(mkDf(Seq(vec(1, 0f))).select("vec_id"), h)
    IvfStore.appendBatch(root, bid = 0)(mkDf(Seq(vec(400, 0f, 0f, 50f, 0f))))
    Ann.writeIvfIndex(mkDf(base), root, nlist = 2, kmeansIters = 0)
    assert(IvfStore.tombstones(spark, root).isEmpty,
      "rebuild must clear stale tombstones")
    assert(storedIds(root) === Set(1L, 2L))
    // and the cleared marker does not suppress a new stream's bid 0
    IvfStore.appendBatch(root, bid = 0)(mkDf(Seq(vec(401, 0f, 0f, 0f, 40f))))
    assert(storedIds(root) === Set(1L, 2L, 401L))
  }
}

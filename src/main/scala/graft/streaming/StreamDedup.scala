package graft.streaming

import graft.pipeline.Dedup
import graft.store.{BandIndex, StagedCommit}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The continuous-ingest dedup loop over a persisted [[BandIndex]]: each
  * micro-batch of documents is probed against the stored bands
  * ([[Dedup.nearDupPairsAgainstIndex]] — corpus text never read,
  * signatures never recomputed), near-duplicates of the existing corpus
  * are dropped, and the SURVIVORS are appended to the index through the
  * idempotent bid-keyed [[BandIndex.appendBatch]] — so a crashed batch
  * replays to the identical end state and each drop costs O(drop +
  * touched buckets), the production nightly/continuous shape.
  *
  * Accepted docs become part of the corpus for every LATER batch. By
  * default batch-internal pairs are the batch's own responsibility
  * (this sink dedups against the CORPUS); `dedupWithinBatch = true`
  * additionally runs the in-batch near-dup pass ([[Dedup.nearDupPairs]]
  * + min-id survivorship via [[Dedup.nearDupClusters]]) BEFORE the
  * corpus probe, so a drop carrying five copies of one novel document
  * appends exactly one survivor — the production continuous shape.
  * Doc_ids must be new per the index append contract. `autoCompactAt`
  * (default 1024) bounds the small-file fragmentation a long-running
  * stream accumulates — see [[BandIndex.appendBatch]]; 0 disables. */
object StreamDedup {

  def start(docs: DataFrame, indexPath: String, checkpoint: String,
            threshold: Double = 0.8, maxBucket: Int = 1000,
            text: String = "text",
            dedupWithinBatch: Boolean = false,
            autoCompactAt: Int = 1024): StreamingQuery = {
    // A FRESH checkpoint restarts batch ids at 0, so any streaming
    // state a dead stream left at the index (commit markers, staged
    // intents) refers to DIFFERENT data under the same bids — a stale
    // staged intent would be published in place of this stream's first
    // batches (their novel thunks never run → docs silently dropped).
    // Clear it before the first batch; a RESUMED stream (checkpoint has
    // committed offsets) keeps the state, which is its own replay log.
    if (checkpointIsFresh(docs.sparkSession, checkpoint))
      StagedCommit.clearStreamState(indexPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        // novel evaluates lazily INSIDE appendBatch: on a replay whose
        // first attempt finished staging, the staged rows publish and
        // the probe never re-runs against partially-published state
        // a continuous stream accumulates one small file set per batch —
        // the auto-compact policy bounds bands/ fragmentation in-line
        BandIndex.appendBatch(indexPath, bid, text, autoCompactAt) {
          // intra-batch pass first (optional): keep one survivor per
          // in-batch near-dup cluster (min doc_id — deterministic under
          // replay), THEN probe the survivors against the corpus; order
          // matters, or a batch's own copies would all pass the corpus
          // probe together and append as mutual near-dups
          val b0 = batch.toDF()
          val inBatch =
            if (!dedupWithinBatch) b0
            else b0.join(
              Dedup.nearDupClusters(b0, threshold)
                .where(col("keep")).select("doc_id"),
              Seq("doc_id"), "left_semi")
          val h = BandIndex.open(indexPath)
          val dups = Dedup.nearDupPairsAgainstIndex(h, inBatch,
              threshold, maxBucket, text)
            .select(col("batch_id").as("doc_id")).distinct()
          inBatch.join(dups, Seq("doc_id"), "left_anti")
        }
      }
      .start()
  }

  /** A checkpoint is fresh iff it has no committed offsets yet — i.e.
    * Structured Streaming has never written an `offsets/<bid>` WAL
    * entry there, so the next batch id is 0 and no replay is owed. */
  private[streaming] def checkpointIsFresh(spark: org.apache.spark.sql.SparkSession,
                                           checkpoint: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    !fs.exists(p) || fs.listStatus(p).forall(!_.isFile)
  }
}

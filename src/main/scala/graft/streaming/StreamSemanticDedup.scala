package graft.streaming

import graft.pipeline.Ann
import graft.store.{IvfStore, StagedCommit}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The continuous-ingest SEMANTIC dedup loop over a persisted IVF index —
  * the embedding-space sibling of [[StreamDedup]]: each micro-batch of
  * (vec_id, embedding) rows probes the stored lists for its nearest
  * stored neighbor ([[IvfStore.probeTopK]], k = 1 — tombstone-aware,
  * corpus never re-quantized), rows whose neighbor clears the cosine
  * threshold are dropped as semantic duplicates, and the SURVIVORS are
  * appended under the frozen quantizer through the idempotent bid-keyed
  * [[IvfStore.appendBatch]] — a crashed batch replays to the identical
  * end state, and each drop costs O(drop + probed lists).
  *
  * Accepted vectors become corpus for every LATER batch; batch-internal
  * pairs are the batch's own responsibility ([[graft.pipeline.Dedup.semanticDedup]]
  * in-batch first if intra-drop dedup is wanted). vec_ids must be new
  * per the append contract. The threshold is float cosine (the probe's
  * scoring space); callers needing the exact-integer accept rule run
  * the batch tier. */
object StreamSemanticDedup {

  def start(vecs: DataFrame, indexRoot: String, checkpoint: String,
            threshold: Double = 0.95, nprobe: Int = 4,
            autoCompactAt: Int = 1024): StreamingQuery = {
    if (StreamDedup.checkpointIsFresh(vecs.sparkSession, checkpoint))
      StagedCommit.clearStreamState(indexRoot)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        IvfStore.appendBatch(indexRoot, bid, autoCompactAt) {
          val spark = batch.sparkSession
          val b = batch.toDF().localCheckpoint()
          val h = IvfStore.open(spark, indexRoot)
          val dups = IvfStore.probeTopK(b, h, k = 1, nprobe)
            .where(col("cosine") >= threshold)
            .select(col("qid").as("vec_id")).distinct()
          b.join(dups, Seq("vec_id"), "left_anti")
        }
      }
      .start()
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.sources.SnapshotStore

/** The one micro-batch sink of the streaming twins: the reference's
  * "read the rows since the watermark, then MERGE them into the table"
  * loop, as an append-mode `foreachBatch` query whose checkpoint makes
  * each batch commit once. A twin passes only its per-batch body. Two
  * rules hold for every body:
  *
  *  1. The micro-batch is persisted once, before any action on it, and
  *     unpersisted in `finally`. The frame `foreachBatch` hands over
  *     wraps the micro-batch PLAN, a stateful dedup included, so two
  *     actions on it unpersisted run that plan twice: the state store
  *     does its work twice and commits the same version twice
  *     (StreamingSpec's `numRowsUpdated == 2` check guards this).
  *  2. A micro-batch with no rows commits nothing. A watermark query
  *     runs a data-free batch after every batch that moves its
  *     watermark, and merging it would rewrite the whole target store
  *     as a new version. The check reads the persisted batch, never the
  *     raw plan, so a stateful plan still runs once per batch.
  */
private[graft] object MicroBatchSink {

  /** Start `stream` with `body(batch, batchId)` run on every micro-batch
    * that has rows. */
  def run(stream: DataFrame, checkpointDir: String)
         (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try if (!b.isEmpty) body(b, id)
        finally { b.unpersist(): Unit }
      }
      .start()

  /** MERGE a batch's result into `targetDir` keyed on `keys` unless the
    * result has no rows. Persisted: the check and the MERGE both read
    * it, and unpersisted each would recompute it. */
  def mergeNonEmpty(res: DataFrame, targetDir: String, keys: Seq[String]): Unit = {
    val r = res.persist()
    try if (!r.isEmpty) SnapshotStore.mergeInto(r, targetDir, keys): Unit
    finally { r.unpersist(): Unit }
  }

  /** One (doc_id, text) row per doc_id. A source may redeliver a doc
    * inside one micro-batch; scored twice, its tokens would count twice,
    * and the MERGE keyed on doc_id would commit duplicate rows. max(text)
    * makes the survivor deterministic (redeliveries are normally
    * byte-identical; ties need a total order either way). */
  def perDoc(batch: DataFrame): DataFrame =
    batch.groupBy("doc_id").agg(max("text").as("text"))
}

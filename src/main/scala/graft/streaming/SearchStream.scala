package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotStore
import graft.text.Search

/** Streaming keyword search: a stream of queries (query_id,
  * terms array<string>) probes a persisted BM25 inverted index — the
  * lexical twin of [[AnnStream]], sharing its architecture verbatim:
  * the probe runs in the [[MicroBatchSink]] body (each micro-batch is a
  * complete, independent question; no watermark/state needed), the
  * streaming engine holds NO state beyond the checkpoint's offset log,
  * index state lives in the metastore tables behind the atomic ptr
  * view (a [[Search.updateIndex]] between micro-batches is picked up
  * by the next batch), and results land in a versioned
  * [[SnapshotStore]] via [[SnapshotStore.replaceGroups]] keyed on
  * query_id: a replayed batch upserts instead of duplicating, and a
  * RE-SUBMITTED query (or one whose hit list shrank after an index
  * update) fully replaces its old rows — no stale tail ranks linger
  * past the new result size. The delete-key set is the INCOMING
  * batch's query_ids, not the probe results': a re-submitted query
  * whose new probe returns ZERO hits still clears its old rows (keys
  * derived from results alone could never delete an emptied group).
  */
object SearchStream {

  def run(queryStream: DataFrame, indexName: String,
          targetDir: String, checkpointDir: String, k: Int,
          k1: Double = 1.2, b: Double = 0.75): StreamingQuery =
    MicroBatchSink.run(queryStream, checkpointDir) { (batch, _) =>
      val qterms = batch.select(col("query_id"),
        explode(array_distinct(col("terms"))).as("token"))
      val res = Search.probeIndexTerms(batch.sparkSession, indexName,
        qterms, k, k1, b)
      SnapshotStore.replaceGroups(res, targetDir, Seq("query_id"),
        keySource = Some(batch.select(col("query_id")).distinct())): Unit
    }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ann.AnnIndex

/** Streaming similarity search: a stream of query vectors (vec_id,
  * embedding) probes a persisted [[AnnIndex]] — the online leg of the
  * build-once/probe-every-batch lifecycle (e6's shape with the batch
  * side replaced by a stream).
  *
  * Top-k is inherently an aggregation, which on a raw stream would be
  * a stateful op needing a watermark the queries don't have (each
  * micro-batch is a complete, independent question). So the probe runs
  * in the [[MicroBatchSink]] body, where the micro-batch is a plain
  * DataFrame and [[AnnIndex.topK]] applies verbatim — same bucketed index scans,
  * broadcast quantizers, bounded-heap shortlist, exact re-rank. State
  * posture: the streaming engine holds NO state at all (the only
  * stateful thing is the checkpoint's offset log); index state lives
  * in the metastore tables, shared with every batch/nightly consumer,
  * and an index [[AnnIndex.update]] between micro-batches is picked up
  * by the next batch through the atomic view pointer.
  *
  * Results MERGE into a versioned [[graft.sources.SnapshotStore]] keyed on
  * (query_id, rank): re-delivered micro-batches (restart replay)
  * upsert instead of duplicating — exactly-once results per query, the
  * same sink contract as [[CurationStream.run]].
  */
object AnnStream {

  def run(queryStream: DataFrame, indexName: String,
          targetDir: String, checkpointDir: String, k: Int,
          nProbe: Int = 4, shortlist: Int = 100): StreamingQuery =
    MicroBatchSink.run(queryStream, checkpointDir) { (b, _) =>
      MicroBatchSink.mergeNonEmpty(AnnIndex.topK(b.sparkSession, indexName, b,
        k, nProbe, shortlist), targetDir, Seq("query_id", "rank"))
    }
}

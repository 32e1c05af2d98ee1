package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextAnalysis

/** Streaming ingest-drift monitor — [[TextAnalysis.klDrift]] (t31's
  * drift answer) SERVED per micro-batch against a FROZEN reference
  * profile: fit [[TextAnalysis.unigramProfile]] once on the healthy
  * corpus, then every arriving batch appends one (batch_id, n_tokens,
  * kl_bits) row — the time series an ops alarm thresholds ("the feed
  * changed at 14:00"). The reference is the frozen artifact
  * ([[ClassifyStream]]/[[SelectStream]]'s discipline): re-baselining
  * is a new profile + stream restart.
  *
  * Scale shape: the profile is a fixed `buckets`-row broadcastable
  * frame; per batch the work is one tokenize+count pass over the
  * batch, a grid-sized join, and a 4096-term sum. STATELESS (no
  * watermark, no state store). Sink: MERGE keyed on batch_id — a
  * replayed batch (micro-batch delivery is at-least-once) overwrites
  * its own row, so the series stays exactly-once (RollupStream's
  * batch-keyed-register move, here for an audit row).
  *
  * The caller should `persist()` the reference frame before starting
  * (re-read every micro-batch; un-persisted it re-executes its fit
  * subtree each batch).
  */
object DriftStream {

  /** Start the stream: `stream` must carry `text`; one audit row per
    * micro-batch MERGEs into `targetDir` keyed on batch_id. */
  def run(stream: DataFrame, text: Column, ref: DataFrame,
          targetDir: String, checkpointDir: String,
          buckets: Int = graft.text.Dsir.DefaultBuckets): StreamingQuery =
    MicroBatchSink.run(stream.select(text.as("text")),
        checkpointDir) { (b, id) =>
      // a zero-token batch carries no evidence — add-one smoothing
      // would read a feed lull as maximal drift (uniform vs ref), so
      // the series records only batches with tokens
      MicroBatchSink.mergeNonEmpty(
        TextAnalysis.klDrift(b, col("text"), ref, buckets)
          .filter(col("n_tokens") > 0L)
          .withColumn("batch_id", lit(id)),
        targetDir, Seq("batch_id"))
    }
}

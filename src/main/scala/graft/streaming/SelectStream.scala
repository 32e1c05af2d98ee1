package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotStore
import graft.text.Dsir

/** Streaming DSIR selection — [[graft.text.Dsir]] (x15) SERVED over a
  * document stream: every arriving doc is scored against a PRE-BUILT
  * static importance model (the `(bucket, lr)` frame
  * [[Dsir.model]] fits offline on target + pool samples) and routed
  * by a weight THRESHOLD — the streaming form of select-then-train.
  * A stream cannot take the batch draw's global Gumbel top-k (rank
  * needs the whole pool), so the serving contract is: calibrate the
  * threshold offline from the batch selection (e.g. the k-th
  * selected weight of an x15b run, or a target acceptance rate over
  * x18's report), then apply it per doc on the firehose — the same
  * frozen-artifact discipline as [[ClassifyStream]]'s model and
  * [[AnnStream]]'s index; re-selection is a new model/threshold +
  * stream restart.
  *
  * Scale shape: the model is a fixed `buckets`-row broadcast no
  * matter the corpus (the DSIR hashing property); scoring per
  * micro-batch is map-only plus one doc-keyed in-batch aggregation.
  * The stream is STATELESS (no watermark, no state store): each
  * doc's routing depends only on the doc and the frozen model. The
  * sink is the MERGE-on-doc_id [[SnapshotStore]] protocol —
  * per-batch exactly-once via the checkpoint, idempotent under
  * replay.
  *
  * Routing: `route = "select"` when `weight >= minWeight`, `"drop"`
  * below it, and `"review"` for docs the model has NO evidence for
  * (no in-vocabulary features → no weight row) — an ingest gate
  * admits on evidence and parks silence for a human or a heavier
  * model rather than silently keeping or dropping it.
  *
  * The caller should `persist()` the model frame before starting
  * (it is re-read every micro-batch; un-persisted it re-executes its
  * fit subtree each batch).
  */
object SelectStream {

  /** Pure per-batch routing logic, factored for spec replay: score
    * `batch` against the frozen model `m(bucket, lr)`, left-join back
    * so NO doc is dropped, and attach `route`. A doc_id delivered
    * twice within one micro-batch is collapsed to ONE row first
    * ([[MicroBatchSink.perDoc]]) — duplicated rows would double the
    * doc's feature stream (doubling `w_dec` → a wrong weight crossing
    * the threshold). */
  def routeBatch(batch: DataFrame, m: DataFrame, minWeight: Double,
                 buckets: Int = Dsir.DefaultBuckets,
                 ngrams: Int = 1): DataFrame = {
    val uniq = MicroBatchSink.perDoc(batch)
    uniq
      .join(Dsir.score(uniq, col("doc_id"), col("text"), m, buckets, ngrams),
        Seq("doc_id"), "left")
      .withColumn("route",
        when(col("weight").isNull, lit("review"))
          .when(col("weight") >= minWeight, lit("select"))
          .otherwise(lit("drop")))
  }

  /** Start the stream: `stream` must carry (`id`, `text`); routed
    * rows MERGE into `targetDir` keyed on doc_id. */
  def run(stream: DataFrame, id: Column, text: Column, m: DataFrame,
          targetDir: String, checkpointDir: String, minWeight: Double,
          buckets: Int = Dsir.DefaultBuckets,
          ngrams: Int = 1): StreamingQuery =
    MicroBatchSink.run(stream.select(id.as("doc_id"), text.as("text")),
        checkpointDir) { (b, _) =>
      SnapshotStore.mergeInto(routeBatch(b, m, minWeight, buckets, ngrams),
        targetDir, Seq("doc_id")): Unit
    }
}

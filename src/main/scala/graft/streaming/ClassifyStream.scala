package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.SnapshotStore
import graft.text.NaiveBayes

/** Streaming classifier routing — [[graft.text.NaiveBayes]] (t29)
  * SERVED over a document stream: every arriving doc is scored
  * against a PRE-TRAINED static (model, priors) pair and routed by
  * the best-vs-runner-up margin — the production shape of a
  * fastText-style quality/language/domain gate in an ingest pipeline
  * (train offline on labeled data, serve the frozen model on the
  * firehose; retraining is a new model frame + stream restart, the
  * same frozen-artifact discipline as [[AnnStream]]'s index).
  *
  * Scale shape: the model is vocabulary-sized and the priors
  * label-sized — both broadcast; scoring per micro-batch is map-only
  * plus one (doc, label)-keyed in-batch aggregation. The stream
  * itself is STATELESS (no watermark, no state store): each doc's
  * routing depends only on the doc and the frozen model, so state
  * never grows no matter how long the stream runs. The sink is the
  * MERGE-on-doc_id [[SnapshotStore]] protocol — per-batch
  * exactly-once via the checkpoint, idempotent under replay.
  *
  * Routing: `route = pred` when `margin >= minMargin`, else
  * `"review"` — low-margin docs (the model can't separate the top
  * two labels) and no-evidence docs (all tokens out-of-vocabulary,
  * or a single-label model's null margin) go to humans or a heavier
  * model rather than silently mislabeling (the t28 margin-gate
  * pattern).
  *
  * The caller should `persist()` the model and priors frames before
  * starting (they are re-read every micro-batch; un-persisted they
  * re-execute their training subtree each batch).
  */
object ClassifyStream {

  /** Pure per-batch routing logic, factored for spec replay: score
    * `batch` against (m, pri), left-join back so NO doc is dropped,
    * and attach `route`. A doc_id delivered twice within one
    * micro-batch is collapsed to ONE row first
    * ([[MicroBatchSink.perDoc]]) — otherwise its tokens double the
    * per-(doc, label) token sums inside [[NaiveBayes.score]] (wrong
    * score and margin while the priors count once). */
  def routeBatch(batch: DataFrame, m: DataFrame, pri: DataFrame,
                 minMargin: Double): DataFrame = {
    val uniq = MicroBatchSink.perDoc(batch)
    uniq
      .join(NaiveBayes.score(uniq, col("doc_id"), col("text"), m, pri),
        Seq("doc_id"), "left")
      .withColumn("route",
        when(col("margin").isNotNull && col("margin") >= minMargin,
          col("pred")).otherwise(lit("review")))
  }

  /** Start the stream: `stream` must carry (`id`, `text`); routed
    * rows MERGE into `targetDir` keyed on doc_id. */
  def run(stream: DataFrame, id: Column, text: Column,
          m: DataFrame, pri: DataFrame,
          targetDir: String, checkpointDir: String,
          minMargin: Double = 0.0): StreamingQuery =
    MicroBatchSink.run(stream.select(id.as("doc_id"), text.as("text")),
        checkpointDir) { (b, _) =>
      SnapshotStore.mergeInto(routeBatch(b, m, pri, minMargin), targetDir,
        Seq("doc_id")): Unit
    }
}

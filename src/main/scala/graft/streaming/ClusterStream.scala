package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.{DupClusters, TextDedup}
import graft.sources.SnapshotStore

/** Always-on duplicate-cluster maintenance — the streaming leg of the
  * d19 incremental merge (reference analog: the bronze notebook's
  * dedup runs per scheduled ingest; this keeps TRANSITIVE cluster ids
  * current as documents arrive, so any downstream consumer can read
  * "which cluster is this doc in" without ever recomputing components):
  * per micro-batch,
  *
  *  1. the batch's verified near-dup pairs are generated O(batch) —
  *     against the persisted dedup index ([[TextDedup
  *     .minHashLshPairsAgainstIndex]], d8's between-sides shape) plus
  *     the within-batch pairs (the same split d19 proves equals the
  *     full corpus's pair set, because per-doc banding is
  *     deterministic);
  *  2. the pairs fold into the stored assignments via
  *     [[DupClusters.mergeComponents]] — the iterative propagation
  *     runs on the contracted (touched-clusters + batch) graph only;
  *  3. only the CHANGED assignment rows (relabeled or new) MERGE into
  *     the versioned clusters [[SnapshotStore]] keyed on doc_id — the
  *     state delta is touched-components-sized, never corpus-sized;
  *  4. the batch itself MERGEs into the dedup index, so the NEXT
  *     batch pairs against the grown corpus (cold start bootstraps
  *     both stores from the first batch).
  *
  * Replay safety: all four steps are idempotent MERGEs/recomputes
  * keyed on doc_id — a crashed batch replayed from the checkpoint
  * converges to the same store state (the RollupStream argument).
  * The stream side itself is stateless (no watermark needed): cluster
  * state lives in the snapshot stores, not the state store, so a
  * restart resumes from the committed snapshots.
  *
  * Scale: per batch, one band probe of the index (O(batch × bands)
  * candidate rows), one contracted-graph propagation (batch-sized,
  * SCALING.md's d19 rows measure it flat in corpus size), one
  * changed-rows anti-compare (equi-join on the stored frame — the
  * single corpus-keyed scan, same class as any MERGE), two snapshot
  * MERGEs. Cluster ids follow d7's contract: component-minimum
  * doc_id, covering exactly the docs that appear in some pair.
  *
  * Monotonicity: components only MERGE under appends, never split —
  * the standard incremental-CC contract. Re-ingesting an id with
  * REWRITTEN text updates its index rows but cannot retract edges its
  * old text created; content-rewriting corpora should schedule a
  * periodic full d7 recompute (the same cadence argument as
  * AnnIndex.retrain). */
object ClusterStream {

  /** Start the maintenance stream. `stream` must carry `id` and
    * `text`; `indexDir` is the persisted dedup index (bootstrapped
    * from the first batch if absent), `clustersDir` the (doc_id,
    * cluster_id) assignments store. */
  def run(stream: DataFrame, indexDir: String, clustersDir: String,
          checkpointDir: String, minJaccard: Double = 0.1,
          id: Column = col("doc_id"), text: Column = col("text")): StreamingQuery =
    MicroBatchSink.run(stream.select(id.as("doc_id"), text.as("text")),
        checkpointDir) { (b, _) =>
      val spark = b.sparkSession
      import spark.implicits._
      val pairCols: DataFrame => DataFrame = _.select("doc_a", "doc_b")
      val cross =
        if (SnapshotStore.read(spark, indexDir).isDefined)
          pairCols(TextDedup.minHashLshPairsAgainstIndex(spark, indexDir,
            b, col("doc_id"), col("text"), minJaccard))
        else Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
      val within = pairCols(TextDedup.minHashLshPairs(b, col("doc_id"),
        col("text"), minJaccard))
      // persist the generated pairs: the pair lineage (signatures +
      // index probe + verify) feeds the contracted graph's eager
      // checkpoint AND the delta write's new-doc leg
      val pairs = cross.unionByName(within).persist()
      try {
        val stored = SnapshotStore.read(spark, clustersDir)
          .map(_.select("doc_id", "cluster_id"))
          .getOrElse(Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"))
        val merged = DupClusters.mergeComponents(stored, pairs)
        // ship only the delta: rows whose assignment changed or is new
        val delta = merged
          .join(stored.withColumnRenamed("cluster_id", "__prev"),
            Seq("doc_id"), "left")
          .filter(col("__prev").isNull || col("__prev") =!= col("cluster_id"))
          .select("doc_id", "cluster_id")
        SnapshotStore.mergeInto(delta, clustersDir, Seq("doc_id")): Unit
        // grow the index last: a batch must not pair against itself
        // through the index (its within-pairs are generated directly)
        TextDedup.updateDedupIndex(b, col("doc_id"), col("text"),
          indexDir): Unit
      } finally { pairs.unpersist(): Unit }
    }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IncrementalAgg
import graft.sources.SnapshotStore

/** Streaming incremental rollup — the always-on leg of
  * [[IncrementalAgg]]: a fact stream keeps a gold aggregate current
  * without ever recomputing from history.
  *
  * Micro-batch delivery is at-least-once, and additive state is NOT
  * replay-safe (folding the same micro-batch twice double-counts). So
  * each micro-batch MERGEs its partial registers keyed
  * (batch_id, group) — a replayed batch overwrites its own rows
  * instead of re-adding them, which makes the sink exactly-once
  * without any coordination (the [[AnnStream]] sink contract, applied
  * to registers). [[read]] folds the per-batch partials to one row per
  * group; [[compact]] bounds state growth by folding everything into a
  * single base register (batch_id = -1) — run it from the maintenance
  * loop like [[SnapshotStore.compact]], whose retention pruning it
  * composes with. Streaming-engine state: none (offset log only).
  */
object RollupStream {

  /** Start folding `stream` (a fact-row stream) into batch-keyed
    * partial registers at `stateDir`. */
  def run(stream: DataFrame, stateDir: String, checkpointDir: String,
          groupCols: Seq[String], sumCols: Seq[String]): StreamingQuery =
    MicroBatchSink.run(stream, checkpointDir) { (b, id) =>
      SnapshotStore.mergeInto(IncrementalAgg.partial(b, groupCols, sumCols)
        .withColumn("batch_id", lit(id)), stateDir, "batch_id" +: groupCols): Unit
    }

  /** The current rollup: per-batch partials folded to one row per
    * group. None before the first batch. */
  def read(spark: SparkSession, stateDir: String, groupCols: Seq[String],
           sumCols: Seq[String]): Option[DataFrame] =
    SnapshotStore.read(spark, stateDir)
      .map(s => IncrementalAgg.fold(s.drop("batch_id"), groupCols, sumCols))

  /** Fold the no-longer-replayable partials into one base register row
    * per group (batch_id = -1) and commit — bounds the state at
    * ~|groups| rows no matter how many micro-batches have landed.
    * Replay safety: the sink commits a batch to the checkpoint
    * AFTER the merge returns, so on restart only the newest batch can
    * be redelivered — compaction therefore folds every batch BELOW the
    * newest and leaves the newest batch's rows keyed, where a replay
    * overwrites them idempotently. Folding the newest too would
    * double-count it if the crash landed between its merge and its
    * checkpoint commit. SINGLE-WRITER: the micro-batch merges run on
    * the streaming engine's thread, so compact must NOT run while the
    * query is active — both are SnapshotStore writers and could claim
    * the same next version, silently losing whichever commit loses the
    * pointer race. Compact between restarts (query stopped), the same
    * window every log-less table format reserves for maintenance. */
  def compact(spark: SparkSession, stateDir: String, groupCols: Seq[String],
              sumCols: Seq[String]): Option[Int] =
    SnapshotStore.read(spark, stateDir).map { s =>
      val maxId = s.agg(max(col("batch_id"))).first().getLong(0)
      val frozen = s.filter(col("batch_id") < maxId)
      val base = IncrementalAgg.fold(frozen.drop("batch_id"), groupCols, sumCols)
        .withColumn("batch_id", lit(-1L))
      SnapshotStore.commit(
        base.unionByName(s.filter(col("batch_id") === maxId)), stateDir)
    }
}

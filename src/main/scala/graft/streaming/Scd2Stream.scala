package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Scd2
import graft.sources.SnapshotStore

/** Streaming SCD Type-2 maintenance — the always-on leg of
  * [[graft.operators.Scd2]]: a dimension change feed keeps the
  * versioned history current, one [[Scd2.applyChanges]] per
  * micro-batch into a [[SnapshotStore]].
  *
  * Replay safety: delivery is at-least-once and `applyChanges` is
  * NOT naturally idempotent (replaying a batch whose last value differs
  * from its first would re-open old versions). Each batch is therefore
  * pre-filtered to updates STRICTLY NEWER than the key's open version
  * (`ts > effective_from`): on redelivery every update that OPENED a
  * version fails the guard, and the only survivors are value-no-ops
  * (updates that never opened one), which [[Scd2.applyChanges]]
  * neutralizes — so a replay never changes the table's content, at
  * worst it commits an identical version. The same guard gives the
  * stream watermark semantics — out-of-order changes older than the
  * open version are dropped, the standard streaming-dimension contract
  * (route genuinely late corrections through a batch backfill that
  * rebuilds the affected keys). Single-writer like every SnapshotStore
  * sink.
  */
object Scd2Stream {

  /** Apply one change batch to the SCD2 state at `stateDir` (exposed
    * for testing the replay guard directly; the stream calls this per
    * micro-batch). Returns the committed version, or None for an
    * effectively-empty batch. */
  def applyBatch(batch: DataFrame, stateDir: String,
                 keys: Seq[String], tracked: Seq[String],
                 tsCol: String, tieCols: Seq[String] = Nil): Option[Int] = {
    if (batch.isEmpty) return None
    val spark = batch.sparkSession
    val cur = SnapshotStore.read(spark, stateDir)
      .getOrElse(Scd2.empty(batch, keys, tracked, tsCol))
    val open = cur.filter(col("is_current"))
      .select(keys.map(col) :+ col("effective_from").as("__open_from"): _*)
    val fresh = batch.join(open, keys, "left")
      .filter(col("__open_from").isNull || col(tsCol) > col("__open_from"))
      .drop("__open_from")
    if (fresh.isEmpty) None
    else Some(SnapshotStore.commit(
      Scd2.applyChanges(cur, fresh, keys, tracked, tsCol, tieCols), stateDir))
  }

  /** Start maintaining the SCD2 table at `stateDir` from a change
    * stream. */
  def run(changes: DataFrame, stateDir: String, checkpointDir: String,
          keys: Seq[String], tracked: Seq[String],
          tsCol: String, tieCols: Seq[String] = Nil): StreamingQuery =
    MicroBatchSink.run(changes, checkpointDir) { (b, _) =>
      applyBatch(b, stateDir, keys, tracked, tsCol, tieCols): Unit
    }

  /** The current SCD2 table. None before the first batch. */
  def read(spark: SparkSession, stateDir: String): Option[DataFrame] =
    SnapshotStore.read(spark, stateDir)

  /** Streaming as-of ENRICHMENT — the consumption leg of the
    * maintenance loop above (s6b's point-in-time join, always-on):
    * each fact micro-batch joins the SCD2 table at `dimDir` as of its
    * OWN event time ([[graft.operators.Scd2.asOfJoin]] verbatim — the
    * version whose [effective_from, effective_to) bracket covers the
    * fact's ts, facts predating the earliest version keeping null
    * dims), results MERGE into a versioned [[SnapshotStore]] keyed on
    * `factKeys` — [[AnnStream]]'s sink contract, so restart replays
    * upsert instead of duplicating.
    *
    * Cold start: if `dimDir` has NO committed version yet the batch
    * FAILS (so its offsets are never checkpointed) rather than being
    * silently skipped — a skipped-but-committed batch would be
    * permanently absent from the target. The facts replay once the
    * maintenance loop commits its first version and the query is
    * restarted; the null-dim contract above needs a dim schema and so
    * begins at version 0, not before it.
    *
    * State posture: the streaming engine holds NO state (offsets
    * only); dimension state lives in the snapshot store, shared with
    * the maintenance stream — a dim version committed between
    * micro-batches is picked up by the next batch through the atomic
    * pointer. Late facts are therefore enriched against the dim AS
    * MAINTAINED, never against a future version (the as-of bracket
    * gates by event time). The enrich query and the maintenance query
    * must not share a Spark session's checkpoint but may share the
    * store: reads ride the version pointer, the single writer remains
    * the maintenance loop. */
  def enrich(facts: DataFrame, dimDir: String, targetDir: String,
             checkpointDir: String, keys: Seq[String], tracked: Seq[String],
             factTs: String, factKeys: Seq[String]): StreamingQuery =
    MicroBatchSink.run(facts, checkpointDir) { (b, _) =>
      val dim = SnapshotStore.read(b.sparkSession, dimDir)
        .getOrElse(throw new IllegalStateException(
          s"scd2 enrich: no committed dimension version at $dimDir yet " +
            "— failing the batch so it retries after the maintenance " +
            "stream's first commit (offsets stay uncheckpointed)"))
      MicroBatchSink.mergeNonEmpty(
        Scd2.asOfJoin(b, factTs, dim, keys, tracked), targetDir, factKeys)
    }
}

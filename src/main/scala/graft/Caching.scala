package graft

import org.apache.spark.sql.DataFrame

/** The one cache policy for operators whose returned (lazy) frame
  * reads an intermediate several times — pair generators, k-means
  * corpora, curation stage boundaries.
  *
  * The level is Spark's own session conf
  * `spark.sql.defaultCacheStorageLevel` (`MEMORY_AND_DISK` unless the
  * session sets another), read by the no-argument `Dataset.persist()`.
  * Such operators cannot unpersist what they cache — the consumer
  * hasn't run yet — so the lifetime of a lazy operator's caches
  * belongs to the caller: `unpersist` the frames it holds, or
  * `spark.catalog.clearCache()` after the terminal action (as Bench
  * does between passes). Streaming frames are never persisted
  * (unsupported by Spark).
  */
object Caching {
  def persisted(df: DataFrame): DataFrame =
    if (df.isStreaming) df else df.persist()

  /** Stage-boundary form of [[persisted]] for DEEP multi-stage
    * pipelines (the curation chains): persist the frame AND truncate
    * its logical plan (lazy `localCheckpoint` — computation still
    * deferred to first use, blocks held at the session cache level).
    * A plain persist leaves the full upstream tree in every downstream
    * plan, and a stage containing a self-join duplicates that entire
    * subtree PER REFERENCE — so an N-stage chain's final action hands
    * Catalyst an exponentially-unfolded tree (measured: the c6
    * selection pipeline spent 4.4 s in analysis/planning before its
    * first job, over half the row's bench cost; the optimization
    * guide's §3.3 "materialise an intermediate to truncate the plan").
    * With the boundary truncated, each stage is analyzed once, as a
    * small plan over a leaf.
    *
    * The frame is ALSO persist()ed before truncation: the persist
    * registers the canonical plan with the CacheManager, so sibling
    * queries in one session that compose the identical stage subtree
    * (the c-family all share gate→dedup→near-dup heads) still share
    * ONE materialization — dropping that registration measurably
    * tripled the cheap family members (c1 0.27→1.26 s fleet) while the
    * truncation was saving the deep ones. The checkpoint materializes
    * THROUGH the registered cache, so the blocks are populated either
    * way; the cost is double storage of stage-boundary frames (cache +
    * checkpoint blocks) — bounded by the pipeline's working set, the
    * price of O(stages) planning instead of O(2^stages).
    *
    * Same caller-owned lifecycle as [[persisted]]. Unlike
    * [[persisted]], a lost executor means recomputing the QUERY, not
    * the block — acceptable for bounded pipeline runs, wrong for
    * frames that must survive partial cluster loss (keep
    * [[persisted]] there). */
  def staged(df: DataFrame): DataFrame =
    if (df.isStreaming) df else persisted(df).localCheckpoint(eager = false)
}

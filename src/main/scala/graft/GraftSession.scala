package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape graft ships: the contract mains (Bench,
  * Verify), every dev tool and the test suite build their
  * session here, so the plans the DuckDB oracle proves are the plans
  * the bench times.
  *
  *  - `local[cores]` with `spark.sql.shuffle.partitions = cores`.
  *  - [[GraftExtensions]]: graft's SQL kernels and the
  *    [[graft.plans.WindowTopOneRewrite]] optimizer rule, registered at
  *    session build (the b2b/g7b naive-window keys prove the rule
  *    through the oracle gate). `GraftFunctions.register` on a live
  *    session installs the functions only, not the rule.
  *  - `spark.sql.codegen.cache.maxEntries = 4096`: the default 100
  *    entries is far below the distinct codegen sources of one pass
  *    over the query suite, so every pass re-compiled through Janino
  *    and the fleet drifted ~1.13x slower together (see Bench).
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`: let
  *    AQE size CACHED plans' partitioning by bytes instead of freezing
  *    the static shuffle-partition count into every persisted
  *    intermediate. The operators persist control-plane and
  *    sliver-sized frames (postings batches, probe slivers, stage
  *    boundaries); with this off every consumer job of a cached frame
  *    pays one task per frozen partition regardless of size. Measured
  *    (JobProfile, sf0.1, `local[32]`): e8b 865→369 tasks / 114.6→46.4
  *    task-s, e8d 1120→612 / 159→72, c6 1046→271 / 105→54, e20 745→559
  *    / 71→43.
  *  - UI off; session time zone UTC (the oracle compares timestamps
  *    rendered in UTC).
  */
object GraftSession {

  /** The core count the mains and tools run on: `SPARK_GRAFT_CPUS`, else 32. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** The graft session on `local[cores]`. `getOrCreate` hands back an
    * already-running default session unchanged apart from its runtime
    * confs, and extensions cannot be added to a live session — so a
    * session without the graft functions throws here rather than
    * silently planning without [[graft.plans.WindowTopOneRewrite]]. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", true)
      .getOrCreate()
    val missing = GraftFunctions.all.map(_._1)
      .filterNot(spark.sessionState.functionRegistry.functionExists)
    if (missing.nonEmpty) throw new IllegalStateException(
      "the active Spark session was built without graft.GraftExtensions " +
        s"(missing ${missing.map(_.funcName).mkString(", ")}); stop it, or " +
        "build it through graft.GraftSession")
    spark
  }
}

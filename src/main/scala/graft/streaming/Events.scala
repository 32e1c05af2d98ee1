package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.SnapshotStore

/** Event-stream operators, written once as column logic and applied to
  * both batch frames (oracle-checkable) and Structured Streaming
  * (watermark + window / flatMapGroupsWithState).
  *
  * Capabilities mirror the reference's incremental-ingest posture
  * (watermark protocol, run metrics) lifted to true streaming.
  */
object Events {

  /** Tumbling-window aggregation (1h): shared by batch and stream —
    * the streaming caller adds `.withWatermark("ts", ...)` first.
    * Exact decimal sums (see Measures) for engine-independent totals. */
  def windowedAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming flavor with a watermark; append-mode capable. */
  def windowedAggStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    windowedAgg(events.withWatermark("ts", watermark))

  /** Batch sessionization: 30-min-gap sessions per user via lag +
    * running sum. Total ordering (ts, event_id) keeps the assignment
    * deterministic under timestamp ties. One shuffle on user_id. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
  }

  /** First-order event-transition matrix (the path-analysis /
    * next-action Markov model a product analytics suite derives from
    * the event log): count of each (from_type, to_type) consecutive
    * pair within a user's timeline, ordered (ts, event_id) — the same
    * deterministic total order [[sessionizeBatch]] walks. One lag
    * window (per-user local sort, bounded by a user's history — the
    * st2 posture) + one keyed count. Output: (from_type, to_type, n)
    * plus each row's share of its from_type's outgoing transitions —
    * the conditional transition probability as a 6-dp-rounded double
    * (counts are the exact contract; a from_type's shares can sum to
    * 0.999999/1.000001 after rounding). */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = events
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val outTotals = Window.partitionBy(col("from_type"))
    pairs.withColumn("p",
      // §6 quantizer (graft.functions.Quantize): engine-identical at
      // the half boundary, unlike round(double, n)
      graft.functions.Quantize.qdp(
        col("n").cast(DoubleType) / sum(col("n")).over(outTotals), 6))
  }

  /** Top-k most common user journeys — the path-analysis report next
    * to [[transitionMatrix]]'s one-step view (the transition matrix
    * says which step follows which; this says which WHOLE sequences
    * dominate): each user's events in (ts, event_id) order collapse to
    * a '>'-joined path string truncated at `maxLen` steps (journeys
    * have a reporting horizon; unbounded paths make every power user a
    * unique row), then one keyed count and a bounded top-k cut with
    * ties broken on the path string.
    *
    * Scale shape: per-user state is bounded BEFORE any list exists —
    * a per-user `rn <= maxLen` window over (ts, event_id, event_type)
    * rides [[graft.plans.WindowTopOneRewrite]] into the bounded-heap
    * [[graft.functions.TopKRows]] partial aggregate (each map task
    * keeps at most maxLen rows per user), so one bot-grade hot user
    * with millions of events costs maxLen rows in the shuffle, never a
    * multi-GB array in one reducer (the previous collect-everything-
    * then-slice shape's failure mode at 100×). The survivors (≤ maxLen
    * per user) collapse to the path string, then one
    * partial-aggregating count on path, and the final cut is
    * TakeOrderedAndProject (each partition keeps k rows) — never a
    * global sort. */
  def topPaths(events: DataFrame, maxLen: Int = 8, k: Int = 10): DataFrame = {
    require(maxLen > 0 && k > 0, s"invalid maxLen=$maxLen k=$k")
    val first = events
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"), col("event_type"))))
      .filter(col("rn") <= maxLen)
    val per = first
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        p => p.getField("event_type")), ">").as("path"))
    per.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(k)
  }

  private def prefixed(df: DataFrame, p: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))

  /** The interval join both [[streamStreamJoin]] and its batch twin
    * (st7) share: each left event matches right events of the same
    * user within [left.ts - lookback, left.ts]. The user equi-key
    * carries the shuffle (key-aligned, one exchange per side); the
    * time bound is a residual filter on the joined pairs — never a
    * per-key nested loop over the whole table. Column names are
    * prefixed l_/r_ to keep the join self-describing. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   lookback: String = "1 hour"): DataFrame =
    prefixed(left, "l_").join(prefixed(right, "r_"), expr(
      s"""l_user_id = r_user_id AND
         |r_ts BETWEEN l_ts - interval $lookback AND l_ts""".stripMargin))

  /** Watermarked stream-stream inner join — [[intervalJoin]] with
    * watermarks on both sides: the watermarks + the time-bound let
    * Spark expire join state, the knob that keeps state finite at
    * production fan-in. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       lookback: String = "1 hour",
                       watermark: String = "1 hour"): DataFrame = {
    val l = prefixed(left, "l_").withWatermark("l_ts", watermark)
    val r = prefixed(right, "r_").withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"""l_user_id = r_user_id AND
         |r_ts BETWEEN l_ts - interval $lookback AND l_ts""".stripMargin))
  }

  /** Ordered-step conversion funnel: for each user, step 1 is their
    * earliest `steps(0)` event, and step i+1 is their earliest
    * `steps(i)` event at-or-after their step-i time; the output is one
    * row per step with the count of users who reached it (the
    * behavioral-analytics funnel every events warehouse ships).
    *
    * Scale shape: step filters push down to the scan; each step is a
    * user-keyed equi-join + partial-aggregating min — every frame in
    * the chain hash-partitions on user_id, so the per-step shuffles
    * are key-aligned and each step's input is only the survivors of
    * the previous one (monotonically shrinking). No windows, no
    * per-user event sorting, state per user is one timestamp. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    val perStep = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("step_ts").as("prev_ts")), "user_id")
        .where(col("ts") >= col("prev_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    }
    perStep.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Conversion-window funnel — [[funnel]] with a per-step deadline
    * (the ClickHouse `windowFunnel` contract): step i counts only if
    * it happens within `windowSeconds` OF STEP i-1, not merely ever
    * after — "clicked within 7 days of the first view" is the number
    * a campaign is actually judged on, and the unbounded funnel
    * overstates it by counting conversions a quarter later. Semantics:
    * per user, step 1 anchors at the first occurrence; step i>1 at the
    * first occurrence in [prev_ts, prev_ts + window]. A user missing
    * the deadline drops out of every later step (the funnel property
    * is preserved: counts are non-increasing).
    *
    * Scale shape identical to [[funnel]]: one keyed equi-join + one
    * partial-aggregating min per step over monotonically shrinking
    * survivor sets; the deadline is a residual filter on the joined
    * rows — no windows, no per-user sort. */
  def windowFunnel(events: DataFrame, steps: Seq[String],
                   windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowSeconds > 0, s"invalid windowSeconds=$windowSeconds")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    val perStep = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("step_ts").as("prev_ts")), "user_id")
        .where(col("ts") >= col("prev_ts") &&
          col("ts") <= col("prev_ts") + expr(s"interval $windowSeconds seconds"))
        .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    }
    perStep.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Time-to-convert distribution per funnel step — the latency leg of
    * [[funnel]] (reach counts say HOW MANY converted; this says HOW
    * LONG each conversion took, the number a growth team actually
    * tunes against). Walks the identical per-user earliest-qualifying-
    * event chain, but keeps each user's step timestamps and reports,
    * per step i >= 2, the seconds from step i-1 over the users who
    * reached step i: n_users, exact decimal mean, exact R-7 p50/p90
    * (g9's percentile definition, so DuckDB's quantile_cont replays
    * it; rounded 4 dp).
    *
    * Scale shape = funnel's: per-step key-aligned equi-joins +
    * partial-aggregating mins over monotonically shrinking survivor
    * sets; the final stats aggregate one row per converting user per
    * step. The per-step percentile is the only survivors-sized cost
    * (the g14b sketch is the 100 TB swap). */
  def funnelLatency(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelLatency needs at least two steps")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    val perStep = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("step_ts").as("prev_ts")), "user_id")
        .where(col("ts") >= col("prev_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("step_ts"))
    }
    perStep.sliding(2).toSeq.zip(steps.tail).zipWithIndex.map {
      case ((Seq(prev, cur), step), i) =>
        cur.join(prev.select(col("user_id"), col("step_ts").as("prev_ts")), "user_id")
          .select(col("user_id"),
            (unix_micros(col("step_ts")) - unix_micros(col("prev_ts")))
              .cast(DoubleType).divide(1000000.0).as("secs"))
          .agg(count(lit(1)).as("n_users"),
            // §6 quantizer on the exact-sum mean quotient and the R-7
            // percentiles (Quantize scaladoc): engine-identical at the
            // half boundary, unlike round(double, n) / decimal avg
            graft.functions.Quantize.qdp(
              sum(col("secs").cast(DecimalType(28, 6))).cast(DoubleType)
                / count(lit(1)), 4).as("mean_secs"),
            graft.functions.Quantize.qdp(expr("percentile(secs, 0.5)"), 4)
              .as("p50_secs"),
            graft.functions.Quantize.qdp(expr("percentile(secs, 0.9)"), 4)
              .as("p90_secs"))
          .select(lit(i + 2).as("step"), lit(step).as("event_type"),
            col("n_users"), col("mean_secs"), col("p50_secs"), col("p90_secs"))
    }.reduce(_ unionAll _)
  }

  /** Session-quality rollup — the dashboard card over
    * [[sessionizeBatch]]'s raw sessions (the sessionizer says where
    * each session starts and ends; this says what a TYPICAL session
    * looks like): one row of n_sessions, distinct users, exact decimal
    * mean events-per-session, mean/p50/p90 session duration seconds
    * (funnelLatency's stat idiom: micros-diff as double, R-7
    * percentiles, 4-dp rounds), and the single-event-session share
    * (the bounce rate) as a 6-dp-rounded division.
    *
    * Scale shape: sessionization's per-user lag/cumsum windows
    * (bounded by a user's own history), one keyed session agg, then
    * the final stats over the sessions-sized frame in ONE aggregation
    * — the exact percentile pair is the only sessions-sized sort
    * state (g14b's sketch is the 100 TB swap). */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionizeBatch(events, gapMinutes)
      .select(col("user_id"), col("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .cast(DoubleType).divide(1000000.0).as("dur_s"))
      .agg(count(lit(1)).as("n_sessions"),
        count_distinct(col("user_id")).as("n_users"),
        // §6 quantizer on the exact-sum mean quotients and the R-7
        // percentiles (funnelLatency's idiom — see the note there)
        graft.functions.Quantize.qdp(
          sum(col("n_events")).cast(DoubleType) / count(lit(1)), 4)
          .as("mean_events"),
        graft.functions.Quantize.qdp(
          sum(col("dur_s").cast(DecimalType(28, 6))).cast(DoubleType)
            / count(lit(1)), 4).as("mean_dur_s"),
        graft.functions.Quantize.qdp(expr("percentile(dur_s, 0.5)"), 4)
          .as("p50_dur_s"),
        graft.functions.Quantize.qdp(expr("percentile(dur_s, 0.9)"), 4)
          .as("p90_dur_s"),
        // §6 quantizer on the exact-count quotient (Quantize scaladoc)
        graft.functions.Quantize.qdp(
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1)), 6).as("bounce_rate"))

  /** Weekly cohort retention: users cohorted by the week of their
    * first event; `n_users` counts how many of each cohort were active
    * `week_offset` weeks later (offset 0 = the cohort week itself) —
    * the standard retention triangle.
    *
    * One user-keyed aggregation collects each user's distinct active
    * weeks (bounded by calendar weeks, not events — O(thousands) even
    * over decades) alongside their cohort week, then a second keyed
    * aggregation counts the exploded (cohort, offset) pairs. Two
    * shuffles total; no distinct-count state, no windows. */
  def weeklyRetention(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .groupBy("user_id")
      .agg(min(col("aw")).as("cohort_week"), collect_set(col("aw")).as("weeks"))
      .select(col("cohort_week"), explode(col("weeks")).as("aw"))
      .withColumn("week_offset",
        floor(datediff(col("aw"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))

  /** Streaming exact dedup — the streaming leg of the dedup family
    * (batch analog: d1 / [[graft.dedup.TextDedup.exactDupMetrics]]).
    * Drops events whose key was already seen within the watermark
    * horizon: `dropDuplicatesWithinWatermark` keeps dedup state only
    * until the watermark passes the event's time, the knob that keeps
    * state finite at production fan-in (a plain `dropDuplicates` on a
    * stream grows state forever). */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming MERGE sink: every micro-batch upserts into a
    * [[SnapshotStore]] keyed on `keys` — the reference's
    * watermark-incremental → Delta MERGE loop as a true streaming
    * write path (exactly-once per batch via the checkpoint +
    * atomically-versioned snapshots). */
  def mergeUpsertSink(events: DataFrame, targetDir: String,
                      checkpointDir: String, keys: Seq[String]): StreamingQuery =
    MicroBatchSink.run(events, checkpointDir) { (b, _) =>
      SnapshotStore.mergeInto(b, targetDir, keys): Unit
    }

  // --- streaming sessionization (custom state) ------------------------

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long, total_value: Double)

  /** Streaming sessionization via flatMapGroupsWithState: emits a
    * session when the gap timeout fires. State is O(1) per active user;
    * the watermark bounds state growth — the knobs that matter at
    * production fan-in. */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last > gapMs =>
                  out += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.result().iterator
          }
      }
  }
}

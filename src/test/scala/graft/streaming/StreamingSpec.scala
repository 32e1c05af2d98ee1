package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("nearDupFlagStream: streamed docs hit the static corpus band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = table("documents")
    val corpusIndex = graft.dedup.TextDedup
      .bandIndex(corpus, col("doc_id"), col("text")).cache()
    // stream one exact copy of a corpus doc (ids offset far away) and
    // one line of gibberish that shares no shingle with anything
    val copied = corpus.filter(col("doc_id") === 7)
      .select(col("text")).collect()(0).getString(0)
    val input = MemoryStream[(Long, String)]
    input.addData((100007L, copied), (100008L, "zzqq wwxx yyvv uutt rrss"))
    val q = CurationStream.nearDupFlagStream(
        input.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
        corpusIndex)
      .writeStream.format("memory").queryName("neardup_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val hits = spark.sql("SELECT DISTINCT doc_id, corpus_doc_id FROM neardup_flags")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.contains((100007L, 7L)), "exact copy must hit its source doc")
      assert(!hits.exists(_._1 == 100008L), "gibberish must not hit the index")
    } finally q.stop()
  }

  test("streaming curation survives a restart from its checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusIndex = graft.dedup.TextDedup
      .bandIndex(table("documents"), col("doc_id"), col("text")).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-cur2-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur2-ckpt").toString
    val good = ("the cat sat on the mat and it is a fine day " * 4).trim
    def start(in: MemoryStream[(Long, String, Timestamp)]) =
      CurationStream.run(
        in.toDF().toDF("doc_id", "text", "ts"), col("doc_id"), col("text"),
        corpusIndex, dir, ckpt, minQuality = 0.5, lang = Some("en"))
    val in = MemoryStream[(Long, String, Timestamp)]
    in.addData((9001L, good, ts(1)))
    val q1 = start(in)
    try q1.processAllAvailable() finally q1.stop()
    // same source, same checkpoint, new query = restart; offsets
    // resume where the stopped query committed, and the keyed MERGE
    // sink must upsert, not duplicate, across the restart
    in.addData((9001L, good + " again", ts(5)), (9005L, good + " brand new", ts(6)))
    val q2 = start(in)
    try q2.processAllAvailable() finally q2.stop()
    val snap = graft.sources.SnapshotStore.read(spark, dir).get
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap.keySet == Set(9001L, 9005L), "one row per doc across restarts")
    assert(snap(9001L).endsWith("again"), "restart batch upserted the doc")
  }

  test("contamFlagStream: streamed docs hit the broadcast eval shingles") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    input.addData(
      (1L, "he said the quick brown fox jumps right past us"),
      (2L, "completely unrelated words with no overlap here at all"))
    val q = CurationStream.contamFlagStream(
        input.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
        eval, col("text"), n = 5)
      .writeStream.format("memory").queryName("contam_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val hits = spark.sql("SELECT doc_id, s FROM contam_flags")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(hits.toSeq == Seq((1L, "the quick brown fox jumps")))
    } finally q.stop()
  }

  test("streaming curation run: gate, dedup, flag, merge into snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = table("documents")
    val corpusIndex = graft.dedup.TextDedup
      .bandIndex(corpus, col("doc_id"), col("text")).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-cur-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-ckpt").toString
    // long English text passes the quality+language gate; the corpus
    // copy must get band hits, the fresh text none; the exact dup of
    // doc 9001 must be dropped by the streaming dedup
    val good = ("the cat sat on the mat and it is a fine day " * 4).trim
    val copied = corpus.filter(col("doc_id") === 7)
      .select(col("text")).collect()(0).getString(0)
    val input = MemoryStream[(Long, String, Timestamp)]
    input.addData(
      (9001L, good, ts(1)),
      (9002L, good, ts(2)),            // exact dup of 9001 -> dropped
      (9003L, copied, ts(3)),          // near-dup of corpus doc 7
      (9004L, "zz qq ww", ts(4)))      // fails the quality gate
    val q = CurationStream.run(
      input.toDF().toDF("doc_id", "text", "ts"), col("doc_id"), col("text"),
      corpusIndex, dir, ckpt, minQuality = 0.5, lang = Some("en"))
    try q.processAllAvailable() finally q.stop()
    val snap = graft.sources.SnapshotStore.read(spark, dir).get
      .select("doc_id", "n_band_hits")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap.keySet == Set(9001L, 9003L))
    assert(snap(9001L) == 0L, "fresh text has no corpus band hits")
    assert(snap(9003L) > 0L, "corpus copy must hit the band index")
    // regression guard for the foreachBatch persist: the stateful
    // dedup must execute ONCE per batch — 3 gate survivors, 2 distinct
    // hashes, so the state store commits exactly 2 updated rows. The
    // un-persisted self-join re-executed the dedup subtree and
    // reported every state metric doubled (4 here).
    val dedupOps = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName == "dedupeWithinWatermark")
    assert(dedupOps.nonEmpty, "no dedup state operator in progress")
    assert(dedupOps.map(_.numRowsUpdated).max === 2L,
      s"dedup state updated ${dedupOps.map(_.numRowsUpdated).max} rows " +
        "for 2 distinct survivors — the stateful subtree ran more than once")
  }

  test("streaming curation: a data-free micro-batch commits no store version") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusIndex = graft.dedup.TextDedup
      .bandIndex(table("documents"), col("doc_id"), col("text")).cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-cur3-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur3-ckpt").toString
    val good = ("the cat sat on the mat and it is a fine day " * 4).trim
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = CurationStream.run(
      input.toDF().toDF("doc_id", "text", "ts"), col("doc_id"), col("text"),
      corpusIndex, dir, ckpt, minQuality = 0.5, lang = Some("en"))
    // three data batches, each moving the event-time watermark: the
    // engine follows each with a data-free batch that evicts dedup state
    val tails = Seq("again", "brand new", "once more")
    try tails.zipWithIndex.foreach { case (w, i) =>
      input.addData((9101L + i, s"$good $w", ts(10 * i + 1)))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.exists(_.numInputRows == 0),
      "no data-free micro-batch ran — the check below would be vacuous")
    assert(graft.sources.SnapshotStore.currentVersion(dir).contains(tails.size - 1),
      s"${tails.size} data batches committed versions 0 to " +
        s"${graft.sources.SnapshotStore.currentVersion(dir)}")
    assert(graft.sources.SnapshotStore.read(spark, dir).get.count() == tails.size)
  }

  test("rollup stream: batch-keyed partials fold to the full recompute; replay and compact are safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft-rollup-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rollup-ckpt").toString
    val input = MemoryStream[(String, Double)]
    val q = RollupStream.run(input.toDF().toDF("k", "v"),
      stateDir, ckpt, Seq("k"), Seq("v"))
    try {
      input.addData(("a", 1.5), ("a", 2.5), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 4.0), ("c", 0.25))
      q.processAllAvailable()
      val got = RollupStream.read(spark, stateDir, Seq("k"), Seq("v")).get
        .select(col("k"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(got === Set(("a", 3L, 8.0), ("b", 1L, 10.0), ("c", 1L, 0.25)))
      // replay idempotence: re-merging batch 1's partial (same
      // batch_id) overwrites its own rows, the fold is unchanged
      val replay = graft.operators.IncrementalAgg.partial(
        Seq(("a", 4.0), ("c", 0.25)).toDF("k", "v"), Seq("k"), Seq("v"))
        .withColumn("batch_id", lit(1L))
      graft.sources.SnapshotStore.mergeInto(replay, stateDir, Seq("batch_id", "k"))
      val afterReplay = RollupStream.read(spark, stateDir, Seq("k"), Seq("v")).get
        .select(col("k"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(afterReplay === got, "replayed batch must not double-count")
      // compact folds everything below the newest batch into the base;
      // the newest batch's rows stay keyed (still replayable)
      RollupStream.compact(spark, stateDir, Seq("k"), Seq("v"))
      val state = graft.sources.SnapshotStore.read(spark, stateDir).get
      assert(state.filter(col("batch_id") === -1L).count() > 0)
      assert(state.agg(max(col("batch_id"))).first().getLong(0) == 1L)
      val afterCompact = RollupStream.read(spark, stateDir, Seq("k"), Seq("v")).get
        .select(col("k"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(afterCompact === got, "compaction must not change the rollup")
      // and a replay of the newest batch AFTER compaction still lands
      // idempotently (its rows were kept keyed, not folded)
      graft.sources.SnapshotStore.mergeInto(replay, stateDir, Seq("batch_id", "k"))
      val afterCompactReplay = RollupStream.read(spark, stateDir, Seq("k"), Seq("v")).get
        .select(col("k"), col("n"), col("sum_v").cast("double"))
        .as[(String, Long, Double)].collect().toSet
      assert(afterCompactReplay === got)
    } finally q.stop()
  }

  test("windowedAggStream: watermark + tumbling window over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    input.addData(
      Events.Event(1, ts(5), 100, "click", 1.0),
      Events.Event(2, ts(10), 100, "click", 2.0),
      Events.Event(3, ts(20), 101, "view", 3.0))
    val q = Events.windowedAggStream(input.toDF())
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_agg ORDER BY event_type").collect()
      assert(rows.length === 2)
      val click = rows(0)
      assert(click.getAs[String]("event_type") === "click")
      assert(click.getAs[Long]("n_events") === 2)
      assert(click.getAs[Double]("total_value") === 3.0)
      assert(click.getAs[Timestamp]("window_start") ===
        Timestamp.valueOf("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("dedupStream: duplicate keys within the watermark emit once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    input.addData(
      Events.Event(1, ts(5), 100, "click", 1.0),
      Events.Event(1, ts(6), 100, "click", 1.0), // dup of event 1
      Events.Event(2, ts(10), 100, "click", 2.0))
    val q = Events.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // a second batch re-sending event 1 within the horizon: still deduped
      input.addData(Events.Event(1, ts(8), 100, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM deduped").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("sessionizeStream: gap closes a session; equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Events.Event(1, ts(0), 7, "click", 1.0),
      Events.Event(2, ts(10), 7, "click", 2.0),
      // 40-min gap -> new session
      Events.Event(3, ts(50), 7, "view", 4.0),
      Events.Event(4, ts(55), 8, "view", 8.0))
    val input = MemoryStream[Events.Event]
    input.addData(events: _*)
    val q = Events.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // advance watermark far enough to time out all sessions
      input.addData(Events.Event(99, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, session_start, n_events, total_value FROM sessions WHERE user_id IN (7, 8)")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = Events.sessionizeBatch(events.toDF())
        .select("user_id", "session_start", "n_events", "total_value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed === batch)
      assert(streamed.size === 3) // user 7 x2 sessions, user 8 x1
    } finally q.stop()
  }

  test("funnel conversions stream: completions emit, stalls and wrong order don't") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "cart", "buy")
    val events = Seq(
      // user 7 converts: view@0 -> cart@2 -> buy@5 (each hop <= 10 min)
      Events.Event(1, ts(0), 7, "view", 1.0),
      Events.Event(2, ts(2), 7, "cart", 1.0),
      Events.Event(3, ts(5), 7, "buy", 1.0),
      // user 8 stalls after cart (no buy) — must not emit
      Events.Event(4, ts(1), 8, "view", 1.0),
      Events.Event(5, ts(3), 8, "cart", 1.0),
      // user 9's cart comes BEFORE any view — chain never starts
      Events.Event(6, ts(0), 9, "cart", 1.0),
      Events.Event(7, ts(2), 9, "buy", 1.0),
      // user 11 breaks the deadline: cart 20 min after view
      Events.Event(8, ts(0), 11, "view", 1.0),
      Events.Event(9, ts(20), 11, "cart", 1.0),
      Events.Event(10, ts(21), 11, "buy", 1.0))
    val input = MemoryStream[Events.Event]
    input.addData(events: _*)
    val q = FunnelStream.conversions(input.toDS(), steps,
        windowSeconds = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("conversions")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // push the watermark past every open chain's timeout
      input.addData(Events.Event(99, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "x", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, started, converted, seconds FROM conversions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getDouble(3)))
      assert(got.toSeq === Seq((7L, ts(0), ts(5), 300.0)))
      // the streamed conversion count equals the batch window funnel's
      // final-step reach over the same log
      val batchFinal = Events.windowFunnel(events.toDF(), steps, 600)
        .filter(col("step") === steps.size).collect().head.getLong(2)
      assert(batchFinal === got.length.toLong)
    } finally q.stop()
  }

  test("funnel conversions stream: out-of-order arrivals inside a batch sort first") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    val q = FunnelStream.conversions(input.toDS(), Seq("view", "buy"),
        windowSeconds = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("conv3")
      .outputMode(OutputMode.Append()).start()
    try {
      // delivered buy-then-view in one batch; event-time order is
      // view@1 -> buy@3, so the chain must still complete
      input.addData(Events.Event(2, ts(3), 6, "buy", 1.0),
        Events.Event(1, ts(1), 6, "view", 1.0))
      q.processAllAvailable()
      input.addData(Events.Event(99, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "x", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, seconds FROM conv3")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === Seq((6L, 120.0)))
    } finally q.stop()
  }

  test("funnel conversions stream: chains survive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    val q = FunnelStream.conversions(input.toDS(), Seq("view", "buy"),
        windowSeconds = 600, watermark = "10 minutes")
      .writeStream.format("memory").queryName("conv2")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Events.Event(1, ts(0), 5, "view", 1.0))
      q.processAllAvailable()
      input.addData(Events.Event(2, ts(4), 5, "buy", 1.0))
      q.processAllAvailable()
      input.addData(Events.Event(99, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "x", 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, seconds FROM conv2")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === Seq((5L, 240.0)))
    } finally q.stop()
  }

  test("funnel conversions stream: in-flight chains survive a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // flatMapGroupsWithState state must recover from the checkpoint: a
    // chain OPENED before the stop converts AFTER the restart. The
    // memory sink cannot recover, so conversions MERGE into a snapshot
    // store keyed (user_id, started) — restart replays upsert.
    val dir = java.nio.file.Files.createTempDirectory("graft-fnl-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fnl-ckpt").toString
    val in = MemoryStream[Events.Event]
    def start() = FunnelStream.conversions(in.toDS(), Seq("view", "buy"),
        windowSeconds = 600, watermark = "10 minutes")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelStream.Conversion], _: Long) =>
        val df = b.toDF().persist()
        try {
          if (!df.isEmpty) {
            graft.sources.SnapshotStore.mergeInto(df, dir,
              Seq("user_id", "started")): Unit
          }
        } finally { df.unpersist(): Unit }
      }
      .start()
    val q1 = start()
    try {
      in.addData(Events.Event(1, ts(0), 5, "view", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(graft.sources.SnapshotStore.read(spark, dir).isEmpty,
      "no conversion before the buy")
    val q2 = start()
    try {
      in.addData(Events.Event(2, ts(4), 5, "buy", 1.0))
      q2.processAllAvailable()
      val got = graft.sources.SnapshotStore.read(spark, dir).get
        .select("user_id", "started", "seconds").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      // started = ts(0): the pre-restart chain state, recovered
      assert(got.toSeq === Seq((5L, ts(0), 240.0)))
    } finally q2.stop()
  }

  test("funnel conversions stream: stale chain behind the watermark expires, never crashes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Events.Event]
    // Disable no-data micro-batches so the timeout never gets a chance
    // to evict between data batches — the production race, made
    // deterministic: data arrives for a user whose stale chain deadline
    // the watermark has already passed (a chain kept alive only by
    // wrong-step arrivals retains its stale lastTs). Data is processed
    // before timeout eviction, so without the expiry guard the update
    // path registers a timeout BEHIND the watermark and GroupStateImpl
    // throws, failing the query (and checkpoint replay re-crashes).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = FunnelStream.conversions(input.toDS(), Seq("view", "buy"),
        windowSeconds = 600, watermark = "0 seconds")
      .writeStream.format("memory").queryName("conv4")
      .outputMode(OutputMode.Append()).start()
    try {
      // u5 opens a chain (deadline ts(10)); u6's event pushes the
      // watermark to ts(30) at the end of this batch
      input.addData(Events.Event(1, ts(0), 5, "view", 1.0),
        Events.Event(2, ts(30), 6, "view", 1.0))
      q.processAllAvailable()
      // u5 data with watermark ts(30) > deadline ts(10): the guard
      // must expire the chain instead of registering a past timeout —
      // and expiry runs BEFORE the batch's events fold, so this view
      // opens a NEW chain immediately (the start the batch earliest-
      // chain form would report), not one event later
      input.addData(Events.Event(3, ts(60), 5, "view", 1.0))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      // ts(61) view is now the wrong-step arrival (chain already at
      // step 1 from ts(60)); the buy converts against the ts(60) start
      input.addData(Events.Event(4, ts(61), 5, "view", 1.0),
        Events.Event(5, ts(62), 5, "buy", 1.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, started, seconds FROM conv4")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      assert(got.toSeq === Seq((5L, ts(60), 120.0)))
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    }
  }

  test("ClusterStream: per-batch merges equal one-shot d7, restart-safe, idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.{DupClusters, TextDedup}
    import graft.sources.SnapshotStore
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val idx = tmp("graft-cls-idx"); val cl = tmp("graft-cls-store")
    val ck = tmp("graft-cls-ckpt")
    val in = MemoryStream[(Long, String)]
    def start() = ClusterStream.run(in.toDF().toDF("doc_id", "text"),
      idx, cl, ck, minJaccard = 0.1)
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "sun sets slowly behind the hills tonight"
    def v(w: String) = base.replace("fox", w)
    // batch 1: a near-dup pair (1,2) + an unrelated singleton; batch 2:
    // doc 3 bridges to the stored component THROUGH the index, and
    // (10,11) form a brand-new within-batch component
    val b1 = Seq((1L, base), (2L, v("wolf")),
      (20L, "completely different words entirely unrelated to anything " +
        "else written here today about nothing at all"))
    // 10/11 are verbatim copies: identical shingle sets give identical
    // signatures, so the within-batch band match is DETERMINISTIC (a
    // one-word variant's pairing depends on LSH recall — not what this
    // test is about)
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron rho sigma tau"
    val b2 = Seq((3L, v("bear")), (10L, twin), (11L, twin))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart between batches: cluster state lives in the SNAPSHOT
    // stores, not the state store, so the stream resumes cold
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    def readClusters() = SnapshotStore.read(spark, cl).get
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val got = readClusters()
    val expected = DupClusters.connectedComponents(
      TextDedup.minHashLshPairs((b1 ++ b2).toDF("doc_id", "text"),
        col("doc_id"), col("text"), minJaccard = 0.1))
      .as[(Long, Long)].collect().toMap
    assert(got === expected,
      "streamed incremental clusters must equal a one-shot d7")
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L), "bridge did not merge")
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(!got.contains(20L), "a doc with no near-dup has no cluster row")
    // re-ingesting an already-indexed batch converges to the same
    // state (every step is an idempotent MERGE/recompute)
    val q3 = start()
    try { in.addData(b2: _*); q3.processAllAvailable() } finally q3.stop()
    assert(readClusters() === expected, "replay diverged the store")
  }

  test("streamStreamJoin: same-user events within the lookback window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Events.streamStreamJoin(
      purchases.toDF().toDF("event_id", "ts", "user_id"),
      views.toDF().toDF("event_id", "ts", "user_id"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    views.addData(
      (10L, t("2026-01-01 09:30:00"), 1L),  // in window for 900
      (11L, t("2026-01-01 07:00:00"), 1L),  // too old
      (12L, t("2026-01-01 09:45:00"), 2L))  // other user
    purchases.addData((900L, t("2026-01-01 10:00:00"), 1L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj").select("l_event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((900L, 10L)))
  }

  test("mergeUpsertSink: micro-batches MERGE into a versioned snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = Events.mergeUpsertSink(
      in.toDF().toDF("id", "status", "amount"), dir, ckpt, Seq("id"))
    in.addData((1L, "OPEN", 10.0), (2L, "OPEN", 20.0))
    q.processAllAvailable()
    in.addData((2L, "CLOSED", 25.0), (3L, "OPEN", 30.0)) // update + insert
    q.processAllAvailable()
    q.stop()
    val snap = graft.sources.SnapshotStore.read(spark, dir).get
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(snap.toSeq == Seq((1L, "OPEN", 10.0), (2L, "CLOSED", 25.0), (3L, "OPEN", 30.0)))
    // two committed versions, both retained
    assert(graft.sources.SnapshotStore.currentVersion(dir).contains(1))
  }

  test("asOf join: latest right at-or-before each left, null when none") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, t("2026-01-01 10:00:00"), 100.0, 10L),
      (1L, t("2026-01-01 10:05:00"), 101.0, 11L),
      (2L, t("2026-01-01 10:03:00"), 200.0, 12L))
      .toDF("user_id", "ts", "px", "qid")
    val trades = Seq(
      (1L, t("2026-01-01 10:04:59"), 900L), // -> 100.0 (10:00)
      (1L, t("2026-01-01 10:05:00"), 901L), // -> 101.0 (equal ts inclusive)
      (2L, t("2026-01-01 10:00:00"), 902L), // -> null (no prior quote)
      (3L, t("2026-01-01 12:00:00"), 903L)) // -> null (no quotes at all)
      .toDF("user_id", "ts", "trade_id")
    val out = AsOfJoin.asOf(trades, quotes, Seq("user_id"), "ts", "ts",
        Map("px" -> "quote_px", "qid" -> "quote_id"), "qid")
      .orderBy("trade_id").collect()
      .map(r => (r.getLong(2), Option(r.getAs[java.lang.Double]("quote_px")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      (900L, Some(100.0)), (901L, Some(101.0)), (902L, None), (903L, None)))
  }

  test("range join: inclusive bounds, multi-bucket intervals, no dupes") {
    import spark.implicits._
    import graft.operators.RangeJoin
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val intervals = Seq(
      (1L, 10L, t("2026-01-01 10:00:00"), t("2026-01-01 13:00:00")), // 3h: spans many 30m buckets
      (1L, 11L, t("2026-01-01 14:00:00"), t("2026-01-01 14:10:00")),
      (2L, 20L, t("2026-01-01 10:30:00"), t("2026-01-01 10:45:00")))
      .toDF("user_id", "iv_id", "start", "end")
    val points = Seq(
      (1L, 100L, t("2026-01-01 10:00:00")), // on start bound -> 10
      (1L, 101L, t("2026-01-01 13:00:00")), // on end bound -> 10
      (1L, 102L, t("2026-01-01 13:30:00")), // gap -> no match
      (2L, 103L, t("2026-01-01 10:31:00")), // inside -> 20
      (3L, 104L, t("2026-01-01 10:31:00"))) // wrong key -> no match
      .toDF("user_id", "pt_id", "ts")
    val out = RangeJoin.pointInInterval(points, intervals, Seq("user_id"),
        "ts", "start", "end", bucketWidthUs = 30L * 60 * 1000000)
      .select("pt_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((100L, 10L), (101L, 10L), (103L, 20L)))
  }

  test("sessionizeBatch on real events: sessions respect the gap") {
    val s = Events.sessionizeBatch(graft.sources.Tables.loadEvents(spark, sfDir))
    assert(s.count() > 0)
    // no session spans a >30min internal gap: session length sanity
    assert(s.filter(col("session_end") < col("session_start")).count() === 0)
    assert(s.filter(col("n_events") <= 0).count() === 0)
  }

  test("funnel: ordering matters, not mere presence") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 converts fully in order; u2 clicked BEFORE viewing (click
    // must not count); u3 views only; u4 has view->click but the
    // purchase precedes the click
    val ev = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "view"),
      (2L, t("2026-01-01 10:01:00"), 1L, "click"),
      (3L, t("2026-01-01 10:02:00"), 1L, "purchase"),
      (4L, t("2026-01-01 09:00:00"), 2L, "click"),
      (5L, t("2026-01-01 09:30:00"), 2L, "view"),
      (6L, t("2026-01-01 11:00:00"), 3L, "view"),
      (7L, t("2026-01-01 08:00:00"), 4L, "purchase"),
      (8L, t("2026-01-01 08:30:00"), 4L, "view"),
      (9L, t("2026-01-01 08:45:00"), 4L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // step1: u1,u2,u3,u4 viewed; step2: u1,u4 clicked at-or-after
    // their first view; step3: only u1 purchased after that click
    assert(out === Seq((1, "view", 4L), (2, "click", 2L),
      (3, "purchase", 1L)))
  }

  test("transitionMatrix: per-user consecutive pairs, conditional shares") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: view->click->view ; u2: view->view. transitions:
    // view->click 1, click->view 1, view->view 1.
    // from view: 2 outgoing -> p=0.5 each; from click: 1 -> p=1.0
    val ev = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "view"),
      (2L, t("2026-01-01 10:01:00"), 1L, "click"),
      (3L, t("2026-01-01 10:02:00"), 1L, "view"),
      (4L, t("2026-01-01 09:00:00"), 2L, "view"),
      (5L, t("2026-01-01 09:30:00"), 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out === Set(
      ("view", "click", 1L, 0.5), ("view", "view", 1L, 0.5),
      ("click", "view", 1L, 1.0)))
    // cross-user boundaries never pair: one event per user -> no rows
    val singles = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "view"),
      (2L, t("2026-01-01 10:01:00"), 2L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(Events.transitionMatrix(singles).count() == 0)
  }

  test("weeklyRetention: cohorts by first-seen week, offsets count distinct users") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // 2026-01-05 is a Monday. u1 first seen wk0, active wk0 and wk2
    // (twice in wk2 — counted once); u2 first seen wk0 only; u3 first
    // seen wk1, active wk1 and wk2
    val ev = Seq(
      (1L, t("2026-01-05 10:00:00"), 1L, "view"),
      (2L, t("2026-01-19 10:00:00"), 1L, "view"),
      (3L, t("2026-01-20 10:00:00"), 1L, "click"),
      (4L, t("2026-01-06 10:00:00"), 2L, "view"),
      (5L, t("2026-01-12 10:00:00"), 3L, "view"),
      (6L, t("2026-01-23 10:00:00"), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.weeklyRetention(ev).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getInt(1), r.getLong(2)))
      .toSet
    assert(out === Set(
      ("2026-01-05", 0, 2L), ("2026-01-05", 2, 1L),
      ("2026-01-12", 0, 1L), ("2026-01-12", 1, 1L)))
  }

  test("trending stream: folded counts rank windowless at read time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-trend-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-trend-ckpt").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = TrendingStream.run(
      input.toDF().toDF("event_id", "ts", "event_type", "value"),
      stateDir, ckpt)
    try {
      input.addData((1L, t("2026-01-01 10:05:00"), "view", 1.0),
        (2L, t("2026-01-01 10:10:00"), "view", 1.0),
        (3L, t("2026-01-01 10:20:00"), "click", 1.0),
        (4L, t("2026-01-01 10:30:00"), "buy", 1.0))
      q.processAllAvailable()
      // second batch flips the leader within the same hour
      input.addData((5L, t("2026-01-01 10:40:00"), "click", 1.0),
        (6L, t("2026-01-01 10:45:00"), "click", 1.0),
        (7L, t("2026-01-01 11:05:00"), "buy", 1.0))
      q.processAllAvailable()
      val top = TrendingStream.readTopK(spark, stateDir, k = 2).get
      // the read-side cut must ride the rn<=k rewrite: no Window exec
      val plan = top.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"trending read still plans a Window:\n$plan")
      assert(plan.contains("partial_graft_topk_rows"))
      val got = top.collect()
        .map(r => (r.getTimestamp(0).toString.take(13), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === Set(("2026-01-01 10", "click", 3L),
        ("2026-01-01 10", "view", 2L), ("2026-01-01 11", "buy", 1L)))
    } finally q.stop()
  }

  test("anomaly stream: streamed registers reproduce the batch z report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-anom-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-anom-ckpt").toString
    // 7 alternating baseline days then a spike, split across batches
    // mid-window so the register fold is actually exercised
    val events = (1 to 7).map(i => (i.toLong,
      t(f"2026-02-$i%02d 10:00:00"), "buy",
      if (i % 2 == 1) 10.0 else 12.0)) :+
      ((8L, t("2026-02-08 10:00:00"), "buy", 100.0))
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = AnomalyStream.run(
      input.toDF().toDF("event_id", "ts", "event_type", "value"),
      stateDir, ckpt)
    try {
      input.addData(events.take(4): _*)
      q.processAllAvailable()
      input.addData(events.drop(4): _*)
      q.processAllAvailable()
      val streamed = AnomalyStream.readAnomalies(spark, stateDir).get
        .collect().map(_.toString).sorted
      val batch = graft.operators.Measures.anomalousDays(
        events.toDF("event_id", "ts", "event_type", "value"),
        col("event_type"), to_date(col("ts")), col("value"))
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch),
        "streamed anomaly report must equal the batch operator's")
      assert(streamed.length === 1, "only day 8 has a full baseline")
      assert(streamed.head.contains("true"), "the spike day flags")
    } finally q.stop()
  }

  test("scd2 stream: versions chain across micro-batches; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-scd2-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2-ckpt").toString
    val keys = Seq("k"); val tracked = Seq("v")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Scd2Stream.run(input.toDF().toDF("k", "v", "ts"),
      stateDir, ckpt, keys, tracked, "ts")
    try {
      input.addData((1L, "F", t("2026-01-01 00:00:00")),
        (2L, "F", t("2026-01-02 00:00:00")))
      q.processAllAvailable()
      input.addData((1L, "P", t("2026-01-03 00:00:00")),
        (2L, "F", t("2026-01-04 00:00:00"))) // no-op for key 2
      q.processAllAvailable()
      val cur = Scd2Stream.read(spark, stateDir).get
        .select(col("k"), col("v"), col("is_current"))
        .as[(Long, String, Boolean)].collect().toSet
      assert(cur === Set((1L, "F", false), (1L, "P", true), (2L, "F", true)))
      // replaying batch 2 verbatim must not change the CONTENT: the
      // ts-guard drops rows at-or-before their key's open version, and
      // a value-no-op that postdates the open version (key 2's F@01-04
      // never opened a version, so it passes the guard again) is
      // neutralized inside applyChanges
      val before = Scd2Stream.read(spark, stateDir).get.collect().toSet
      val replay = Seq((1L, "P", t("2026-01-03 00:00:00")),
        (2L, "F", t("2026-01-04 00:00:00"))).toDF("k", "v", "ts")
      Scd2Stream.applyBatch(replay, stateDir, keys, tracked, "ts")
      assert(Scd2Stream.read(spark, stateDir).get.collect().toSet === before)
      // a mixed batch (one stale row, one genuinely new) applies only
      // the new row
      val mixed = Seq((1L, "P", t("2026-01-03 00:00:00")),
        (1L, "X", t("2026-01-05 00:00:00"))).toDF("k", "v", "ts")
      assert(Scd2Stream.applyBatch(mixed, stateDir, keys, tracked, "ts").nonEmpty)
      val after = Scd2Stream.read(spark, stateDir).get
        .select(col("k"), col("v"), col("is_current"))
        .as[(Long, String, Boolean)].collect().toSet
      assert(after === Set((1L, "F", false), (1L, "P", false),
        (1L, "X", true), (2L, "F", true)))
    } finally q.stop()
  }

  test("scd2 enrich stream: facts pick the dim version as of their own ts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-scd2e-dim").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-scd2e-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2e-ckpt").toString
    // maintain the dim: key 1 is F until 01-03, P after
    Scd2Stream.applyBatch(Seq((1L, "F", t("2026-01-01 00:00:00")))
      .toDF("k", "v", "ts"), dimDir, Seq("k"), Seq("v"), "ts")
    Scd2Stream.applyBatch(Seq((1L, "P", t("2026-01-03 00:00:00")))
      .toDF("k", "v", "ts"), dimDir, Seq("k"), Seq("v"), "ts")
    val facts = Seq(
      (100L, 1L, t("2026-01-02 12:00:00")),  // inside the F bracket
      (101L, 1L, t("2026-01-04 12:00:00")),  // after the P version opened
      (102L, 1L, t("2025-12-25 00:00:00")))  // before any version: null dim
      .toDF("event_id", "k", "fts")
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = Scd2Stream.enrich(input.toDF().toDF("event_id", "k", "fts"),
      dimDir, outDir, ckpt, Seq("k"), Seq("v"), "fts", Seq("event_id"))
    try {
      input.addData((100L, 1L, t("2026-01-02 12:00:00")),
        (101L, 1L, t("2026-01-04 12:00:00")))
      q.processAllAvailable()
      input.addData((102L, 1L, t("2025-12-25 00:00:00")))
      q.processAllAvailable()
      val streamed = graft.sources.SnapshotStore.read(spark, outDir).get
        .select("event_id", "dim_v").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(streamed === Set((100L, Some("F")), (101L, Some("P")),
        (102L, None)))
      // the streamed enrichment equals the batch as-of join verbatim
      val batch = graft.operators.Scd2.asOfJoin(facts, "fts",
        Scd2Stream.read(spark, dimDir).get, Seq("k"), Seq("v"))
        .select("event_id", "dim_v").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("scd2 enrich stream: cold start fails the batch, replays after first dim commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-scd2c-dim").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-scd2c-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2c-ckpt").toString
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    // no dim version committed yet: the batch must FAIL (offsets stay
    // uncheckpointed) rather than silently dropping the facts forever
    val q1 = Scd2Stream.enrich(input.toDF().toDF("event_id", "k", "fts"),
      dimDir, outDir, ckpt, Seq("k"), Seq("v"), "fts", Seq("event_id"))
    input.addData((100L, 1L, t("2026-01-02 12:00:00")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(ex.getMessage.contains("no committed dimension version") ||
      Option(ex.getCause).exists(_.getMessage.contains("no committed dimension version")))
    q1.stop()
    assert(graft.sources.SnapshotStore.read(spark, outDir).isEmpty)
    // after the maintenance loop's first commit, a restart from the
    // SAME checkpoint replays the failed batch — the fact is not lost
    Scd2Stream.applyBatch(Seq((1L, "F", t("2026-01-01 00:00:00")))
      .toDF("k", "v", "ts"), dimDir, Seq("k"), Seq("v"), "ts")
    val q2 = Scd2Stream.enrich(input.toDF().toDF("event_id", "k", "fts"),
      dimDir, outDir, ckpt, Seq("k"), Seq("v"), "fts", Seq("event_id"))
    try {
      q2.processAllAvailable()
      val got = graft.sources.SnapshotStore.read(spark, outDir).get
        .select("event_id", "dim_v").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got === Set((100L, Some("F"))))
    } finally q2.stop()
  }
}

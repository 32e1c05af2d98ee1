package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.GraftSession
import graft.streaming.{CurationStream, Events, FunnelStream, RollupStream}

/** Streaming throughput micro-benchmark (SCALING.md's STREAMING
  * section — r8 verdict: the streaming family had specs but zero perf
  * numbers): drives the three stateful streams over [[MemoryStream]]
  * at two input sizes and records rows/sec plus the state footprint,
  * so the "state is bounded" claims carry measurements:
  *
  *  - `RollupStream` — additive gold registers via replay-safe
  *    batch-keyed partials (state = SnapshotStore rows, read-time fold)
  *  - `FunnelStream` — per-user flatMapGroupsWithState conversion
  *    chains (state = rows in the state store, watermark-bounded)
  *  - `CurationStream` — gate → watermark-bounded exact dedup →
  *    band-index flag → MERGE sink (state = dedup store rows)
  *  - `ClusterStream` — O(batch) pair gen → contracted-graph merge →
  *    changed-rows MERGE (state = the two snapshot stores; the
  *    stream side is stateless — r10)
  *  - `SelectionPipelineStream` — the composed c6 serving chain
  *    (gate → watermark dedup → band flag → NB route → DSIR
  *    threshold → MERGE; state = the dedup store rows — r13)
  *
  * Inputs are deterministic functions of the row index (no rand);
  * each size is fed in fixed-size chunks so the engine runs real
  * multi-batch micro-batch sequences, and the clock only measures
  * wall time, never enters the data. Doubling the input should
  * ~double wall time (rows/sec flat) while funnel/dedup STATE tracks
  * the active window, not history — those are the claims under test.
  *
  * Usage: `runMain graft.tools.StreamBench [size...]` (default
  * 20000 100000); writes STREAMBENCH.json (env STREAMBENCH_OUT).
  */
object StreamBench {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
    else Seq(20000, 100000)
    val cpus = GraftSession.cores
    val chunk = sys.env.getOrElse("STREAM_CHUNK", "5000").toInt
    // STREAM_ONLY=classify,rollup runs just the named streams — a
    // chunk-size sweep of one stream must not re-run the other four
    val onlyS: Option[Set[String]] = sys.env.get("STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wantS(key: String): Boolean = onlyS.forall(_.contains(key))
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._

    /** Feed `n` rows in `chunk`-sized additions, processing each
      * addition to completion; returns (seconds, max state rows seen
      * across progress reports). */
    def drive[A](q: StreamingQuery, n: Int,
                 add: (Int, Int) => Unit): (Double, Long) = {
      val t0 = System.nanoTime()
      var off = 0
      while (off < n) {
        val m = math.min(chunk, n - off)
        add(off, m)
        q.processAllAvailable()
        off += m
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("STREAMBENCH_DEBUG")) {
        q.recentProgress.foreach(p => p.stateOperators.foreach(s =>
          println(s"[streambench-debug] batch=${p.batchId} op=${s.operatorName} " +
            s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
            s"removed=${s.numRowsRemoved} wm=${p.eventTime.get("watermark")}")))
      }
      val state = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      (secs, state)
    }

    val results = sizes.map { n =>
      println(s"[streambench] === n=$n ===")
      val ops = scala.collection.mutable.LinkedHashMap[String, String]()

      // --- RollupStream: 1000 groups, additive registers ---
      if (wantS("rollup")) locally {
        val stateDir = tmp("graft-sb-rollup")
        val in = MemoryStream[(String, Double)]
        val q = RollupStream.run(in.toDF().toDF("k", "v"),
          stateDir, tmp("graft-sb-rollup-ckpt"), Seq("k"), Seq("v"))
        try {
          val (secs, _) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map(i =>
              (s"g${i % 1000}", (i % 997) / 10.0))): Unit)
          val stateRows = graft.sources.SnapshotStore
            .read(spark, stateDir).map(_.count()).getOrElse(0L)
          val folded = RollupStream.read(spark, stateDir, Seq("k"), Seq("v"))
            .map(_.count()).getOrElse(0L)
          ops("rollup") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$stateRows,""" +
            s""""groups":$folded}"""
          println(s"[streambench] n=$n rollup ${ops("rollup")}")
        } finally q.stop()
      }

      // --- FunnelStream: 3-step chains, one conversion per user ---
      if (wantS("funnel")) locally {
        val in = MemoryStream[Events.Event]
        val qname = s"sb_conv_$n"
        val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
        // cohorts of `active` users step together (all views, then all
        // carts, then all buys), so chains STRADDLE micro-batches and
        // the state store genuinely holds ~active in-flight chains —
        // per-user hops are `active` seconds apart, inside the window
        val active = 2000
        val q = FunnelStream.conversions(in.toDS(),
            Seq("view", "cart", "buy"), windowSeconds = 4 * active,
            watermark = "10 minutes")
          .writeStream.format("memory").queryName(qname)
          .outputMode(OutputMode.Append()).start()
        try {
          // ts advances 1s per event: the watermark sweeps completed
          // cohorts out behind the stream — state must track the
          // ACTIVE cohort (~`active` rows), not n
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map { i =>
              val user = (i % active) + (i / (3 * active)) * active
              Events.Event(i.toLong, new Timestamp(base + i * 1000L),
                user.toLong, Seq("view", "cart", "buy")((i / active) % 3), 1.0)
            }): Unit)
          val conv = spark.table(qname).count()
          ops("funnel") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""conversions":$conv}"""
          println(s"[streambench] n=$n funnel ${ops("funnel")}")
        } finally q.stop()
      }

      // --- CurationStream: gate -> dedup -> band flag -> MERGE ---
      if (wantS("curation")) locally {
        val corpusIndex = graft.dedup.TextDedup.bandIndex(
          ScaleGen.documents(spark, 2000L),
          col("doc_id"), col("text")).cache()
        corpusIndex.count(): Unit // materialize outside the timing
        val targetDir = tmp("graft-sb-cur")
        val in = MemoryStream[(Long, String, Timestamp)]
        val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val q = CurationStream.run(in.toDF().toDF("doc_id", "text", "ts"),
          col("doc_id"), col("text"), corpusIndex, targetDir,
          tmp("graft-sb-cur-ckpt"), minQuality = 0.4, lang = Some("en"))
        try {
          // every 10th doc repeats the previous text (exact dup for
          // the dedup state); the rest vary a suffix word
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map { i =>
              val k = if (i % 10 == 9) i - 1 else i
              val text = ("the cat sat on the mat and it is a fine day " * 3) +
                s"tail word w${k % 50000} number ${k / 7}"
              (i.toLong, text, new Timestamp(base + i * 1000L))
            }): Unit)
          val kept = graft.sources.SnapshotStore
            .read(spark, targetDir).map(_.count()).getOrElse(0L)
          ops("curation") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""kept":$kept}"""
          println(s"[streambench] n=$n curation ${ops("curation")}")
        } finally {
          q.stop()
          corpusIndex.unpersist(): Unit
        }
      }

      // --- ClusterStream: pair gen -> contracted merge -> delta MERGE ---
      if (wantS("clusters")) locally {
        val idxDir = tmp("graft-sb-cli")
        val clDir = tmp("graft-sb-clc")
        val in = MemoryStream[(Long, String)]
        val q = graft.streaming.ClusterStream.run(
          in.toDF().toDF("doc_id", "text"), idxDir, clDir,
          tmp("graft-sb-cl-ckpt"), minJaccard = 0.1)
        try {
          // every 5th doc copies its in-batch predecessor (a
          // deterministic within-batch near-dup pair per 5 docs), and
          // every 31st copies the doc one chunk back — a CROSS-batch
          // pair that must arrive through the persisted index probe
          // every token is k-derived so non-dup docs share ~no shingles
          // (a shared boilerplate body would make EVERY pair verify at
          // minJaccard=0.1 — a near-complete pair graph measures the
          // pathology, not maintenance cost)
          val (secs, _) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map { i =>
              val k = if (i % 5 == 4) i - 1
                else if (i % 31 == 30 && i >= chunk) i - chunk
                else i
              (i.toLong, (0 until 12).map(j => s"t${j}v${k * 31 + j * 7919}")
                .mkString(" "))
            }): Unit)
          val clusters = graft.sources.SnapshotStore
            .read(spark, clDir).map(_.count()).getOrElse(0L)
          val indexRows = graft.sources.SnapshotStore
            .read(spark, idxDir).map(_.count()).getOrElse(0L)
          ops("clusters") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"cluster_rows":$clusters,""" +
            s""""index_rows":$indexRows}"""
          println(s"[streambench] n=$n clusters ${ops("clusters")}")
        } finally q.stop()
      }

      // --- ClassifyStream: frozen NB model, margin-gated routing ---
      if (wantS("classify")) locally {
        val docs = graft.sources.Tables.load(spark,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          "documents")
        val model = graft.text.NaiveBayes
          .model(docs, col("text"), col("lang")).persist()
        val priors = graft.text.NaiveBayes
          .priors(docs, col("lang")).persist()
        model.count(); priors.count(): Unit
        // streamed docs cycle the training corpus's texts, so routing
        // exercises the real vocabulary (high-margin preds, not a
        // review flood); the stream itself must hold ZERO state rows
        val texts = docs.select("text").collect().map(_.getString(0))
        val outDir = tmp("graft-sb-cls")
        val in = MemoryStream[(Long, String)]
        val q = graft.streaming.ClassifyStream.run(
          in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
          model, priors, outDir, tmp("graft-sb-cls-ckpt"), minMargin = 0.1)
        try {
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map(i =>
              (i.toLong, texts(i % texts.length)))): Unit)
          val snap = graft.sources.SnapshotStore.read(spark, outDir)
          val routed = snap.map(_.count()).getOrElse(0L)
          val review = snap.map(_.filter(col("route") === "review").count())
            .getOrElse(0L)
          ops("classify") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""routed":$routed,"review":$review}"""
          println(s"[streambench] n=$n classify ${ops("classify")}")
        } finally {
          q.stop(); model.unpersist(); priors.unpersist(): Unit
        }
      }

      // --- SelectStream: frozen DSIR model, threshold routing ---
      if (wantS("select")) locally {
        val docs = graft.sources.Tables.load(spark,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          "documents")
        val isTgt = col("source").isin("src0", "src1")
        val model = graft.text.Dsir.model(docs.filter(isTgt),
          docs.filter(!isTgt), col("text")).persist()
        model.count(): Unit
        // the documented serving contract: calibrate the threshold
        // OFFLINE from the batch scoring (median pool weight here —
        // a ~50% acceptance rate), then apply it per streamed doc
        val cut = graft.text.Dsir.score(docs.filter(!isTgt),
            col("doc_id"), col("text"), model)
          .agg(expr("percentile(weight, 0.5)")).collect()(0).getDouble(0)
        val texts = docs.select("text").collect().map(_.getString(0))
        val outDir = tmp("graft-sb-sel")
        val in = MemoryStream[(Long, String)]
        val q = graft.streaming.SelectStream.run(
          in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
          model, outDir, tmp("graft-sb-sel-ckpt"), minWeight = cut)
        try {
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map(i =>
              (i.toLong, texts(i % texts.length)))): Unit)
          val snap = graft.sources.SnapshotStore.read(spark, outDir)
          val routed = snap.map(_.count()).getOrElse(0L)
          val selected = snap.map(_.filter(col("route") === "select").count())
            .getOrElse(0L)
          ops("select") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""routed":$routed,"selected":$selected}"""
          println(s"[streambench] n=$n select ${ops("select")}")
        } finally {
          q.stop(); model.unpersist(): Unit
        }
      }

      // --- SelectionPipelineStream: the composed c6 serving chain ---
      if (wantS("pipeline")) locally {
        val docs = graft.sources.Tables.load(spark,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          "documents")
        val isTgt = col("source").isin("src0", "src1")
        // the three frozen artifacts, fit offline on the corpus and
        // persisted (re-read every micro-batch)
        val corpusIndex = graft.dedup.TextDedup.bandIndex(
          ScaleGen.documents(spark, 2000L),
          col("doc_id"), col("text")).persist()
        val evalCorpus = docs.filter(col("doc_id") % 25 === 0)
          .select("doc_id", "text").persist()
        val nbM = graft.text.NaiveBayes
          .model(docs, col("text"), col("lang")).persist()
        val nbPri = graft.text.NaiveBayes.priors(docs, col("lang")).persist()
        val dsirM = graft.text.Dsir.model(docs.filter(isTgt),
          docs.filter(!isTgt), col("text")).persist()
        Seq(corpusIndex, evalCorpus, nbM, nbPri, dsirM).foreach(_.count(): Unit)
        val cut = graft.text.Dsir.score(docs.filter(!isTgt),
            col("doc_id"), col("text"), dsirM)
          .agg(expr("percentile(weight, 0.5)")).collect()(0).getDouble(0)
        val texts = docs.filter(col("lang") === "en")
          .select("text").collect().map(_.getString(0))
        val outDir = tmp("graft-sb-pipe")
        val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val in = MemoryStream[(Long, String, Timestamp)]
        val q = graft.streaming.SelectionPipelineStream.run(
          in.toDF().toDF("doc_id", "text", "ts"),
          col("doc_id"), col("text"), corpusIndex, evalCorpus, col("text"),
          nbM, nbPri, dsirM, outDir, tmp("graft-sb-pipe-ckpt"),
          keepLabel = "en", minMargin = 0.1, minWeight = cut)
        try {
          // every 10th doc repeats the previous text (exact-dup state
          // work); the rest cycle the corpus with a unique tail so the
          // scorers see n distinct docs, not texts.length (the
          // curation-bench shape)
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map { i =>
              val k = if (i % 10 == 9) i - 1 else i
              (i.toLong,
                s"${texts(k % texts.length)} tail word w${k % 50000} number ${k / 7}",
                new Timestamp(base + i * 1000L))
            }): Unit)
          val snap = graft.sources.SnapshotStore.read(spark, outDir)
          val routed = snap.map(_.count()).getOrElse(0L)
          val selected = snap.map(_.filter(col("route") === "select").count())
            .getOrElse(0L)
          ops("pipeline") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""routed":$routed,"selected":$selected}"""
          println(s"[streambench] n=$n pipeline ${ops("pipeline")}")
        } finally {
          q.stop()
          Seq(corpusIndex, evalCorpus, nbM, nbPri, dsirM)
            .foreach(_.unpersist(): Unit)
        }
      }

      // --- DriftStream: frozen reference profile, per-batch KL row ---
      if (wantS("drift")) locally {
        val docs = graft.sources.Tables.load(spark,
          sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
          "documents")
        val ref = graft.text.TextAnalysis
          .unigramProfile(docs, col("text")).persist()
        ref.count(): Unit
        val texts = docs.select("text").collect().map(_.getString(0))
        val outDir = tmp("graft-sb-drift")
        val in = MemoryStream[(Long, String)]
        val q = graft.streaming.DriftStream.run(
          in.toDF().toDF("doc_id", "text"), col("text"), ref,
          outDir, tmp("graft-sb-drift-ckpt"))
        try {
          val (secs, state) = drive(q, n, (off, m) =>
            in.addData((off until off + m).map(i =>
              (i.toLong, texts(i % texts.length)))): Unit)
          val snap = graft.sources.SnapshotStore.read(spark, outDir)
          val batches = snap.map(_.count()).getOrElse(0L)
          ops("drift") = s"""{"rows":$n,"secs":${f3(secs)},""" +
            s""""rows_per_sec":${f0(n / secs)},"state_rows":$state,""" +
            s""""audit_rows":$batches}"""
          println(s"[streambench] n=$n drift ${ops("drift")}")
        } finally {
          q.stop(); ref.unpersist(): Unit
        }
      }

      n -> ops.toSeq
    }

    val json = results.map { case (n, ops) =>
      s"""{"rows":$n,${ops.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
    }.mkString("[", ",", "]")
    val out = sys.env.getOrElse("STREAMBENCH_OUT", "STREAMBENCH.json")
    val doc = s"""{"cpus":$cpus,"chunk":$chunk,"sizes":$json}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[streambench] wrote $out")
    spark.stop()
  }

  private def f3(v: Double) = f"$v%.3f"
  private def f0(v: Double) = f"$v%.0f"
}

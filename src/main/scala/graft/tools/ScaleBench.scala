package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.operators.Skew
import graft.sources.Tables

/** The scaling experiment harness (SCALING.md): runs the headline
  * "this would hold at 100 TB" stories over [[ScaleGen]] corpora at
  * several sizes and records per-size wall times, so the claims argued
  * from plan shape are MEASURED as curves:
  *
  *  - d2 vs d2b — the committed claim that the df-capped candidate
  *    generation's savings grow with corpus size (the d2b/d2 ratio
  *    falls as the corpus grows)
  *  - e6b / e8c — persisted-index probe latency should stay ~flat in
  *    corpus size (the probe touches query-sliver postings only);
  *    the build legs are timed separately and may scale linearly
  *  - d3 / c1 — LSH banding and the curation chain should scale
  *    near-linearly (no quadratic blowup)
  *  - salted vs plain agg/join on a 60%-hot key — the skew toolkit's
  *    payoff curve (AQE and broadcast are disabled for these four so
  *    the salting effect is isolated, not handed to the runtime)
  *
  * Timing: per (size, op) one untimed warmup then `SCALE_PASSES`
  * (default 3) timed passes, min + median recorded; operator-internal
  * caches cleared between passes; same codegen-cache posture as Bench.
  * Index builds are timed once (their cost IS the lifecycle number).
  *
  * Usage: `runMain graft.tools.ScaleBench <root> <mult...>` after
  * `ScaleGen` wrote `<root>/x<mult>`; writes SCALING.json.
  */
object ScaleBench {

  private val ReusedQueries = Seq(
    "d1_exact_dedup", "d2_ngram_jaccard", "d2b_ngram_jaccard_capped",
    "d3_minhash_lsh", "c1_curate",
    // the kNN-graph build: candidate cost is bounded by LSH bucket
    // occupancy, so the curve should stay near-linear in |V| (bucket
    // count is fixed, occupancy grows linearly)
    "e16_knn_graph",
    // the full near-dup -> connected-components composition (d7) on
    // the generated corpus's real pair graph (mostly 2-doc chains);
    // the adversarial LONG-chain shape is measured separately below
    "d7_dup_clusters",
    // event analytics (r8 verdict: the last unmeasured family): all
    // four are per-user key-aligned joins/regroups, so the curves
    // should stay near-linear as growth adds USERS at constant
    // per-user activity (ScaleGen.events' growth model)
    "g17_funnel", "g32_window_funnel", "g18_retention", "g31_event_paths",
    // r13 crawl-front-door + byte-surgery entries: d20/m10/m11 are
    // map-only (curves should track the scan), c2's fixed chain after
    // the r13 join-back removal (2 corpus scans), c3b the composed
    // 5-stage crawl attrition (per-stage persisted counts)
    "d20_url_blocklist", "m10_exif_scrub", "m11_meta_audit",
    "c2_curate_decontam", "c3b_crawl_attrition",
    // r13 second wave: x21 is a sources-sized solve after one corpus
    // token-count pass (should ride the scan); t32 pays the 3-round
    // BPE train's per-round collects plus the map-only encode
    "x21_budget_mix", "t32_bpe_fertility",
    // the trainable-classifier / data-selection family (r11): each is
    // corpus passes + a broadcast FIXED-size model (vocab-dense or
    // 4096-bucket) — the curves should stay near-linear in corpus
    // size with no knee (the model never grows past its cap)
    "t29b_nb_classify", "x15_dsir_weights", "x15b_dsir_resample",
    // x16: Lloyd fit (driver loop over k·dim state) + one linear
    // assignment pass + bounded-heap cut — near-linear, no knee
    "x16_cluster_sample",
    // x15c doubles the hashed feature volume (uni ∪ bigrams) at the
    // SAME model size — the curve should track x15's shape at ~2×
    // the per-row cost; t29d re-scores the train split (train +
    // score are the same pass count as t29b)
    "x15c_dsir_bigram", "t29d_label_audit",
    // the surprisal family (r12): t13 is one (doc, token) count
    // shuffle + a vocab join; t26 adds the tercile carve over t13's
    // persisted per-doc frame — both should stay near-linear
    "t13_surprisal", "t26_ppl_buckets",
    // the composed selection chain (r12): c1's stages + the broadcast
    // NB gate + the DSIR draw — the curve should read as c1's shape
    // plus the t29b/x15b fixed-model passes, no new knee; x18 is the
    // x15b draw + a sources-sized rollup
    "c6_curate_selected", "x18_dsir_mixture",
    // r12 post-close: x19 composes the d3-class pair gen + CC + the
    // map-only split (should track d7's shape); t30 is t16's bigram
    // pass + t13's unigram pass (two feature streams, both
    // vocabulary-bounded models); t31 is ONE corpus pass to a
    // persisted sources×4096 frame + grid windows (near-flat tail)
    "x19_dedup_split", "t30_interp_lm", "t31_source_drift",
    // r14: d3b is the banding OPERATING instrument itself — its two
    // legs share one signature pass, so the curve should read as
    // d3's shape plus a second map-only band expansion + verify
    // (candidate volume per config is the payload, not just the
    // time); x22 joins two sources-sized reports after x21's token
    // pass and t32's BPE train — expect t32's shape
    "d3b_tuned_lsh", "x22_token_budget_report")

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_scale")
    val mults = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 5, 10)
    val cpus = GraftSession.cores
    val passes = sys.env.getOrElse("SCALE_PASSES", "3").toInt
    // SCALE_ONLY=d19,d7 runs just the named experiment groups (prefix
    // match on the op keys) — re-measuring one new curve must not cost
    // a full re-run of every committed one; when set, SCALE_OUT should
    // point at a scratch file so the partial run can't clobber the
    // committed SCALING.json
    val onlyExp: Option[Set[String]] = sys.env.get("SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(key: String): Boolean =
      onlyExp.forall(_.exists(p => key.startsWith(p)))
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def timeOf(fn: () => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = fn()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // one untimed warmup + `passes` timed, caches cleared between
    def bench(fn: () => Long): (Double, Double, Long) = {
      fn()
      val timed = Seq.fill(passes) {
        spark.catalog.clearCache(); System.gc()
        timeOf(fn)
      }
      val ts = timed.map(_._1).sorted
      (ts.min, ts(ts.length / 2), timed.head._2)
    }

    val results = mults.map { m =>
      val dir = s"$root/x$m"
      println(s"[scalebench] === x$m ($dir) ===")
      val ops = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Long)]()

      ReusedQueries.filter(want).foreach { q =>
        ops(q) = bench(() => SparkEntry.queries(q)(spark, dir).count())
        println(f"[scalebench] x$m $q min=${ops(q)._1}%.3f med=${ops(q)._2}%.3f rows=${ops(q)._3}")
      }

      // d2b with the cap sized RELATIVE to the corpus (10 per 5k docs
      // = 0.2% document frequency): a fixed absolute cap's recall is
      // corpus-size-sensitive — the first run of this experiment
      // measured the shipped cap=10 dropping from full recall at x1
      // to ZERO pairs at x5 on an all-common-word corpus — while a
      // relative cap tracks the df distribution as the corpus grows
      if (want("d2b_rel_cap")) {
        ops("d2b_rel_cap") = bench(() =>
          graft.dedup.TextDedup.ngramJaccardPairs(
            Tables.load(spark, dir, "documents"), col("doc_id"), col("text"),
            minJaccard = 0.05, maxDocFreq = Some(10 * m)).count())
        println(f"[scalebench] x$m d2b_rel_cap min=${ops("d2b_rel_cap")._1}%.3f " +
          f"med=${ops("d2b_rel_cap")._2}%.3f rows=${ops("d2b_rel_cap")._3}")
      }

      // e16 at doubled plane count: the first x10 run measured the
      // 4-plane graph build going SUPERLINEAR on this corpus (16 tight
      // clusters -> whole clusters share buckets -> within-cluster
      // candidates grow quadratically). Bucket granularity is the
      // scale knob: 8 planes = 256 buckets/table splits the clusters
      // via the per-vector noise component. Rank-1 mean cosine is the
      // quality check (printed + recorded below as e16_q{4,8} in
      // 1e-6 units): identical means = the finer buckets cost no
      // neighbor quality on this corpus.
      if (want("e16_planes8")) {
        ops("e16_planes8") = bench(() =>
          graft.ann.Knn.knnGraphAt(Tables.load(spark, dir, "embeddings"),
            k = 3, planes = 8, tables = 4).count())
        println(f"[scalebench] x$m e16_planes8 min=${ops("e16_planes8")._1}%.3f " +
          f"med=${ops("e16_planes8")._2}%.3f rows=${ops("e16_planes8")._3}")
      }
      // the occupancy guard's measured overhead (r15): knnGraphGuarded
      // vs the plain e16 build on the natural corpus — the delta is
      // ONE partial-aggregated occupancy count over the (persisted)
      // banded signature frame, the price of never walking a
      // duplicate-heavy corpus into the within-bucket quadratic
      if (want("e16_guarded")) {
        ops("e16_guarded") = bench(() =>
          graft.ann.Knn.knnGraphGuarded(Tables.load(spark, dir, "embeddings"),
            k = 3).count())
        println(f"[scalebench] x$m e16_guarded min=${ops("e16_guarded")._1}%.3f " +
          f"med=${ops("e16_guarded")._2}%.3f rows=${ops("e16_guarded")._3}")
      }
      def rank1MeanSim(planes: Int): Long = {
        // avg(sim) is NULL on an empty kNN graph (no LSH candidate
        // pairs on a degenerate corpus) — report -1 instead of NPEing
        // mid-benchmark
        val row = graft.ann.Knn.knnGraphAt(Tables.load(spark, dir, "embeddings"),
          k = 3, planes = planes, tables = 4)
          .filter(col("rank") === 1)
          .agg(avg(col("sim")).as("m")).collect()(0)
        Option(row.get(0)).map(d =>
          math.round(d.asInstanceOf[Double] * 1e6)).getOrElse(-1L)
      }
      if (Seq("e16_q4", "e16_q8").exists(want)) {
        ops("e16_q4") = (0.0, 0.0, rank1MeanSim(4))
        ops("e16_q8") = (0.0, 0.0, rank1MeanSim(8))
        println(s"[scalebench] x$m e16 rank-1 mean sim (1e-6): " +
          s"planes4=${ops("e16_q4")._3} planes8=${ops("e16_q8")._3}")
      }
      // the IVF-cell graph (e18) on the same corpus: nCentroids ∝ √|V|
      // balances the |V|·C assignment pass against the |V|·(|V|/C)
      // in-cell pairing — the classic IVF sizing; cells always exist
      // no matter how the vectors cluster
      if (want("e18_graph_ivf")) {
        val ivfCents = (64 * math.sqrt(m)).toInt
        ops("e18_graph_ivf") = bench(() =>
          graft.ann.Knn.knnGraphIvf(Tables.load(spark, dir, "embeddings"),
            k = 3, nCentroids = ivfCents).count())
        println(f"[scalebench] x$m e18_graph_ivf (C=$ivfCents) " +
          f"min=${ops("e18_graph_ivf")._1}%.3f med=${ops("e18_graph_ivf")._2}%.3f " +
          f"rows=${ops("e18_graph_ivf")._3}")
      }

      // d7's O(log diameter) claim, measured on its adversarial shape:
      // templated near-dup CHAINS (docs 0-1-2-…, each adjacent pair a
      // near-dup — diameter = chain length, the worst case for label
      // propagation; the generated corpus's own pairs are mostly
      // 2-doc components and never stress the jump). Two chain
      // lengths × growing corpus: ROUNDS must track log(chain length)
      // and stay FLAT in corpus size; wall-time ~linear in total
      // nodes. Pairs are generated directly (the claim under test is
      // the CC kernel, not the pair generator — d7_dup_clusters above
      // measures the full composition).
      def chainPairs(total: Long, chainLen: Long): DataFrame =
        spark.range(0L, total - 1, 1L, 32)
          .filter(pmod(col("id"), lit(chainLen)) =!= chainLen - 1)
          .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      // guard on the keys each length actually records, so a partial
      // run naming d7_chain10k (or …_rounds) measures that length
      Seq(1000L, 10000L).filter(cl =>
        Seq(s"d7_chain${cl / 1000}k", s"d7_chain${cl / 1000}k_rounds")
          .exists(want)).foreach { cl =>
        val total = 20000L * m
        val key = s"d7_chain${cl / 1000}k"
        var rounds = 0
        ops(key) = bench(() => {
          val (cc, r) = graft.dedup.DupClusters
            .connectedComponentsWithRounds(chainPairs(total, cl), maxIter = 40)
          rounds = r
          cc.count()
        })
        ops(s"${key}_rounds") = (0.0, 0.0, rounds.toLong)
        println(f"[scalebench] x$m $key min=${ops(key)._1}%.3f " +
          f"med=${ops(key)._2}%.3f nodes=${ops(key)._3} rounds=$rounds")
      }

      // d19's claim: merging a FIXED batch of pairs into corpus-sized
      // stored assignments costs one non-iterative relabel pass, vs the
      // one-shot recompute whose EVERY propagation round shuffles
      // corpus-sized frames — so the merge/one-shot ratio must FALL as
      // the corpus grows while the batch stays constant. Stored state:
      // total/2 two-doc components; batch: 1000 bridge pairs touching
      // the first 4000 ids only (corpus-size-independent).
      if (Seq("d19_merge", "d19_oneshot").exists(want)) {
        val total = 20000L * m
        def storedCc: DataFrame = spark.range(0L, total, 1L, 32)
          .select(col("id").as("doc_id"),
            (col("id") - pmod(col("id"), lit(2L))).as("cluster_id"))
        def storedPairs: DataFrame = spark.range(0L, total / 2, 1L, 32)
          .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
        def batch: DataFrame = spark.range(0L, 1000L, 1L, 8)
          .select((col("id") * 4 + 1).as("doc_a"), (col("id") * 4 + 2).as("doc_b"))
        ops("d19_merge") = bench(() =>
          graft.dedup.DupClusters.mergeComponents(storedCc, batch).count())
        ops("d19_oneshot") = bench(() =>
          graft.dedup.DupClusters.connectedComponents(
            storedPairs.unionByName(batch), maxIter = 40).count())
        println(f"[scalebench] x$m d19_merge min=${ops("d19_merge")._1}%.3f " +
          f"med=${ops("d19_merge")._2}%.3f rows=${ops("d19_merge")._3} vs " +
          f"oneshot min=${ops("d19_oneshot")._1}%.3f " +
          f"med=${ops("d19_oneshot")._2}%.3f")
      }

      // persisted-index legs: drop any prior state so the lifecycle
      // number is a REAL build, then probe steady-state
      if (Seq("e6b_lifecycle", "e6b_probe",
              "e8c_lifecycle", "e8c_probe").exists(want)) {
      val annName = s"e6probe_${dir.hashCode.toHexString}"
      val bmName = s"e8probe_${dir.hashCode.toHexString}"
      graft.ann.AnnIndex.drop(spark, annName)
      graft.text.Search.dropIndex(spark, bmName)
      ops("e6b_lifecycle") = {
        val (t, r) = timeOf(() =>
          SparkEntry.queries("e6b_ann_probe")(spark, dir).count())
        (t, t, r)
      }
      ops("e6b_probe") = bench(() =>
        SparkEntry.queries("e6b_ann_probe")(spark, dir).count())
      ops("e8c_lifecycle") = {
        val (t, r) = timeOf(() =>
          SparkEntry.queries("e8c_bm25_probe")(spark, dir).count())
        (t, t, r)
      }
      ops("e8c_probe") = bench(() =>
        SparkEntry.queries("e8c_bm25_probe")(spark, dir).count())
      Seq("e6b_lifecycle", "e6b_probe", "e8c_lifecycle", "e8c_probe").foreach(q =>
        println(f"[scalebench] x$m $q min=${ops(q)._1}%.3f med=${ops(q)._2}%.3f"))
      }

      // selection-serving twins (r15: the quotable steady-state number
      // the c6b/c7b split exists to provide, measured against corpus
      // size next to the c6 lifecycle curve above): first invocation
      // after the drop trains+commits the frozen NB/DSIR artifacts and
      // serves (the lifecycle number); the timed passes then pay ONLY
      // the serving stages against the disk-backed models — expect
      // c6's shape minus the per-pass train, i.e. the gap between the
      // two curves IS the train cost amortized away at scale
      if (Seq("c6b_lifecycle", "c6b_serving").exists(want)) {
        graft.LlmEntry.dropSelectionArtifacts(spark, dir)
        // cold-start the lifecycle number: the c6 bench above leaves
        // its persisted frames cached, which otherwise makes the
        // train+serve first call read FASTER than steady-state serving
        spark.catalog.clearCache(); System.gc()
        ops("c6b_lifecycle") = {
          val (t, r) = timeOf(() =>
            SparkEntry.queries("c6b_selected_serving")(spark, dir).count())
          (t, t, r)
        }
        ops("c6b_serving") = bench(() =>
          SparkEntry.queries("c6b_selected_serving")(spark, dir).count())
        Seq("c6b_lifecycle", "c6b_serving").foreach(q =>
          println(f"[scalebench] x$m $q min=${ops(q)._1}%.3f med=${ops(q)._2}%.3f"))
      }

      // skew story: AQE + broadcast OFF so the comparison isolates the
      // salting tools (AQE skew-join is the runtime's own answer; the
      // toolkit exists for engines/paths where it isn't available)
      if (Seq("skew_agg_plain", "skew_agg_salted",
              "skew_join_plain", "skew_join_salted").exists(want)) {
      val conf = spark.conf
      val oldAqe = conf.get("spark.sql.adaptive.enabled")
      val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def fact: DataFrame = Tables.load(spark, dir, "skew_fact")
        def dim: DataFrame = Tables.load(spark, dir, "skew_dim")
        ops("skew_agg_plain") = bench(() =>
          fact.groupBy("key")
            .agg(sum("amount").as("total"), count(lit(1)).as("n")).count())
        ops("skew_agg_salted") = bench(() =>
          Skew.saltedSumCount(fact, Seq("key"), col("amount"),
            saltFrom = Seq(col("rid")), factor = 32).count())
        ops("skew_join_plain") = bench(() =>
          fact.join(dim, "key").groupBy("attr")
            .agg(count(lit(1)).as("n"), sum("amount").as("total")).count())
        ops("skew_join_salted") = bench(() =>
          Skew.saltedJoin(fact, dim, Seq("key"), Seq(col("rid")), factor = 32)
            .groupBy("attr")
            .agg(count(lit(1)).as("n"), sum("amount").as("total")).count())
      } finally {
        conf.set("spark.sql.adaptive.enabled", oldAqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      }
      Seq("skew_agg_plain", "skew_agg_salted", "skew_join_plain",
        "skew_join_salted").foreach(q =>
        println(f"[scalebench] x$m $q min=${ops(q)._1}%.3f med=${ops(q)._2}%.3f"))
      }

      // semantic-model serving (g38 family, r11): a regular request
      // must cost ONE corpus-sized keyed shuffle (broadcast dim joins
      // + partial agg), and the time-calc request adds only the
      // month-frame windows plus the LY branch's second month-grain
      // pass — so BOTH should scale ~linearly in fact size with
      // g38_time/g38_eval a roughly constant small multiple. Fact is
      // synthesized (1M·m rows) so the curve isolates serving cost.
      if (Seq("g38_eval", "g38_time").exists(want)) {
        val nFact = 1000000L * m
        def factDf: DataFrame = spark.range(0L, nFact, 1L, 32).select(
          col("id"),
          pmod(col("id"), lit(100000L)).as("custkey"),
          (pmod(col("id"), lit(997L)) / 10.0).as("amount"),
          date_add(lit(java.sql.Date.valueOf("1995-01-01")),
            pmod(col("id"), lit(2556L)).cast("int")).as("o_date"))
        def custDim: DataFrame = spark.range(0L, 100000L, 1L, 8).select(
          col("id").as("c_id"),
          concat(lit("seg"), pmod(col("id"), lit(5L))).as("segment"))
        def datesDim: DataFrame = graft.operators.Dimensions.dateDimension(
            spark, java.time.LocalDate.of(1995, 1, 1),
            java.time.LocalDate.of(2002, 1, 31))
          .select(col("Date").as("d_date"), col("Year").as("d_year"),
            col("Month").as("d_month"))
        def model = graft.operators.SemanticModel(
          fact = factDf,
          dimensions = Map(
            "customer" -> graft.operators.Dimension(custDim, "custkey", "c_id"),
            "dates" -> graft.operators.Dimension(datesDim, "o_date", "d_date")),
          measures = Seq(
            "n" -> count(lit(1)),
            "amount" -> sum(col("amount")
              .cast(org.apache.spark.sql.types.DecimalType(18, 4)))),
          dates = Some(graft.operators.DatesRole("dates", "d_year", "d_month")))
        ops("g38_eval") = bench(() =>
          model.evaluate(Seq("segment"), Seq("n", "amount"),
            filters = Seq(col("amount") > 1.0)).count())
        ops("g38_time") = bench(() =>
          model.evaluateTime("amount", Seq("ytd", "ly", "yoy_pct"),
            groupBy = Seq("segment")).count())
        Seq("g38_eval", "g38_time").foreach(q =>
          println(f"[scalebench] x$m $q min=${ops(q)._1}%.3f " +
            f"med=${ops(q)._2}%.3f rows=${ops(q)._3}"))
      }

      m -> ops.toSeq
    }

    def f3(v: Double) = f"$v%.3f"
    val json = results.map { case (m, ops) =>
      val opsJson = ops.map { case (n, (mn, md, rows)) =>
        s""""$n":{"min":${f3(mn)},"med":${f3(md)},"rows":$rows}"""
      }.mkString(",")
      s"""{"mult":$m,"docs":${ScaleGen.BaseDocs * m},"vecs":${ScaleGen.BaseVecs * m},"fact":${ScaleGen.BaseFact * m},"ops":{$opsJson}}"""
    }.mkString("[", ",", "]")
    // a SCALE_ONLY partial run defaults to a scratch file so it can't
    // clobber the committed full-run artifact
    val out = sys.env.getOrElse("SCALE_OUT",
      if (onlyExp.isDefined) "SCALING_partial.json" else "SCALING.json")
    val doc = s"""{"passes":$passes,"cpus":$cpus,"root":"$root","sizes":$json}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scalebench] wrote $out")
    spark.stop()
  }
}

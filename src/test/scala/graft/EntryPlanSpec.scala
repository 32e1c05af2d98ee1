package graft

import org.apache.spark.sql.functions._

/** Structural guard over every shipped query's PHYSICAL plan: the scale
  * contract says no query may plan a cartesian product or a
  * broadcast-nested-loop join — those are the O(n²) shapes that die at
  * 100 TB no matter how fast they look on test data.
  */
class EntryPlanSpec extends SparkSpec {

  // e1 is the exhaustive brute-force ANN baseline: the broadcast
  // query×corpus product IS its contract (corpus side stays
  // partition-parallel; the product is |Q|×|C| with |Q| tiny).
  // e3's product is corpus×centroids with the centroid table a
  // broadcast CONSTANT (nCentroids rows) — |C|×O(1), the standard IVF
  // assignment pass, not a quadratic stage.
  // e4's product is the same IVF-style corpus×constant-centroids
  // broadcast assignment pass as e3 (k rows per vector, not |C|²);
  // e3b composes e4's training pass with e3's search, so it inherits
  // both exemptions (every product is corpus×constant-centroids).
  // e5's products are corpus×constant-centroids (the IVF assignment)
  // and query×constant-codebook (the ADC table build) — both |rows|×O(1);
  // the corpus-wide scoring join itself is an equi-join on codes.
  // e5b composes e4's training pass with e5's search (same exemptions);
  // e6 probes the persisted form of e5's index (query×constant-codebook
  // ADC table is its only product — AnnIndexSpec asserts the bucketed
  // probe plan directly).
  // e6b is e6's steady-state probe (same query×constant-codebook ADC
  // product; AnnIndexSpec asserts the bucketed probe plan directly).
  // t12's product is (doc, token) rows × the ONE-ROW corpus-count
  // frame (broadcast) — |rows| × O(1), the same constant-side
  // exemption as the IVF assignment passes.
  // d10's product is e4's corpus×constant-centroids assignment pass;
  // its pair stage is an equi-join on cent_id.
  // t13 shares t12's one-row corpus-total broadcast product.
  // e8's product is query-vocabulary postings × the ONE-ROW (N, Σdl)
  // corpus-stats frame — the same |rows| × O(1) constant-side
  // exemption as t12/t13; its corpus-sized joins are all equi-joins.
  // t14's product is scores × the ONE-ROW boundary array (same class).
  // e9 composes e1's vector leg (its broadcast query×corpus product is
  // e1's contract) with e8's lexical leg (one-row stats product).
  // (g24/g25 left this list in r11: their grid/grand-total attaches
  // became window-over-cells / explode-from-cells single-tree plans
  // with no product at all.)
  private val exempt = Set("e1_knn_brute", "e3_knn_ivf", "e3b_knn_ivf_trained",
    "e4_kmeans", "e5_knn_ivfpq", "e5b_knn_ivfpq_trained", "e6_ann_index",
    "e6b_ann_probe", "t12_tfidf", "t13_surprisal", "d10_semantic_dedup",
    "e8_bm25", "e8b_bm25_indexed", "e8c_bm25_probe", "t14_quality_bins",
    "e9_hybrid_rrf", "t10b_heavy_hitters", "e10_knn_sq8",
    // g28 stitches four ONE-ROW audit aggregates; x8 attaches the
    // ONE-ROW time-bounds row — same constant-side class
    "g28_fk_audit", "x8_time_split",
    // e9b composes e6b's probe (query×constant-codebook ADC product)
    // with e8c's (one-row corpus-stats product); e12 composes e1's
    // exempt brute baseline with e2's LSH leg (g30 left this list in
    // r11: its total attach became a window over the counts frame)
    "e9b_hybrid_indexed", "e12_recall_eval",
    // e8d probes after delete (e8c's one-row stats product); e6c
    // probes after delete (e6b's query×constant-codebook ADC
    // product); t1b fans the bounded per-doc top-K out across the
    // 5-row constant language list — |top| × O(1), the same
    // constant-side class as t14's boundary array
    "e8d_bm25_delete", "e6c_ann_delete", "t1b_langid_ngram",
    // e13 retrieves via e8's pipeline (one-row corpus-stats product);
    // its own diversification windows are list-sized rn<=k filters
    "e13_diverse_topk",
    // e11b is e6's lifecycle with the meta filter: the same
    // query×constant-cents probe and query×constant-codebook ADC
    // products (|Q| × O(16)); the filter itself is two equi-joins
    "e11b_filtered_ann",
    // e8e is e8b's lifecycle with the meta admission join: the same
    // one-row corpus-stats product; the filter itself is equi-joins
    "e8e_filtered_search",
    // e15 composes exactly e9's legs (e1's broadcast query×corpus
    // brute product + e8's one-row corpus-stats product); the linear
    // fusion itself is an equi-join on (query_id, doc_id)
    "e15_hybrid_linear",
    // e14's candidate pool is e1's broadcast query×corpus brute
    // product (its documented baseline contract); each greedy round
    // then scores the |Q|×poolSize candidate frame against the ≤2-row
    // selected set — |rows| × O(1), t14's constant-side class
    "e14_mmr",
    // x12 attaches the ONE-ROW corpus total and the ONE-ROW Σ√p
    // denominator to the strata-sized counts frame — x8's class
    "x12_temperature_mix",
    // e17's recall stage is e8's MLT pipeline (one-row corpus-stats
    // product); the re-rank itself is two equi-joins over |hits|
    "e17_rerank_cascade",
    // t26 composes t13's one-row corpus-total product with t14's
    // one-row boundary-array attach — both constant-side classes
    "t26_ppl_buckets",
    // t30 attaches the ONE-ROW unigram corpus total to the scored
    // bigram frame — t13's constant-side class
    "t30_interp_lm",
    // t31 densifies per-source counts against the broadcast constant
    // 4096-bucket grid (|sources| × O(1) product — the
    // corpus×constant-centroids class); everything downstream is
    // window sums over the dense sources×buckets frame
    "t31_source_drift",
    // g36 attaches the ONE-ROW (min, max) bounds frame to the values
    // — x8's one-row-bounds class
    "g36_histogram",
    // e18's assignment pass is e3's corpus×constant-centroids
    // product; the in-cell pairing is an equi-join on cent_id
    "e18_knn_graph_ivf",
    // e16c's routed build is e18's corpus×constant-centroids product
    // (the guard ships knnGraphIvf on the over-budget corpus) and the
    // ONE-ROW occupancy report attaches via broadcast crossJoin —
    // m8's one-row-attach class
    "e16c_graph_route",
    // e16d replays e16c's routed build (e18's corpus×constant-
    // centroids product) and attaches the ONE-ROW ledger decision row
    // via broadcast crossJoin — the same one-row-attach class
    "e16d_graph_ledger",
    // e14b pools from e6b's probe (query×constant-codebook ADC
    // product, |Q| × O(16)); the greedy rounds score the |Q|×pool
    // candidate frame against the ≤2-row selected set via query_id
    // equi-joins — no corpus-sized product outside the probe
    "e14b_mmr_indexed",
    // e15b composes e6b's probe (query×constant-codebook ADC product)
    // with e8c's terms probe (one-row corpus-stats product); the
    // fusion tail is |Q|×k equi-joins — e9b's exemption class
    "e15b_hybrid_linear_indexed",
    // e19 attaches the ONE-ROW occupancy total to the nCentroids-sized
    // cell report — g30's one-row-total class
    "e19_index_stats",
    // x13 attaches the ONE-ROW corpus total to the strata-sized share
    // frame — x12's class; the per-stratum ranking window is a full
    // ranking by design (the shard writer's own sort, t7's argument)
    "x13_stride_interleave",
    // m8 attaches the ONE-ROW asset total to the types-sized mix
    // report — the same class
    "m8_type_sniff",
    // t28 shares t1b's bounded top-K × constant-language-list product
    "t28_langid_margin",
    // e20 composes e4's training pass (corpus×constant-centroids
    // broadcast assignment, k rows per vector) with e6's probe
    // (query×constant-codebook ADC product) — e5b's exemption class
    // run against the persisted index
    "e20_index_retrain",
    // e11c is e11b's steady-state probe: the same query×constant-cents
    // and query×constant-codebook products; the label filter is two
    // equi-joins on the candidate sliver
    "e11c_filtered_probe",
    // t29's model densification is vocab × the broadcast
    // constant-label list (|V| × O(1)) — the corpus×constant-centroids
    // class; t29b composes the same model build with map-only scoring
    // (broadcast-model equi-join on token); t29c is t29 with the
    // min-df vocabulary cut, same product
    "t29_nb_model", "t29b_nb_classify", "t29c_nb_model_mindf",
    // t29d is t29b's plan (train + score the same split) + a
    // row-local confident-disagreement filter; t29e is t29b's plan +
    // a bin rollup
    "t29d_label_audit", "t29e_calibration",
    // x16 composes e4's training pass with one more corpus×constant-
    // centroids broadcast assignment (k rows per vector); the sample
    // cut is a bounded-heap partial aggregate, no join at all
    "x16_cluster_sample",
    // c6/c7 compose t29's model build (vocab × broadcast
    // constant-label densification) into the curation chain; their
    // DSIR stage is x15's non-exempt bucket-keyed equi-join shape and
    // the k-row selection broadcasts back — t29's product is the only
    // one in the plan
    "c6_curate_selected", "c7_selected_attrition",
    // c6b/c7b serve c6/c7's chain against FROZEN artifacts; the NB
    // model frame is persisted but its (cached) plan still carries
    // t29's vocab × constant-label densification product — same
    // exemption, and c7b (like c7) executes its stage counts at
    // construction time so it must not be re-invoked here
    "c6b_selected_serving", "c7b_serving_attrition")

  // NOTE: x15/x15b/x15c need no exemption — the DSIR grid/model joins
  // are all bucket-keyed equi-joins and the scoring join is a
  // broadcast equi-join on bucket.

  test("no shipped query plans a cartesian or nested-loop join") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!exempt(name)) {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin")
      }
    }
  }

  test("the DSIR keys plan no Window, subqueries included") {
    // the side and pool totals are one-row scalar subqueries and the
    // Gumbel draw is WindowTopOneRewrite's bounded heap: no frame of
    // these plans funnels through one unpartitioned window
    for (name <- Seq("x15_dsir_weights", "x15b_dsir_resample", "x18_dsir_mixture")) {
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val windows = qe.optimizedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty, s"$name plans a Window:\n${qe.optimizedPlan}")
      assert(!qe.executedPlan.toString.contains("Window"),
        s"$name plans a Window:\n${qe.executedPlan}")
    }
  }

  test("the text-statistics plans have no unpartitioned Window, subqueries included") {
    // corpus and label totals are one-row scalar subqueries: no frame
    // of these plans funnels through a window with an empty partition
    // spec (one reducer)
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import graft.text.TextAnalysis
    val docs = table("documents")
    val direct: Seq[(String, DataFrame)] = Seq(
      "unigramProfile" -> TextAnalysis.unigramProfile(docs, col("text")),
      "klDrift" -> TextAnalysis.klDrift(docs, col("text"),
        TextAnalysis.unigramProfile(docs, col("text"))))
    // (x15, x15b and x18 plan no Window at all: the test above)
    val keys = Seq("t31_source_drift", "t29_nb_model", "t29c_nb_model_mindf",
      "t29b_nb_classify", "x15c_dsir_bigram")
    for ((name, df) <- keys.map(k => k -> SparkEntry.queries(k)(spark, sfDir)) ++ direct) {
      val plan = df.queryExecution.optimizedPlan
      val global = plan.collectWithSubqueries {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name plans an unpartitioned Window:\n$plan")
    }
  }

  test("map-only entries plan ZERO keyed shuffles (the stage-0 gate posture)") {
    // d20 (inline blocklist path), m10 (byte-surgery scrub), m11
    // (metadata audit): a crawl's first gates must run at scan speed —
    // a hash or range partitioning in these plans means a keyed
    // shuffle snuck into what the SURVEY sells as map-only
    // (Tables.load's round-robin spread of the tiny test files is not
    // a keyed shuffle and is exempt)
    for (name <- Seq("d20_url_blocklist", "m10_exif_scrub", "m11_meta_audit")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString.toLowerCase
      assert(!plan.contains("hashpartitioning") &&
        !plan.contains("rangepartitioning"),
        s"$name must be map-only, but its plan has a keyed shuffle")
      assert(!plan.contains("sortaggregate") && !plan.contains("hashaggregate"),
        s"$name must be map-only, but its plan aggregates")
    }
  }

  test("winner-per-key queries partial-aggregate before their exchange") {
    // the scale contract's map-side-combine posture: these queries'
    // plans must show partial aggregation (a reducer-only aggregation
    // would ship every row across the wire)
    // b2b additionally proves WindowTopOneRewrite fired: the naive
    // window query must execute with NO Window exec in its plan
    val b2b = SparkEntry.queries("b2b_dedup_latest_naive")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!b2b.contains("Window"), s"b2b still plans a Window:\n$b2b")
    // g7b proves the rn <= k TopKRows path the same way: the naive
    // global top-10 window must execute with no Window exec and a
    // partial-aggregating bounded heap
    val g7b = SparkEntry.queries("g7b_topn_naive")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!g7b.contains("Window"), s"g7b still plans a Window:\n$g7b")
    assert(g7b.contains("partial_graft_topk_rows"),
      s"g7b shows no bounded-heap partials:\n$g7b")
    // st6 proves the PARTITIONED rn <= k path: per-hour trending top-3
    // written as a ranked window must execute windowless with the
    // bounded heap
    val st6 = SparkEntry.queries("st6_trending")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!st6.contains("Window"), s"st6 still plans a Window:\n$st6")
    assert(st6.contains("partial_graft_topk_rows"),
      s"st6 shows no bounded-heap partials:\n$st6")
    // g31 proves topPaths' per-user horizon is bounded BEFORE the
    // path list exists: the rn <= maxLen window must execute
    // windowless with bounded-heap partials (one hot user costs
    // maxLen rows in the shuffle, never an unbounded array)
    val g31 = SparkEntry.queries("g31_event_paths")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!g31.contains("Window"), s"g31 still plans a Window:\n$g31")
    assert(g31.contains("partial_graft_topk_rows"),
      s"g31 shows no bounded-heap partials:\n$g31")
    // e13 proves BOTH of diversifyTopK's partitioned rn <= k windows
    // (per-group cap, then re-rank) ride WindowTopOneRewrite: the
    // diversified list must execute with no Window exec at all and
    // bounded-heap partials in their place
    val e13 = SparkEntry.queries("e13_diverse_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!e13.contains("Window"), s"e13 still plans a Window:\n$e13")
    assert(e13.contains("partial_graft_topk_rows"),
      s"e13 shows no bounded-heap partials:\n$e13")
    Seq("b2_dedup_latest", "b2b_dedup_latest_naive", "g7b_topn_naive",
        "g8_ingestion_log",
        "g13_salted_agg",
        "g4_measure_pack", "e3_knn_ivf", "e3b_knn_ivf_trained",
        "e5_knn_ivfpq", "e5b_knn_ivfpq_trained", "e6_ann_index",
        "e6b_ann_probe",
        // the ninth-pass winner-per-key/bounded-heap ops: e16/e18's
        // per-vector top-k, e17's re-rank, d18's max_by keeper all
        // must map-side combine before their exchange
        "e16_knn_graph", "e17_rerank_cascade", "e18_knn_graph_ivf",
        "d18_best_keeper",
        // e16b's occupancy measurement must map-side combine: the
        // per-(t,bucket) count partial-aggregates before its exchange
        // (the guard pays ONE partial-aggregated pass, never a full
        // row ship)
        "e16b_graph_occupancy",
        // m9's per-type k-minwise cut is x5's bounded-heap aggregate —
        // at most k rows per type leave each map task
        "m9_type_sample")
      .foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial_"), s"$name shows no partial aggregation")
    }
  }

  test("scans prune to the referenced columns; watermark cutoffs push down") {
    // column pruning: d8 touches only (doc_id, text) of documents —
    // a scan reading the whole row at 100 TB is a different query
    val d8 = SparkEntry.queries("d8_incremental_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(d8.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan reads more than (doc_id, text):\n$d8")
    // predicate pushdown: the incremental-read cutoff must reach the
    // parquet reader (a post-scan filter re-reads the whole feed)
    val wm = sources.Watermark.newerThan(table("orders"), col("o_orderdate"),
        java.time.Instant.parse("1997-01-01T00:00:00Z"))
      .queryExecution.executedPlan.toString
    assert(wm.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThan(o_orderdate"),
      s"watermark cutoff not pushed to the scan:\n$wm")
    // g37 touches only (ts, event_type, value) of the events feed —
    // the daily rollup must not drag event_id/props through the scan
    val g37 = SparkEntry.queries("g37_anomaly_days")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(g37.contains("ReadSchema: struct<ts:timestamp") &&
      g37.contains("event_type:string,value:double"),
      s"events scan reads more than (ts, event_type, value):\n$g37")
  }

  test("d3b shares ONE signature pass across configs; x22 one scan per leg") {
    // d3b's contract: all banding configs read the SAME persisted
    // shingle+signature frame — a second raw corpus scan per config
    // would double the 100 TB bill the report exists to price
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // collect on the actual tree: the AQE root hides its child from
    // collect, so unwrap it first; InMemoryTableScanExec terminates a
    // branch (the cached relation's lineage is not a child), so any
    // FileSourceScanExec seen here is a REAL raw-corpus read
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val d3bPlan = unwrap(SparkEntry.queries("d3b_tuned_lsh")(spark, sfDir)
      .queryExecution.executedPlan)
    val d3bCached = d3bPlan.collect { case s: InMemoryTableScanExec => s }
    val d3bRaw = d3bPlan.collect { case s: FileSourceScanExec => s }
    assert(d3bCached.size >= 4,
      s"both configs' band+verify legs must read the cached sigged frame:\n$d3bPlan")
    assert(d3bRaw.isEmpty,
      s"a banding config re-scans the raw corpus:\n$d3bPlan")
    // x22: one corpus scan per factored leg (x21 token counts, t32
    // BPE encode) and nothing else corpus-sized
    val x22Plan = unwrap(SparkEntry.queries("x22_token_budget_report")(spark, sfDir)
      .queryExecution.executedPlan)
    val x22Scans = x22Plan.collect { case s: FileSourceScanExec => s }
    assert(x22Scans.size <= 3,
      s"x22 must stay at one scan per leg (+ the BPE merge replay):\n$x22Plan")
  }

  test("curation pipeline: survivors are gated, deduped, near-dup-free") {
    val docs = table("documents")
    val survivors = LlmCuration.run(docs, col("doc_id"), col("text"),
      minQuality = 0.3, lang = Some("en"), minJaccard = 0.1).cache()
    val ids = survivors.collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty)
    // survivors come from the corpus
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
    // idempotent: curating the survivors again drops nothing new
    val again = LlmCuration.run(
      docs.join(survivors, Seq("doc_id")), col("doc_id"), col("text"),
      minQuality = 0.3, lang = Some("en"), minJaccard = 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(again == ids)
  }
}

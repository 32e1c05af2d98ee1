package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DupClusters (connected components) and Decontaminate (eval-overlap
  * flagging) — graph resolution and broadcast-side behavior. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chains resolve transitively to the min id") {
    // two components: a 6-node chain (diameter forces >1 round) and a pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = DupClusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc.size == 8, "only nodes present in pairs appear")
  }

  test("a 100-node chain converges in logarithmic rounds") {
    // diameter 99: one-hop propagation alone would need 99 rounds and
    // blow the default maxIter; pointer jumping must finish in ~log
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = DupClusters.connectedComponents(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 100)
    assert(cc.values.forall(_ == 1L))
  }

  test("mergeComponents: incremental merge equals one-shot CC, untouched survive") {
    // stored state: three components {1..3}, {10,11}, {20,21}
    val pairs1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val stored = DupClusters.connectedComponents(pairs1)
    // batch: bridges {1..3} with {10,11} (via new doc 50), extends
    // {10,11} with 12, adds a brand-new pair (30,31), and re-links an
    // existing component internally (2,3 — a contracted self-loop).
    // {20,21} is untouched.
    val pairs2 = Seq((3L, 50L), (50L, 10L), (11L, 12L), (30L, 31L),
      (2L, 3L)).toDF("doc_a", "doc_b")
    val got = DupClusters.mergeComponents(stored, pairs2)
      .as[(Long, Long)].collect().toMap
    val oneShot = DupClusters.connectedComponents(
        pairs1.unionByName(pairs2))
      .as[(Long, Long)].collect().toMap
    assert(got === oneShot, "incremental merge must equal one-shot CC")
    // merged component takes the global min across old clusters + new
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L, 50L).forall(got(_) == 1L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got(20L) == 20L && got(21L) == 20L, "untouched component changed")
    // a batch with NO cross-component pairs leaves the store identical
    val noop = DupClusters.mergeComponents(stored,
        Seq((2L, 3L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(noop === stored.as[(Long, Long)].collect().toMap)
    // chained incremental: a second merge over the first's output
    // still equals the one-shot over all three pair sets
    val pairs3 = Seq((31L, 21L), (12L, 60L)).toDF("doc_a", "doc_b")
    val got2 = DupClusters.mergeComponents(
        DupClusters.mergeComponents(stored, pairs2), pairs3)
      .as[(Long, Long)].collect().toMap
    val oneShot2 = DupClusters.connectedComponents(
        pairs1.unionByName(pairs2).unionByName(pairs3))
      .as[(Long, Long)].collect().toMap
    assert(got2 === oneShot2, "chained incremental merges must compose")
  }

  test("survivors: keeps each cluster's min id and every non-dup doc") {
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val kept = DupClusters.survivors(docs, "doc_id", pairs)
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L, 6L, 7L, 9L, 10L, 11L, 12L))
  }

  test("attritionReport: stages chain and agree with the pipeline itself") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val rows = graft.LlmCuration.attritionReport(docs, eval,
        col("doc_id"), col("text"))
      .orderBy("stage_no").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ===
      Seq("gate", "exact_dedup", "near_dup", "decontam"))
    // each stage's output IS the next stage's input (no gaps, no
    // double counting), attrition is monotone non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 === b._3, s"stage ${a._2} out != stage ${b._2} in")
    }
    assert(rows.head._3 === docs.count())
    rows.foreach { case (_, st, in, out) =>
      assert(out <= in, s"stage $st grew the corpus") }
    // the report's final survivor count equals the pipeline the report
    // describes (they share the SAME factored stage functions)
    val survivors = graft.LlmCuration.runDecontaminated(docs, eval,
      col("doc_id"), col("text")).count()
    assert(rows.last._4 === survivors, "report disagrees with pipeline")
  }

  test("runSelected: stages chain, dsir caps at k, report equals pipeline") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val labeled = docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    val target = docs.filter(col("source").isin("src0", "src1"))
    def report(minMargin: Double, k: Int) =
      graft.LlmCuration.attritionReportSelected(docs, eval, labeled, target,
        col("doc_id"), col("text"), col("lang"),
        keepLabel = "en", minMargin = minMargin, k = k)
    val rows = report(1.0, 20).orderBy("stage_no").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq === Seq("gate", "exact_dedup", "near_dup",
      "model_gate", "dsir_select", "decontam"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 === b._3, s"stage ${a._2} out != stage ${b._2} in")
    }
    rows.foreach { case (_, st, in, out) =>
      assert(out <= in, s"stage $st grew the corpus") }
    // dsir_select emits exactly k (the pool here exceeds k)
    val dsirRow = rows.find(_._2 == "dsir_select").get
    assert(dsirRow._3 > 20 && dsirRow._4 === 20L)
    // report and pipeline share the factored stages — final counts agree
    val survivors = graft.LlmCuration.runSelected(docs, eval, labeled,
      target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0, k = 20).count()
    assert(rows.last._4 === survivors, "report disagrees with pipeline")
    // a stricter margin can only shrink the model gate's admissions
    val strict = report(50.0, 20).orderBy("stage_no").collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    assert(strict("model_gate") <= rows.find(_._2 == "model_gate").get._4)
  }

  test("serving twin: frozen artifacts replay runSelected exactly " +
    "(ids AND attrition rows)") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val labeled = docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    val target = docs.filter(col("source").isin("src0", "src1"))
    val (m, pri, dsir) = graft.LlmCuration.selectionArtifacts(docs,
      labeled, target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    Seq(m, pri, dsir).foreach(_.persist().count())
    try {
      // the selected, decontaminated id set is bit-identical — the
      // frozen DSIR model makes the Gumbel draw replay exactly (no
      // threshold approximation: this is the batch serving contract)
      val lifecycle = graft.LlmCuration.runSelected(docs, eval, labeled,
          target, col("doc_id"), col("text"), col("lang"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .as[Long].collect().sorted.toSeq
      val serving = graft.LlmCuration.runSelectedServing(docs, eval,
          m, pri, dsir, col("doc_id"), col("text"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .as[Long].collect().sorted.toSeq
      assert(serving === lifecycle,
        "the frozen-artifact serving chain must replay the lifecycle run")
      assert(serving.nonEmpty, "fixture must select something")
      // attrition twins agree row for row
      val a = graft.LlmCuration.attritionReportSelected(docs, eval,
          labeled, target, col("doc_id"), col("text"), col("lang"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .orderBy("stage_no").collect().map(_.toSeq).toSeq
      val b = graft.LlmCuration.attritionReportServing(docs, eval,
          m, pri, dsir, col("doc_id"), col("text"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .orderBy("stage_no").collect().map(_.toSeq).toSeq
      assert(b === a, "serving attrition must equal the lifecycle report")
    } finally Seq(m, pri, dsir).foreach(_.unpersist(): Unit)
  }

  test("attrition reports: a gate that drains the corpus yields null " +
    "drop_frac rows, not a division by zero") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val labeled = docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    val target = docs.filter(col("source").isin("src0", "src1"))
    val (m, pri, dsir) = graft.LlmCuration.selectionArtifacts(docs,
      labeled, target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    Seq(m, pri, dsir).foreach(_.persist().count())
    // no document is identified as "xx": the gate drops everything
    val drained = Some("xx")
    try {
      val reports = Seq(
        "attritionReport" -> graft.LlmCuration.attritionReport(docs, eval,
          col("doc_id"), col("text"), lang = drained),
        "attritionReportSelected" -> graft.LlmCuration.attritionReportSelected(
          docs, eval, labeled, target, col("doc_id"), col("text"),
          col("lang"), keepLabel = "en", minMargin = 1.0, k = 20,
          lang = drained),
        "attritionReportServing" -> graft.LlmCuration.attritionReportServing(
          docs, eval, m, pri, dsir, col("doc_id"), col("text"),
          keepLabel = "en", minMargin = 1.0, k = 20, lang = drained),
        "attritionReportCrawl" -> graft.LlmCuration.attritionReportCrawl(
          docs.withColumn("url", concat(lit("https://site.example/d/"),
              col("doc_id").cast("string")))
            .withColumn("html", concat(lit("<p>"), col("text"), lit("</p>"))),
          col("doc_id"), col("url"), col("html"),
          blockedDomains = Seq("blocked.example"), patternRules = Nil,
          lang = drained))
      val stageCounts = Map("attritionReport" -> 4,
        "attritionReportSelected" -> 6, "attritionReportServing" -> 6,
        "attritionReportCrawl" -> 5)
      reports.foreach { case (name, df) =>
        val rows = df.orderBy("stage_no").collect()
        assert(rows.length === stageCounts(name), s"$name lost rows")
        val gate = rows.indexWhere(_.getString(1) == "gate")
        assert(rows(gate).getLong(2) > 0 && rows(gate).getLong(3) === 0L,
          s"$name: the gate must drain a non-empty corpus")
        assert(rows(gate).getDouble(4) === 1.0, s"$name: gate drop_frac")
        rows.drop(gate + 1).foreach { r =>
          assert(r.getLong(2) === 0L && r.getLong(3) === 0L,
            s"$name: ${r.getString(1)} saw rows after the drain")
          assert(r.isNullAt(4),
            s"$name: ${r.getString(1)} drop_frac must be null on no input")
        }
      }
    } finally Seq(m, pri, dsir).foreach(_.unpersist(): Unit)
  }

  test("runSelected plan: broadcast model scoring, bounded-heap selection") {
    import graft.LlmCuration
    import graft.text.NaiveBayes
    val docs = table("documents")
    val labeled =
      docs.filter(graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    // runSelected's stage list folded with plain st.run, i.e. without
    // the stage-boundary plan truncation (Caching.staged) that hides
    // the upstream stages' join/heap shapes from the FINAL frame's
    // plan; the operators compose identically either way, so the
    // assertions keep their force on the untruncated form
    val out = LlmCuration.selection(docs.filter(col("doc_id") % 25 === 0),
        NaiveBayes.model(labeled, col("text"), col("lang")),
        NaiveBayes.priors(labeled, col("lang")),
        LlmCuration.dsirModel(docs.filter(col("source").isin("src0", "src1")),
          col("text")),
        col("doc_id"), col("text"), keepLabel = "en", minMargin = 1.0,
        k = 20, minQuality = 0.5, lang = Some("en"), minJaccard = 0.1, n = 5)
      .foldLeft(docs)((df, st) => st.run(df)).select("doc_id")
    val plan = out.queryExecution.executedPlan.toString
    // the NB scoring / DSIR model joins and the k-row selection
    // join-back are broadcast equi-joins (the model frames are
    // vocabulary/bucket-sized, the selection k rows)
    assert(plan.contains("BroadcastHashJoin"),
      s"selected chain plans no broadcast join:\n$plan")
    // the Gumbel top-k rides the bounded-heap rewrite, not a global
    // ranking window
    assert(plan.contains("partial_graft_topk_rows"),
      s"DSIR selection shows no bounded-heap partials:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"selected chain plans a cartesian product:\n$plan")
  }

  test("decontam: flags exactly the docs sharing a 5-gram; filter drops them") {
    val eva = Seq((100L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "he said the quick brown fox jumps right past us"), // shares 1
      (2L, "completely unrelated words with no overlap here at all"),
      (3L, "fox jumps over a lazy dog indeed")) // shares 2
      .toDF("doc_id", "text")
    val flagged = Decontaminate
      .contaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 1L, 3L -> 2L))
    val clean = Decontaminate
      .applyFilter(train, eva, "doc_id", col("text"), n = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean == Seq(2L))
  }

  test("decontam plan broadcasts the eval side") {
    val docs = table("documents")
    val plan = Decontaminate.contaminatedDocs(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") % 25 === 0),
      col("doc_id"), col("text"), n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast-hash join on the eval shingle set:\n$plan")
  }

  test("bloom decontam: output identical to exact, even when the filter saturates") {
    val docs = table("documents")
    val train = docs.filter(col("doc_id") % 25 =!= 0)
    val eva = docs.filter(col("doc_id") % 25 === 0)
    val exact = Decontaminate
      .contaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    val bloom = Decontaminate
      .bloomContaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)
    // 256-bit filter on thousands of eval shingles: nearly every bit is
    // set, so nearly every training shingle becomes a candidate — the
    // exact verify must still reduce the output to the true hit set
    val saturated = Decontaminate
      .bloomContaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5,
        bits = 256)
      .as[(Long, Long)].collect().toMap
    assert(saturated == exact)
  }

  test("bloom decontam plan: bitset broadcasts; eval set never broadcasts raw") {
    val docs = table("documents")
    val df = Decontaminate.bloomContaminatedDocs(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") % 25 === 0),
      col("doc_id"), col("text"), n = 5)
    val plan = df.queryExecution.executedPlan.toString
    // the probe joins the broadcast (word, mask) bitset table
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bitset table to broadcast-hash join:\n$plan")
    // only the bitset carries explicit broadcast HINTs (one per probe
    // bit — the chained lookup joins) — the eval shingle set must stay
    // size-planned (on test data the planner may still auto-broadcast
    // it; at benchmark-suite scale it shuffles). The bitset is bounded
    // by bits/64 rows regardless of eval size, so its hints are safe;
    // a hint on the raw eval set would not be.
    val analyzed = df.queryExecution.analyzed.toString
    val nHints = "ResolvedHint".r.findAllIn(analyzed).length
    assert(nHints == 3, s"expected 3 broadcast hints (bitset x probe bits), got $nHints:\n$analyzed")
    // and the bit-AND filtering itself adds no aggregation: the only
    // aggregates left are the bitset build (word bit_or) and the final
    // per-doc count — the old posexplode + groupBy(doc_id, s) pass
    // (a corpus-shingle-sized shuffle) must stay gone
    assert(!plan.contains("count(distinct"),
      s"probe-bit AND must not need a distinct aggregation:\n$plan")
  }
}

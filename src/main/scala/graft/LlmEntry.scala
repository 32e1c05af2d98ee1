package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{AnnIndex, KMeans, Knn, Pq, Sq}
import graft.dedup.{Decontaminate, DupClusters, TextDedup}
import graft.multimodal.Multimodal
import graft.operators.Sampling
import graft.streaming.Events
import graft.sources.Tables
import graft.text.{Dsir, Html, LangIdNgram, NaiveBayes, Packing, Search, TextAnalysis, Urls}

/** LLM-training-data + streaming operators (SURVEY §2: the d, e, t, m
  * and st families), with DuckDB oracles where SQL can express the
  * semantics. The hash constants used in the oracle SQL are generated
  * from the same Scala values the operators use — one source of truth.
  */
object LlmEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** m8/m9's shared fixture: the ASCII corpus as assets with real
    * container magics injected deterministically per asset_id % 6
    * (id % 6 == 5 stays raw text). */
  private def injectedAssets(s: SparkSession, dir: String): DataFrame = {
    val magics = Seq(
      "89504E470D0A1A0A",         // PNG
      "FFD8FFE000104A464946",     // JPEG/JFIF
      "52494646AAAA000057415645", // RIFF....WAVE
      "255044462D312E37",         // %PDF-1.7
      "1F8B08")                   // gzip
    Multimodal.asAssets(t(s, dir, "documents"))
      .withColumn("payload",
        when(pmod(col("asset_id"), lit(6)) === 5, col("payload"))
          .otherwise(concat(
            unhex(element_at(array(magics.map(lit): _*),
              (pmod(col("asset_id"), lit(6)) + 1).cast("int"))),
            col("payload"))))
  }

  /** d13/d20/c3b's shared fixture: deterministic crawl-URL variants
    * per doc (scheme/WWW/host case, default port, trailing slash,
    * param order, utm/fbclid noise, fragments) — factored so the
    * dedup, blocklist, and crawl-attrition entries cannot drift. */
  private def syntheticCrawlUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".example.com"),
    when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
    lit("/docs/p"), (col("doc_id") % 3).cast("string"),
    when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit("?page="), (col("doc_id") % 2).cast("string"),
        lit("&lang="), col("lang"), lit("&utm_source=feed")))
      .otherwise(concat(lit("?utm_source=feed&lang="), col("lang"),
        lit("&page="), (col("doc_id") % 2).cast("string"))),
    when(col("doc_id") % 7 === 0, lit("&fbclid=abc")).otherwise(lit("")),
    when(col("doc_id") % 6 === 0, lit("#sec")).otherwise(lit("")))

  /** d20/c3b's blocklist: one whole source domain (subdomain
    * semantics — the canonicalizer's de-www'd host is srcN.example.com)
    * plus a domain absent from the corpus (must hit nothing). */
  private val D20BlockedDomains = Seq("src3.example.com", "badsite.org")

  /** d20/c3b's URL pattern rules over the CANONICAL url: first-page
    * pagination duplicates and one deep listing path. */
  private val D20PatternRules = Seq(
    ("paginated_dup", "[?&]page=1($|&)"),
    ("deep_listing", "/docs/p2"))

  /** m10's fixture: the ASCII corpus with WELL-FORMED metadata-bearing
    * container prefixes injected per asset_id % 4 (== 3 stays raw
    * text) — [[graft.multimodal.MediaMeta]]'s real-length, real-CRC
    * segments, so the scrub's byte arithmetic is exactly replayable
    * by the oracle from the same constants. */
  private def metaInjectedAssets(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.MediaMeta
    val prefixes = Seq(MediaMeta.JpegExifDirtyHex, MediaMeta.PngMetaDirtyHex,
      MediaMeta.JpegComDirtyHex)
    Multimodal.asAssets(t(s, dir, "documents"))
      .withColumn("payload",
        when(pmod(col("asset_id"), lit(4)) === 3, col("payload"))
          .otherwise(concat(
            unhex(element_at(array(prefixes.map(lit): _*),
              (pmod(col("asset_id"), lit(4)) + 1).cast("int"))),
            col("payload"))))
  }

  /** Build the shared per-(session, sf dir) ANN probe index unless
    * complete (the store's ensure gate). A complete build is exactly
    * version 1 (write commits v0, update commits v1): a crash between
    * write() and update() leaves a version-VISIBLE index missing the
    * 10..110 batch, which the gate detects and rebuilds. `metaCols`
    * adds the metadata member behind e11c's filtered probe; the update
    * keeps it current, so that probe sees the full 10.. corpus with
    * labels. */
  private def ensureAnnProbeIndex(s: SparkSession, emb: DataFrame,
                                  name: String,
                                  metaCols: Seq[String] = Nil): Unit =
    AnnIndex.Store.ensure(s, name, complete = 1) {
      AnnIndex.write(emb.filter(col("vec_id") >= 110), name, buckets = 8,
        metaCols = metaCols)
      AnnIndex.update(emb.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        name, buckets = 8)
    }

  /** BM25 twin of [[ensureAnnProbeIndex]] — same complete-is-v1 gate. */
  private def ensureBm25ProbeIndex(s: SparkSession, docs: DataFrame,
                                   name: String): Unit =
    Search.IndexStore.ensure(s, name, complete = 1) {
      Search.writeIndex(docs.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), name, buckets = 8)
      Search.updateIndex(docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), name, buckets = 8)
    }

  /** The c-family's inputs over `documents`, each written once: the
    * eval slice the decontaminating keys drop, the NB training split
    * and the DSIR target domain. c6/c7 train on them in-plan and
    * c6b/c7b's artifacts are trained on them once, so c6b is identical
    * to c6 by construction; the oracle SQL states them independently. */
  private def evalSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 25 === 0)
  private def labeledSplit(docs: DataFrame): DataFrame =
    docs.filter(Sampling.hashBucket(col("doc_id"), 5) =!= 0)
  private def dsirTarget(docs: DataFrame): DataFrame =
    docs.filter(col("source").isin("src0", "src1"))

  /** c6b/c7b's frozen selection artifacts (NB model+priors, DSIR
    * importance model), trained ONCE per (warehouse, sf dir) with c6's
    * exact inputs and committed to the versioned store — the e6b move
    * for the selection pipeline: the steady-state entries only READ
    * the model tables and pay the serving stages, never the train.
    * Disk-backed like the ANN/BM25 indexes (a persisted frame would
    * not survive a cache flush, and a served model is a stored
    * artifact in production anyway). The store's ensure gate with the
    * complete version 0: one atomic commit is version 0; a crash
    * mid-train leaves no ptr and rebuilds. */
  private final case class SelArtifacts(nbModel: DataFrame,
                                        nbPriors: DataFrame,
                                        dsirModel: DataFrame)
  /** The selection artifacts' store layout — all three are
    * fixed-size broadcast-side frames, so plain members. */
  private val SelectionArtifactStore = graft.sources.BucketedStore.Layout(
    "selection-artifact", Seq("nbmodel", "nbpriors", "dsirmodel")
      .map(graft.sources.BucketedStore.Member(_)))
  private def selectionArtifactName(dir: String): String =
    s"c6bart_${dir.hashCode.toHexString}"
  /** Drop `dir`'s selection artifacts, so the next c6b/c7b call
    * retrains them. */
  private[graft] def dropSelectionArtifacts(s: SparkSession, dir: String): Unit =
    SelectionArtifactStore.drop(s, selectionArtifactName(dir))
  private def ensureSelectionArtifacts(s: SparkSession,
                                       dir: String): SelArtifacts = {
    val name = selectionArtifactName(dir)
    val p = SelectionArtifactStore.ensure(s, name, complete = 0) {
      val docs = t(s, dir, "documents")
      val (m, pri, dsir) = LlmCuration.selectionArtifacts(docs,
        labeledSplit(docs), dsirTarget(docs),
        col("doc_id"), col("text"), col("lang"),
        keepLabel = "en", minMargin = 1.0,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
      SelectionArtifactStore.commit(s, name, Map(
        "nbmodel" -> m, "nbpriors" -> pri, "dsirmodel" -> dsir),
        buckets = 1)
    }
    SelArtifacts(p.table("nbmodel"), p.table("nbpriors"), p.table("dsirmodel"))
  }

  /** e16c/e16d's duplicate-heavy corpus: the full embedding set plus
    * vec_id 0 replicated 300× under fresh ids (1000001..1000300).
    * Identical vectors share every LSH signature at ANY plane count,
    * so one bucket holds ≥ 301 > the guard's 256 default budget at
    * both SFs — the occupancy guard MUST route to IVF cells. ONE
    * definition shared by the route key (e16c) and the ledger key
    * (e16d) so the two gated corpora cannot drift (the
    * graphBandCtes/measureGuard one-definition rationale); the oracle
    * side is [[dupCorpusCtes]]. */
  private def dupHeavyCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") === 0)
        .select(explode(sequence(lit(1L), lit(300L))).as("r"),
          col("embedding"))
        .select((lit(1000000L) + col("r")).as("vec_id"),
          col("embedding")))

  /** Every token of every doc suffixed with `#<doc_id>` — a corpus
    * whose cross-doc shingle sets are DISJOINT by construction (each
    * 3-gram carries its doc's id in all three tokens), so pairwise
    * Jaccard is exactly 0 at any threshold: the provable no-near-dups
    * corpus the d8d NoPairs leg runs the retune loop over. Map-only;
    * the tag survives the lowercase+whitespace tokenizer unchanged
    * (no whitespace introduced, digits/# lowercase-stable), so
    * re-tokenization downstream is idempotent, and the oracle applies
    * the byte-identical transform in SQL. */
  private def tagTokensByDoc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_join(transform(TextAnalysis.tokens(col("text")),
        x => concat(x, lit("#"), col("doc_id").cast("string"))), " ")
        .as("text"))

  /** The d8b/d8c/d8d retune scenario: ensure the even-id corpus's
    * bucketed dedup index (once per session/dir), reset it to the
    * tuned recall plan with the map-only reband, probe with the
    * odd-id batch, run [[TextDedup.rebandToBudget]] under
    * `maxCandidatesPerPair`, and emit the one-row decision frame.
    * Factored so the maintain (budget 10 → demote to (4,4)), refuse
    * (budget 0.5 → typed over_budget, plan stands) and no-pairs
    * (token-tagged no-dup corpus → typed no_pairs, plan stands) legs
    * share one implementation — only the budget and the corpus
    * transform differ.
    *
    * The post-loop probe SKIPS when no reband committed (the r15
    * verdict's d8c cost item): the index is provably untouched —
    * `plan_after_bands/rows` re-read the committed plan from the
    * CATALOG at the post-loop version, so a loop that had silently
    * rebanded would surface as (4,4) against the oracle's (15,1) —
    * and re-paying the recall plan's full candidate bill to measure
    * an unchanged index proves nothing the catalog read doesn't.
    * When a reband DID commit, the second probe runs (d8b's
    * before/after contract is the demonstration). */
  private def retuneScenario(s: SparkSession, dir: String,
                             maxCandidatesPerPair: Double,
                             tagTokens: Boolean = false): DataFrame = {
    val docs0 = t(s, dir, "documents")
    val docs = if (tagTokens) tagTokensByDoc(docs0) else docs0
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val plan = graft.dedup.Banding.tune(0.1, maxK = 16) // (15, 1)
    // dir-hashed like every sibling persistent artifact (c6bart_/
    // e6probe_): two sf dirs in one session must not share a name;
    // the tagged no-dup corpus is a DIFFERENT corpus, so it gets its
    // own index name
    val name = (if (tagTokens) "d8dix_" else "d8bix_") +
      dir.hashCode.toHexString
    // build ONCE per (session, sf dir) — the ensure gate — then
    // RE-BAND to the committed recall plan each invocation: the
    // stored full-K signatures are plan-agnostic, so resetting the
    // index to its pre-retune state is the map-only reband the
    // lifecycle exists to demonstrate (no re-shingle, no corpus
    // text), and every invocation still starts from the identical
    // committed state (signatures are per-doc deterministic)
    if (TextDedup.currentBucketedVersion(s, name).isEmpty) {
      TextDedup.dropDedupIndexBucketed(s, name) // clear partial state
      TextDedup.writeDedupIndexBucketed(corpus, col("doc_id"),
        col("text"), name, buckets = 8)
    }
    TextDedup.rebandDedupIndexBucketed(s, name, plan.bands,
      plan.rowsPerBand, buckets = 8)
    val pairsBefore = TextDedup.minHashLshPairsAgainstBucketedIndex(
      s, name, batch, col("doc_id"), col("text"), 0.1).count()
    val (outcome, newV) = TextDedup.rebandToBudget(s, name, 0.1,
      Seq(("default", 4, 4), ("tuned", plan.bands, plan.rowsPerBand)),
      maxCandidatesPerPair, buckets = 8)
    val pairsAfter =
      if (newV.nonEmpty)
        TextDedup.minHashLshPairsAgainstBucketedIndex(
          s, name, batch, col("doc_id"), col("text"), 0.1).count()
      else pairsBefore // index untouched: the catalog plan read below
                       // is the no-reband proof, not a re-paid probe
    // the committed plan AT THE POST-LOOP VERSION, read from the
    // catalog — real engine state: had the loop rebanded when it must
    // not (or kept the plan when it must demote), these two columns
    // diverge from the oracle's replayed decision
    val vAfter = TextDedup.currentBucketedVersion(s, name).get
    val (afterB, afterR) = TextDedup.committedPlan(s, name, vAfter)
    val (outName, op) = outcome match {
      case graft.dedup.Banding.Chosen(o) => ("chosen", Some(o))
      case graft.dedup.Banding.NoPairs => ("no_pairs", None)
      case graft.dedup.Banding.OverBudget => ("over_budget", None)
    }
    import s.implicits._
    Seq((plan.bands, plan.rowsPerBand, outName,
      op.map(_.config), op.map(_.bands), op.map(_.rowsPerBand),
      newV.nonEmpty, afterB, afterR, pairsBefore, pairsAfter))
      .toDF("committed_bands", "committed_rows", "outcome",
        "chosen_config", "chosen_bands", "chosen_rows",
        "rebanded", "plan_after_bands", "plan_after_rows",
        "pairs_before", "pairs_after")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "d1_exact_dedup" -> ((s, dir) =>
      TextDedup.exactDupMetrics(t(s, dir, "documents"), col("text"))),

    "d2_ngram_jaccard" -> ((s, dir) =>
      TextDedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        minJaccard = 0.05)),

    "d2b_ngram_jaccard_capped" -> ((s, dir) =>
      // the 100 TB path: shingles with document frequency > cap are
      // dropped from CANDIDATE GENERATION (a viral phrase shared by m
      // docs otherwise makes m² join rows); survivors verified exact
      TextDedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        minJaccard = 0.05, maxDocFreq = Some(10))),

    "d14_containment" -> ((s, dir) => {
      // containment needs genuine fragment⊂whole relations: every 10th
      // doc emits a fragment twin (id + 1e6) holding its first 25
      // (lowercased) words — containment 1.0 by construction since a
      // prefix's 3-gram shingles are a subset of the doc's; natural
      // high-overlap near-dup pairs surface too
      val d = t(s, dir, "documents")
      val frags = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 25), " ")
            .as("text"))
      TextDedup.containmentPairs(
        d.select(col("doc_id"), col("text")).unionByName(frags),
        col("doc_id"), col("text"), minContainment = 0.9)
    }),

    "d3_minhash_lsh" -> ((s, dir) =>
      TextDedup.minHashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        minJaccard = 0.1)),

    "d3b_tuned_lsh" -> ((s, dir) => {
      // the banding tuner's OPERATING point next to its recall audit
      // (d16b): candidate volume (the 100 TB verify-join bill) and
      // verified-pair yield at Banding.tune's derived plan vs the
      // assumed (4,4), one row per config — both configs off a single
      // shingle+signature pass
      val plan = graft.dedup.Banding.tune(0.1, maxK = 16)
      TextDedup.lshOperatingReport(t(s, dir, "documents"),
        col("doc_id"), col("text"), minJaccard = 0.1,
        configs = Seq(
          ("default", TextDedup.Bands, TextDedup.RowsPerBand),
          ("tuned", plan.bands, plan.rowsPerBand)))
    }),

    "d4_simhash" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextDedup.simHashHex(col("text")).as("simhash"))),

    "d4b_simhash_pairs" -> ((s, dir) =>
      // fingerprint pairing: hamming <= 3 via 16-bit quarter banding
      // (any pair within hamming<=3 shares at least one of 4 quarters)
      TextDedup.simHashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        maxDist = 3)),

    "d5_embedding_dedup" -> ((s, dir) =>
      Knn.embeddingNearDupPairs(t(s, dir, "embeddings"), minSim = 0.4)),

    "c1_curate" -> ((s, dir) =>
      // the end-to-end curation chain: quality+lang gate -> exact
      // dedup -> MinHash near-dup apply; survivors only
      LlmCuration.run(t(s, dir, "documents"), col("doc_id"), col("text"),
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)),

    "c4_corpus_report" -> ((s, dir) =>
      // the per-source report card read before choosing mixture
      // weights: docs, languages, corpus-wide exact-dup membership,
      // token mass, mean quality/tokens
      LlmCuration.corpusReport(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("source"), col("lang"))),

    "c2_curate_decontam" -> ((s, dir) => {
      // the full corpus-prep chain with the eval firewall last: gate ->
      // exact dedup -> near-dup apply -> decontaminate vs the %25 eval
      // slice (whose members ride in docs and must drop themselves)
      val docs = t(s, dir, "documents")
      LlmCuration.runDecontaminated(docs, evalSlice(docs),
        col("doc_id"), col("text"),
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "c5_attrition_report" -> ((s, dir) => {
      // c2's chain as the per-stage ops log: rows in/out + drop
      // fraction per stage (gate, exact dedup, near-dup, decontam) —
      // the stages are run()'s own stage definitions, so report and
      // pipeline cannot drift
      val docs = t(s, dir, "documents")
      LlmCuration.attritionReport(docs, evalSlice(docs),
        col("doc_id"), col("text"),
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "c6_curate_selected" -> ((s, dir) => {
      // the full SELECTION pipeline (the production shape): rule gate
      // -> exact dedup -> near-dup -> TRAINED NB gate (t29's model,
      // margin >= 1 routed to 'en') -> DSIR select (x15b's Gumbel
      // top-100 toward src0/src1) -> decontaminate vs the %25 eval
      // slice, still last — eval membership wins over every retention
      // decision including the model's and the sampler's
      val docs = t(s, dir, "documents")
      LlmCuration.runSelected(docs, evalSlice(docs),
        labeledSplit(docs), dsirTarget(docs),
        col("doc_id"), col("text"), col("lang"),
        keepLabel = "en", minMargin = 1.0, k = 100,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "c7_selected_attrition" -> ((s, dir) => {
      // c6's chain as the per-stage ops log (c5's discipline extended
      // to the selection stages): model_gate eating 60% is a drifted
      // model or feed; dsir_select's n_out is k unless the pool fell
      // below it
      val docs = t(s, dir, "documents")
      LlmCuration.attritionReportSelected(docs, evalSlice(docs),
        labeledSplit(docs), dsirTarget(docs),
        col("doc_id"), col("text"), col("lang"),
        keepLabel = "en", minMargin = 1.0, k = 100,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "c6b_selected_serving" -> ((s, dir) => {
      // the STEADY-STATE leg of c6 (the e6/e6b split applied to the
      // selection pipeline): the NB model/priors and the DSIR
      // importance model are trained once per (session, sf dir) and
      // every later invocation only runs the serving stages — gate ->
      // dedup -> near-dup flag -> frozen model route -> frozen-model
      // Gumbel draw -> decontam. Output is identical to c6 by
      // construction (same stage definitions, artifacts trained on the
      // same c-family inputs — the draw replays bit-identically), so
      // both share one oracle; the bench number is the quotable
      // serving latency, c6 keeps timing the full train+select
      // lifecycle.
      val docs = t(s, dir, "documents")
      val a = ensureSelectionArtifacts(s, dir)
      LlmCuration.runSelectedServing(docs, evalSlice(docs),
        a.nbModel, a.nbPriors, a.dsirModel,
        col("doc_id"), col("text"),
        keepLabel = "en", minMargin = 1.0, k = 100,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "c7b_serving_attrition" -> ((s, dir) => {
      // c7's steady-state twin: the same per-stage ops log over the
      // frozen-artifact serving chain — rows identical to c7's by
      // construction (shared oracle), latency without the train
      val docs = t(s, dir, "documents")
      val a = ensureSelectionArtifacts(s, dir)
      LlmCuration.attritionReportServing(docs, evalSlice(docs),
        a.nbModel, a.nbPriors, a.dsirModel,
        col("doc_id"), col("text"),
        keepLabel = "en", minMargin = 1.0, k = 100,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "x13_stride_interleave" -> ((s, dir) => {
      // stride-scheduled training order: any prefix of the sorted
      // order holds each source near its corpus share (no accidental
      // source curriculum); entry emits epoch-1's first 120 slots via
      // the partition-less rn<=k bounded-heap path
      val ord = Sampling.strideInterleave(t(s, dir, "documents"),
        col("doc_id"), col("source"), epoch = 1)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("order_key"), col("stratum"), col("doc_id"))
      ord.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 120)
        .select(col("rnk"), col("doc_id"), col("stratum"),
          // §6 quantizer on the (p-0.5)/share quotient (Quantize
          // scaladoc)
          graft.functions.Quantize.qdp(col("order_key"), 6).as("okey"))
    }),

    "d9_cross_dedup" -> ((s, dir) => {
      // cross-DATASET overlap audit: near-dup pairs where one side is
      // dataset src0 and the other any different source — the "does my
      // eval set leak into the training mix" / "how much does corpus A
      // overlap corpus B" question. Same band-index join machinery as
      // d8 (sides never self-join), different membership predicate.
      val docs = t(s, dir, "documents")
      TextDedup.minHashLshPairsBetween(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        col("doc_id"), col("text"), minJaccard = 0.1)
    }),

    "d8_incremental_dedup" -> ((s, dir) => {
      // nightly-append shape: even ids play the existing corpus, odd
      // ids the incoming batch; batch bands join the corpus band index,
      // never each other
      val docs = t(s, dir, "documents")
      TextDedup.minHashLshPairsBetween(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), minJaccard = 0.1)
    }),

    "d8b_retune_maintain" -> ((s, dir) =>
      // the measured-retune MAINTENANCE leg of d8 as a driver row
      // (r14's spec-proved lifecycle, promoted to the oracle gate):
      // the nightly index over the even-id corpus is COMMITTED at the
      // tuned recall plan — the plan whose candidate bill grows
      // super-linearly with corpus size (measured here: 64 candidates
      // per verified pair at sf0.01, 555 at sf0.1, vs the default's
      // exact 1.0) — then rebandToBudget prices every config off the
      // STORED full-K signatures (zero corpus-text scans), chooses
      // under a candidates-per-pair budget of 10, and re-bands
      // map-only. The odd-id batch probe follows the committed plan
      // automatically; before/after pair counts are exact longs. One
      // deterministic row; every decision replays in the oracle from
      // the same counts.
      retuneScenario(s, dir, maxCandidatesPerPair = 10.0)),

    "d8c_retune_refuse" -> ((s, dir) =>
      // the REFUSE leg of the same loop, oracle-gated (the typed
      // Banding.Choice contract in the driver gate, not just specs):
      // an impossible budget (0.5 — the bill is >= 1 whenever any
      // pairs exist, since candidates contain the pairs) must read
      // over_budget, never silently ship a plan: the committed recall
      // plan stands and the probe pair count is unchanged
      // before/after by construction. Deterministic at any SF: pairs
      // exist -> over_budget; a hypothetical no-dup corpus ->
      // no_pairs — either way both engines compute the same row.
      retuneScenario(s, dir, maxCandidatesPerPair = 0.5)),

    "d8d_retune_nopairs" -> ((s, dir) =>
      // the NO-PAIRS leg of the same loop, oracle-gated (closing the
      // typed Banding.Choice triangle in the driver gate): over a
      // corpus with provably zero near-dups — every token suffixed
      // with its doc id, so cross-doc shingle sets are disjoint and
      // pairwise Jaccard is exactly 0 — every config yields zero
      // pairs, which must read the typed no_pairs outcome (nothing
      // to dedup; the committed recall plan STANDS), never the
      // over_budget alarm the +∞ candidates-per-pair bill would
      // spuriously raise. Same budget as d8b so the only variable
      // is the corpus.
      retuneScenario(s, dir, maxCandidatesPerPair = 10.0,
        tagTokens = true)),

    "d19_incremental_clusters" -> ((s, dir) => {
      // the O(batch) maintenance leg of d7 for the nightly-append
      // shape: stored components cover the existing (even-id) corpus;
      // the odd-id batch's pairs — d8's between-sides band join plus
      // the within-batch pairs — MERGE in via component contraction,
      // so the iterative propagation runs on the touched-clusters +
      // batch graph only, never the corpus. Per-doc banding is
      // deterministic, so within-even ∪ between ∪ within-odd is
      // exactly the full corpus's pair set — the result must equal a
      // one-shot d7, which is exactly what the (shared) oracle
      // recomputes.
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val stored = DupClusters.connectedComponents(
        TextDedup.minHashLshPairs(existing, col("doc_id"), col("text"),
          minJaccard = 0.1))
      val batchPairs = TextDedup.minHashLshPairsBetween(existing, batch,
          col("doc_id"), col("text"), minJaccard = 0.1)
        .select("doc_a", "doc_b")
        .unionByName(TextDedup.minHashLshPairs(batch, col("doc_id"),
          col("text"), minJaccard = 0.1).select("doc_a", "doc_b"))
      DupClusters.mergeComponents(stored, batchPairs)
    }),

    "t8_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionFeatures(t(s, dir, "documents"), col("text"))
        .select("doc_id", "dup_token_frac", "dup_2gram_frac", "dup_3gram_frac")),

    "t10_vocab" -> ((s, dir) =>
      // tokenizer-training input: corpus-wide top-50 token frequencies
      TextAnalysis.vocab(t(s, dir, "documents"), col("doc_id"), col("text"), 50)),

    "t15_bpe_pairs" -> ((s, dir) =>
      // BPE tokenizer training, merge round zero: corpus-wide adjacent
      // character-pair frequencies (counted over the distinct word list
      // weighted by word frequency), top-20 merge candidates
      TextAnalysis.bpePairStats(t(s, dir, "documents"), col("text"), 20)),

    "t15b_bpe_rounds" -> ((s, dir) =>
      // the actual training LOOP t15 is round zero of: three full
      // Sennrich iterations of count-pairs -> pick-top -> merge-apply
      // over the weighted distinct-word list; output is the merge
      // table a tokenizer ships. The oracle unrolls all three rounds
      // in SQL with its own replace-based merge application.
      TextAnalysis.bpeTrain(t(s, dir, "documents"), col("text"), rounds = 3)),

    "t9_chunking" -> ((s, dir) =>
      // context-window chunking: 40-token chunks, 8-token overlap;
      // summarized per doc so the output stays compact (the chunk rows
      // themselves are the operator's product)
      Packing.chunk(t(s, dir, "documents"), col("doc_id"), col("text"),
          chunkSize = 40, overlap = 8)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chunk_tokens")).as("sum_chunk_tokens"),
          max(length(col("chunk_text"))).cast("long").as("max_chunk_chars"))),

    "d7_dup_clusters" -> ((s, dir) =>
      // transitive resolution: connected components over the near-dup
      // pair graph, cluster_id = component-min doc_id
      DupClusters.connectedComponents(
        TextDedup.minHashLshPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), minJaccard = 0.1))),

    "d16_lsh_recall" -> ((s, dir) =>
      // the dedup family's e12: banding recall vs the exhaustive exact
      // pair set at the same threshold, one audit row
      TextDedup.lshRecallAudit(t(s, dir, "documents"),
        col("doc_id"), col("text"), minJaccard = 0.1)),

    "d16b_tuned_recall" -> ((s, dir) => {
      // d16 at Banding.tune's DERIVED parameters instead of the
      // assumed (4,4) — the tuner's operating point published as an
      // oracled audit row (same K=16 signature budget; at t=0.1 the
      // tuner picks single-row recall banding)
      val plan = graft.dedup.Banding.tune(0.1, maxK = 16)
      TextDedup.lshRecallAudit(t(s, dir, "documents"),
        col("doc_id"), col("text"), minJaccard = 0.1,
        bands = plan.bands, rowsPerBand = plan.rowsPerBand)
    }),

    "d15_dup_stats" -> ((s, dir) =>
      // the duplication profile read before choosing drop vs
      // downweight: cluster-size histogram over d7's components
      DupClusters.clusterSizeHistogram(DupClusters.connectedComponents(
        TextDedup.minHashLshPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), minJaccard = 0.1)))),

    "x11_dedup_weights" -> ((s, dir) =>
      // soft dedup: weight 1/|cluster| per doc (singletons 1.0) — each
      // near-dup cluster contributes one doc's worth of training mass
      DupClusters.dedupWeights(t(s, dir, "documents"), "doc_id",
        DupClusters.connectedComponents(
          TextDedup.minHashLshPairs(t(s, dir, "documents"),
            col("doc_id"), col("text"), minJaccard = 0.1)))),

    "d18_best_keeper" -> ((s, dir) => {
      // keep the BEST copy, not the lowest id: per d7 cluster, the
      // keeper maximizes (n_chars, then lowest id) — winner-per-key
      // max_by, no per-cluster sort
      val docs = t(s, dir, "documents")
      DupClusters.bestKeepers(
        DupClusters.connectedComponents(TextDedup.minHashLshPairs(docs,
          col("doc_id"), col("text"), minJaccard = 0.1)),
        docs, col("doc_id"), col("n_chars"))
    }),

    "t6_decontam" -> ((s, dir) => {
      // benchmark decontamination: every 25th doc plays the eval set;
      // training docs sharing any word 5-gram with it are flagged
      val docs = t(s, dir, "documents")
      Decontaminate.contaminatedDocs(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0),
        col("doc_id"), col("text"), n = 5)
    }),

    "t6b_decontam_bloom" -> ((s, dir) => {
      // t6's contract, bloom-pre-filtered plan — the large-eval-corpus
      // path (see Decontaminate.bloomContaminatedDocs). Output is
      // bit-identical to t6: the exact verify join kills bloom false
      // positives, so the two share one oracle.
      val docs = t(s, dir, "documents")
      Decontaminate.bloomContaminatedDocs(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0),
        col("doc_id"), col("text"), n = 5)
    }),

    "t18_contam_frac" -> ((s, dir) => {
      // graded contamination: per-doc fraction of 5-gram shingles seen
      // in the eval set — t6's flag with a severity dial
      val docs = t(s, dir, "documents")
      Decontaminate.overlapFractions(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0),
        col("doc_id"), col("text"), n = 5)
    }),

    "t22_eval_leakage" -> ((s, dir) => {
      // the reverse of t6/t18: per EVAL doc, how many distinct train
      // docs share any 5-gram with it and how many distinct 5-grams —
      // the benchmark owner's is-my-item-dead report. The synthetic
      // corpus has almost no natural cross-doc 5-gram overlap, so
      // every 7th doc carries an injected viral phrase: eval docs
      // divisible by 7 must report the ~60 train docs carrying it
      val docs = t(s, dir, "documents").withColumn("text2",
        concat(col("text"), when(col("doc_id") % 7 === 0,
          lit(" the quick brown fox jumps over the lazy dog today"))
          .otherwise(lit(""))))
      Decontaminate.evalLeakage(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0),
        col("doc_id"), col("doc_id"), col("text2"), n = 5)
    }),

    "t24_sentence_stats" -> ((s, dir) => {
      // the corpus has no sentence punctuation, so build a 3-4
      // sentence doc deterministically (%3 adds a long question)
      val d = t(s, dir, "documents").withColumn("text2", concat_ws(" ",
        concat(substring(col("text"), 1, 60), lit(".")),
        lit("Short one!"),
        when(col("doc_id") % 3 === 0,
          lit("A much longer sentence with quite a few words in it?")),
        lit("End.")))
      TextAnalysis.sentenceStats(d, col("doc_id"), col("text2"))
    }),

    "t25_readability" -> ((s, dir) => {
      // LIX readability over t24's injected sentences (the raw corpus
      // has no punctuation, so every doc would be one "sentence")
      val d = t(s, dir, "documents").withColumn("text2", concat_ws(" ",
        concat(substring(col("text"), 1, 60), lit(".")),
        lit("Short one!"),
        when(col("doc_id") % 3 === 0,
          lit("A much longer sentence with quite a few words in it?")),
        lit("End.")))
      TextAnalysis.readability(d, col("doc_id"), col("text2"))
    }),

    "t23_script_mix" -> ((s, dir) => {
      // the corpus is pure ASCII, so inject deterministic script mixes
      // incl. two Latin/Cyrillic homoglyph words — the spoof signal
      val d = t(s, dir, "documents").withColumn("text2", concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" привет мир"))
        .when(col("doc_id") % 6 === 1, lit(" γεια σας κόσμε"))
        .when(col("doc_id") % 6 === 2, lit(" 你好世界"))
        .when(col("doc_id") % 6 === 3, lit(" pаypal miхed"))
        .otherwise(lit(""))))
      TextAnalysis.scriptMixAudit(d, col("doc_id"), col("text2"))
    }),

    "x8_time_split" -> ((s, dir) =>
      // temporal holdout over the event log: last 10% of the time span
      // held out — the anti-leakage split a hash split can't give
      Sampling.temporalSplit(Tables.loadEvents(s, dir), col("ts"),
        col("user_id"), trainFrac = 0.9)),

    "t7_token_pack" -> ((s, dir) =>
      // training-shard packing: docs -> token-budget bins inside 8
      // deterministic hash buckets; output = per-bin fill stats
      Packing.binStats(Packing.packIntoBins(
        TextAnalysis.tokenCounts(t(s, dir, "documents"), col("text")),
        col("doc_id"), col("bpe_tokens"), budget = 2000L, buckets = 8))),

    "x3_upsample" -> ((s, dir) => {
      // mixture upsampling: 1.5 epochs of every source — whole copy
      // for all, one extra for the hash-selected half of doc_ids
      val up = Sampling.upsample(t(s, dir, "documents"), col("doc_id"), 1.5)
      up.groupBy("source").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"))
    }),

    "x1_hash_split" -> ((s, dir) =>
      Sampling.withSplit(t(s, dir, "documents"), col("doc_id"))
        .groupBy("split").agg(count(lit(1)).as("n_docs"))),

    "x9_group_split" -> ((s, dir) =>
      // leakage-safe GROUPED split: the hash key is the GROUP (source),
      // so every doc of a group lands in ONE split — near-dup content
      // within a source can never straddle train/test, the hole x1's
      // per-doc keying leaves open (same map-only hash, different key)
      Sampling.withSplit(t(s, dir, "documents"), col("source"),
          trainPct = 80, valPct = 10)
        .groupBy("split")
        .agg(countDistinct(col("source")).as("n_groups"),
          count(lit(1)).as("n_docs"))),

    "x20_shard_manifest" -> ((s, dir) =>
      // the reproducible-handoff artifact: per shard, doc count,
      // token mass, and an order-sensitive content hash (md5 of the
      // in-epoch-order per-doc md5s) — a re-run diffs this to PROVE
      // it reads byte-identical data; any add/drop/edit/reorder flips
      // exactly one shard's hash
      Packing.shardManifest(t(s, dir, "documents"),
        col("doc_id"), col("text"), nShards = 8, epoch = 0)),

    "x19_dedup_split" -> ((s, dir) => {
      // the leakage-FREE split x9+x14 promise, proven end-to-end on
      // real clusters: near-dup components (d7) become the split key,
      // so no near-dup pair can straddle train/test — per split, doc
      // and group counts plus the count of pairs landing fully inside
      // it (Σ n_intra_pairs = all pairs, structurally)
      val docs = t(s, dir, "documents")
      val pairs = graft.Caching.persisted(
        TextDedup.minHashLshPairs(docs, col("doc_id"), col("text"),
          minJaccard = 0.1))
      // persisted: the assignment subtree (corpus scan + the iterative
      // CC join) feeds the split counts AND both sides of the leakage
      // audit — three branch reads otherwise
      val assign = graft.Caching.persisted(
        Sampling.dedupSplit(docs, col("doc_id"),
          DupClusters.connectedComponents(pairs)))
      val counts = assign.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"))
      val intra = Sampling.splitLeakageAudit(pairs, assign)
        .filter(!col("leaked"))
        .select(col("split_lo").as("split"),
          col("n_pairs").as("n_intra_pairs"))
      counts.join(intra, Seq("split"), "left")
        .na.fill(0L, Seq("n_intra_pairs"))
    }),

    "x10_epoch_shuffle" -> ((s, dir) => {
      // per-epoch deterministic shard shuffle: each epoch is a
      // different reproducible permutation (md5(epoch:key)), no
      // rand() anywhere; the entry emits each epoch's first 5 docs —
      // ranked via the rn<=k bounded-heap path, not a global sort
      val d = t(s, dir, "documents")
      val epochs = Seq(0, 1, 2).map { e =>
        d.select(lit(e).as("epoch"), col("doc_id"),
          Sampling.epochOrderKey(col("doc_id"), e).as("ek"))
      }.reduce(_ unionAll _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("epoch").orderBy(col("ek"), col("doc_id"))
      epochs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("epoch"), col("rn").as("rank"), col("doc_id"))
    }),

    "t11_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"),
        col("doc_id"), col("text"))
        .select("doc_id", "token_entropy")),

    "t12_tfidf" -> ((s, dir) =>
      // per-doc most-distinctive term by corpus TF-IDF (topic tagging /
      // cluster labeling signal); idf from the corpus itself, argmax
      // via partial-aggregating min_by — no windows anywhere
      TextAnalysis.tfIdfTopTerm(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "t13_surprisal" -> ((s, dir) =>
      // corpus-unigram LM quality proxy (CCNet-lineage perplexity
      // filter, cheapest form): mean per-token surprisal under the
      // corpus distribution — complements t11 (intra-doc entropy)
      // with a cross-doc probability model
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "t26_ppl_buckets" -> ((s, dir) =>
      // the CCNet carve: head/middle/tail terciles under the t13
      // surprisal model — per bucket docs, token mass, surprisal range
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "t31_source_drift" -> ((s, dir) =>
      // the per-feed distribution monitor: KL (bits) of each source's
      // hashed-unigram distribution from the REST of the corpus
      // (leave-one-out baseline) on DSIR's fixed 4096-bucket grid —
      // "did the crawler start pulling different text" as one number
      // per feed per ingest cycle
      TextAnalysis.sourceDrift(t(s, dir, "documents"), col("text"),
        col("source"))),

    "t30_interp_lm" -> ((s, dir) =>
      // t16 smoothed with t13 (Jelinek-Mercer interpolation): the
      // unigram floor keeps singleton contexts from scoring their
      // only continuation as certainty — the word-salad filter's
      // rare-context failure mode fixed
      TextAnalysis.interpolatedSurprisal(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "t16_bigram_lm" -> ((s, dir) =>
      // conditional-LM quality proxy: per-doc mean bigram surprisal
      // -log2 P(w2|w1) under the corpus bigram model — catches "word
      // salad" (plausible tokens, implausible order) that t13's
      // unigram stats miss
      TextAnalysis.bigramSurprisal(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "t10b_heavy_hitters" -> ((s, dir) =>
      // t10's bounded-state sketch leg: Misra-Gries summary (k
      // counters per mapper, k rows shipped) joined against exact
      // counts — no oracle (summary content is merge-order-dependent);
      // the rows carry the deterministic MG bound as evidence
      // (within_bound must be universally true)
      TextAnalysis.heavyHitters(t(s, dir, "documents"), col("text"), k = 16)),

    "t14_quality_bins" -> ((s, dir) =>
      // curriculum carving: decile bins over the t2 quality score —
      // exact-percentile boundaries broadcast one-row, map-only bin
      // assignment, one keyed count (approx_percentile is the 100 TB
      // swap for the boundary pass)
      TextAnalysis.quantileBins(
        TextAnalysis.qualityFeatures(t(s, dir, "documents"), col("text"))
          .select(col("quality_score")),
        col("quality_score"), nBins = 10)),

    "x6_dense_ids" -> ((s, dir) =>
      // contiguous example ids in a deterministic total order — range
      // shuffle + local sort + two-pass zipWithIndex, NEVER a
      // partition-less row_number window (which funnels the corpus
      // through one task)
      operators.Layout.denseIds(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        md5(col("text")), col("doc_id"))
        .select("doc_id", "dense_id")),

    "x5_exact_k_sample" -> ((s, dir) =>
      // exactly-k-per-stratum eval carving: k-minwise hash sample via
      // the bounded-heap aggregate (partial-aggregating, vs the naive
      // full-shuffle row_number window)
      Sampling.exactKPerStratum(t(s, dir, "documents"),
        col("source"), col("doc_id"), k = 7)),

    "x4_zorder" -> ((s, dir) => {
      // Morton z-value over (l_partkey, l_suppkey) — the layout key
      // operators.Layout.clusterByZ range-shuffles on for multi-dim
      // file skipping. Checked as per-z-range stats: each top-6-bit
      // bucket's count/min/max pins the whole codegen'd interleave
      val z = operators.Layout.zValue(
        Seq(col("l_partkey"), col("l_suppkey")), bitsPer = 16)
      t(s, dir, "lineitem").select(z.as("z"))
        .groupBy(shiftright(col("z"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"), min("z").as("zmin"), max("z").as("zmax"))
    }),

    "x2_stratified_sample" -> ((s, dir) => {
      // data mixing: keep 50% of src0/src1, 20% of everything else —
      // deterministic, so before/after counts are oracle-checkable
      val docs = t(s, dir, "documents")
      val sampled = Sampling.stratifiedSample(docs, col("doc_id"), col("source"),
        Map("src0" -> 0.5, "src1" -> 0.5), default = 0.2)
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(sampled.groupBy("source").agg(count(lit(1)).as("n_sampled")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_sampled"))
    }),

    "x7_data_mix" -> ((s, dir) => {
      // full mixture recipe in one map-only pass: 2.25 epochs of src0,
      // half of src1, everything else once — the down-sample and
      // up-sample legs of a data-mixing config without a union
      val mixed = Sampling.mix(t(s, dir, "documents"), col("doc_id"),
        col("source"), Map("src0" -> 2.25, "src1" -> 0.5), default = 1.0)
      mixed.groupBy("source").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_rows"))
    }),

    "x14_split_leakage" -> ((s, dir) => {
      // the audit x9 exists to zero out: near-dup pairs straddling a
      // per-doc hash split are memorization leaks — count them per
      // unordered split combination
      val docs = t(s, dir, "documents")
      Sampling.splitLeakageAudit(
        TextDedup.minHashLshPairs(docs, col("doc_id"), col("text"),
          minJaccard = 0.1),
        Sampling.withSplit(docs.select("doc_id"), col("doc_id"),
          trainPct = 80, valPct = 10))
    }),

    "x12_temperature_mix" -> ((s, dir) =>
      // multilingual mixture smoothing: each language's p^0.5 share
      // renormalized — the boost column is x7's per-stratum weight
      Sampling.temperatureWeights(t(s, dir, "documents"), col("lang"),
          alpha = 0.5)
        .withColumnRenamed("stratum", "lang")),

    "x21_budget_mix" -> ((s, dir) => epochBudgetMix(s, dir)),

    "x22_token_budget_report" -> ((s, dir) => {
      // x21 × t32: the epoch allocation re-priced in REAL tokenizer
      // tokens. x21 allocates on regex-proxy token capacities; t32
      // measured each source's trained-BPE cost — this one-join report
      // shows what each source's allocation actually buys (eff_bpe =
      // allocation · bpe/regex-token) and how fertility skews the
      // realized mix (alloc_share vs eff_share). Sources-sized frame
      // end to end; shares are exact-decimal-sum quotients under the
      // §6 quantizer.
      val qdp6 = (c: org.apache.spark.sql.Column) =>
        graft.functions.Quantize.qdp(c, 6)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val mix = epochBudgetMix(s, dir)
        .select(col("stratum").as("source"), col("capacity"),
          col("capped"), col("allocation"))
      val fert = bpeFertility(s, dir)
        .select(col("source"), col("n_bpe_tokens"), col("chars_per_token"))
      mix.join(fert, "source")
        // a zero-capacity source has no per-token price (and 0/0 is
        // NaN, not a number a report should ship) — x21's
        // null-sample_rate convention
        .withColumn("bpe_per_token", when(col("capacity") === 0, lit(null))
          .otherwise(qdp6(
            col("n_bpe_tokens").cast("double") / col("capacity").cast("double"))))
        // written order pinned: (allocation · n_bpe) / capacity
        .withColumn("eff_bpe_tokens", when(col("capacity") === 0, lit(0.0))
          .otherwise(qdp6(
            (col("allocation") * col("n_bpe_tokens").cast("double")) /
              col("capacity").cast("double"))))
        .withColumn("alloc_share", qdp6(
          col("allocation") /
            sum(col("allocation").cast("decimal(28,6)")).over(wAll)
              .cast("double")))
        .withColumn("eff_share", qdp6(
          col("eff_bpe_tokens") /
            sum(col("eff_bpe_tokens").cast("decimal(28,6)")).over(wAll)
              .cast("double")))
        .select("source", "capacity", "capped", "allocation",
          "chars_per_token", "bpe_per_token", "eff_bpe_tokens",
          "alloc_share", "eff_share")
    }),

    "x15_dsir_weights" -> ((s, dir) => {
      // DSIR (Xie et al. 2023): per-raw-doc target-likeness as the
      // log-ratio of two hashed-unigram add-one LMs — target = the
      // src0/src1 'curated domain', raw = the other 18 sources;
      // scoring is map-only against the broadcast 4096-bucket model
      val d = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      Dsir.importanceWeights(d.filter(isTgt), d.filter(!isTgt),
        col("doc_id"), col("text"))
    }),

    "x15b_dsir_resample" -> ((s, dir) => {
      // x15's weights drawn as a without-replacement sample ∝ exp(w):
      // deterministic Gumbel top-100 riding the bounded-heap rewrite
      val d = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      Dsir.resample(d.filter(isTgt), d.filter(!isTgt),
        col("doc_id"), col("text"), k = 100)
    }),

    "x15c_dsir_bigram" -> ((s, dir) => {
      // x15 with the paper's full hashed feature set (unigrams ∪
      // bigrams, Xie et al. 2023 §3): richer target signal at the
      // same FIXED 4096-bucket model size — the hashing trick is
      // exactly what makes n-gram features free at scale
      val d = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      Dsir.importanceWeights(d.filter(isTgt), d.filter(!isTgt),
        col("doc_id"), col("text"), ngrams = 2)
    }),

    "x16_cluster_sample" -> ((s, dir) => {
      // semantic-diversity carving: k-means the embedding space (e4's
      // fit), assign every vector to its centroid (broadcast-constant
      // map-only), draw exactly 5 per cluster via the k-minwise
      // bounded heap — a balanced eval set no dense region can swamp
      val v = t(s, dir, "embeddings")
      Sampling.exactKPerStratum(
          KMeans.assign(v, KMeans.lloyd(v, k = 8, iters = 2)),
          col("cent_id"), col("vec_id"), k = 5)
        .select(col("stratum").as("cluster_id"), col("kept_id"))
    }),

    "e4_kmeans" -> ((s, dir) =>
      KMeans.lloyd(t(s, dir, "embeddings"), k = 8, iters = 2)),

    "d12_fuzzy_join" -> ((s, dir) => {
      // record linkage: each "dirty" key (one md5-chosen character
      // deleted from a 24-char doc-text prefix) links back to every
      // clean key within edit distance 1 — PassJoin segment blocking,
      // never an all-pairs stage; the fuzzy counterpart of the exact
      // MERGE key match
      import graft.operators.FuzzyJoin
      val clean = t(s, dir, "documents").select(col("doc_id"),
        lower(col("text")).substr(lit(1), lit(24)).as("name"))
      val pos = (graft.functions.Hashing.h32(col("doc_id").cast("string"))
        % length(col("name"))).cast("int") + 1
      val dirty = clean.select(col("doc_id").as("d_key"),
        concat(col("name").substr(lit(1), pos - 1),
          col("name").substr(pos + 1, lit(64))).as("d_name"))
      FuzzyJoin.byEditDistance(dirty, col("d_key"), col("d_name"),
        clean, col("doc_id"), col("name"), k = 1)
    }),

    "d11_verbatim_overlap" -> ((s, dir) =>
      // exact-substring (verbatim memorization) overlap: docs sharing
      // any sampled 40-char window, scored by shared-window count —
      // the Lee et al. 2021 exact-substring dedup flavor, sampled
      // (window + stride explode) instead of suffix-arrayed; df cap
      // keeps one boilerplate header from going quadratic
      TextDedup.verbatimOverlapPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "d11b_overlap_scrub" -> ((s, dir) =>
      // d11's APPLY leg (the d6-to-d3 relationship, for substrings):
      // Lee et al. 2021's pipeline output — every later occurrence of
      // a duplicated sampled span cut out under keep-first, overlapping
      // strided windows merged to maximal intervals, text rebuilt from
      // the gaps; one row per doc with the chars-removed count
      TextDedup.verbatimScrub(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    "d10_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): k-means clusters the embedding
      // space (e4's trainer), near-dups are sought only WITHIN a
      // cluster — candidate cost bounded by cluster occupancy, the
      // cluster count being the knob that scales with the corpus; the
      // published semantic-level complement to d5's sign-LSH blocking
      val v = t(s, dir, "embeddings")
      Knn.semanticDedupPairs(v, KMeans.lloyd(v, k = 8, iters = 2),
        minSim = 0.4)
    }),

    "d6_dedup_apply" -> ((s, dir) => {
      // apply the dedup: drop the higher id of every near-dup pair
      // (greedy keep-first); left_anti on the drop set — one keyed
      // shuffle over the corpus, standard curation-pipeline shape
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.minHashLshPairs(docs, col("doc_id"), col("text"),
        minJaccard = 0.1)
      docs.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),

    "d17_cross_dedup_apply" -> ((s, dir) => {
      // the APPLY leg of d9's audit: the incoming (non-src0) corpus
      // minus every doc near-dup to the kept src0 reference — the
      // dedup-new-crawl-against-kept-corpus move; src0 never filters
      val docs = t(s, dir, "documents")
      TextDedup.crossDedupApply(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"),
        "doc_id", col("text"), minJaccard = 0.1)
        .select("doc_id", "source")
    }),

    "e1_knn_brute" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Knn.bruteForceTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e14_mmr" -> ((s, dir) => {
      // embedding-space diversity: greedy MMR re-rank of the brute
      // top-10 pool to 3 slots at λ=0.7
      val v = t(s, dir, "embeddings")
      Knn.mmrTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10),
        k = 3, poolSize = 10, lambda = 0.7)
    }),

    "e19_index_stats" -> ((s, dir) => {
      // cell-occupancy report over the shared persisted index (the
      // g30-for-ANN planning input: skew/empty cells decide nProbe
      // and retrain cadence); nCentroids-sized output, the count
      // rides the bucketed assign member
      val emb = t(s, dir, "embeddings")
      val aname = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, emb, aname)
      AnnIndex.stats(s, aname)
    }),

    "e19b_index_fit" -> ((s, dir) => {
      // the FIT half of the retrain signal: per occupied cell, exact-
      // decimal mean cosine of each stored vector to its assigned
      // centroid — decaying fit under frozen-quantizer MERGEs is the
      // silent ADC-quality leak this report surfaces
      val emb = t(s, dir, "embeddings")
      val aname = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, emb, aname)
      AnnIndex.fit(s, aname)
    }),

    "t27_pack_report" -> ((s, dir) =>
      // packing-efficiency report over t7's bins: the one-row summary
      // a pipeline checks before committing a token budget (fill rate
      // IS training throughput)
      Packing.packReport(
        TextAnalysis.tokenCounts(t(s, dir, "documents"), col("text")),
        col("doc_id"), col("bpe_tokens"), budget = 2000L, buckets = 8)),

    "e14b_mmr_indexed" -> ((s, dir) => {
      // the e9b move for MMR (closing e14's documented brute-leg
      // exemption): the candidate pool is the PERSISTED IVF-PQ index's
      // steady-state probe (e6b's index, shared per (session, sf dir)),
      // greedily re-ranked by Knn.mmrRerank over the |Q|×pool frame;
      // the only corpus touch outside the probe is the broadcast-pool
      // embedding fetch (e17's shape) — nothing corpus-sized shuffles
      val emb = t(s, dir, "embeddings")
      val aname = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, emb, aname)
      Knn.mmrRerank(
        AnnIndex.topK(s, aname, emb.filter(col("vec_id") < 10), k = 10),
        emb, k = 3, lambda = 0.7)
    }),

    "e11_filtered_knn" -> ((s, dir) => {
      // metadata-filtered vector search: each query's neighbors are
      // drawn ONLY from corpus vectors with the query's own label —
      // the filter rides candidate generation as the join key, so a
      // post-hoc-filtered top-k can never underfill
      val v = t(s, dir, "embeddings")
      Knn.filteredTopK(v.filter(col("vec_id") < 10),
        v.filter(col("vec_id") >= 10), Seq("label"), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e2_knn_lsh" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Knn.lshTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e16_knn_graph" -> ((s, dir) =>
      // the corpus's own neighborhood structure: per-vector top-3
      // adjacency list over ALL embeddings, self excluded — one LSH
      // signature pass, self equi-join candidate gen. planes
      // AUTO-SIZE from the corpus count (Knn.derivePlanes — bucket
      // occupancy stays ~32 as the corpus grows; the oracle derives
      // the same integer). Since r15 the shipped default is the
      // GUARDED form: one partial-aggregated occupancy count over
      // the (persisted, reused) signature frame decides LSH vs the
      // IVF-cell route before any quadratic stage is planned. The
      // testdata corpus sits 4x under the budget at both SFs
      // (max occupancy 63 vs 256 — e16b is the oracled decision
      // surface), so this path is byte-identical to knnGraph and the
      // oracle is unchanged; the measured routing behavior lives in
      // SCALING.md r15 (x10/x20 duplicate-heavy corpora route,
      // 16.1 s -> 4.2 s at x20)
      Knn.knnGraphGuarded(t(s, dir, "embeddings"), k = 3)
        .withColumnRenamed("rank", "rnk")),

    "e18_knn_graph_ivf" -> ((s, dir) =>
      // e16's bounded alternative for densities that defeat any
      // hyperplane count: one centroid-assignment pass, top-3 within
      // each vector's own IVF cell
      Knn.knnGraphIvf(t(s, dir, "embeddings"), k = 3)
        .withColumnRenamed("rank", "rnk")),

    "e16b_graph_occupancy" -> ((s, dir) =>
      // the e16 guard's measured decision surface as an oracled row
      // (the d3b move applied to the graph): auto-sized planes, one
      // partial-aggregated occupancy pass over the banded signature
      // frame, the exact within-bucket candidate bill Σ occ·(occ−1),
      // and the routing flag at the default budget (8× the occupancy
      // target) — what knnGraphGuarded reads before deciding LSH vs
      // IVF cells
      Knn.graphOccupancyReport(t(s, dir, "embeddings"))),

    "e16c_graph_route" -> ((s, dir) => {
      // the guard's ROUTE action under the driver gate (r15 verdict:
      // e16b's over_budget is false by construction on the driver
      // corpora, so the routing decision itself was spec/SCALING-
      // proved only): a duplicate-heavy corpus — the full embedding
      // set plus ONE hot vector replicated 300× (identical vectors
      // share every LSH signature at ANY plane count, so its bucket
      // holds ≥ 301 > the 256 default budget at both SFs) — must
      // read over_budget=true AND the guarded build must ship the
      // IVF-cell route: the oracle replays the occupancy surface and
      // the routed IVF graph, so an engine that silently built the
      // LSH graph anyway would hash-mismatch on every row. C is
      // PINNED at 16 (the knnGraphAt move: deriveGraphCentroids'
      // √n sizing is plan-sizing the oracle never replays — the
      // pinned form keeps the routed RESULT engine-reproducible).
      // (vec_id 0 existing is the same TESTDATA-shape premise every
      // e-family entry already stands on — e1/e2/e7 carve queries
      // out as vec_id < 10)
      val dup = dupHeavyCorpus(t(s, dir, "embeddings"))
      // ONE measurement pass serves both the route decision and the
      // published decision surface (knnGraphGuardedWithReport) — the
      // report is not recomputed
      val (routed, report) =
        Knn.knnGraphGuardedWithReport(dup, k = 3, nCentroids = Some(16))
      routed.withColumnRenamed("rank", "rnk").crossJoin(broadcast(
        report.select(col("planes"), col("max_occupancy"),
          col("over_budget"))))
    }),

    "e16d_graph_ledger" -> ((s, dir) => {
      // the LEDGER's at-most-once contract under the driver gate (the
      // r16 deferred candidate): a ledgered build on e16c's dup corpus
      // at a fixed runId records ONE decision row, and a RETRY of the
      // same runId replays the recorded route without re-measuring.
      // The output is the retry's graph cross-joined with the decision
      // row read back from the ledger on disk — an engine that wrote
      // two rows for the runId doubles every output row (rows gate), a
      // retry that re-measured and shipped LSH mismatches the graph, a
      // recorded decision drifting from the occupancy math mismatches
      // the ledger columns (the oracle DERIVES action from the
      // replayed occupancy surface). Ledger path: tmpdir, dir-hashed
      // like every sibling persistent artifact, pid-discriminated
      // (Verify/Bench may run concurrently from separate JVMs), and
      // VERSIONED by the v1 literal so a future change to the dup
      // construction cannot replay a stale row. C pinned at 16 =
      // e16c's engine-reproducible routed form.
      val dup = dupHeavyCorpus(t(s, dir, "embeddings"))
      val ledgerDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_e16d_v1_" +
          dir.hashCode.toHexString + "_" +
          ProcessHandle.current().pid().toHexString
      def build() = Knn.knnGraphLedgered(dup, k = 3, ledgerDir,
        runId = "e16d", nCentroids = Some(16))
      build() // first attempt: measure, record the decision, route
      val replay = build() // retry: MUST replay the recorded route
      val ledger = graft.sources.SnapshotStore.read(s, ledgerDir).get
        .filter(col("run_id") === "e16d")
      replay.withColumnRenamed("rank", "rnk").crossJoin(broadcast(
        ledger.select(col("run_id"), col("n_vectors"), col("planes"),
          col("tables"), col("max_occupancy"), col("budget"),
          col("action"), col("n_centroids"))))
    }),

    "e7_range_search" -> ((s, dir) => {
      // radius search: ALL neighbors with cosine >= 0.2 per query (not
      // top-k — the answer size is data-dependent); LSH-bucketed
      // candidate gen + exact-cosine verify, same recall math as e2
      val v = t(s, dir, "embeddings")
      Knn.lshRangeSearch(v.filter(col("vec_id") < 10),
        v.filter(col("vec_id") >= 10), minSim = 0.2)
    }),

    "e3_knn_ivf" -> ((s, dir) => {
      val v = t(s, dir, "embeddings")
      Knn.ivfTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e3b_knn_ivf_trained" -> ((s, dir) => {
      // the production IVF shape: k-means trains the coarse quantizer,
      // the search probes it (verdict-r2 ask — e4 wired into e3)
      val v = t(s, dir, "embeddings")
      val corpus = v.filter(col("vec_id") >= 10)
      Knn.ivfTopK(v.filter(col("vec_id") < 10), corpus, k = 5,
        centroids = KMeans.lloyd(corpus, k = 8, iters = 2), nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    "e5_knn_ivfpq" -> ((s, dir) => {
      // the compressed-domain scale path: IVF coarse pruning + product-
      // quantization ADC scoring over m-byte codes + exact re-rank of a
      // bounded shortlist — full vectors never ship through the scoring
      // join (see graft.ann.Pq)
      val v = t(s, dir, "embeddings")
      Pq.ivfPqTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10),
        k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e5b_knn_ivfpq_trained" -> ((s, dir) => {
      // the full production ANN composition: k-means coarse quantizer
      // (e4) + PQ compressed-domain scoring (e5) + exact re-rank
      val v = t(s, dir, "embeddings")
      val corpus = v.filter(col("vec_id") >= 10)
      Pq.ivfPqTopK(v.filter(col("vec_id") < 10), corpus, k = 5,
        centroids = KMeans.lloyd(corpus, k = 8, iters = 2), nProbe = 2,
        m = 4, nCodes = 16, shortlist = 100, dim = 64)
        .withColumnRenamed("rank", "rnk")
    }),

    "e10_knn_sq8" -> ((s, dir) => {
      // the training-free compression rung: per-dim scalar quantization
      // (corpus min/max bounds only), codes-only approximate scoring,
      // exact re-rank — PQ's simpler sibling (see graft.ann.Sq)
      val v = t(s, dir, "embeddings")
      Sq.sqTopK(v.filter(col("vec_id") < 10), v.filter(col("vec_id") >= 10),
        k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e11b_filtered_ann" -> ((s, dir) => {
      // e11's persisted twin: the ANN index written WITH the metadata
      // member (metaCols), a batch MERGEd in (meta stays current),
      // then a FILTERED probe — the label equality lands on the
      // candidate set before ADC, so the top-k never underfills by
      // post-filtering. Self-contained lifecycle, the e6 pattern.
      val v = t(s, dir, "embeddings")
      AnnIndex.drop(s, "e11ix")
      AnnIndex.write(v.filter(col("vec_id") >= 110), "e11ix", buckets = 8,
        metaCols = Seq("label"))
      AnnIndex.update(v.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        "e11ix", buckets = 8)
      AnnIndex.topKFiltered(s, "e11ix", v.filter(col("vec_id") < 10),
        Seq("label"), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e6_ann_index" -> ((s, dir) => {
      // the persisted-index lifecycle end to end: build the index on a
      // base corpus, MERGE an incoming batch in under the frozen
      // quantizers, probe the updated index. Output == an e5-style
      // search whose quantizers are sampled from the base only —
      // mirrored exactly by the oracle. Stale state from prior runs is
      // dropped first (queries must be self-contained per invocation).
      val v = t(s, dir, "embeddings")
      AnnIndex.drop(s, "e6ix")
      // buckets sized to the test-SF corpus (the deploy knob scales
      // with corpus size; results are bucket-count independent)
      AnnIndex.write(v.filter(col("vec_id") >= 110), "e6ix", buckets = 8)
      AnnIndex.update(v.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        "e6ix", buckets = 8)
      AnnIndex.topK(s, "e6ix", v.filter(col("vec_id") < 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e6b_ann_probe" -> ((s, dir) => {
      // the STEADY-STATE leg of e6: the index is built once per
      // (session, sf dir) and every later invocation only probes it —
      // the latency a search service actually quotes. e6 keeps timing
      // the full drop+build+update+probe lifecycle; this entry's bench
      // number is the probe alone (the build happens in the bench's
      // untimed warmup pass and is reused by every timed pass). Output
      // is identical to e6 by construction — same base/batch split,
      // same frozen-quantizer update — so both share one oracle.
      val v = t(s, dir, "embeddings")
      val name = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, v, name)
      AnnIndex.topK(s, name, v.filter(col("vec_id") < 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e6c_ann_delete" -> ((s, dir) => {
      // the DELETE leg of the ANN index lifecycle (e8d's vector twin):
      // build+update as e6, then remove a vector set under the frozen-
      // quantizer contract — cents/codebook untouched, the deleted ids
      // leave assign/codes/vectors — and probe. The oracle runs the
      // e6 pipeline with quantizers sampled from the FULL base but the
      // searchable corpus minus the deleted set.
      val v = t(s, dir, "embeddings")
      AnnIndex.drop(s, "e6dix")
      AnnIndex.write(v.filter(col("vec_id") >= 110), "e6dix", buckets = 8)
      AnnIndex.update(v.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        "e6dix", buckets = 8)
      AnnIndex.delete(
        v.filter(col("vec_id") >= 10 && col("vec_id") % 9 === 0)
          .select("vec_id"), "e6dix", buckets = 8)
      AnnIndex.topK(s, "e6dix", v.filter(col("vec_id") < 10), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e20_index_retrain" -> ((s, dir) => {
      // the ANN maintenance loop CLOSED: e19 (occupancy) and e19b
      // (fit) emit the retrain signal; this is the operator that acts
      // on it. Build with sampled quantizers, then retrain IN PLACE —
      // k-means re-fits the coarse quantizer from the STORED vectors,
      // codes re-encode, v+1 commits behind the atomic ptr — and
      // probe. Output == a fresh trained build (the e5b pipeline over
      // the same corpus), which is exactly what the oracle computes.
      val v = t(s, dir, "embeddings")
      AnnIndex.drop(s, "e20ix")
      AnnIndex.write(v.filter(col("vec_id") >= 10), "e20ix", buckets = 8)
      AnnIndex.retrain(s, "e20ix", k = 8, iters = 2, buckets = 8)
      AnnIndex.topK(s, "e20ix", v.filter(col("vec_id") < 10), k = 5,
        nProbe = 2)
        .withColumnRenamed("rank", "rnk")
    }),

    "e11c_filtered_probe" -> ((s, dir) => {
      // the STEADY-STATE leg of e11b (the e6b pattern): the metadata-
      // carrying index is built once per (session, sf dir); every later
      // invocation only runs the filtered probe — the latency a
      // filtered-search service quotes. Output is identical to e11b by
      // construction (same base/batch split, same frozen-quantizer
      // update), so both share one oracle.
      val v = t(s, dir, "embeddings")
      val name = s"e11probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, v, name, metaCols = Seq("label"))
      AnnIndex.topKFiltered(s, name, v.filter(col("vec_id") < 10),
        Seq("label"), k = 5)
        .withColumnRenamed("rank", "rnk")
    }),

    "e8_bm25" -> ((s, dir) =>
      // lexical retrieval next to the vector family: BM25 top-5 per
      // keyword query over the documents corpus (inverted-index shape;
      // bounded-heap top-k — no windows, no global sort)
      Search.bm25TopK(t(s, dir, "documents"), col("doc_id"),
        col("text"), Bm25Queries, k = 5)),

    "e8b_bm25_indexed" -> ((s, dir) => {
      // the persisted-index lifecycle end to end: build the inverted
      // index on a base corpus, update it with a batch (EXACT term/
      // corpus-stats maintenance — unlike e6's frozen quantizers, BM25
      // stats stay exact in O(batch + vocab)), probe it. Output equals
      // e8 restricted to the indexed corpus — the oracle recomputes
      // BM25 over documents with doc_id >= 10.
      val docs = t(s, dir, "documents")
      Search.dropIndex(s, "e8ix")
      Search.writeIndex(docs.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "e8ix", buckets = 8)
      Search.updateIndex(docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), "e8ix", buckets = 8)
      Search.probeIndex(s, "e8ix", Bm25Queries, k = 5)
    }),

    "e8c_bm25_probe" -> ((s, dir) => {
      // the STEADY-STATE leg of e8b (the e6b pattern): the index is
      // built once per (session, sf dir); every later invocation only
      // probes — the latency a search service quotes
      val docs = t(s, dir, "documents")
      val name = s"e8probe_${dir.hashCode.toHexString}"
      ensureBm25ProbeIndex(s, docs, name)
      Search.probeIndex(s, name, Bm25Queries, k = 5)
    }),

    "e8d_bm25_delete" -> ((s, dir) => {
      // the DELETE leg of the index lifecycle — the GDPR-takedown /
      // recrawl-tombstone flow e8b/e8c lacked: build+update as e8b,
      // then remove a doc set with the same EXACT stats subtraction
      // updateIndex does, and probe. The oracle recomputes BM25 over
      // the SURVIVING corpus from scratch — the probe must match a
      // fresh build bit for bit (also spec-asserted).
      val docs = t(s, dir, "documents")
      Search.dropIndex(s, "e8dix")
      Search.writeIndex(docs.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "e8dix", buckets = 8)
      Search.updateIndex(docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), "e8dix", buckets = 8)
      Search.deleteFromIndex(
        docs.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0)
          .select("doc_id"), "e8dix", buckets = 8)
      Search.probeIndex(s, "e8dix", Bm25Queries, k = 5)
    }),

    "e8e_filtered_search" -> ((s, dir) => {
      // field-filtered keyword search (the "lang:en" clause), e11b's
      // lexical twin: the BM25 index written WITH the metadata member,
      // a batch MERGEd in (meta stays current), then a probe whose
      // admission filter lands on the scoring sliver BEFORE ranking.
      // Corpus stats stay GLOBAL (Lucene filter-clause semantics): the
      // filter gates matches, it does not re-estimate the model.
      import s.implicits._
      val docs = t(s, dir, "documents")
      Search.dropIndex(s, "e8fix")
      Search.writeIndex(docs.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "e8fix", buckets = 8, metaCols = Seq("lang"))
      Search.updateIndex(docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), "e8fix", buckets = 8)
      val q = Bm25Queries.zip(Bm25FilterLangs).map {
        case ((qid, ts), (_, lang)) => (qid, ts, lang)
      }.toDF("query_id", "terms", "lang")
      Search.probeIndexFiltered(s, "e8fix", q, Seq("lang"), k = 5)
    }),

    "e9_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval, the production search stack: an exact-cosine
      // vector leg and a more-like-this BM25 lexical leg over the SAME
      // doc ids (documents/embeddings share the id space), fused by
      // reciprocal rank — no score calibration across legs
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vec = Knn.bruteForceTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10), k = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      val lex = Search.bm25MoreLikeThis(docs.filter(col("doc_id") >= 10),
        col("doc_id"), col("text"), docs.filter(col("doc_id") < 10),
        col("doc_id"), col("text"), k = 20)
        .select(col("query_id"), col("rank"), col("doc_id"))
      Search.rrfFuse(Seq(vec, lex), k = 10)
    }),

    "e15_hybrid_linear" -> ((s, dir) => {
      // e9's legs fused by normalized convex combination (α=0.5)
      // instead of reciprocal rank — the score-shape-preserving form
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vec = Knn.bruteForceTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("sim").as("score"))
      val lex = Search.bm25MoreLikeThis(docs.filter(col("doc_id") >= 10),
        col("doc_id"), col("text"), docs.filter(col("doc_id") < 10),
        col("doc_id"), col("text"), k = 20)
        .select(col("query_id"), col("doc_id"), col("score"))
      Search.linearFuse(vec, lex, k = 10, alpha = 0.5)
    }),

    "e15b_hybrid_linear_indexed" -> ((s, dir) => {
      // the e9b move for linear fusion (closing e15's documented
      // brute-leg caveat): BOTH legs are steady-state probes of
      // PERSISTED indexes — e6b's IVF-PQ vector index and e8c's BM25
      // inverted index (more-like-this terms via probeIndexTerms, the
      // e9b form) — min-max normalized and α-combined by the same
      // |Q|×k-sized linearFuse tail. Per probe batch nothing
      // corpus-sized shuffles on either leg.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val aname = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, emb, aname)
      val sname = s"e8probe_${dir.hashCode.toHexString}"
      ensureBm25ProbeIndex(s, docs, sname)
      val vec = AnnIndex.topK(s, aname, emb.filter(col("vec_id") < 10), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("sim").as("score"))
      val qterms = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      val lex = Search.probeIndexTerms(s, sname, qterms, k = 20)
        .select(col("query_id"), col("doc_id"), col("score"))
      Search.linearFuse(vec, lex, k = 10, alpha = 0.5)
    }),

    "e17_rerank_cascade" -> ((s, dir) => {
      // retrieve-then-rerank: the BM25 more-like-this recall stage
      // bounds the candidate list to 20 per query; only those pairs
      // ever fetch embeddings for the cosine precision stage
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val hits = Search.bm25MoreLikeThis(docs.filter(col("doc_id") >= 10),
        col("doc_id"), col("text"), docs.filter(col("doc_id") < 10),
        col("doc_id"), col("text"), k = 20)
      Knn.rerankByCosine(hits, emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10), k = 5)
    }),

    "e9b_hybrid_indexed" -> ((s, dir) => {
      // the 100 TB form of e9 (closing its documented brute-leg
      // caveat): BOTH legs are steady-state probes of PERSISTED
      // indexes — the e6b IVF-PQ vector index and the e8c BM25
      // inverted index (shared with those entries: built once per
      // (session, sf dir), reused here) — fused by the same RRF tail.
      // Per probe batch nothing corpus-sized shuffles on either leg.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val aname = s"e6probe_${dir.hashCode.toHexString}"
      ensureAnnProbeIndex(s, emb, aname)
      val sname = s"e8probe_${dir.hashCode.toHexString}"
      ensureBm25ProbeIndex(s, docs, sname)
      val vec = AnnIndex.topK(s, aname, emb.filter(col("vec_id") < 10), k = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      // more-like-this terms: each query doc's distinct tokens probe
      // the inverted index (the probe-batch form SearchStream uses)
      val qterms = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      val lex = Search.probeIndexTerms(s, sname, qterms, k = 20)
        .select(col("query_id"), col("rank"), col("doc_id"))
      Search.rrfFuse(Seq(vec, lex), k = 10)
    }),

    "e13_diverse_topk" -> ((s, dir) => {
      // SERP-style diversification: BM25 top-20 collapsed to at most
      // 2 hits per source, re-ranked to a final top-5 — both windows
      // are partitioned rn<=k filters (bounded-heap path), everything
      // after retrieval is |Q|×20 list-sized work
      val docs = t(s, dir, "documents")
      val hits = Search.bm25TopK(docs, col("doc_id"), col("text"),
          Bm25Queries, k = 20)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      Search.diversifyTopK(hits, col("source"), k = 5, perGroup = 2)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("grp").as("source"), col("score"))
    }),

    "e12_recall_eval" -> ((s, dir) => {
      // the recall@k audit every ANN rollout runs before trading
      // recall for latency: e2's LSH leg scored against e1's exact
      // baseline, per query (Knn.recallAtK) — both legs |Q|×k frames,
      // the audit itself is join-and-count trivia
      val v = t(s, dir, "embeddings")
      val q = v.filter(col("vec_id") < 10)
      val c = v.filter(col("vec_id") >= 10)
      Knn.recallAtK(
        Knn.lshTopK(q, c, k = 5),
        Knn.bruteForceTopK(q, c, k = 5))
    }),

    "t15c_bpe_encode" -> ((s, dir) =>
      // the consumption leg of t15b: tokenize the corpus with the
      // 3-round trained merge table — per doc, words split to chars
      // and the merges replayed in order; n_bpe_tokens is the count a
      // model sees, n_chars the pre-merge symbol count. Training's
      // one-row-per-round collects are the only non-map work; encode
      // itself is map-only (zero shuffles).
      TextAnalysis.bpeEncode(t(s, dir, "documents"), col("doc_id"),
        col("text"), rounds = 3)),

    "t32_bpe_fertility" -> ((s, dir) => bpeFertility(s, dir)),

    "t7b_bpe_pack" -> ((s, dir) =>
      // t7's shard packing driven by the REAL tokenizer budget t15c
      // produces (bins fill on trained-BPE token counts, not the
      // regex proxy) — the wiring SURVEY promised when t15c shipped
      Packing.binStats(Packing.packIntoBins(
        TextAnalysis.bpeEncode(t(s, dir, "documents"), col("doc_id"),
          col("text"), rounds = 3)
          .select(col("doc_id"), col("n_bpe_tokens")),
        col("doc_id"), col("n_bpe_tokens"), budget = 2000L, buckets = 8))),

    "t9b_bpe_chunks" -> ((s, dir) =>
      // t9's context chunking under a trained-BPE token budget: chunk
      // boundaries fall where the running BPE cost crosses 40 tokens
      // (per-doc window; per-word costs are a map-only merge replay)
      TextAnalysis.bpeChunkStats(t(s, dir, "documents"), col("doc_id"),
        col("text"), rounds = 3, budget = 40L)),

    "t1_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),

    "t1b_langid_ngram" -> ((s, dir) => {
      // multilingual language ID: Cavnar-Trenkle char-trigram rank
      // profiles (t1's stopword heuristic stays as the cheap gate)
      // over a deterministic multi-language synthetic corpus — each
      // doc carries the held-out phrase of language (doc_id % 9;
      // Cyrillic, Greek, and UNSEGMENTED Han/kana included: the
      // normalization is script-aware and char trigrams need no word
      // boundaries), repeated (doc_id % 3)+1 times
      val idx = (col("doc_id") % LangIdNgram.TestPhrases.size).cast("int")
      val phrase = LangIdNgram.TestPhrases.zipWithIndex
        .foldLeft(lit(""): org.apache.spark.sql.Column) {
          case (acc, ((_, p), i)) => when(idx === i, lit(p)).otherwise(acc)
        }
      val synth = t(s, dir, "documents").select(col("doc_id"),
        repeat(concat(phrase, lit(" ")),
          (col("doc_id") % 3).cast("int") + 1).as("text"))
      LangIdNgram.classify(synth, col("doc_id"), col("text"))
    }),

    "t28_langid_margin" -> ((s, dir) => {
      // t1b's classifier with the CONFIDENCE signal a routing pipeline
      // gates on: runner-up language + exact-integer margin over the
      // same synthetic multilingual corpus
      val idx = (col("doc_id") % LangIdNgram.TestPhrases.size).cast("int")
      val phrase = LangIdNgram.TestPhrases.zipWithIndex
        .foldLeft(lit(""): org.apache.spark.sql.Column) {
          case (acc, ((_, p), i)) => when(idx === i, lit(p)).otherwise(acc)
        }
      val synth = t(s, dir, "documents").select(col("doc_id"),
        repeat(concat(phrase, lit(" ")),
          (col("doc_id") % 3).cast("int") + 1).as("text"))
      LangIdNgram.classifyWithMargin(synth, col("doc_id"), col("text"))
    }),

    "t29_nb_model" -> ((s, dir) =>
      // the TRAINABLE complement to t1's fixed profiles: multinomial
      // NB fit on the hash-80% train split's (tokens → lang) labels —
      // one corpus pass to vocabulary-sized counts, densified add-one
      // (token × label) log-prob model
      NaiveBayes.model(
        t(s, dir, "documents")
          .filter(Sampling.hashBucket(col("doc_id"), 5) =!= 0),
        col("text"), col("lang"))),

    "t29b_nb_classify" -> ((s, dir) => {
      // the held-out hash-20% scored map-only against the broadcast
      // t29 model: per-doc argmax log-posterior with the
      // best-vs-runner-up margin a routing pipeline gates on — the
      // fastText-classifier shape (Joulin et al. 2016) trained and
      // served entirely in-plan
      val d = t(s, dir, "documents")
      val split = Sampling.hashBucket(col("doc_id"), 5)
      NaiveBayes.classify(d.filter(split =!= 0), d.filter(split === 0),
        col("doc_id"), col("text"), col("lang"))
    }),

    "t29e_calibration" -> ((s, dir) => {
      // margin-calibration audit over the held-out scoring: accuracy
      // per integer margin bin, counts only (exact-integer output —
      // no cross-engine float surface)
      val d = t(s, dir, "documents")
      val split = Sampling.hashBucket(col("doc_id"), 5)
      NaiveBayes.calibration(
        NaiveBayes.classify(d.filter(split =!= 0), d.filter(split === 0),
          col("doc_id"), col("text"), col("lang")))
    }),

    "x17_selection_bias" -> ((s, dir) => {
      // the post-selection audit DSIR needs on day one: per-source
      // pool size vs selected count — did importance resampling skew
      // the source mix? Counts only; the selected set is 100 rows,
      // broadcast back onto the pool
      val d = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      val raw = d.filter(!isTgt)
      val sel = Dsir.resample(d.filter(isTgt), raw,
        col("doc_id"), col("text"), k = 100)
      raw.groupBy("source").agg(count(lit(1)).as("n_pool"))
        .join(raw.select(col("doc_id"), col("source"))
            .join(broadcast(sel.select("doc_id")), "doc_id")
            .groupBy("source").agg(count(lit(1)).as("n_selected")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_selected"))
    }),

    "x18_dsir_mixture" -> ((s, dir) => {
      // the selection -> mixture bridge: the x15b Gumbel draw
      // re-expressed as per-source epoch weights for Sampling.mix —
      // sel_share / nat_share makes the re-weighted pool reproduce
      // the selected set's source mix in expectation (Xie et al. §5's
      // select-then-train, for pipelines that re-weight instead of
      // materializing the subset)
      val d = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      Dsir.mixtureWeights(d.filter(isTgt), d.filter(!isTgt),
        col("doc_id"), col("text"), col("source"), k = 100)
    }),

    "t29d_label_audit" -> ((s, dir) =>
      // confident-learning label-noise audit (Northcutt et al. 2021's
      // core signal): train on the hash-80% split, score the SAME
      // split — docs whose own label loses to the model's argmax by
      // margin >= 1.0 are suspected mislabels
      NaiveBayes.labelAudit(
        t(s, dir, "documents")
          .filter(Sampling.hashBucket(col("doc_id"), 5) =!= 0),
        col("doc_id"), col("text"), col("lang"), minMargin = 1.0)),

    "t29c_nb_model_mindf" -> ((s, dir) =>
      // t29 with the open-vocabulary escape valve: min-df 3 drops
      // tokens with fewer than 3 total training occurrences from the
      // vocabulary (singletons are the bulk of an open vocab and
      // carry no reusable signal); the smoothing denominators use
      // the KEPT vocabulary's mass and size
      NaiveBayes.model(
        t(s, dir, "documents")
          .filter(Sampling.hashBucket(col("doc_id"), 5) =!= 0),
        col("text"), col("lang"), minDf = 3L)),

    "t2_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), col("text"))
        .select("doc_id", "n_chars_chk", "n_tokens", "punct_ratio", "stop_ratio",
          "quality_score")),

    "t20_gopher_rules" -> ((s, dir) => {
      // the corpus has no line structure / degenerate docs, so inject a
      // deterministic mix that exercises every rule: %13 all-bullet
      // lists (bullet_lines + word_count), %17 numeric docs
      // (alpha_words), %19 two-char words (word_length), %11 tiny docs
      // (word_count + stop_words), else the natural text wrapped with
      // a bullet line (%4), a double-ellipsis tail (%5 — 2 of <=6
      // lines > 0.3) and a hash-heavy line (%7)
      val d = t(s, dir, "documents").withColumn("text2",
        when(col("doc_id") % 13 === 0, lit(
          "• the list\n• of and\n• that have\n• with be to"))
        .when(col("doc_id") % 17 === 0, lit("12 34 56 78 90 11 22 33 the of"))
        .when(col("doc_id") % 19 === 0, lit("aa bb cc dd ee ff gg hh the of"))
        .when(col("doc_id") % 11 === 0, lit("tiny doc"))
        .otherwise(concat_ws("\n", col("text"),
          when(col("doc_id") % 4 === 0, lit("• bullet item one"))
            // stopword-bearing middle line: the synthetic corpus
            // vocabulary has no English stopwords, so without this
            // every doc fails stop_words and keep=true is never
            // exercised
            .otherwise(lit("the state of the art and that of design")),
          when(col("doc_id") % 5 === 0, lit("to be continued...\nmore soon…")),
          when(col("doc_id") % 7 === 0, lit("## ## ## ## ## ##")))))
      TextAnalysis.gopherRules(d, col("doc_id"), col("text2"))
    }),

    "t3_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), col("text"))
        .select("doc_id", "ws_tokens", "bpe_tokens")),

    "t4_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), col("text"))
        .select("doc_id", "md5_fp", "rolling_fp")),

    "t5_pii_scrub" -> ((s, dir) => {
      // the corpus has no PII-like strings, so inject deterministic
      // synthetic PII (email per doc, phone on every third doc) and
      // oracle-check the scrub end to end
      val withPii = t(s, dir, "documents").withColumn("text2", concat(
        col("text"),
        lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or call 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      TextAnalysis.scrubPii(withPii, col("text2"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("scrubbed")).as("scrub_md5"))
    }),

    "t8b_line_dedup" -> ((s, dir) => {
      // the APPLY leg of t8's repetition audit (C4's duplicate-line
      // rule): the corpus has no newlines, so build a deterministic
      // 4-line doc with the first line repeated thrice — the dedup
      // must keep exactly (first line, unique line), in order
      val withLines = t(s, dir, "documents").withColumn("text2",
        concat_ws("\n", substring(col("text"), 1, 80),
          concat(lit("only line "), col("doc_id").cast("string")),
          substring(col("text"), 1, 80), substring(col("text"), 1, 80)))
      TextAnalysis.dedupLines(withLines, col("doc_id"), col("text2"))
    }),

    "t21_boilerplate_lines" -> ((s, dir) => {
      // cross-doc keep-first line dedup (CCNet's paragraph dedup): the
      // corpus has no line structure, so inject a shared header (every
      // doc — only the global-min doc keeps it), the doc's 60-char
      // prefix (duplicated exactly when prefixes collide), a %3 promo
      // footer, and a per-doc unique line
      val d = t(s, dir, "documents").withColumn("text2", concat_ws("\n",
        lit("SHARED SITE HEADER — all pages"),
        substring(col("text"), 1, 60),
        when(col("doc_id") % 3 === 0, lit("promo footer: subscribe now")),
        concat(lit("unique line "), col("doc_id").cast("string"))))
      TextDedup.crossDocLineDedup(d, col("doc_id"), col("text2"))
    }),

    "t5b_pii_extended" -> ((s, dir) => {
      // the scrub breadth a crawl needs beyond t5: range-valid IPv4s
      // (999.999.999.999 must NOT count) and Luhn-VALID 16-digit cards
      // (a card-shaped run failing the checksum counts 0 but still
      // redacts). Injection recipe: email always; phone on %3; real ip
      // on %2; bogus ip on %7; Luhn-valid card on %4; Luhn-invalid
      // card-shaped run on %5 — all deterministic from doc_id.
      val withPii = t(s, dir, "documents").withColumn("text2", concat(
        col("text"),
        lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" or call 555-123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.42"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" at 999.999.999.999"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" card 4111 1111 1111 1111"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ref 1234-5678-9012-3456"))
          .otherwise(lit(""))))
      TextAnalysis.scrubPiiExtended(withPii, col("text2"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), col("n_cards"), md5(col("scrubbed")).as("scrub_md5"))
    }),

    "t17_charset_audit" -> ((s, dir) => {
      // encoding-health screen; the corpus is clean ASCII, so every
      // third doc gets deterministic damage injected (mojibake marker,
      // control byte, double space) and the audit must find exactly it
      val damaged = t(s, dir, "documents").withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" café �"), lit("\u0001"), lit("  x")))
          .otherwise(col("text")))
      TextAnalysis.charsetAudit(damaged, col("doc_id"), col("text2"))
    }),

    "t17b_charset_fix" -> ((s, dir) => {
      // t17's apply leg: the same deterministic damage class (plus a
      // combining-accent sequence so the NFC step has work to do) is
      // injected into every third doc, and the fixer must repair it —
      // U+FFFD dropped, control chars stripped, whitespace collapsed,
      // cafe+U+0301 composed to café. DuckDB replays the fix with its
      // own regex engine + nfc_normalize, so the repair is the tested
      // contract, not a copied constant.
      val damaged = t(s, dir, "documents").withColumn("text2",
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" cafe\u0301 \uFFFD\u0001\u0007  x ")))
          .otherwise(col("text")))
      damaged.select(col("doc_id"),
          TextAnalysis.fixText(col("text2")).as("fixed"))
        .withColumn("n_chars", length(col("fixed")).cast("long"))
    }),

    "t19_extract" -> ((s, dir) => {
      // HTML -> main text, the crawl pipeline's FRONT gate ahead of
      // c1: each doc is rendered into a deterministic page (title +
      // style block, pure-link nav bar, two content paragraphs with
      // an &amp; entity, a "read more" teaser, a footer link farm),
      // and the extractor must keep exactly the content paragraphs —
      // nav/teaser/footer die by link density, title by length,
      // style by invisible-subtree removal
      val docs = t(s, dir, "documents")
      Html.extract(docs.select(col("doc_id"), renderedPage.as("html")),
        col("doc_id"), col("html"))
    }),

    "c3_curate_html" -> ((s, dir) => {
      // the pipeline a CRAWL actually runs, front to back: t19's HTML
      // extraction feeds c1's curation chain (gate -> exact dedup ->
      // near-dup apply) — the raw-markup-to-training-corpus
      // composition, with the extractor's output column simply renamed
      // into the chain's text contract
      val docs = t(s, dir, "documents")
      // persist the extracted corpus ONCE ahead of the chain: the
      // render+extract expression tree is the most expensive map work
      // in the pipeline and must not re-run in any downstream branch
      val extracted = graft.Caching.persisted(Html.extract(
        docs.select(col("doc_id"), renderedPage.as("html")),
        col("doc_id"), col("html"))
        .select(col("doc_id"), col("extracted").as("text")))
      LlmCuration.run(extracted, col("doc_id"), col("text"),
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)
    }),

    "d20_url_blocklist" -> ((s, dir) =>
      // the crawl's FIRST gate (RefinedWeb/UT1): domain blocklist with
      // subdomain semantics + URL pattern rules over d13's synthetic
      // URL variants — per-doc verdict + b3-style reason string; the
      // small literal blocklist takes the map-only inline path
      Urls.blocklistGate(t(s, dir, "documents"), col("doc_id"),
        syntheticCrawlUrl, D20BlockedDomains, D20PatternRules)),

    "c3b_crawl_attrition" -> ((s, dir) =>
      // the crawl front door's ops log: d20's URL gate as stage 0,
      // then c3's chain (extract -> gate -> exact dedup -> near-dup),
      // one row per stage with in/out counts — the first gate runs
      // before any text is even extracted (the RefinedWeb order)
      LlmCuration.attritionReportCrawl(
        t(s, dir, "documents").withColumn("html", renderedPage),
        col("doc_id"), syntheticCrawlUrl, col("html"),
        D20BlockedDomains, D20PatternRules,
        minQuality = 0.5, lang = Some("en"), minJaccard = 0.1)),

    "d13_url_dedup" -> ((s, dir) => {
      // crawl-side dedup: deterministic URL variants (scheme/WWW/host
      // case, default port, trailing slash, param order, utm/fbclid
      // noise, fragments) derived per doc; the canonicalizer must
      // collapse them to host/path?sorted-params keys
      val d = t(s, dir, "documents")
      Urls.dedupByUrl(d.select(col("doc_id"), syntheticCrawlUrl.as("url")),
        col("doc_id"), col("url"))
    }),

    "m1_multimodal" -> ((s, dir) =>
      // features flattened to scalar columns: the driver's comparator
      // (pandas lexsort) cannot order rows by an array column
      Multimodal.decodeStub(Multimodal.asAssets(t(s, dir, "documents")))
        .select(col("asset_id"), col("media_type"), col("n_bytes"), col("content_md5"),
          col("features")(0).as("f0"), col("features")(1).as("f1"),
          col("features")(2).as("f2"), col("features")(3).as("f3"))),

    "m3_resize" -> ((s, dir) =>
      // resize shape: payload downsampled to 8 contiguous byte-window
      // means, flattened to scalars for the comparator
      Multimodal.resizeStub(Multimodal.asAssets(t(s, dir, "documents")),
          targetDim = 8)
        .select(col("asset_id") +: (0 until 8).map(i =>
          col("resized")(i).as(s"r$i")): _*)),

    "m2_frame_sample" -> ((s, dir) =>
      // keyframe extraction shape: every 4th 64-byte frame; the raw
      // frame bytes stay out of the output (binary columns don't sort
      // in the driver comparator) — frame_md5 proves content
      Multimodal.sampleFrames(Multimodal.asAssets(t(s, dir, "documents")),
          frameBytes = 64, stride = 4)
        .select("asset_id", "frame_no", "frame_md5")),

    "m5_header_parse" -> ((s, dir) =>
      // container-header extraction: magic + big-endian uint16 fields
      // + body size, all codegen'd builtins (hex/conv), map-only
      Multimodal.headerFields(Multimodal.asAssets(t(s, dir, "documents")))),

    "m8_type_sniff" -> ((s, dir) =>
      // magic-byte content-type audit: the corpus payloads are pure
      // ASCII (all 'unknown' to libmagic), so real container magics
      // are injected deterministically per asset_id % 6 — t5's
      // PII-injection move, for bytes; the report must count exactly
      // the injected mix plus the raw-text remainder
      Multimodal.typeMix(injectedAssets(s, dir))),

    "m9_type_sample" -> ((s, dir) =>
      // per-modality asset budget: exactly-k assets per sniffed
      // content type over m8's injected-magic corpus — x16's
      // balanced-carve move for the multimodal ingest (no modality
      // swamps an eval/labeling set), riding x5's k-minwise
      // bounded-heap cut
      Sampling.exactKPerStratum(
        injectedAssets(s, dir)
          .withColumn("sniffed_type", Multimodal.sniffType(col("payload"))),
        col("sniffed_type"), col("asset_id"), k = 20)),

    "m10_exif_scrub" -> ((s, dir) =>
      // privacy-metadata scrub (t5's discipline for container bytes):
      // well-formed JPEG APP1/EXIF-with-GPS, PNG tEXt+eXIf, and JPEG
      // COM segments injected per asset_id % 4 (real lengths + CRCs),
      // scrubbed by map-only byte surgery; the oracle replays the
      // byte arithmetic from the same constants — md5 over the hex of
      // the scrubbed payload proves byte-identical output
      Multimodal.scrubMetadata(metaInjectedAssets(s, dir))
        .select(col("asset_id"),
          octet_length(col("payload")).cast("long").as("n_before"),
          octet_length(col("scrubbed")).cast("long").as("n_after"),
          (octet_length(col("payload")) - octet_length(col("scrubbed")))
            .cast("long").as("removed_bytes"),
          md5(hex(col("scrubbed"))).as("scrubbed_md5"))),

    "m11_meta_audit" -> ((s, dir) =>
      // m10's detection twin: per asset, metadata segment count/byte
      // mass + has_exif/has_gps flags — the GPS flag PARSES the
      // injected TIFF's IFD0 for tag 0x8825, it does not grep bytes;
      // the oracle replays the expected numbers from the same
      // MediaMeta constants
      Multimodal.auditMetadata(metaInjectedAssets(s, dir))
        .select(col("asset_id"),
          Multimodal.sniffType(col("payload")).as("sniffed_type"),
          col("n_meta_segments"), col("meta_bytes"),
          col("has_exif"), col("has_gps"))),

    "m6_energy_windows" -> ((s, dir) =>
      // audio-curation silence screen over the byte-PCM stub: framed
      // levels + flatness flags, rolled up per asset
      Multimodal.energyWindows(Multimodal.asAssets(t(s, dir, "documents")),
        frameBytes = 64, stride = 4, subWindows = 8, flatThreshold = 4.0)),

    "m7_scene_cuts" -> ((s, dir) =>
      // shot segmentation over the byte-frame stub: L1 distance
      // between consecutive frame signatures, cuts above threshold
      // (55 ~ the corpus's median transition distance)
      Multimodal.sceneCuts(Multimodal.asAssets(t(s, dir, "documents")),
        frameBytes = 64, stride = 4, subWindows = 8, cutThreshold = 55.0)),

    "m4_phash_dedup" -> ((s, dir) => {
      // perceptual near-dup over binary assets: integer-exact aHash
      // fingerprints + the SimHash family's quarter-band blocking. The
      // corpus is each doc plus a copy with one md5-chosen character
      // substituted (a "re-encoded" asset), so near-identical payloads
      // demonstrably pair up without an all-pairs stage
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val pos = (graft.functions.Hashing.h32(col("doc_id").cast("string"))
        % length(col("text"))).cast("int") + 1
      val dirty = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text").substr(lit(1), pos - 1), lit("a"),
          col("text").substr(pos + 1, length(col("text")))).as("text"))
      Multimodal.perceptualDupPairs(
        Multimodal.asAssets(docs.unionByName(dirty)), maxDist = 3)
    }),

    "st6_trending" -> ((s, dir) => {
      // per-hour top-3 trending event types, written the NAIVE way
      // (ranked window + rn <= 3) and shipped through
      // WindowTopOneRewrite's partitioned rn<=k path: executes as the
      // bounded-heap TopKRows aggregate, no Window exec, no per-hour
      // sort (EntryPlanSpec asserts) — the trending-dashboard query
      val counts = Tables.loadEvents(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hr")).orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("hr", "event_type", "n")
    }),

    "st1_windowed_agg" -> ((s, dir) =>
      Events.windowedAgg(Tables.loadEvents(s, dir))),

    "st2_sessionize" -> ((s, dir) =>
      Events.sessionizeBatch(Tables.loadEvents(s, dir))),

    "g34_session_stats" -> ((s, dir) =>
      // one-row session-quality card over st2's sessionizer: counts,
      // exact-decimal means, R-7 duration percentiles, bounce rate
      Events.sessionStats(Tables.loadEvents(s, dir))),

    "st4_range" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = Tables.loadEvents(s, dir)
      val sessions = Events.sessionizeBatch(ev)
        .select("user_id", "session_idx", "session_start", "session_end")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      RangeJoin.pointInInterval(purchases, sessions, Seq("user_id"),
          "ts", "session_start", "session_end",
          bucketWidthUs = 30L * 60 * 1000000)
        .select(col("event_id"), col("user_id"),
          col("session_idx").cast("long").as("session_idx"))
    }),

    "st7_interval_join" -> ((s, dir) => {
      // the BATCH twin of Events.streamStreamJoin (same intervalJoin
      // core, minus the watermarks — so the stream-stream leg's join
      // semantics become driver-checkable): every click matched to the
      // same user's views in the trailing hour, reduced per click to
      // bounded stats. The user equi-key carries the one exchange per
      // side; the hour bound is a residual filter, never a per-key
      // nested loop.
      val ev = Tables.loadEvents(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      Events.intervalJoin(clicks, views, "1 hour")
        .groupBy(col("l_event_id").as("click_id"))
        .agg(count(lit(1)).as("n_views"),
          min(col("r_ts")).as("first_view_ts"),
          max(col("r_ts")).as("last_view_ts"))
    }),

    "st5_json_extract" -> ((s, dir) =>
      // schema-on-read over the semi-structured props payload:
      // from_json with an explicit schema (codegen'd Jackson parse),
      // then a plain keyed aggregation — map-only before the shuffle
      Tables.loadEvents(s, dir)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"))),

    "st3_asof" -> ((s, dir) => {
      import graft.operators.{AsOfJoin, Dedup}
      val ev = Tables.loadEvents(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      // right side unique per (user_id, ts): keep the max event_id row
      val views = Dedup.latestByKeyAgg(
        ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts", "value"),
        Seq("user_id", "ts"), struct(col("event_id")))
      AsOfJoin.asOf(purchases, views, Seq("user_id"), "ts", "ts",
        Map("event_id" -> "view_event_id", "value" -> "view_value"), "event_id")
        .select("event_id", "user_id", "ts", "value",
          "view_event_id", "view_value")
    }))

  // ------------------------------------------------------------------ //

  /** The deterministic synthetic page t19/c3 render per doc (Spark
    * side) — boilerplate chrome around two content paragraphs carved
    * from the doc's own text. [[RenderSql]] is the DuckDB twin. */
  /** x21's epoch recipe solve — per-source token capacities, target
    * weights = natural share with curated domains (src0/src1)
    * upweighted 5x (the Pile/LLaMA curated-source boost), budget =
    * 40% of the corpus's tokens; the boosted sources demand more than
    * they hold, cap at capacity, and the freed budget water-fills
    * back over the uncapped rest. Factored so x21 and x22 cannot
    * drift. */
  private def epochBudgetMix(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val caps = t(s, dir, "documents")
      .select(col("source").as("stratum"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tk"))
      .groupBy("stratum").agg(sum(col("tk")).as("capacity"))
    val weighted = caps
      .withColumn("__boost",
        when(col("stratum").isin("src0", "src1"), lit(5.0))
          .otherwise(lit(1.0)))
      .withColumn("__w0", (col("capacity").cast("double") /
        sum(col("capacity")).over(wAll).cast("double")) * col("__boost"))
      .withColumn("w", col("__w0") /
        sum(col("__w0").cast("decimal(28,12)")).over(wAll).cast("double"))
    Sampling.budgetMix(weighted, col("stratum"), col("capacity"),
      col("w"), budgetFrac = 0.4)
  }

  /** t32's tokenizer-health audit — chars per trained-BPE token by
    * source (a source at 2x the chars/token of the rest is
    * under-served by the tokenizer and its token-based budget
    * under-counts its text). t15c's encode composed with a source
    * rollup; the ratio quantizes via the x21 floor recipe. Factored
    * so t32 and x22 cannot drift. */
  private def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val enc = TextAnalysis.bpeEncode(d, col("doc_id"), col("text"),
      rounds = 3)
    d.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("nc"))
      .join(enc.select("doc_id", "n_bpe_tokens"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        (floor((sum(col("nc")).cast("double") /
          sum(col("n_bpe_tokens")).cast("double")) * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6)).as("chars_per_token"))
  }

  private def renderedPage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p { margin: 0; }</style></head><body>"),
    lit("<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">Section A</a> <a href=\"/b\">Section B</a></div>"),
    lit("<p>intro &amp; overview: "), substring(col("text"), 1, 200),
    lit("</p><p>"), substring(col("text"), 201, 400), lit("</p>"),
    lit("<div>Read more <a href=\"/x\">click here</a> now</div>"),
    lit("<div class=\"footer\">Copyright 2024 <a href=\"/terms\">Terms of Service</a> <a href=\"/privacy\">Privacy Policy</a></div>"),
    lit("</body></html>"))

  /** [[renderedPage]]'s DuckDB twin plus the extractor replay: CTEs
    * h (render) -> b (invisible strip + block split) -> m (visible +
    * anchor text per block) -> k (length + link-density keep set),
    * ending with per-doc (extracted, n_blocks, n_kept) in CTE `xt`.
    * Shared by the t19 oracle and c3's composed chain. */
  private val ExtractCtes: String =
    // NOTE: embedded into oracles that run stripMargin AFTER
    // interpolation — no line here may begin with whitespace + '|'
    // (the concatenation '||'s therefore trail their lines)
    """h AS (SELECT doc_id,
      |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</title><style>p { margin: 0; }</style></head><body>' ||
      |  '<div class="nav"><a href="/">Home</a> <a href="/a">Section A</a> <a href="/b">Section B</a></div>' ||
      |  '<p>intro &amp; overview: ' || substr(text, 1, 200) ||
      |  '</p><p>' || substr(text, 201, 400) || '</p>' ||
      |  '<div>Read more <a href="/x">click here</a> now</div>' ||
      |  '<div class="footer">Copyright 2024 <a href="/terms">Terms of Service</a> <a href="/privacy">Privacy Policy</a></div>' ||
      |  '</body></html>' AS html
      |  FROM documents),
      |b AS (SELECT doc_id, string_split_regex(
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', '', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', '', 'g'),
      |    '</(?:p|div|h[1-6]|li|title|td|th|blockquote)>') AS bs
      |  FROM h),
      |m AS (SELECT doc_id, bs,
      |  list_transform(bs, x -> trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(x, '<[^>]*>', '', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g'))) AS vs,
      |  list_transform(bs, x -> trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      coalesce(array_to_string(regexp_extract_all(x, '(?s)<a[^>]*>(.*?)</a>', 1), ''), ''),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g'))) AS ls
      |  FROM b),
      |k AS (SELECT doc_id, len(bs) AS nb, vs,
      |    list_filter(range(1, len(bs) + 1), i ->
      |      length(vs[CAST(i AS INTEGER)]) >= 30
      |      AND 3 * length(ls[CAST(i AS INTEGER)]) <= length(vs[CAST(i AS INTEGER)])) AS ki
      |  FROM m),
      |xt AS (SELECT doc_id,
      |  coalesce(array_to_string(list_transform(ki, i -> vs[CAST(i AS INTEGER)]), ' '), '') AS extracted,
      |  CAST(nb AS BIGINT) AS n_blocks, CAST(len(ki) AS BIGINT) AS n_kept
      |FROM k)""".stripMargin

  /** d20/c3b's shared oracle fragment: the synthetic crawl URLs,
    * d13's canonicalization steps, the suffix-set domain blocklist
    * match and the pattern-rule reasons — ends at CTE `r`
    * (doc_id, canon_url, host, blocked_domain, reason).
    * NOTE: embedded into oracles that run stripMargin AFTER
    * interpolation — no line here may begin with whitespace + '|'
    * (the concatenation '||'s therefore trail their lines). */
  private lazy val UrlGateCtes: String = {
    val domsIn = D20BlockedDomains.map(d => s"'$d'").mkString(", ")
    val patCases = D20PatternRules.map { case (name, pat) =>
      s"CASE WHEN regexp_matches(canon_url, '$pat') THEN 'url_pattern:$name' END"
    }.mkString(",\n      ")
    s"""u AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
      |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END) ||
      |  '.example.com' ||
      |  (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
      |  '/docs/p' || CAST(doc_id % 3 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 3 = 0
      |      THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) || '&lang=' || lang || '&utm_source=feed'
      |      ELSE '?utm_source=feed&lang=' || lang || '&page=' || CAST(doc_id % 2 AS VARCHAR) END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN '&fbclid=abc' ELSE '' END) ||
      |  (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id,
      |         regexp_replace(regexp_replace(url, '#.*$$', ''),
      |                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS ns FROM u),
      |s2 AS (SELECT doc_id, ns,
      |         CASE WHEN contains(ns, '?') THEN regexp_extract(ns, '\\?(.*)$$', 1)
      |              ELSE '' END AS q,
      |         regexp_replace(ns, '\\?.*$$', '') AS hp FROM s1),
      |s3 AS (SELECT doc_id, q,
      |         regexp_replace(regexp_replace(
      |           lower(regexp_extract(hp, '^[^/]*', 0)), '^www\\.', ''),
      |           ':(80|443)$$', '') AS host,
      |         regexp_replace(regexp_extract(hp, '^[^/]*(.*)$$', 1), '/+$$', '') AS p0
      |       FROM s2),
      |s4 AS (SELECT doc_id, host,
      |         CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p,
      |         array_to_string(list_sort(list_filter(str_split(q, '&'),
      |           x -> x <> '' AND NOT starts_with(x, 'utm_')
      |             AND NOT (x = 'fbclid' OR starts_with(x, 'fbclid='))
      |             AND NOT (x = 'gclid' OR starts_with(x, 'gclid='))
      |             AND NOT (x = 'ref' OR starts_with(x, 'ref=')))), '&') AS qq
      |       FROM s3),
      |cu AS (SELECT doc_id, host,
      |        host || p || (CASE WHEN qq = '' THEN '' ELSE '?' || qq END) AS canon_url
      |      FROM s4),
      |bd AS (SELECT doc_id, host, canon_url,
      |        list_sort(list_filter(
      |          list_transform(range(len(str_split(host, '.'))),
      |            i -> array_to_string(
      |              str_split(host, '.')[CAST(i+1 AS INTEGER):], '.')),
      |          s -> s IN ($domsIn)))[1] AS blocked_domain
      |      FROM cu),
      |r AS (SELECT doc_id, canon_url, host, blocked_domain,
      |    concat_ws(';',
      |      CASE WHEN canon_url IS NULL THEN 'no_url' END,
      |      CASE WHEN blocked_domain IS NOT NULL
      |           THEN 'blocked_domain:' || blocked_domain END,
      |      $patCases) AS reason
      |  FROM bd)""".stripMargin
  }

  /** The §6 presentation quantizer's DuckDB twin (see
    * [[graft.functions.Quantize]]): engine-identical at the half
    * boundary, unlike round(double, n). */
  private def Q6(e: String): String = graft.functions.Quantize.qdpSql(e, 6)
  private def Q4(e: String): String = graft.functions.Quantize.qdpSql(e, 4)
  private def Q9(e: String): String = graft.functions.Quantize.qdpSql(e, 9)

  /** [[graft.text.TextAnalysis.qualityFeatures]]' composite score —
    * §6-quantized in lockstep with the Scala twin; expects n_tokens /
    * punct_ratio / stop_ratio columns in scope. */
  private val QScoreSql: String = Q6(
    "0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)" +
      " + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_ratio")

  private def ToksSqlOn(c: String): String =
    s"""list_filter(string_split_regex(lower($c), '\\s+'), x -> x <> '')"""

  private val ToksSql = ToksSqlOn("text")

  /** t20's required-stopword list as a DuckDB list literal — generated
    * from the same Scala constant the operator uses. */
  private val GopherStopsSql: String =
    TextAnalysis.GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")

  /** e8's keyword queries — terms drawn from the synthetic corpus
    * vocabulary so every query has hits. One source of truth for the
    * Spark entry and the oracle's VALUES list. */
  private val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "kw1" -> Seq("spark", "window", "agg"),
    "kw2" -> Seq("customer", "query", "scan"),
    "kw3" -> Seq("vector", "stream"))

  /** Per-query language filter for the e8e field-filtered probe —
    * aligned with [[Bm25Queries]] by position. */
  private val Bm25FilterLangs: Seq[(String, String)] =
    Seq("kw1" -> "en", "kw2" -> "fr", "kw3" -> "zh")

  /** The e8-family oracle: BM25 top-5 for [[Bm25Queries]] over
    * `documents` restricted by `where` ("" = whole corpus). */
  private def bm25OracleSql(where: String, rankLimit: Int = 5): String = {
    val vals = Bm25Queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => s"('$q','$t')") }.mkString(", ")
    val vocab = Bm25Queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
       |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents $where)),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |q(query_id, token) AS (VALUES $vals),
       |dfq AS (SELECT token, count(*) AS dfn FROM tf
       |        WHERE token IN ($vocab) GROUP BY 1),
       |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
       |  FROM tf JOIN q USING (token) JOIN dfq USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN st),
       |pd AS (SELECT query_id, doc_id,
       |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
       |      AS score
       |  FROM sc GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                ORDER BY score DESC, doc_id) AS rank FROM pd)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
       |FROM r WHERE rank <= $rankLimit""".stripMargin
  }

  /** Search.bm25's per-term score as DuckDB SQL (k1=1.2, b=0.75) over
    * CTE columns (n_docs, dfn, tf, dl, sum_dl) — shared by the e8 and
    * e9 oracles so the float-op mirror can't drift. */
  private val Bm25TermSql = Q6(
    """round(ln((CAST(n_docs AS DOUBLE) - CAST(dfn AS DOUBLE) + 0.5)
      |    / (CAST(dfn AS DOUBLE) + 0.5) + 1.0), 6)
      |  * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
      |    / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
      |      * (CAST(dl AS DOUBLE)
      |        / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))""".stripMargin)

  /** Distinct word n-gram shingles over `tk` (1-based inclusive list
    * slices); n=3 is the dedup family's [[ShSql]]. */
  private def shSqlN(n: Int): String =
    s"list_distinct([array_to_string(tk[i:i+${n - 1}],' ') for i in range(1, len(tk)-${n - 2})])"

  private val ShSql = shSqlN(3)

  /** [[Sampling.hashBucket]] over doc_id as DuckDB SQL. */
  private def bucketSql(buckets: Int) =
    s"${h32Sql("CAST(doc_id AS VARCHAR)")} % $buckets"

  private def h32Sql(v: String) =
    s"(CAST('0x'||substr(md5($v),1,15) AS BIGINT)%${graft.functions.Hashing.P32})"

  /** x15's shared CTEs ending in w(doc_id, n_feats, w_dec) — the dense
    * 4096-bucket two-sided hashed-LM model (target = src0/src1) and
    * the raw-doc exact-decimal weights, mirroring Dsir.weightsDec:
    * grid LEFT JOIN per-side counts, side totals as window sums over
    * the dense frame, 9-dp-rounded add-one log-probs differenced in
    * DECIMAL(28,12). */
  private val DsirCtes: String = dsirCtes(ngrams = 1)

  /** [[DsirCtes]] + the x15b Gumbel-key/rank CTEs ending in
    * r(doc_id, w_dec, s_dec, rn) — shared by the resample and the
    * selection-bias oracles. */
  private val DsirSelCtes: String =
    s"""$DsirCtes,
       |sk AS (SELECT doc_id, w_dec,
       |    w_dec + CAST(round(-ln(-least(round(ln(
       |        (${h32Sql("CAST(doc_id AS VARCHAR)")} + 1) / 2147483648.0), 9),
       |      -0.000000001)), 9) AS DECIMAL(28,12)) AS s_dec
       |  FROM w),
       |r AS (SELECT *, row_number() OVER (ORDER BY s_dec DESC, doc_id) AS rn
       |      FROM sk)""".stripMargin

  private def dsirCtes(ngrams: Int): String = {
    val b = graft.text.Dsir.DefaultBuckets
    // ft = the hashed feature stream: unigrams, or uni ∪ bigrams
    // (NON-distinct — DSIR counts occurrences) for ngrams = 2
    val ftSql =
      if (ngrams <= 1) "tk"
      else """list_concat(tk, CASE WHEN len(tk) >= 2
             |  THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
             |  ELSE CAST([] AS VARCHAR[]) END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, source, $ftSql AS tk
       |  FROM (SELECT doc_id, source, $ToksSql AS tk FROM documents)),
       |tc AS (SELECT ${h32Sql("token")} % $b AS bucket, count(*) AS c
       |  FROM (SELECT unnest(tk) AS token FROM d
       |        WHERE source IN ('src0','src1')) GROUP BY 1),
       |rc AS (SELECT ${h32Sql("token")} % $b AS bucket, count(*) AS c
       |  FROM (SELECT unnest(tk) AS token FROM d
       |        WHERE source NOT IN ('src0','src1')) GROUP BY 1),
       |g AS (SELECT range AS bucket FROM range(0, $b)),
       |dt AS (SELECT bucket, coalesce(c, 0) AS ct,
       |  sum(coalesce(c, 0)) OVER () AS nt FROM g LEFT JOIN tc USING (bucket)),
       |dr AS (SELECT bucket, coalesce(c, 0) AS cr,
       |  sum(coalesce(c, 0)) OVER () AS nr FROM g LEFT JOIN rc USING (bucket)),
       |m AS (SELECT bucket,
       |    CAST(round(ln((ct + 1.0) / (nt + ${b}.0)), 9) AS DECIMAL(28,12))
       |  - CAST(round(ln((cr + 1.0) / (nr + ${b}.0)), 9) AS DECIMAL(28,12)) AS lr
       |  FROM dt JOIN dr USING (bucket)),
       |occ AS (SELECT doc_id, ${h32Sql("token")} % $b AS bucket
       |  FROM (SELECT doc_id, unnest(tk) AS token FROM d
       |        WHERE source NOT IN ('src0','src1'))),
       |w AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS w_dec
       |  FROM occ JOIN m USING (bucket) GROUP BY 1)""".stripMargin
  }

  /** The c6/c7 selected-curation chain: c2's gate→dedup→near-dup CTEs
    * (t0…surv), the t29 NB model/scoring replay PREFIXED `nb` scored
    * over `surv` and margin-gated to 'en' at 1.0 (→ mgd), the x15b
    * DSIR weight + Gumbel-top-100 replay PREFIXED `ds` with mgd as
    * the raw pool and src0/src1 as the target (→ seld), and c2's
    * decontamination shingle CTEs over seld (→ dirty). Prefixes exist
    * because the shared [[NbModelCtes]]/[[DsirCtes]] builders collide
    * on CTE names (both bind `d`/`m`/`occ`); the arithmetic is
    * line-for-line the same replay, and the c6/c7 oracles pin it to
    * the operator output either way. */
  private lazy val SelectedChainCtes: String = {
    val b = graft.text.Dsir.DefaultBuckets
    s"""WITH t0 AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
       |feat AS (SELECT doc_id, text, tk,
       |  len(tk) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
       |    greatest(length(text), 1) AS punct_ratio,
       |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
       |    greatest(len(tk), 1) AS stop_ratio,
       |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
       |  FROM t0),
       |keepq AS (SELECT doc_id, text FROM (
       |    SELECT *,
       |      ${QScoreSql} AS q,
       |      $LangCaseSql AS lang
       |    FROM feat)
       |  WHERE q >= 0.5 AND lang = 'en'),
       |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
       |         FROM keepq GROUP BY md5(text)),
       |${minhashCtes("uniq")},
       |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1),
       |surv AS (SELECT doc_id, text FROM uniq
       |         WHERE doc_id NOT IN (SELECT doc_b FROM drops)),
       |nbd AS (SELECT doc_id, lang, $ToksSql AS tk FROM documents),
       |nbtr AS (SELECT * FROM nbd WHERE ${bucketSql(5)} <> 0),
       |nbcnt2 AS (SELECT lang, token, count(*) AS c
       |  FROM (SELECT lang, unnest(tk) AS token FROM nbtr) GROUP BY 1, 2),
       |nbdense AS (SELECT token, lang, coalesce(c, 0) AS c
       |  FROM (SELECT token FROM nbcnt2 GROUP BY 1) v
       |       CROSS JOIN (SELECT lang FROM nbcnt2 GROUP BY 1) l
       |       LEFT JOIN nbcnt2 USING (token, lang)),
       |nbm AS (SELECT token, lang AS pred,
       |  round(ln((c + 1.0) / CAST(sum(c) OVER (PARTITION BY lang)
       |    + count(*) OVER (PARTITION BY lang) AS DOUBLE)), 9) AS logp
       |  FROM nbdense),
       |nbpri AS (SELECT lang AS pred,
       |    CAST(round(ln(CAST(n_docs AS DOUBLE) / n_total), 9)
       |         AS DECIMAL(28,12)) AS prior_dec
       |  FROM (SELECT lang, count(*) AS n_docs,
       |          sum(count(*)) OVER () AS n_total FROM nbtr GROUP BY 1)),
       |nbocc AS (SELECT doc_id, unnest(tk) AS token
       |  FROM (SELECT doc_id, $ToksSql AS tk FROM surv)),
       |nbsc1 AS (SELECT doc_id, pred, tok_dec + prior_dec AS s_dec
       |  FROM (SELECT doc_id, pred, sum(CAST(logp AS DECIMAL(28,12))) AS tok_dec
       |        FROM nbocc JOIN nbm USING (token) GROUP BY 1, 2)
       |  JOIN nbpri USING (pred)),
       |nbr AS (SELECT *,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY s_dec DESC, pred) AS rn,
       |    lead(s_dec) OVER (PARTITION BY doc_id
       |                      ORDER BY s_dec DESC, pred) AS s2 FROM nbsc1),
       |mg AS (SELECT doc_id FROM nbr
       |  WHERE rn = 1 AND pred = 'en'
       |    AND CAST(round(s_dec - s2, 6) AS DOUBLE) >= 1.0),
       |mgd AS (SELECT surv.doc_id, surv.text FROM surv JOIN mg USING (doc_id)),
       |dst AS (SELECT unnest(tk) AS token FROM (
       |    SELECT $ToksSql AS tk FROM documents
       |    WHERE source IN ('src0','src1'))),
       |dsr AS (SELECT doc_id, unnest(tk) AS token FROM (
       |    SELECT doc_id, $ToksSql AS tk FROM mgd)),
       |dstc AS (SELECT ${h32Sql("token")} % $b AS bucket, count(*) AS c
       |  FROM dst GROUP BY 1),
       |dsrc AS (SELECT ${h32Sql("token")} % $b AS bucket, count(*) AS c
       |  FROM dsr GROUP BY 1),
       |dsg AS (SELECT range AS bucket FROM range(0, $b)),
       |dsdt AS (SELECT bucket, coalesce(c, 0) AS ct,
       |  sum(coalesce(c, 0)) OVER () AS nt FROM dsg LEFT JOIN dstc USING (bucket)),
       |dsdr AS (SELECT bucket, coalesce(c, 0) AS cr,
       |  sum(coalesce(c, 0)) OVER () AS nr FROM dsg LEFT JOIN dsrc USING (bucket)),
       |dsm AS (SELECT bucket,
       |    CAST(round(ln((ct + 1.0) / (nt + ${b}.0)), 9) AS DECIMAL(28,12))
       |  - CAST(round(ln((cr + 1.0) / (nr + ${b}.0)), 9) AS DECIMAL(28,12)) AS lr
       |  FROM dsdt JOIN dsdr USING (bucket)),
       |dsw AS (SELECT doc_id, sum(lr) AS w_dec
       |  FROM (SELECT doc_id, ${h32Sql("token")} % $b AS bucket FROM dsr)
       |  JOIN dsm USING (bucket) GROUP BY 1),
       |dsrn AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY s_dec DESC, doc_id) AS rn
       |  FROM (SELECT doc_id, w_dec +
       |      CAST(round(-ln(-least(round(ln(
       |          (${h32Sql("CAST(doc_id AS VARCHAR)")} + 1) / 2147483648.0), 9),
       |        -0.000000001)), 9) AS DECIMAL(28,12)) AS s_dec FROM dsw)),
       |seld AS (SELECT mgd.doc_id, mgd.text FROM mgd
       |  JOIN (SELECT doc_id FROM dsrn WHERE rn <= 100) s USING (doc_id)),
       |evsh AS (SELECT DISTINCT unnest(sh) AS s FROM (
       |    SELECT ${shSqlN(5)} AS sh FROM (
       |      SELECT $ToksSql AS tk FROM documents WHERE doc_id % 25 = 0))),
       |ssh AS (SELECT doc_id, unnest(sh) AS s FROM (
       |    SELECT doc_id, ${shSqlN(5)} AS sh FROM (
       |      SELECT doc_id, $ToksSql AS tk FROM seld))),
       |dirty AS (SELECT DISTINCT ssh.doc_id FROM ssh JOIN evsh ON ssh.s = evsh.s)""".stripMargin
  }

  /** t29's densified add-one NB model CTEs ending in m(token, lang, c,
    * logp) over the hash-80% train split — shared by the t29 and t29b
    * oracles. Label totals and |V| ride lang-partitioned windows over
    * the DENSE frame (count(*) per lang partition IS |V|), mirroring
    * the operator's window shape. */
  private val NbModelCtes: String = nbModelCtes(minDf = 1)

  /** The t29b/t29d scoring replay over [[NbModelCtes]]: score the
    * `spCte` split against the hash-80% model, argmax with margins;
    * `where` replaces the default rn = 1 cut (t29d appends the
    * confident-disagreement filter). */
  private def nbClassifySql(spCte: String, where: String,
                            finalSql: String = ""): String = {
    val cut = if (where.isEmpty) "WHERE rn = 1" else where
    s"""$NbModelCtes,
       |sp AS ($spCte),
       |occ AS (SELECT doc_id, lang AS actual, unnest(tk) AS token FROM sp),
       |pri AS (SELECT lang AS pred,
       |    CAST(round(ln(CAST(n_docs AS DOUBLE) / n_total), 9)
       |         AS DECIMAL(28,12)) AS prior_dec
       |  FROM (SELECT lang, count(*) AS n_docs,
       |          sum(count(*)) OVER () AS n_total FROM tr GROUP BY 1)),
       |sc0 AS (SELECT doc_id, actual, m.lang AS pred,
       |    sum(CAST(logp AS DECIMAL(28,12))) AS tok_dec
       |  FROM occ JOIN m USING (token) GROUP BY 1, 2, 3),
       |sc1 AS (SELECT doc_id, actual, pred, tok_dec + prior_dec AS s_dec
       |  FROM sc0 JOIN pri USING (pred)),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY s_dec DESC, pred) AS rn,
       |    lead(s_dec) OVER (PARTITION BY doc_id
       |                      ORDER BY s_dec DESC, pred) AS s2 FROM sc1)
       |${if (finalSql.nonEmpty) finalSql else
      s"""SELECT doc_id, actual, pred, CAST(round(s_dec, 6) AS DOUBLE) AS score,
         |       CAST(round(s_dec - s2, 6) AS DOUBLE) AS margin,
         |       pred = actual AS correct
         |FROM r $cut""".stripMargin}""".stripMargin
  }

  private def nbModelCtes(minDf: Int): String = {
    val vocabHaving = if (minDf <= 1) "" else s" HAVING sum(c) >= $minDf"
    s"""WITH d AS (SELECT doc_id, lang, $ToksSql AS tk FROM documents),
       |tr AS (SELECT * FROM d WHERE ${bucketSql(5)} <> 0),
       |cnt AS (SELECT lang, unnest(tk) AS token FROM tr),
       |cnt2 AS (SELECT lang, token, count(*) AS c FROM cnt GROUP BY 1, 2),
       |dense AS (SELECT token, lang, coalesce(c, 0) AS c
       |  FROM (SELECT token FROM cnt2 GROUP BY 1$vocabHaving) v
       |       CROSS JOIN (SELECT lang FROM cnt2 GROUP BY 1) l
       |       LEFT JOIN cnt2 USING (token, lang)),
       |m AS (SELECT token, lang, CAST(c AS BIGINT) AS c,
       |  round(ln((c + 1.0) / CAST(sum(c) OVER (PARTITION BY lang)
       |    + count(*) OVER (PARTITION BY lang) AS DOUBLE)), 9) AS logp
       |  FROM dense)""".stripMargin
  }

  private val MinhashSql: String =
    TextDedup.MinHashA.zip(TextDedup.MinHashB).map { case (a, b) =>
      s"list_min(list_transform(sh, s -> ($a*${h32Sql("s")}+$b)%${graft.functions.Hashing.P32}))"
    }.mkString("[", ",\n     ", "]")

  /** Hyperplane sign-bucket bit string for [[Knn.lshBucket]]: each
    * char is '1' iff the integer-weighted projection is >= 0. The
    * md5-derived weights ([[graft.functions.LshSignBucket.weight]])
    * are baked in as list literals — same pattern as the MinHash
    * coefficient constants — sized to the 64-dim embeddings corpus.
    * list_sum(list_transform(...)) folds left-to-right like the
    * kernel's loop, so the projections are bit-identical. */
  private def LshBucketSql(vec: String, planes: Int = 6, dims: Int = 64): String =
    (0 until planes).map { p =>
      val w = (0 until dims)
        .map(d => graft.functions.LshSignBucket.weight(p, d))
        .mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(range(len($vec)), d -> $vec[d+1] * ($w)[d+1])) >= 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")

  /** SimHash fingerprint CTEs ending in fp(doc_id, fhi, flo) — the two
    * signed 32-bit halves as BIGINTs — shared by the d4 and d4b
    * oracles. */
  private val SimHashFpCtes: String =
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS tk FROM documents),
       |hs AS (SELECT doc_id,
       |  list_transform(tk, s -> CAST('0x'||substr(md5(s),1,8) AS BIGINT)) AS lo,
       |  list_transform(tk, s -> CAST('0x'||substr(md5(s),9,8) AS BIGINT)) AS hi FROM toks),
       |bits AS (SELECT doc_id,
       |  [CASE WHEN list_sum(list_transform(lo, v -> CASE WHEN CAST(floor(v/(2**j)) AS BIGINT)%2=1 THEN 1 ELSE -1 END)) > 0 THEN CAST(2**j AS BIGINT) ELSE 0 END for j in range(0,32)] AS lob,
       |  [CASE WHEN list_sum(list_transform(hi, v -> CASE WHEN CAST(floor(v/(2**j)) AS BIGINT)%2=1 THEN 1 ELSE -1 END)) > 0 THEN CAST(2**j AS BIGINT) ELSE 0 END for j in range(0,32)] AS hib
       | FROM hs),
       |fp AS (SELECT doc_id,
       |  CAST(coalesce(list_sum(hib), 0) AS BIGINT) AS fhi,
       |  CAST(coalesce(list_sum(lob), 0) AS BIGINT) AS flo FROM bits)""".stripMargin

  /** MinHash LSH candidate + verify CTEs (toks → sigs → bands → cand →
    * ver) over `src(doc_id, text)` — shared by the d3, d6, d7, d8 and
    * c1 oracles. No leading WITH so callers can prepend their own CTEs;
    * `candPred` restricts which banded (a, b) matches become
    * candidates (default = self-join dedup ordering). */
  private def minhashCtes(src: String,
                          candPred: String = "a.doc_id < b.doc_id"): String =
    s"""toks AS (
       |  SELECT doc_id, $ShSql AS sh
       |  FROM (SELECT doc_id, $ToksSql AS tk FROM $src)
       |  WHERE len(tk) >= 3),
       |sigs AS (SELECT doc_id, sh, $MinhashSql AS sig FROM toks),
       |bands AS (SELECT doc_id, j AS band,
       |                 array_to_string(sig[${TextDedup.RowsPerBand}*j+1:${TextDedup.RowsPerBand}*j+${TextDedup.RowsPerBand}], ':') AS bsig
       |          FROM sigs, range(0, ${TextDedup.Bands}) r(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
       |                           AND $candPred),
       |ver AS (SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
       |    (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jaccard
       |  FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b)""".stripMargin

  private lazy val MinhashCtes: String = "WITH " + minhashCtes("documents")

  /** [[minhashCtes]] at an explicit banding plan — signatures from the
    * first bands·rows pool constants (the tuned-path contract:
    * pool.take(16) IS the default constants, so (4, 4) reproduces
    * [[minhashCtes]] exactly). */
  private def minhashCtesAt(src: String, bands: Int, rows: Int,
                            candPred: String = "a.doc_id < b.doc_id"): String = {
    val k = bands * rows
    val sigSql = graft.dedup.TextDedup.MinHashPoolA.take(k)
      .zip(graft.dedup.TextDedup.MinHashPoolB.take(k)).map { case (a, b) =>
        s"list_min(list_transform(sh, s -> ($a*${h32Sql("s")}+$b)%${graft.functions.Hashing.P32}))"
      }.mkString("[", ",\n     ", "]")
    s"""toks AS (
       |  SELECT doc_id, $ShSql AS sh
       |  FROM (SELECT doc_id, $ToksSql AS tk FROM $src)
       |  WHERE len(tk) >= 3),
       |sigs AS (SELECT doc_id, sh, $sigSql AS sig FROM toks),
       |bands AS (SELECT doc_id, j AS band,
       |                 array_to_string(sig[$rows*j+1:$rows*j+$rows], ':') AS bsig
       |          FROM sigs, range(0, $bands) r(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
       |                           AND $candPred),
       |ver AS (SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) /
       |    (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jaccard
       |  FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b)""".stripMargin
  }

  /** [[ToksSqlOn]]'s tokens re-joined with each token suffixed
    * `#<doc_id>` — the SQL twin of [[tagTokensByDoc]] (the d8d no-dup
    * corpus): cross-doc shingle sets disjoint by construction. */
  private val TaggedDocsSql: String =
    """(SELECT doc_id, array_to_string(list_transform(""" +
      ToksSqlOn("text") +
      """, x -> x || '#' || CAST(doc_id AS VARCHAR)), ' ') AS text
        |FROM documents)""".stripMargin

  /** The d8b/d8c/d8d retune-loop oracle, parameterized by the
    * candidates-per-pair budget SQL literal and the corpus source
    * (the entries share [[retuneScenario]] the same way): operating
    * legs on the even-id corpus at both configs, the budgeted choice
    * as an ORDER BY over exact longs + one IEEE division, the odd-id
    * probe legs at both plans, and the post-loop committed plan
    * (demoted plan when the choice rebanded, the committed recall
    * plan otherwise — the engine side reads it from the CATALOG, so
    * a silent reband diverges here). */
  private def retuneOracleSql(budgetSql: String,
                              srcSql: String = "documents"): String = {
    val plan = graft.dedup.Banding.tune(0.1, maxK = 16)
    val (tb, tr) = (plan.bands, plan.rowsPerBand)
    val even = s"(SELECT doc_id, text FROM $srcSql s WHERE doc_id % 2 = 0)"
    def opLeg(name: String, b: Int, r: Int): String =
      s"""SELECT '$name' AS config, $b AS bands, $r AS rows_per_band,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN jaccard >= 0.1 THEN 1 ELSE 0 END),
         |                0) AS BIGINT) AS n_pairs
         |FROM (WITH ${minhashCtesAt(even, b, r)}
         |      SELECT jaccard FROM ver) v""".stripMargin
    def betweenLeg(b: Int, r: Int): String =
      s"""SELECT CAST(count(*) AS BIGINT) AS n
         |FROM (WITH ${minhashCtesAt(s"$srcSql s", b, r,
                 candPred = "a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")}
         |      SELECT jaccard FROM ver WHERE jaccard >= 0.1) v""".stripMargin
    s"""WITH ops AS (${opLeg("default", 4, 4)}
       |UNION ALL
       |${opLeg("tuned", tb, tr)}),
       |pick AS (SELECT *, CAST(n_candidates AS DOUBLE) /
       |                   CAST(n_pairs AS DOUBLE) AS cpp
       |  FROM ops
       |  WHERE n_pairs > 0 AND CAST(n_candidates AS DOUBLE) /
       |        CAST(n_pairs AS DOUBLE) <= $budgetSql
       |  ORDER BY n_pairs DESC, cpp ASC,
       |           bands * rows_per_band ASC, bands DESC
       |  LIMIT 1),
       |pb AS (${betweenLeg(tb, tr)}),
       |pa AS (${betweenLeg(4, 4)}),
       |reb AS (SELECT coalesce(
       |  (SELECT bands <> $tb OR rows_per_band <> $tr FROM pick),
       |  FALSE) AS r)
       |SELECT CAST($tb AS INTEGER) AS committed_bands,
       |  CAST($tr AS INTEGER) AS committed_rows,
       |  CASE WHEN (SELECT count(*) FROM pick) = 1 THEN 'chosen'
       |       WHEN (SELECT coalesce(max(n_pairs), 0) FROM ops) = 0
       |         THEN 'no_pairs'
       |       ELSE 'over_budget' END AS outcome,
       |  (SELECT config FROM pick) AS chosen_config,
       |  (SELECT CAST(bands AS INTEGER) FROM pick) AS chosen_bands,
       |  (SELECT CAST(rows_per_band AS INTEGER) FROM pick) AS chosen_rows,
       |  (SELECT r FROM reb) AS rebanded,
       |  CASE WHEN (SELECT r FROM reb)
       |       THEN (SELECT CAST(bands AS INTEGER) FROM pick)
       |       ELSE CAST($tb AS INTEGER) END AS plan_after_bands,
       |  CASE WHEN (SELECT r FROM reb)
       |       THEN (SELECT CAST(rows_per_band AS INTEGER) FROM pick)
       |       ELSE CAST($tr AS INTEGER) END AS plan_after_rows,
       |  (SELECT n FROM pb) AS pairs_before,
       |  CASE WHEN (SELECT r FROM reb) THEN (SELECT n FROM pa)
       |       ELSE (SELECT n FROM pb) END AS pairs_after""".stripMargin
  }

  private val LangScoreSql: Seq[(String, String)] =
    TextAnalysis.LangProfiles.map { case (lang, words) =>
      lang -> s"len(list_filter(tk, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    }

  private val LangCaseSql: String = {
    val langs = TextAnalysis.LangProfiles.map(_._1)
    val cases = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE 'und' END"
  }

  private val EnStopsSql: String =
    TextAnalysis.LangProfiles.find(_._1 == "en").get._2.map(w => s"'$w'").mkString(",")

  /** §6-quantized cosine of two embedding-list SQL operands — every
    * oracle cosine routes through this ONE Quantize.qdpSql-backed
    * definition (ADVICE r14: the hand-inlined quantizer copies in the
    * ANN CTEs reintroduced the copy-drift risk the Q6 factoring
    * eliminates elsewhere). */
  private def cosSqlOf(a: String, b: String): String =
    Q6(s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))")

  /** §6-quantized PQ encode distance ‖xs−cw‖² in expanded dot form —
    * shared by every IVF-PQ oracle's enc0 CTE. */
  private def pqD2Sql(xs: String, cw: String): String =
    Q6(s"list_dot_product($xs, $xs) - 2*list_dot_product($xs, $cw) + list_dot_product($cw, $cw)")

  /** §6-quantized ADC table entry (query subvector · codeword) —
    * shared by every IVF-PQ oracle's qtab CTE. */
  private def PqQdotSql: String =
    Q6("list_dot_product(list_slice(qe, j*16+1, j*16+16), cw)")

  private val CosSql = cosSqlOf("qe", "ce")

  /** e16-family shared signature/band CTEs over `src(vec_id, e)`:
    * plane count derived in the same pure-integer arithmetic as
    * [[graft.ann.Knn.derivePlanes]], signature generated at the
    * 64-bit maximum, sliced at the derived width (bit p is the same
    * function of the vector at any signature width, so the slices
    * match the engine's shorter planes·tables-bit signature). ADVICE
    * r15: 64 bits carry at most 16 planes × 4 tables, so the slice
    * GUARDS the width — past ~2M vectors (derived p > 16) the oracle
    * fails LOUDLY via error() instead of silently banding past the
    * signature's end, which would diverge from the engine without a
    * correctness signal. No leading WITH; emits pp, a, ab. */
  private def graphBandCtes(src: String): String =
    s"""pp AS (SELECT GREATEST(4, CASE WHEN m <= 1 THEN 0
       |                               ELSE length(bin(m - 1)) END) AS p
       |       FROM (SELECT (count(*) + 31) // 32 AS m FROM $src)),
       |a AS (SELECT vec_id, e, ${LshBucketSql("e", 64)} AS sig FROM $src),
       |ab AS (SELECT vec_id, t,
       |         CASE WHEN p <= 16 THEN substr(sig, t*p + 1, p)
       |              ELSE error('e16 oracle: derived planes > 16 overruns the 64-bit oracle signature') END AS bucket
       |       FROM a, range(0, 4) r(t), pp)""".stripMargin

  /** SQL twin of [[dupHeavyCorpus]] — the e16c/e16d duplicate-heavy
    * corpus as CTEs (v0 = the cast embedding set, v = v0 plus vec_id
    * 0 replicated 300× under ids 1000001..1000300). One definition so
    * the two oracles' corpora cannot drift from each other or from
    * the engine helper. No leading WITH; emits v0, v. */
  private def dupCorpusCtes: String =
    s"""v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |            FROM embeddings),
       |v AS (SELECT vec_id, e FROM v0
       |      UNION ALL
       |      SELECT 1000000 + r AS vec_id, e
       |      FROM v0, range(1, 301) rr(r) WHERE vec_id = 0)""".stripMargin

  /** e18/e16c shared IVF-cell graph CTEs over `src(vec_id, e)` —
    * centroid sample (h32 order, LIMIT 16 = the engine's pinned
    * default C), nearest-centroid assignment, same-cell pairing with
    * self excluded, quantized-cosine rank. ONE definition so the two
    * oracles cannot drift (the graphBandCtes/measureGuard rationale).
    * No leading WITH; emits cent, asg0, asg, s, sc, r. */
  private def ivfGraphCtes(src: String): String =
    s"""cent AS (SELECT vec_id AS cent_id, e AS cent FROM $src
       |         ORDER BY ${h32Sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
       |asg0 AS (SELECT vec_id, e, cent_id,
       |  ${cosSqlOf("e", "cent")} AS csim
       |  FROM $src, cent),
       |asg AS (SELECT vec_id, e, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
       |  WHERE rn = 1),
       |s AS (SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
       |        x.e AS qe, y.e AS ce
       |      FROM asg x JOIN asg y USING (cent_id)
       |      WHERE x.vec_id <> y.vec_id),
       |sc AS (SELECT query_id, neighbor_id, $CosSql AS sim FROM s),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM sc)""".stripMargin

  /** Two unrolled Lloyd rounds over `src(vec_id, e)` — CTEs c0 → a1 →
    * d1 → c1 → a2 → d2 → c2 mirroring [[KMeans.lloyd]] (k = 8, seeds =
    * the 8 smallest vec_ids, decimal-exact means rounded to 6 dp,
    * empty clusters carrying the previous centroid forward). No
    * leading WITH; shared by the e4 and e3b oracles. */
  private def kmeansCtes(src: String): String = {
    def asg(cent: String) =
      s"""SELECT vec_id, e, cent_id FROM (
         |  SELECT v.vec_id, v.e, c.cent_id,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${cosSqlOf("v.e", "c.cent")} DESC,
         |           c.cent_id) AS rn
         |  FROM $src v, $cent c) WHERE rn = 1""".stripMargin
    def mean(s: String) =
      s"""SELECT cent_id, d AS dim,
         |  ${Q6("CAST(sum(CAST(e[d+1] AS DECIMAL(28,12))) AS DOUBLE)" +
          " / count(*)")} AS value
         |FROM $s, range(0, 64) r(d) GROUP BY 1, 2""".stripMargin
    // empty clusters carry their previous centroid forward (c1/c2
    // union the prior round's centroids for cent_ids absent from the
    // recompute), mirroring KMeans.lloyd
    def carry(newc: String, prevc: String) =
      s"""SELECT cent_id, cent FROM $newc UNION ALL
         |  SELECT cent_id, cent FROM $prevc
         |  WHERE cent_id NOT IN (SELECT cent_id FROM $newc)""".stripMargin
    s"""c0 AS (SELECT vec_id AS cent_id, e AS cent FROM $src ORDER BY vec_id LIMIT 8),
       |a1 AS (${asg("c0")}),
       |d1 AS (${mean("a1")}),
       |c1n AS (SELECT cent_id, list(value ORDER BY dim) AS cent FROM d1 GROUP BY cent_id),
       |c1 AS (${carry("c1n", "c0")}),
       |a2 AS (${asg("c1")}),
       |d2 AS (${mean("a2")}),
       |c2n AS (SELECT cent_id, list(value ORDER BY dim) AS cent FROM d2 GROUP BY cent_id),
       |c2 AS (${carry("c2n", "c1")})""".stripMargin
  }

  /** The e6 persisted-index oracle: e5's IVF-PQ search pipeline with
    * quantizers sampled from the BASE corpus only (vec_id >= 110) —
    * the write()-then-update() state: update encodes the batch under
    * the frozen base quantizers, so the probed index equals this
    * direct computation. Parameterized by the final rank cut (5 for
    * e6/e6b; 20 for e9b's vector leg) and an extra searchable-corpus
    * predicate (e6c's delete leg: the corpus sheds the deleted ids but
    * the quantizer sample stays the FULL base — the frozen contract). */
  private def ivfPqIndexSql(rankLimit: Int, corpusExtra: String = "",
                            candExtra: String = ""): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v
       |      WHERE vec_id >= 10$corpusExtra),
       |base AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 110),
       |cent AS (SELECT neighbor_id AS cent_id, ce AS cent FROM base
       |         ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
       |cbs AS (SELECT neighbor_id AS code_id, ce FROM base
       |        ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
       |cb AS (SELECT code_id, CAST(j AS INTEGER) AS j,
       |              list_slice(ce, j*16+1, j*16+16) AS cw
       |       FROM cbs, range(0, 4) r(j)),
       |sv AS (SELECT neighbor_id, CAST(j AS INTEGER) AS j,
       |              list_slice(ce, j*16+1, j*16+16) AS xs
       |       FROM c, range(0, 4) r(j)),
       |enc0 AS (SELECT neighbor_id, j, code_id,
       |    ${pqD2Sql("xs", "cw")} AS d2
       |  FROM sv JOIN cb USING (j)),
       |enc AS (SELECT neighbor_id, j, code_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id, j
       |                                 ORDER BY d2, code_id) AS rn FROM enc0)
       |  WHERE rn = 1),
       |asg0 AS (SELECT neighbor_id, cent_id,
       |  ${cosSqlOf("ce", "cent")} AS csim
       |  FROM c, cent),
       |asg AS (SELECT neighbor_id, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
       |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
       |  WHERE rn = 1),
       |pr0 AS (SELECT query_id, cent_id,
       |  ${cosSqlOf("qe", "cent")} AS csim
       |  FROM q, cent),
       |pr AS (SELECT query_id, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY csim DESC, cent_id) AS rn FROM pr0)
       |  WHERE rn <= 4),
       |qtab AS (SELECT query_id, j, code_id AS code,
       |    ${PqQdotSql} AS qdot
       |  FROM q, cb),
       |adc AS (SELECT query_id, neighbor_id,
       |    CAST(round(sum(CAST(qdot AS DECIMAL(28,12))), 6) AS DOUBLE) AS adc
       |  FROM pr JOIN asg USING (cent_id)
       |       JOIN enc USING (neighbor_id)
       |       JOIN qtab USING (query_id, j, code)$candExtra
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adc DESC, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= 100),
       |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
       |      FROM short JOIN q USING (query_id) JOIN c USING (neighbor_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
       |FROM r WHERE rnk <= $rankLimit""".stripMargin

  /** The trained IVF-PQ oracle — e5's PQ pipeline over e3b's k-means-
    * trained coarse quantizer: kmeansCtes trains cent (c2), everything
    * from cbs on mirrors Pq.ivfPqCore exactly as in the e5 oracle,
    * with nProbe = 2. Shared by e5b (the direct trained composition)
    * and e20 (a retrained persisted index probes identically to a
    * fresh trained build over the same corpus). */
  private lazy val TrainedIvfPqSql: String =
    s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |            FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10),
       |v AS (SELECT vec_id, e FROM v0 WHERE vec_id >= 10),
       |${kmeansCtes("v")},
       |cent AS (SELECT cent_id, cent FROM c2),
       |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v),
       |cbs AS (SELECT neighbor_id AS code_id, ce FROM c
       |        ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
       |cb AS (SELECT code_id, CAST(j AS INTEGER) AS j,
       |              list_slice(ce, j*16+1, j*16+16) AS cw
       |       FROM cbs, range(0, 4) r(j)),
       |sv AS (SELECT neighbor_id, CAST(j AS INTEGER) AS j,
       |              list_slice(ce, j*16+1, j*16+16) AS xs
       |       FROM c, range(0, 4) r(j)),
       |enc0 AS (SELECT neighbor_id, j, code_id,
       |    ${pqD2Sql("xs", "cw")} AS d2
       |  FROM sv JOIN cb USING (j)),
       |enc AS (SELECT neighbor_id, j, code_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY neighbor_id, j
       |                                 ORDER BY d2, code_id) AS rn FROM enc0)
       |  WHERE rn = 1),
       |asg0 AS (SELECT neighbor_id, cent_id,
       |  ${cosSqlOf("ce", "cent")} AS csim
       |  FROM c, cent),
       |asg AS (SELECT neighbor_id, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
       |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
       |  WHERE rn = 1),
       |pr0 AS (SELECT query_id, cent_id,
       |  ${cosSqlOf("qe", "cent")} AS csim
       |  FROM q, cent),
       |pr AS (SELECT query_id, cent_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY csim DESC, cent_id) AS rn FROM pr0)
       |  WHERE rn <= 2),
       |qtab AS (SELECT query_id, j, code_id AS code,
       |    ${PqQdotSql} AS qdot
       |  FROM q, cb),
       |adc AS (SELECT query_id, neighbor_id,
       |    CAST(round(sum(CAST(qdot AS DECIMAL(28,12))), 6) AS DOUBLE) AS adc
       |  FROM pr JOIN asg USING (cent_id)
       |       JOIN enc USING (neighbor_id)
       |       JOIN qtab USING (query_id, j, code)
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adc DESC, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= 100),
       |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
       |      FROM short JOIN q USING (query_id) JOIN c USING (neighbor_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
       |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
       |FROM r WHERE rnk <= 5""".stripMargin

  /** 30-min-gap session assignment CTEs (w → f → sx), shared by the
    * st2 and st4 oracles. */
  private val SessionCtes =
    """WITH w AS (
      |  SELECT user_id, event_id, ts, value,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |                     THEN 1 ELSE 0 END AS new_session FROM w),
      |sx AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                        ROWS UNBOUNDED PRECEDING) AS session_idx FROM f)""".stripMargin

  def oracleSql: Map[String, String] =
    // e6b probes the identical (base-quantizer, update-merged) index
    // state e6 builds — output is the same by construction, so the two
    // share one oracle
    baseOracleSql +
      ("e6b_ann_probe" -> baseOracleSql("e6_ann_index")) +
      // e9b: vector leg = the e6/e6b persisted-index pipeline ranked
      // to 20 (as a subquery); lexical leg = e9's MLT CTEs verbatim
      // over doc_id >= 10 (the indexed corpus — e8b's EXACT stats
      // maintenance makes probe == fresh recompute); same RRF tail
      ("e9b_hybrid_indexed" ->
        s"""WITH vr AS (SELECT query_id, neighbor_id AS doc_id, rnk AS rank
           |           FROM (${ivfPqIndexSql(20)}) iv),
           |tok AS (SELECT doc_id, unnest(tk) AS token
           |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
           |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
           |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
           |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS token
           |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id < 10)),
           |dfq AS (SELECT token, count(*) AS dfn
           |        FROM tf JOIN (SELECT DISTINCT token FROM qt) USING (token)
           |        GROUP BY 1),
           |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
           |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
           |       JOIN dl USING (doc_id) CROSS JOIN st),
           |pd AS (SELECT query_id, doc_id,
           |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
           |      AS score
           |  FROM sc GROUP BY 1, 2),
           |lr AS (SELECT query_id, doc_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY score DESC, doc_id) AS rank
           |       FROM pd),
           |u AS (SELECT query_id, doc_id, rank FROM vr WHERE rank <= 20
           |      UNION ALL
           |      SELECT query_id, doc_id, rank FROM lr WHERE rank <= 20),
           |f AS (SELECT query_id, doc_id,
           |    ${Q6("CAST(sum(CAST(" + Q9("CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE)") + " AS DECIMAL(28,12))) AS DOUBLE)")}
           |      AS rrf_score
           |  FROM u GROUP BY 1, 2),
           |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |                 ORDER BY rrf_score DESC, doc_id) AS rn FROM f)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf_score
           |FROM fr WHERE rn <= 10""".stripMargin) +
      // e12: the e2 (approx) and e1 (exact) pipelines as subqueries,
      // joined per query — hit count over the shared (query, neighbor)
      // pairs, recall = hits/exact
      ("e12_recall_eval" ->
        s"""WITH ap AS (SELECT query_id, neighbor_id
           |           FROM (${baseOracleSql("e2_knn_lsh")}) a),
           |ex AS (SELECT query_id, neighbor_id
           |       FROM (${baseOracleSql("e1_knn_brute")}) b),
           |ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
           |       FROM ex GROUP BY 1),
           |nh AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
           |       FROM ap JOIN ex USING (query_id, neighbor_id) GROUP BY 1)
           |SELECT query_id, n_exact,
           |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           |  ${Q6("CAST(coalesce(n_hits, 0) AS DOUBLE)" +
            " / CAST(n_exact AS DOUBLE)")} AS recall
           |FROM ne LEFT JOIN nh USING (query_id)""".stripMargin) +
      // t15c: the t15b merge table (as a subquery) replayed over every
      // word of every doc — bracket-wrap then one literal replace per
      // round in training order (identical greedy semantics); missing
      // rounds (exhausted training) coalesce to an unmatchable needle
      ("t15c_bpe_encode" ->
        s"""WITH m AS (SELECT * FROM (${baseOracleSql("t15b_bpe_rounds")}) mm),
           |w AS (SELECT doc_id, word FROM (
           |        SELECT doc_id, unnest(tk) AS word
           |        FROM (SELECT doc_id, $ToksSql AS tk FROM documents)) uw
           |      WHERE NOT contains(word, '[') AND NOT contains(word, ']')),
           |${bpeWxCtes("doc_id")},
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(length(word)) AS BIGINT) AS n_chars,
           |    CAST(sum(length(wr) - length(replace(wr, '[', ''))) AS BIGINT)
           |      AS n_bpe_tokens
           |  FROM wx3 GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(coalesce(agg.n_words, 0) AS BIGINT) AS n_words,
           |  CAST(coalesce(agg.n_chars, 0) AS BIGINT) AS n_chars,
           |  CAST(coalesce(agg.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
           |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin) +
      // t7b: the t15c per-doc BPE budget driving t7's packing window —
      // bins fill on real tokenizer counts, not the regex proxy
      ("t7b_bpe_pack" ->
        s"""WITH m AS (SELECT * FROM (${baseOracleSql("t15b_bpe_rounds")}) mm),
           |w AS (SELECT doc_id, word FROM (
           |        SELECT doc_id, unnest(tk) AS word
           |        FROM (SELECT doc_id, $ToksSql AS tk FROM documents)) uw
           |      WHERE NOT contains(word, '[') AND NOT contains(word, ']')),
           |${bpeWxCtes("doc_id")},
           |agg AS (SELECT doc_id,
           |    CAST(sum(length(wr) - length(replace(wr, '[', ''))) AS BIGINT)
           |      AS n_bpe FROM wx3 GROUP BY 1),
           |c AS (SELECT d.doc_id, CAST(coalesce(agg.n_bpe, 0) AS BIGINT) AS n_tokens,
           |        ${bucketSql(8)} AS bucket
           |      FROM documents d LEFT JOIN agg USING (doc_id)),
           |p AS (SELECT *, CAST(floor(coalesce(
           |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
           |      AS BIGINT) AS bin FROM c)
           |SELECT bucket, bin, count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
           |FROM p GROUP BY 1, 2""".stripMargin) +
      // t32: t15c's encode + a per-source rollup; ratio via the x21
      // floor quantizer (pure IEEE, engine-identical)
      ("t32_bpe_fertility" -> T32FertilitySql) +
      // x22: x21's allocation re-priced in t32's real tokenizer
      // tokens — both legs the shared oracles verbatim as subqueries,
      // joined on source; shares are exact-decimal-sum quotients
      ("x22_token_budget_report" ->
        s"""WITH mix AS (SELECT * FROM (${baseOracleSql("x21_budget_mix")}) m),
           |fert AS (SELECT * FROM ($T32FertilitySql) f),
           |j AS (SELECT mix.stratum AS source, mix.capacity, mix.capped,
           |        mix.allocation, fert.chars_per_token,
           |        CASE WHEN mix.capacity = 0 THEN NULL
           |             ELSE ${Q6("CAST(fert.n_bpe_tokens AS DOUBLE)" +
            " / CAST(mix.capacity AS DOUBLE)")} END AS bpe_per_token,
           |        CASE WHEN mix.capacity = 0 THEN CAST(0.0 AS DOUBLE)
           |             ELSE ${Q6("(mix.allocation" +
            " * CAST(fert.n_bpe_tokens AS DOUBLE))" +
            " / CAST(mix.capacity AS DOUBLE)")} END AS eff_bpe_tokens
           |      FROM mix JOIN fert ON mix.stratum = fert.source)
           |SELECT source, capacity, capped, allocation, chars_per_token,
           |  bpe_per_token, eff_bpe_tokens,
           |  ${Q6("allocation / CAST(sum(CAST(allocation AS DECIMAL(28,6)))" +
            " OVER () AS DOUBLE)")} AS alloc_share,
           |  ${Q6("eff_bpe_tokens / CAST(sum(CAST(eff_bpe_tokens" +
            " AS DECIMAL(28,6))) OVER () AS DOUBLE)")} AS eff_share
           |FROM j""".stripMargin) +
      // t9b: per-WORD BPE costs (same replay, position carried through)
      // chunked by running-total division — TextAnalysis.bpeChunkStats
      ("t9b_bpe_chunks" ->
        s"""WITH m AS (SELECT * FROM (${baseOracleSql("t15b_bpe_rounds")}) mm),
           |w AS (SELECT doc_id, pos, word FROM (
           |        SELECT doc_id, i AS pos, tk[CAST(i AS INTEGER)] AS word
           |        FROM (SELECT doc_id, $ToksSql AS tk FROM documents) d,
           |             unnest(range(1, len(tk) + 1)) r(i)) uw
           |      WHERE NOT contains(word, '[') AND NOT contains(word, ']')),
           |${bpeWxCtes("doc_id, pos")},
           |cost AS (SELECT doc_id, pos,
           |    CAST(length(wr) - length(replace(wr, '[', '')) AS BIGINT) AS cost
           |  FROM wx3),
           |p AS (SELECT doc_id, cost, CAST(floor(coalesce(
           |        sum(cost) OVER (PARTITION BY doc_id ORDER BY pos
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 40)
           |      AS BIGINT) AS chunk_id FROM cost),
           |ch AS (SELECT doc_id, chunk_id, CAST(sum(cost) AS BIGINT) AS chunk_bpe
           |       FROM p GROUP BY 1, 2)
           |SELECT doc_id, count(*) AS n_chunks,
           |       CAST(sum(chunk_bpe) AS BIGINT) AS n_bpe_tokens,
           |       CAST(max(chunk_bpe) AS BIGINT) AS max_chunk_bpe_tokens
           |FROM ch GROUP BY doc_id""".stripMargin) +
      // t1b: Cavnar-Trenkle out-of-place scoring over the synthetic
      // multi-language corpus; profiles/phrases are literals generated
      // from the operator's own constants
      ("t1b_langid_ngram" ->
        s"""WITH ph(i, lang, phrase) AS (VALUES $langPhraseSql),
           |pr(lang, tg, pr) AS (VALUES $langProfSql),
           |langs(lang) AS (VALUES $langListSql),
           |d0 AS (SELECT doc_id, repeat(phrase || ' ',
           |         CAST(doc_id % 3 + 1 AS INTEGER)) AS text
           |       FROM documents
           |       JOIN ph ON ph.i = doc_id % ${LangIdNgram.TestPhrases.size}),
           |d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
           |        lower(text), '[^\\p{L} ]', ' ', 'g'), ' +', ' ', 'g')) AS s
           |      FROM d0),
           |g AS (SELECT doc_id, substring(s, CAST(i AS INTEGER), 3) AS tg
           |      FROM d, unnest(range(1, length(s) - 1)) r(i)
           |      WHERE length(s) >= 3),
           |c AS (SELECT doc_id, tg, count(*) AS n FROM g GROUP BY 1, 2),
           |top AS (SELECT doc_id, tg, rn AS dr FROM (
           |        SELECT *, row_number() OVER (PARTITION BY doc_id
           |                  ORDER BY n DESC, tg) AS rn FROM c) t
           |        WHERE rn <= ${LangIdNgram.K}),
           |sc AS (SELECT doc_id, l.lang,
           |         CAST(sum(coalesce(abs(dr - pr.pr), ${LangIdNgram.K}))
           |           AS BIGINT) AS dist
           |       FROM top CROSS JOIN langs l
           |            LEFT JOIN pr ON pr.lang = l.lang AND pr.tg = top.tg
           |       GROUP BY 1, 2),
           |best AS (SELECT doc_id, lang, dist,
           |           row_number() OVER (PARTITION BY doc_id
           |             ORDER BY dist, lang) AS rn FROM sc)
           |SELECT doc_id, lang AS lang_pred, dist
           |FROM best WHERE rn = 1""".stripMargin) +
      // t28: t1b's scoring CTEs with the top-2 cut pivoted to the
      // margin row — distances are exact integers, so margins replay
      // bit-for-bit
      ("t28_langid_margin" ->
        s"""WITH ph(i, lang, phrase) AS (VALUES $langPhraseSql),
           |pr(lang, tg, pr) AS (VALUES $langProfSql),
           |langs(lang) AS (VALUES $langListSql),
           |d0 AS (SELECT doc_id, repeat(phrase || ' ',
           |         CAST(doc_id % 3 + 1 AS INTEGER)) AS text
           |       FROM documents
           |       JOIN ph ON ph.i = doc_id % ${LangIdNgram.TestPhrases.size}),
           |d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
           |        lower(text), '[^\\p{L} ]', ' ', 'g'), ' +', ' ', 'g')) AS s
           |      FROM d0),
           |g AS (SELECT doc_id, substring(s, CAST(i AS INTEGER), 3) AS tg
           |      FROM d, unnest(range(1, length(s) - 1)) r(i)
           |      WHERE length(s) >= 3),
           |c AS (SELECT doc_id, tg, count(*) AS n FROM g GROUP BY 1, 2),
           |top AS (SELECT doc_id, tg, rn AS dr FROM (
           |        SELECT *, row_number() OVER (PARTITION BY doc_id
           |                  ORDER BY n DESC, tg) AS rn FROM c) t
           |        WHERE rn <= ${LangIdNgram.K}),
           |sc AS (SELECT doc_id, l.lang,
           |         CAST(sum(coalesce(abs(dr - pr.pr), ${LangIdNgram.K}))
           |           AS BIGINT) AS dist
           |       FROM top CROSS JOIN langs l
           |            LEFT JOIN pr ON pr.lang = l.lang AND pr.tg = top.tg
           |       GROUP BY 1, 2),
           |r2 AS (SELECT doc_id, lang, dist,
           |         row_number() OVER (PARTITION BY doc_id
           |           ORDER BY dist, lang) AS rn FROM sc)
           |SELECT doc_id,
           |  max(CASE WHEN rn = 1 THEN lang END) AS lang_pred,
           |  max(CASE WHEN rn = 1 THEN dist END) AS dist,
           |  max(CASE WHEN rn = 2 THEN lang END) AS lang_second,
           |  max(CASE WHEN rn = 2 THEN dist END) AS dist_second,
           |  max(CASE WHEN rn = 2 THEN dist END) -
           |    max(CASE WHEN rn = 1 THEN dist END) AS margin
           |FROM r2 WHERE rn <= 2 GROUP BY doc_id""".stripMargin)

  /** [[LangIdNgram]]'s trained profiles / test phrases / language list
    * as SQL literals — generated from the same Scala constants the
    * operator uses, one source of truth (trigrams are letters/spaces
    * only by normalization — apostrophes and every other punctuation
    * character are stripped — so plain single-quoting is safe for any
    * script). */
  private def langProfSql: String = LangIdNgram.Profiles
    .map { case (l, g, r) => s"('$l', '$g', $r)" }.mkString(", ")
  private def langPhraseSql: String = LangIdNgram.TestPhrases.zipWithIndex
    .map { case ((l, p), i) => s"($i, '$l', '$p')" }.mkString(", ")
  private def langListSql: String = LangIdNgram.Seeds
    .map(s => s"('${s._1}')").mkString(", ")

  /** The trained-merge replay CTE chain (wx1..wx3) shared by the
    * t15c/t7b/t9b oracles: each round's `[a][b]` -> `[ab]` literal
    * replace over bracket-wrapped words, in training order; missing
    * rounds (exhausted training) coalesce to an unmatchable chr(1)
    * needle. `carry` = the key columns to thread through (word and wr
    * ride alongside). Expects CTEs `m` (the merge table) and `w`
    * (carry + word) in scope. */
  private def bpeWxCtes(carry: String): String =
    s"""wx1 AS (SELECT $carry, word, replace(
       |    regexp_replace(word, '(.)', '[\\1]', 'g'),
       |    coalesce((SELECT '[' || sym_a || '][' || sym_b || ']' FROM m WHERE round = 1), chr(1)),
       |    coalesce((SELECT '[' || sym_a || sym_b || ']' FROM m WHERE round = 1), '')) AS wr
       |  FROM w),
       |wx2 AS (SELECT $carry, word, replace(wr,
       |    coalesce((SELECT '[' || sym_a || '][' || sym_b || ']' FROM m WHERE round = 2), chr(1)),
       |    coalesce((SELECT '[' || sym_a || sym_b || ']' FROM m WHERE round = 2), '')) AS wr
       |  FROM wx1),
       |wx3 AS (SELECT $carry, word, replace(wr,
       |    coalesce((SELECT '[' || sym_a || '][' || sym_b || ']' FROM m WHERE round = 3), chr(1)),
       |    coalesce((SELECT '[' || sym_a || sym_b || ']' FROM m WHERE round = 3), '')) AS wr
       |  FROM wx2)""".stripMargin

  /** t32's oracle — factored out so x22 can embed it verbatim as a
    * subquery (the shared-oracle no-drift pattern). */
  private lazy val T32FertilitySql: String =
    s"""WITH m AS (SELECT * FROM (${baseOracleSql("t15b_bpe_rounds")}) mm),
       |w AS (SELECT doc_id, word FROM (
       |        SELECT doc_id, unnest(tk) AS word
       |        FROM (SELECT doc_id, $ToksSql AS tk FROM documents)) uw
       |      WHERE NOT contains(word, '[') AND NOT contains(word, ']')),
       |${bpeWxCtes("doc_id")},
       |agg AS (SELECT doc_id,
       |    CAST(sum(length(wr) - length(replace(wr, '[', ''))) AS BIGINT)
       |      AS n_bpe FROM wx3 GROUP BY 1),
       |c AS (SELECT d.doc_id, d.source,
       |        CAST(strlen(d.text) AS BIGINT) AS nc,
       |        CAST(coalesce(agg.n_bpe, 0) AS BIGINT) AS n_bpe
       |      FROM documents d LEFT JOIN agg USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       |  ${Q6("CAST(sum(nc) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE)")}
       |    AS chars_per_token
       |FROM c GROUP BY 1""".stripMargin

  private lazy val baseOracleSql: Map[String, String] = Map(

    "d1_exact_dedup" ->
      """WITH g AS (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_groups,
        |       CAST(sum(n) - count(*) AS BIGINT) AS n_dupes FROM g""".stripMargin,

    "d2_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $ShSql AS sh
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)
         |  WHERE len(tk) >= 3),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE)/(len(ta.sh) + len(tb.sh) - inter) AS jaccard
         |FROM pairs JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE)/(len(ta.sh) + len(tb.sh) - inter) >= 0.05""".stripMargin,

    "d2b_ngram_jaccard_capped" ->
      // capped branch runs in the h32 hash domain end to end (see
      // TextDedup.ngramJaccardPairs scaladoc); the oracle mirrors it:
      // per-doc sets are distinct h32(shingle), the df cap and the
      // blocking join key on the hash, verify intersects hashed sets
      s"""WITH toks AS (
         |  SELECT doc_id, list_distinct(list_transform($ShSql, s -> ${h32Sql("s")})) AS hs
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)
         |  WHERE len(tk) >= 3),
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM toks),
         |cool AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= 10),
         |exc AS (SELECT doc_id, h FROM ex JOIN cool USING (h)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM exc a JOIN exc b ON a.h = b.h AND a.doc_id < b.doc_id),
         |ver AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE) /
         |    (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jaccard
         |  FROM cand JOIN toks ta ON ta.doc_id = doc_a JOIN toks tb ON tb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.05""".stripMargin,

    // d14: d2's exhaustive pipeline over the corpus + injected
    // fragment twins, scored by containment |A∩B|/min(|A|,|B|) and
    // oriented smaller-set-first (ties → smaller id)
    "d14_containment" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         array_to_string(($ToksSql)[1:25], ' ') AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |toks AS (
         |  SELECT doc_id, $ShSql AS sh
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM base)
         |  WHERE len(tk) >= 3),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |st AS (SELECT doc_a, doc_b, inter, len(ta.sh) AS na, len(tb.sh) AS nb
         |  FROM pairs JOIN toks ta ON ta.doc_id = doc_a
         |             JOIN toks tb ON tb.doc_id = doc_b)
         |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_small,
         |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_big,
         |       CAST(inter AS BIGINT) AS inter,
         |       CAST(inter AS DOUBLE) / least(na, nb) AS containment
         |FROM st WHERE CAST(inter AS DOUBLE) / least(na, nb) >= 0.9""".stripMargin,

    "d3_minhash_lsh" ->
      s"""$MinhashCtes
         |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.1""".stripMargin,

    // d3b: one candidate-volume/pair-yield row per banding config,
    // each leg a full CTE replay at that config (the d16b pattern —
    // Banding.tune is pure driver-side arithmetic, both sides call it)
    "d3b_tuned_lsh" -> {
      val plan = graft.dedup.Banding.tune(0.1, maxK = 16)
      def leg(name: String, b: Int, r: Int): String =
        s"""SELECT '$name' AS config, $b AS bands, $r AS rows_per_band,
           |  CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(coalesce(sum(CASE WHEN jaccard >= 0.1 THEN 1 ELSE 0 END),
           |                0) AS BIGINT) AS n_pairs
           |FROM (WITH ${minhashCtesAt("documents", b, r)}
           |      SELECT jaccard FROM ver) v""".stripMargin
      leg("default", graft.dedup.TextDedup.Bands,
        graft.dedup.TextDedup.RowsPerBand) +
        "\nUNION ALL\n" + leg("tuned", plan.bands, plan.rowsPerBand)
    },

    // c1's chain verbatim + the decontamination tail: survivors
    // sharing any 5-gram with the %25 eval slice drop (eval members
    // self-hit and drop themselves)
    "c2_curate_decontam" ->
      s"""WITH t0 AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
         |feat AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM t0),
         |keepq AS (SELECT doc_id, text FROM (
         |    SELECT *,
         |      ${QScoreSql} AS q,
         |      $LangCaseSql AS lang
         |    FROM feat)
         |  WHERE q >= 0.5 AND lang = 'en'),
         |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
         |         FROM keepq GROUP BY md5(text)),
         |${minhashCtes("uniq")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1),
         |surv AS (SELECT doc_id, text FROM uniq
         |         WHERE doc_id NOT IN (SELECT doc_b FROM drops)),
         |evsh AS (SELECT DISTINCT unnest(sh) AS s FROM (
         |    SELECT ${shSqlN(5)} AS sh FROM (
         |      SELECT $ToksSql AS tk FROM documents WHERE doc_id % 25 = 0))),
         |ssh AS (SELECT doc_id, unnest(sh) AS s FROM (
         |    SELECT doc_id, ${shSqlN(5)} AS sh FROM (
         |      SELECT doc_id, $ToksSql AS tk FROM surv))),
         |dirty AS (SELECT DISTINCT ssh.doc_id FROM ssh JOIN evsh ON ssh.s = evsh.s)
         |SELECT doc_id FROM surv
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    // c5: c2's CTE chain with per-stage counts assembled into the
    // attrition rows; drop_frac = one IEEE division of exact counts,
    // identical op order to the Spark entry
    "c5_attrition_report" ->
      s"""WITH t0 AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
         |feat AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM t0),
         |keepq AS (SELECT doc_id, text FROM (
         |    SELECT *,
         |      ${QScoreSql} AS q,
         |      $LangCaseSql AS lang
         |    FROM feat)
         |  WHERE q >= 0.5 AND lang = 'en'),
         |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
         |         FROM keepq GROUP BY md5(text)),
         |${minhashCtes("uniq")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1),
         |surv AS (SELECT doc_id, text FROM uniq
         |         WHERE doc_id NOT IN (SELECT doc_b FROM drops)),
         |evsh AS (SELECT DISTINCT unnest(sh) AS s FROM (
         |    SELECT ${shSqlN(5)} AS sh FROM (
         |      SELECT $ToksSql AS tk FROM documents WHERE doc_id % 25 = 0))),
         |ssh AS (SELECT doc_id, unnest(sh) AS s FROM (
         |    SELECT doc_id, ${shSqlN(5)} AS sh FROM (
         |      SELECT doc_id, $ToksSql AS tk FROM surv))),
         |dirty AS (SELECT DISTINCT ssh.doc_id FROM ssh JOIN evsh ON ssh.s = evsh.s),
         |clean AS (SELECT doc_id FROM surv
         |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |st AS (
         |  SELECT 1 AS stage_no, 'gate' AS stage,
         |         (SELECT count(*) FROM documents) AS n_in,
         |         (SELECT count(*) FROM keepq) AS n_out
         |  UNION ALL SELECT 2, 'exact_dedup',
         |         (SELECT count(*) FROM keepq), (SELECT count(*) FROM uniq)
         |  UNION ALL SELECT 3, 'near_dup',
         |         (SELECT count(*) FROM uniq), (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 4, 'decontam',
         |         (SELECT count(*) FROM surv), (SELECT count(*) FROM clean))
         |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  ${Q6("CAST(1.0 AS DOUBLE) - CAST(n_out AS DOUBLE)" +
          " / CAST(n_in AS DOUBLE)")} AS drop_frac
         |FROM st""".stripMargin,

    // c6: c2's stages 1-3 + the t29 NB scoring replay over the
    // near-dup survivors (margin-gated to 'en'), the x15b Gumbel
    // top-100 replay with the model-gate survivors as the DSIR pool,
    // then c2's decontamination over the selected set
    "c6_curate_selected" ->
      s"""$SelectedChainCtes
         |SELECT doc_id FROM seld
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    // c6b: the steady-state serving leg computes the SAME selection as
    // c6 (frozen artifacts built from the same inputs; the Gumbel draw
    // replays bit-identically) — one oracle, the e6/e6b pattern
    "c6b_selected_serving" ->
      s"""$SelectedChainCtes
         |SELECT doc_id FROM seld
         |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)""".stripMargin,

    // c7: c6's chain with per-stage counts assembled into the
    // attrition rows, c5's exact shape
    // c7b: identical stage rows to c7 (the frozen-artifact chain
    // computes the same per-stage survivors) — shared oracle
    "c7b_serving_attrition" ->
      s"""$SelectedChainCtes,
         |clean AS (SELECT doc_id FROM seld
         |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |st AS (
         |  SELECT 1 AS stage_no, 'gate' AS stage,
         |         (SELECT count(*) FROM documents) AS n_in,
         |         (SELECT count(*) FROM keepq) AS n_out
         |  UNION ALL SELECT 2, 'exact_dedup',
         |         (SELECT count(*) FROM keepq), (SELECT count(*) FROM uniq)
         |  UNION ALL SELECT 3, 'near_dup',
         |         (SELECT count(*) FROM uniq), (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 4, 'model_gate',
         |         (SELECT count(*) FROM surv), (SELECT count(*) FROM mgd)
         |  UNION ALL SELECT 5, 'dsir_select',
         |         (SELECT count(*) FROM mgd), (SELECT count(*) FROM seld)
         |  UNION ALL SELECT 6, 'decontam',
         |         (SELECT count(*) FROM seld), (SELECT count(*) FROM clean))
         |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  ${Q6("CAST(1.0 AS DOUBLE) - CAST(n_out AS DOUBLE)" +
          " / CAST(n_in AS DOUBLE)")} AS drop_frac
         |FROM st""".stripMargin,

    "c7_selected_attrition" ->
      s"""$SelectedChainCtes,
         |clean AS (SELECT doc_id FROM seld
         |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |st AS (
         |  SELECT 1 AS stage_no, 'gate' AS stage,
         |         (SELECT count(*) FROM documents) AS n_in,
         |         (SELECT count(*) FROM keepq) AS n_out
         |  UNION ALL SELECT 2, 'exact_dedup',
         |         (SELECT count(*) FROM keepq), (SELECT count(*) FROM uniq)
         |  UNION ALL SELECT 3, 'near_dup',
         |         (SELECT count(*) FROM uniq), (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 4, 'model_gate',
         |         (SELECT count(*) FROM surv), (SELECT count(*) FROM mgd)
         |  UNION ALL SELECT 5, 'dsir_select',
         |         (SELECT count(*) FROM mgd), (SELECT count(*) FROM seld)
         |  UNION ALL SELECT 6, 'decontam',
         |         (SELECT count(*) FROM seld), (SELECT count(*) FROM clean))
         |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  ${Q6("CAST(1.0 AS DOUBLE) - CAST(n_out AS DOUBLE)" +
          " / CAST(n_in AS DOUBLE)")} AS drop_frac
         |FROM st""".stripMargin,

    // c4: t14's per-doc quality features + a corpus-wide md5 count,
    // rolled up per source; means = IEEE divisions of exact decimal
    // (quality) / exact long (tokens) sums
    "c4_corpus_report" ->
      s"""WITH toks AS (SELECT doc_id, text, source, lang, $ToksSql AS tk
         |              FROM documents),
         |feat AS (SELECT source, lang, text,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |      greatest(length(text), 1) AS punct_ratio,
         |    CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |      greatest(len(tk), 1) AS stop_ratio,
         |    CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM toks),
         |q AS (SELECT source, lang, n_tokens, md5(text) AS h,
         |    ${QScoreSql} AS qs
         |  FROM feat),
         |hc AS (SELECT h, count(*) AS hc FROM q GROUP BY 1)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(CASE WHEN hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  ${Q6("CAST(sum(CAST(qs AS DECIMAL(18,6))) AS DOUBLE) / count(*)")}
         |    AS mean_quality,
         |  ${Q6("CAST(sum(n_tokens) AS DOUBLE) / count(*)")} AS mean_tokens,
         |  ${Q6("CAST(sum(CASE WHEN hc > 1 THEN 1 ELSE 0 END) AS DOUBLE)" +
          " / CAST(count(*) AS DOUBLE)")} AS dup_frac
         |FROM q JOIN hc USING (h) GROUP BY source""".stripMargin,

    "c1_curate" ->
      s"""WITH t0 AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
         |feat AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM t0),
         |keepq AS (SELECT doc_id, text FROM (
         |    SELECT *,
         |      ${QScoreSql} AS q,
         |      $LangCaseSql AS lang
         |    FROM feat)
         |  WHERE q >= 0.5 AND lang = 'en'),
         |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
         |         FROM keepq GROUP BY md5(text)),
         |${minhashCtes("uniq")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1)
         |SELECT doc_id FROM uniq
         |WHERE doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin,

    "d6_dedup_apply" ->
      s"""$MinhashCtes,
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin,

    // d17: d9's between-sides candidates (reference=src0 on side a,
    // incoming elsewhere on side b) → drop set → anti-join survivors
    "d17_cross_dedup_apply" ->
      s"""WITH ${minhashCtes("documents",
             candPred = "a.doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')" +
               " AND b.doc_id IN (SELECT doc_id FROM documents WHERE source <> 'src0')")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1)
         |SELECT doc_id, source FROM documents
         |WHERE source <> 'src0'
         |  AND doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin,

    "d8_incremental_dedup" ->
      s"""WITH ${minhashCtes("documents",
             candPred = "a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")}
         |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.1""".stripMargin,

    // d8b/d8c: the retune loop replayed from counts — operating rows
    // on the even-id (index) corpus at both configs, the budgeted
    // choice (yield desc, bill asc, k asc, bands desc —
    // chooseOperating's exact order), and the odd-id batch probe pair
    // count at the committed (tuned) plan and, when the choice
    // rebands, at the chosen plan. All comparisons are over exact
    // longs and one IEEE division, so both engines pick the same
    // plan. One generator, parameterized by the budget — exactly like
    // the entries.
    "d8b_retune_maintain" -> retuneOracleSql("CAST(10 AS DOUBLE)"),
    // the refuse leg: cpp >= 1 whenever pairs exist, so nothing fits
    // budget 0.5 → empty pick → outcome 'over_budget', rebanded
    // FALSE, pairs_after == pairs_before at the committed plan
    "d8c_retune_refuse" -> retuneOracleSql("CAST(0.5 AS DOUBLE)"),

    // d8d: the same loop over the token-tagged no-dup corpus — the
    // operating legs, probe legs and decision all replay over
    // TaggedDocsSql (zero candidates surviving exact verify at any
    // config by construction)
    "d8d_retune_nopairs" ->
      retuneOracleSql("CAST(10 AS DOUBLE)", TaggedDocsSql),

    // d9 = the BETWEEN probe with dataset-membership sides: doc_a from
    // src0, doc_b from any other source
    "d9_cross_dedup" ->
      s"""WITH ${minhashCtes("documents",
             candPred = "a.doc_id IN (SELECT doc_id FROM documents WHERE source = 'src0')" +
               " AND b.doc_id IN (SELECT doc_id FROM documents WHERE source <> 'src0')")}
         |SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.1""".stripMargin,

    "t12_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS dfn FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_corpus FROM documents),
         |sc AS (SELECT doc_id, token,
         |    ${Q6("tf * round(ln(CAST(n_corpus AS DOUBLE) / CAST(dfn AS DOUBLE)), 6)")} AS score
         |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
         |r AS (SELECT doc_id, token, row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY score DESC, token) AS rn FROM sc),
         |agg AS (SELECT doc_id, count(*) AS n_terms, max(score) AS top_tfidf
         |        FROM sc GROUP BY 1)
         |SELECT agg.doc_id, agg.n_terms, r.token AS top_term, agg.top_tfidf
         |FROM agg JOIN r USING (doc_id) WHERE r.rn = 1""".stripMargin,

    "t8_repetition" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS tk FROM documents)
         |SELECT doc_id,
         |  CASE WHEN len(tk) >= 1
         |       THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
         |       ELSE 0.0 END AS dup_token_frac,
         |  CASE WHEN len(tk) >= 2
         |       THEN 1.0 - CAST(len(${shSqlN(2)}) AS DOUBLE) / CAST(len(tk) - 1 AS DOUBLE)
         |       ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN len(tk) >= 3
         |       THEN 1.0 - CAST(len(${shSqlN(3)}) AS DOUBLE) / CAST(len(tk) - 2 AS DOUBLE)
         |       ELSE 0.0 END AS dup_3gram_frac
         |FROM t""".stripMargin,

    "t10_vocab" ->
      s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents))
         |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM tok GROUP BY token
         |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,

    "t15_bpe_pairs" ->
      s"""WITH tok AS (SELECT unnest(tk) AS word
         |  FROM (SELECT $ToksSql AS tk FROM documents)),
         |w AS (SELECT word, count(*) AS wn FROM tok GROUP BY 1),
         |p AS (SELECT unnest(list_transform(range(1, length(word)),
         |        i -> substring(word, CAST(i AS INTEGER), 2))) AS pair, wn
         |      FROM w)
         |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
         |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // three unrolled Sennrich rounds over the bracket-wrapped symbol
    // representation: each round counts adjacent symbol pairs weighted
    // by word frequency, takes the (n desc, a, b) top-1, and applies
    // the merge via literal replace of '[a][b]' with '[ab]' — the
    // individually-delimited symbols make left-to-right replace equal
    // greedy BPE merge application. Tokens containing '[' or ']' are
    // excluded (TextAnalysis.bpeWords — they'd break the delimiters).
    "t15b_bpe_rounds" ->
      s"""WITH tok AS (SELECT unnest(tk) AS word
         |  FROM (SELECT $ToksSql AS tk FROM documents)),
         |w AS (SELECT word, count(*) AS wn FROM tok
         |      WHERE NOT contains(word, '[') AND NOT contains(word, ']')
         |      GROUP BY 1),
         |w1 AS (SELECT regexp_replace(word, '(.)', '[\\1]', 'g') AS wr, wn FROM w),
         |p1 AS (SELECT unnest(list_transform(range(1, len(sy)),
         |         i -> {'a': sy[CAST(i AS INTEGER)], 'b': sy[CAST(i AS INTEGER) + 1]})) AS pr, wn
         |       FROM (SELECT string_split(substr(wr, 2, length(wr) - 2), '][') AS sy, wn
         |             FROM w1) s1),
         |t1 AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(wn) AS BIGINT) AS n
         |       FROM p1 GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |w2 AS (SELECT replace(wr, '[' || a || '][' || b || ']',
         |                      '[' || a || b || ']') AS wr, wn
         |       FROM w1 CROSS JOIN t1),
         |p2 AS (SELECT unnest(list_transform(range(1, len(sy)),
         |         i -> {'a': sy[CAST(i AS INTEGER)], 'b': sy[CAST(i AS INTEGER) + 1]})) AS pr, wn
         |       FROM (SELECT string_split(substr(wr, 2, length(wr) - 2), '][') AS sy, wn
         |             FROM w2) s2),
         |t2 AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(wn) AS BIGINT) AS n
         |       FROM p2 GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |w3 AS (SELECT replace(wr, '[' || a || '][' || b || ']',
         |                      '[' || a || b || ']') AS wr, wn
         |       FROM w2 CROSS JOIN t2),
         |p3 AS (SELECT unnest(list_transform(range(1, len(sy)),
         |         i -> {'a': sy[CAST(i AS INTEGER)], 'b': sy[CAST(i AS INTEGER) + 1]})) AS pr, wn
         |       FROM (SELECT string_split(substr(wr, 2, length(wr) - 2), '][') AS sy, wn
         |             FROM w3) s3),
         |t3 AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(wn) AS BIGINT) AS n
         |       FROM p3 GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1)
         |SELECT CAST(1 AS INTEGER) AS round, a AS sym_a, b AS sym_b, n FROM t1
         |UNION ALL SELECT 2, a, b, n FROM t2
         |UNION ALL SELECT 3, a, b, n FROM t3""".stripMargin,

    "t9_chunking" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id, CAST(st // 32 AS BIGINT) AS chunk_id,
         |         tk[st+1:st+40] AS ctk
         |  FROM t, unnest(range(0, len(tk), 32)) r(st)),
         |s AS (SELECT doc_id, chunk_id,
         |        CAST(len(ctk) AS BIGINT) AS n_chunk_tokens,
         |        array_to_string(ctk, ' ') AS chunk_text FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(n_chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
         |       CAST(max(len(chunk_text)) AS BIGINT) AS max_chunk_chars
         |FROM s GROUP BY doc_id""".stripMargin,

    "d7_dup_clusters" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY node""".stripMargin,

    // d19: the incremental merge must be indistinguishable from a
    // one-shot d7 over the full accumulated pair set (per-doc banding
    // is deterministic, so the split pair generation covers exactly
    // the full corpus's pairs) — the two entries share one oracle
    "d19_incremental_clusters" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY node""".stripMargin,

    // d18: d7's components joined to n_chars — the keeper is rn=1
    // under (n_chars DESC, doc_id ASC), replayed as min(rn=1 id)
    "d18_best_keeper" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cl AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY node),
         |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
         |      FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_chars DESC, doc_id) AS rn FROM j)
         |SELECT cluster_id, count(*) AS n_members,
         |  CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
         |  CAST(max(n_chars) AS BIGINT) AS keeper_quality
         |FROM r GROUP BY 1""".stripMargin,

    // d16: minhashCtes' `ver` (banding + exact verify) vs the
    // exhaustive blocking join over the SAME `toks` shingle sets
    "d16_lsh_recall" ->
      s"""WITH ${minhashCtes("documents")},
         |found AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |ex2 AS (SELECT doc_id, unnest(sh) AS s FROM toks),
         |ep AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |       FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |exact AS (SELECT doc_a, doc_b
         |  FROM ep JOIN toks ta ON ta.doc_id = doc_a
         |          JOIN toks tb ON tb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) /
         |        (len(ta.sh) + len(tb.sh) - inter) >= 0.1),
         |j AS (SELECT e.doc_a, e.doc_b,
         |        CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM exact e LEFT JOIN found f
         |        ON f.doc_a = e.doc_a AND f.doc_b = e.doc_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
         |  ${Q6("CAST(sum(hit) AS DOUBLE) / count(*)")} AS recall
         |FROM j""".stripMargin,

    // d16b: d16's audit with the banding CTEs generated at the SAME
    // tuned plan the entry derives (Banding.tune is pure driver-side
    // arithmetic — both sides call it)
    "d16b_tuned_recall" -> {
      val plan = graft.dedup.Banding.tune(0.1, maxK = 16)
      s"""WITH ${minhashCtesAt("documents", plan.bands, plan.rowsPerBand)},
         |found AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |ex2 AS (SELECT doc_id, unnest(sh) AS s FROM toks),
         |ep AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |       FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |exact AS (SELECT doc_a, doc_b
         |  FROM ep JOIN toks ta ON ta.doc_id = doc_a
         |          JOIN toks tb ON tb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) /
         |        (len(ta.sh) + len(tb.sh) - inter) >= 0.1),
         |j AS (SELECT e.doc_a, e.doc_b,
         |        CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM exact e LEFT JOIN found f
         |        ON f.doc_a = e.doc_a AND f.doc_b = e.doc_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_found,
         |  CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
         |  ${Q6("CAST(sum(hit) AS DOUBLE) / count(*)")} AS recall
         |FROM j""".stripMargin
    },

    // d15: d7's components → per-cluster sizes → size histogram
    "d15_dup_stats" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |       FROM reach GROUP BY node),
         |szs AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       count(*) AS n_clusters,
         |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM szs GROUP BY cluster_size""".stripMargin,

    // x11: d7's components + sizes, left-joined to the corpus —
    // weight = 1/|cluster|, singletons 1.0 with their own id
    "x11_dedup_weights" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         |       FROM reach GROUP BY node),
         |szs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
         |w AS (SELECT cl.doc_id, cl.cluster_id, szs.sz
         |      FROM cl JOIN szs USING (cluster_id))
         |SELECT d.doc_id,
         |       CAST(coalesce(w.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
         |       CAST(1.0 AS DOUBLE) / coalesce(w.sz, 1) AS weight
         |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin,

    "t6_decontam" ->
      s"""WITH toks AS (SELECT doc_id, ${shSqlN(5)} AS sh
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |ev AS (SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 25 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 25 <> 0)
         |SELECT doc_id, count(*) AS n_shared
         |FROM tr JOIN ev USING (s) GROUP BY doc_id""".stripMargin,

    // t6b is t6's exact contract behind a bloom pre-filter whose false
    // positives are removed by an exact verify — same oracle by design
    "t6b_decontam_bloom" ->
      s"""WITH toks AS (SELECT doc_id, ${shSqlN(5)} AS sh
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |ev AS (SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 25 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 25 <> 0)
         |SELECT doc_id, count(*) AS n_shared
         |FROM tr JOIN ev USING (s) GROUP BY doc_id""".stripMargin,

    "t7_token_pack" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
         |  ${bucketSql(8)} AS bucket
         |  FROM documents),
         |p AS (SELECT *, CAST(floor(coalesce(
         |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
         |      AS BIGINT) AS bin FROM c)
         |SELECT bucket, bin, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM p GROUP BY 1, 2""".stripMargin,

    // t27: t7's packing CTEs rolled up to the one-row efficiency
    // report — every ratio one IEEE division of exact integer sums,
    // per-bin fills rounded BEFORE min/max (identical op order to the
    // Spark entry)
    "t27_pack_report" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
         |  ${bucketSql(8)} AS bucket
         |  FROM documents),
         |p AS (SELECT *, CAST(floor(coalesce(
         |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
         |      AS BIGINT) AS bin FROM c),
         |b AS (SELECT bucket, bin, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |      FROM p GROUP BY 1, 2),
         |f AS (SELECT *, ${Q6("CAST(bin_tokens AS DOUBLE) / 2000.0")} AS fill
         |      FROM b),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
         |             CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |             CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
         |             min(fill) AS min_fill, max(fill) AS max_fill
         |      FROM f)
         |SELECT n_bins, n_docs, total_tokens,
         |  ${Q6("CAST(n_docs AS DOUBLE) / CAST(n_bins AS DOUBLE)")} AS mean_docs_per_bin,
         |  ${Q6("CAST(total_tokens AS DOUBLE) / (CAST(n_bins AS DOUBLE) * 2000.0)")} AS mean_fill,
         |  min_fill, max_fill,
         |  ${Q6("greatest(0.0, 1.0 - CAST(total_tokens AS DOUBLE) /" +
          " (CAST(n_bins AS DOUBLE) * 2000.0))")} AS waste_frac
         |FROM a""".stripMargin,

    "x3_upsample" ->
      s"""WITH b AS (SELECT source, doc_id, ${bucketSql(1000000)} AS bkt FROM documents)
         |SELECT source, count(DISTINCT doc_id) AS n_docs,
         |       CAST(sum(CASE WHEN bkt < 500000 THEN 2 ELSE 1 END) AS BIGINT) AS n_rows
         |FROM b GROUP BY source""".stripMargin,

    // x14: d3's banding+verify pair CTEs joined against x1's split
    // rule on both endpoints, canonicalized unordered
    "x14_split_leakage" ->
      s"""WITH ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |sp AS (SELECT doc_id,
         |    CASE WHEN bkt < 80 THEN 'train'
         |         WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${bucketSql(100)} AS bkt FROM documents)),
         |j AS (SELECT sa.split AS s1, sb.split AS s2
         |      FROM pr JOIN sp sa ON sa.doc_id = pr.doc_a
         |              JOIN sp sb ON sb.doc_id = pr.doc_b)
         |SELECT least(s1, s2) AS split_lo, greatest(s1, s2) AS split_hi,
         |  count(*) AS n_pairs,
         |  least(s1, s2) <> greatest(s1, s2) AS leaked
         |FROM j GROUP BY 1, 2""".stripMargin,

    "x1_hash_split" ->
      s"""WITH b AS (SELECT ${bucketSql(100)} AS bkt FROM documents)
         |SELECT CASE WHEN bkt < 90 THEN 'train'
         |            WHEN bkt < 100 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs
         |FROM b GROUP BY 1""".stripMargin,

    // x9: the same hash split keyed on the GROUP — group atomicity is
    // structural (one bucket per source), the oracle replays it
    "x9_group_split" ->
      s"""WITH b AS (SELECT source, ${h32Sql("source")} % 100 AS bkt
         |           FROM documents)
         |SELECT CASE WHEN bkt < 80 THEN 'train'
         |            WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |       count(DISTINCT source) AS n_groups,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM b GROUP BY 1""".stripMargin,

    // x20: shard + epoch-order keys as md5 replays, content hash via
    // ORDER BY string_agg (DuckDB) == array_sort+join (Spark) — both
    // order on (ok, doc_id)
    "x20_shard_manifest" ->
      s"""WITH b AS (SELECT doc_id,
         |    ${h32Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    ${h32Sql("'0:' || CAST(doc_id AS VARCHAR)")} AS ok,
         |    md5(text) AS h,
         |    len($ToksSql) AS n_tok
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  md5(string_agg(h, '' ORDER BY ok, doc_id)) AS content_hash
         |FROM b GROUP BY 1""".stripMargin,

    // x19: d7's recursive-CC labels as the split key — group-atomic by
    // construction; the oracle replays assignment + intra-split pair
    // counts (a leaked pair would fall out of BOTH sides' intra rows,
    // so the structural guarantee is spec-asserted, not oracle-argued)
    "x19_dedup_split" ->
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |pr AS (SELECT doc_a, doc_b FROM ver WHERE jaccard >= 0.1),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(node, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY node),
         |asg AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS grp
         |        FROM documents d LEFT JOIN cc USING (doc_id)),
         |spl AS (SELECT doc_id, grp,
         |    CASE WHEN ${h32Sql("CAST(grp AS VARCHAR)")} % 100 < 80 THEN 'train'
         |         WHEN ${h32Sql("CAST(grp AS VARCHAR)")} % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split FROM asg),
         |ip AS (SELECT s1.split, count(*) AS n_intra
         |       FROM pr JOIN spl s1 ON pr.doc_a = s1.doc_id
         |               JOIN spl s2 ON pr.doc_b = s2.doc_id
         |       WHERE s1.split = s2.split GROUP BY 1)
         |SELECT split, count(*) AS n_docs,
         |       count(DISTINCT grp) AS n_groups,
         |       CAST(coalesce(max(n_intra), 0) AS BIGINT) AS n_intra_pairs
         |FROM spl LEFT JOIN ip USING (split) GROUP BY split""".stripMargin,

    // x10: md5(epoch:doc_id) ordering replayed per epoch
    "x10_epoch_shuffle" ->
      s"""WITH e(epoch) AS (VALUES (0), (1), (2)),
         |k AS (SELECT epoch, doc_id,
         |        ${h32Sql("CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS ek
         |      FROM documents CROSS JOIN e),
         |r AS (SELECT epoch, doc_id, row_number() OVER (
         |        PARTITION BY epoch ORDER BY ek, doc_id) AS rank FROM k)
         |SELECT CAST(epoch AS INTEGER) AS epoch, CAST(rank AS INTEGER) AS rank,
         |       doc_id
         |FROM r WHERE rank <= 5""".stripMargin,

    // x13: stride-scheduled interleave replay — natural shares and
    // order keys are the identical two IEEE divisions, positions the
    // same per-stratum (epoch key, id) order as epochOrderKey
    "x13_stride_interleave" ->
      s"""WITH b AS (SELECT doc_id, source AS stratum FROM documents),
         |c AS (SELECT stratum, count(*) AS n FROM b GROUP BY 1),
         |tt AS (SELECT sum(n) AS tot FROM c),
         |s AS (SELECT stratum, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS w
         |      FROM c CROSS JOIN tt),
         |p AS (SELECT doc_id, stratum,
         |        CAST(row_number() OVER (PARTITION BY stratum
         |          ORDER BY ${h32Sql("'1:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |        AS BIGINT) AS pos
         |      FROM b),
         |o AS (SELECT p.doc_id, p.stratum, p.pos,
         |        (CAST(pos AS DOUBLE) - 0.5) / w AS order_key
         |      FROM p JOIN s USING (stratum)),
         |r AS (SELECT *, row_number() OVER (
         |        ORDER BY order_key, stratum, doc_id) AS rnk FROM o)
         |SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, stratum,
         |       ${Q6("order_key")} AS okey
         |FROM r WHERE rnk <= 120""".stripMargin,

    "t11_token_entropy" ->
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS tok
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |cnt AS (SELECT doc_id, tok, count(*) AS n_t FROM toks GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(n_t) AS DOUBLE) AS n_doc FROM cnt GROUP BY 1),
         |terms AS (SELECT doc_id,
         |    round(-(CAST(n_t AS DOUBLE)/n_doc) * log2(CAST(n_t AS DOUBLE)/n_doc), 7) AS term
         |  FROM cnt JOIN tot USING (doc_id)),
         |e AS (SELECT doc_id,
         |    CAST(sum(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS token_entropy
         |  FROM terms GROUP BY 1)
         |SELECT d.doc_id, coalesce(e.token_entropy, 0.0) AS token_entropy
         |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin,

    "t13_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |ctf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |n AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM ctf),
         |sc AS (SELECT doc_id, tf,
         |    -log2(CAST(ctf AS DOUBLE) / CAST(n_total AS DOUBLE)) AS surp
         |  FROM tf JOIN ctf USING (token) CROSS JOIN n)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |       ${Q6("CAST(sum(CAST(tf * surp AS DECIMAL(28,12))) AS DOUBLE)" +
          " / sum(tf)")} AS mean_surprisal
         |FROM sc GROUP BY doc_id""".stripMargin,

    // t26: t13's per-doc surprisal CTEs + 4-dp-rounded exact terciles
    // (quantile_cont = Spark's percentile, both R-7) + the strict-
    // above-bound bucket rule, replayed over the same fractions
    "t26_ppl_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |ctf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |n AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM ctf),
         |sc AS (SELECT doc_id, tf,
         |    -log2(CAST(ctf AS DOUBLE) / CAST(n_total AS DOUBLE)) AS surp
         |  FROM tf JOIN ctf USING (token) CROSS JOIN n),
         |d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |       ${Q6("CAST(sum(CAST(tf * surp AS DECIMAL(28,12))) AS DOUBLE)" +
          " / sum(tf)")} AS ms
         |      FROM sc GROUP BY doc_id),
         |b AS (SELECT list_transform(
         |        quantile_cont(ms, [1.0/3, 2.0/3]), x -> ${Q4("x")}) AS bounds
         |      FROM d)
         |SELECT CASE len(list_filter(bounds, x -> ms > x))
         |         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
         |       END AS bucket,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(ms) AS min_surprisal, max(ms) AS max_surprisal
         |FROM d CROSS JOIN b GROUP BY 1""".stripMargin,

    // t31: hashed-unigram counts per source, densified on the
    // constant grid, side totals as window sums; each KL term rounds
    // 9 dp then sums DECIMAL(38,9) (order-independent), one final
    // 6-dp round — the exact Scala op order
    "t31_source_drift" -> {
      val b = graft.text.Dsir.DefaultBuckets
      s"""WITH tok AS (SELECT source, ${h32Sql("token")} % $b AS bucket
         |  FROM (SELECT source, unnest($ToksSql) AS token FROM documents)),
         |cnt AS (SELECT source, bucket, count(*) AS c FROM tok GROUP BY 1, 2),
         |grid AS (SELECT source, range AS bucket
         |  FROM (SELECT DISTINCT source FROM cnt) CROSS JOIN range(0, $b)),
         |dense AS (SELECT source, bucket, coalesce(c, 0) AS c
         |  FROM grid LEFT JOIN cnt USING (source, bucket)),
         |w AS (SELECT source, bucket, c,
         |    sum(c) OVER (PARTITION BY source) AS n_s,
         |    sum(c) OVER (PARTITION BY bucket) AS c_all,
         |    sum(c) OVER () AS n_all
         |  FROM dense),
         |t AS (SELECT source, n_s,
         |    CAST(round(((CAST(c AS DOUBLE) + 1.0) / (CAST(n_s AS DOUBLE) + $b.0))
         |      * log2(((CAST(c AS DOUBLE) + 1.0) / (CAST(n_s AS DOUBLE) + $b.0))
         |             / ((CAST(c_all AS DOUBLE) - CAST(c AS DOUBLE) + 1.0)
         |                / (CAST(n_all AS DOUBLE) - CAST(n_s AS DOUBLE) + $b.0))), 9)
         |      AS DECIMAL(38,9)) AS term
         |  FROM w)
         |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
         |  CAST(round(sum(term), 6) AS DOUBLE) AS kl_bits
         |FROM t GROUP BY 1""".stripMargin
    },

    // t30: t16's bigram CTEs + t13-style unigram model, λ-mixed in
    // the exact Scala op order; the complement literal is embedded as
    // the exact decimal string Scala computes (1.0 - 0.7 in IEEE is
    // NOT the double 0.3), cast to DOUBLE so both engines mix the
    // same value
    "t30_interp_lm" ->
      s"""WITH tkl AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |uni AS (SELECT w2, count(*) AS ctf
         |        FROM (SELECT unnest(tk) AS w2 FROM tkl) GROUP BY 1),
         |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM uni),
         |bg AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
         |         i -> tk[CAST(i AS INTEGER)+1] || ' ' || tk[CAST(i AS INTEGER)+2])) AS bigram
         |       FROM tkl WHERE len(tk) >= 2),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c2 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         |c2w AS (SELECT bigram, c2, string_split(bigram, ' ')[1] AS w1,
         |               string_split(bigram, ' ')[2] AS w2 FROM c2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2w GROUP BY 1),
         |sc AS (SELECT doc_id, tf,
         |         -log2(CAST(0.7 AS DOUBLE)
         |                 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |               + CAST('${1.0 - 0.7}' AS DOUBLE)
         |                 * (CAST(ctf AS DOUBLE) / CAST(n_total AS DOUBLE))) AS surp
         |       FROM tf JOIN c2w USING (bigram) JOIN c1 USING (w1)
         |            JOIN uni USING (w2) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |       ${Q6("CAST(sum(CAST(tf * surp AS DECIMAL(28,12))) AS DOUBLE)" +
          " / sum(tf)")} AS mean_surprisal
         |FROM sc GROUP BY doc_id""".stripMargin,

    "t16_bigram_lm" ->
      s"""WITH tkl AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
         |         i -> tk[CAST(i AS INTEGER)+1] || ' ' || tk[CAST(i AS INTEGER)+2])) AS bigram
         |       FROM tkl WHERE len(tk) >= 2),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |c2 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         |c2w AS (SELECT bigram, c2, string_split(bigram, ' ')[1] AS w1 FROM c2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2w GROUP BY 1),
         |sc AS (SELECT doc_id, tf,
         |         -log2(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS surp
         |       FROM tf JOIN c2w USING (bigram) JOIN c1 USING (w1))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |       ${Q6("CAST(sum(CAST(tf * surp AS DECIMAL(28,12))) AS DOUBLE)" +
          " / sum(tf)")} AS mean_surprisal
         |FROM sc GROUP BY doc_id""".stripMargin,

    // decile boundaries via quantile_cont rounded to 4 dp (the g16
    // precedent for cross-engine interpolated percentiles); ties fall
    // to the lower bin on both sides (strict > against the bounds)
    "t14_quality_bins" ->
      s"""WITH toks AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
         |feat AS (SELECT
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM toks),
         |q AS (SELECT ${QScoreSql} AS v FROM feat),
         |b AS (SELECT list_transform(
         |        quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
         |        x -> ${Q4("x")}) AS bounds FROM q)
         |SELECT CAST(len(list_filter(bounds, x -> v > x)) AS INTEGER) AS bin,
         |       count(*) AS n_docs, min(v) AS min_score, max(v) AS max_score
         |FROM q CROSS JOIN b GROUP BY 1""".stripMargin,

    "x5_exact_k_sample" ->
      s"""WITH h AS (SELECT source AS stratum, doc_id,
         |  ${h32Sql("CAST(doc_id AS VARCHAR)")} AS hsh FROM documents)
         |SELECT stratum, doc_id AS kept_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY stratum
         |                               ORDER BY hsh, doc_id) AS rn FROM h)
         |WHERE rn <= 7""".stripMargin,

    "x6_dense_ids" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(text), doc_id) - 1 AS BIGINT)
        |    AS dense_id
        |FROM documents""".stripMargin,

    "x4_zorder" ->
      // bit-for-bit mirror of Layout.zValue: bit i of partkey -> z bit
      // 2i, bit i of suppkey -> z bit 2i+1 (stride 2, 16 bits each)
      s"""WITH z0 AS (SELECT
         |  CAST(list_sum(list_transform(range(0,16), i -> ((l_partkey >> i) & 1) << (2*i))) AS BIGINT)
         |  | CAST(list_sum(list_transform(range(0,16), i -> ((l_suppkey >> i) & 1) << (2*i+1))) AS BIGINT) AS z
         |  FROM lineitem)
         |SELECT z >> 12 AS zbucket, count(*) AS n,
         |       min(z) AS zmin, max(z) AS zmax
         |FROM z0 GROUP BY 1""".stripMargin,

    "x2_stratified_sample" ->
      s"""WITH b AS (SELECT source, ${bucketSql(1000000)} AS bkt FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN bkt < (CASE WHEN source IN ('src0','src1')
         |                                      THEN 500000 ELSE 200000 END)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM b GROUP BY source""".stripMargin,

    "x7_data_mix" ->
      s"""WITH b AS (SELECT source, doc_id, ${bucketSql(1000000)} AS bkt FROM documents),
         |c AS (SELECT source, doc_id,
         |  CASE WHEN source = 'src0' THEN 2 + CASE WHEN bkt < 250000 THEN 1 ELSE 0 END
         |       WHEN source = 'src1' THEN CASE WHEN bkt < 500000 THEN 1 ELSE 0 END
         |       ELSE 1 END AS copies FROM b)
         |SELECT source,
         |       count(DISTINCT CASE WHEN copies > 0 THEN doc_id END) AS n_docs,
         |       CAST(sum(copies) AS BIGINT) AS n_rows
         |FROM c WHERE copies > 0 GROUP BY source""".stripMargin,

    // x12: the only cross-row float sum (Σ√p) rides a 9-dp round +
    // DECIMAL(38,9) in both engines, so summation order can't matter;
    // sqrt and the divisions are IEEE-correctly-rounded in both
    // x21: the water-filling replay — same ratio order, same
    // all-capped-prefix level test, same exact-decimal cumulative
    // sums; DuckDB window sums of BIGINT return HUGEINT, hence the
    // explicit BIGINT casts; 0.4 rides in as an exact double string
    "x21_budget_mix" ->
      s"""WITH caps AS (SELECT source AS stratum,
         |        CAST(sum(len($ToksSql)) AS BIGINT) AS capacity
         |      FROM documents GROUP BY 1),
         |w1 AS (SELECT stratum, capacity,
         |        CAST(capacity AS DOUBLE) /
         |          CAST(sum(capacity) OVER () AS DOUBLE) AS p
         |       FROM caps),
         |w2 AS (SELECT stratum, capacity,
         |        p * (CASE WHEN stratum IN ('src0', 'src1')
         |             THEN CAST(5.0 AS DOUBLE)
         |             ELSE CAST(1.0 AS DOUBLE) END) AS w0 FROM w1),
         |w3 AS (SELECT stratum, capacity,
         |        CAST(w0 / CAST(sum(CAST(w0 AS DECIMAL(28,12))) OVER ()
         |          AS DOUBLE) AS DECIMAL(18,9)) AS w
         |       FROM w2),
         |b0 AS (SELECT *, floor(CAST(capacity AS DOUBLE) / CAST(w AS DOUBLE)
         |            * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |          / CAST(1000000000 AS DOUBLE) AS ratio,
         |        least(CAST(floor(CAST(sum(capacity) OVER () AS DOUBLE)
         |                         * CAST('0.4' AS DOUBLE)) AS BIGINT),
         |              CAST(sum(capacity) OVER () AS BIGINT)) AS bb,
         |        sum(w) OVER () AS ww
         |       FROM w3),
         |b1 AS (SELECT *,
         |        CAST(coalesce(sum(capacity) OVER (ORDER BY ratio, stratum
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS cumc,
         |        coalesce(sum(w)
         |          OVER (ORDER BY ratio, stratum
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          CAST(0 AS DECIMAL(18,9))) AS cumw
         |       FROM b0),
         |b2 AS (SELECT *, floor(CAST(bb - cumc AS DOUBLE) /
         |            CAST(ww - cumw AS DOUBLE)
         |            * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |          / CAST(1000000000 AS DOUBLE) AS level
         |       FROM b1),
         |b3 AS (SELECT *, ratio <= level AS capped FROM b2),
         |b4 AS (SELECT *,
         |        CAST(bb - CAST(sum(CASE WHEN capped THEN capacity
         |                           ELSE 0 END) OVER () AS BIGINT) AS DOUBLE) /
         |        CAST(ww - sum(CASE WHEN capped THEN w
         |                      ELSE CAST(0 AS DECIMAL(18,9)) END) OVER ()
         |          AS DOUBLE) AS lam
         |       FROM b3),
         |b5 AS (SELECT stratum, capacity, w, capped,
         |        CASE WHEN capped THEN CAST(capacity AS DOUBLE)
         |             ELSE floor(lam * CAST(w AS DOUBLE)
         |                    * CAST(1000000 AS DOUBLE)
         |                    + CAST(0.5 AS DOUBLE))
         |                  / CAST(1000000 AS DOUBLE) END AS allocation
         |       FROM b4)
         |SELECT stratum, capacity,
         |  CAST(round(w, 6) AS DOUBLE) AS weight,
         |  capped, allocation,
         |  ${Q6("allocation / CAST(capacity AS DOUBLE)")}
         |    AS sample_rate
         |FROM b5""".stripMargin,


    "x12_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS tot FROM c),
         |p AS (SELECT lang, n_docs,
         |    CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE) AS p,
         |    CAST(round(sqrt(CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
         |         AS DECIMAL(38,9)) AS pa
         |  FROM c, t),
         |d AS (SELECT sum(pa) AS den FROM p)
         |SELECT lang, n_docs, ${Q6("p")} AS p_natural,
         |  ${Q6("CAST(pa AS DOUBLE) / CAST(den AS DOUBLE)")} AS p_temp,
         |  ${Q6("(CAST(pa AS DOUBLE) / CAST(den AS DOUBLE)) / p")} AS boost
         |FROM p, d""".stripMargin,

    // x15/x15b: the DSIR replay — hashed-LM log-ratio weights in
    // exact decimal; the Gumbel noise replays because u =
    // (h32(id)+1)/2^31 is an exact double and each log is rounded to
    // 9 dp (inner log clamped to -1e-9: a max-hash id rounds ln(u) to
    // -0.0 and would blow up the outer log)
    "x15_dsir_weights" ->
      s"""$DsirCtes
         |SELECT doc_id, n_feats,
         |       CAST(round(w_dec, 6) AS DOUBLE) AS weight
         |FROM w""".stripMargin,

    "x15b_dsir_resample" ->
      s"""$DsirSelCtes
         |SELECT doc_id, CAST(round(w_dec, 6) AS DOUBLE) AS weight,
         |       CAST(round(s_dec, 6) AS DOUBLE) AS skey
         |FROM r WHERE rn <= 100""".stripMargin,

    // x17: the selected set joined back to the pool's source mix —
    // pure counts
    "x17_selection_bias" ->
      s"""$DsirSelCtes,
         |sel AS (SELECT doc_id FROM r WHERE rn <= 100),
         |pool AS (SELECT source, count(*) AS n_pool FROM d
         |         WHERE source NOT IN ('src0','src1') GROUP BY 1),
         |selc AS (SELECT source, count(*) AS n_selected
         |         FROM d JOIN sel USING (doc_id) GROUP BY 1)
         |SELECT source, n_pool,
         |       CAST(coalesce(n_selected, 0) AS BIGINT) AS n_selected
         |FROM pool LEFT JOIN selc USING (source)""".stripMargin,

    // x18: x17's selected-vs-pool counts grown into the mixture
    // handoff — every share/weight is exact-integer products with one
    // IEEE division + a 6-dp round; the mean selected weight sums the
    // 6-dp weights in DECIMAL(18,6)
    "x18_dsir_mixture" ->
      s"""$DsirSelCtes,
         |sel AS (SELECT doc_id, w_dec FROM r WHERE rn <= 100),
         |pool AS (SELECT source, count(*) AS n_pool FROM d
         |         WHERE source NOT IN ('src0','src1') GROUP BY 1),
         |selc AS (SELECT source, count(*) AS n_selected,
         |         sum(CAST(round(w_dec, 6) AS DECIMAL(18,6))) AS wsum
         |         FROM d JOIN sel USING (doc_id) GROUP BY 1),
         |j AS (SELECT source, n_pool,
         |        coalesce(n_selected, 0) AS n_selected, wsum,
         |        sum(n_pool) OVER () AS n_total
         |      FROM pool LEFT JOIN selc USING (source))
         |SELECT source, n_pool, CAST(n_selected AS BIGINT) AS n_selected,
         |  CASE WHEN n_selected = 0 THEN NULL
         |       ELSE ${Q6("CAST(wsum AS DOUBLE)" +
          " / CAST(n_selected AS DOUBLE)")} END
         |    AS mean_sel_weight,
         |  ${Q6("CAST(n_pool AS DOUBLE) / CAST(n_total AS DOUBLE)")}
         |    AS nat_share,
         |  ${Q6("CAST(n_selected AS DOUBLE) / 100.0")} AS sel_share,
         |  ${Q6("(CAST(n_selected AS DOUBLE) * CAST(n_total AS DOUBLE))" +
          " / (100.0 * CAST(n_pool AS DOUBLE))")} AS epoch_weight
         |FROM j""".stripMargin,

    "x15c_dsir_bigram" ->
      s"""${dsirCtes(ngrams = 2)}
         |SELECT doc_id, n_feats,
         |       CAST(round(w_dec, 6) AS DOUBLE) AS weight
         |FROM w""".stripMargin,

    // x16: e4's two-round Lloyd replay, final assignment under the
    // same (rounded cosine desc, cent_id) order, then x5's k-minwise
    // rank per cluster
    "x16_cluster_sample" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |${kmeansCtes("v")},
         |a3 AS (SELECT vec_id, cent_id FROM (
         |  SELECT v.vec_id, c.cent_id,
         |         row_number() OVER (PARTITION BY v.vec_id
         |           ORDER BY ${cosSqlOf("v.e", "c.cent")} DESC,
         |           c.cent_id) AS rn
         |  FROM v, c2 c) WHERE rn = 1),
         |r AS (SELECT cent_id, vec_id,
         |  row_number() OVER (PARTITION BY cent_id
         |    ORDER BY ${h32Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |  FROM a3)
         |SELECT cent_id AS cluster_id, vec_id AS kept_id
         |FROM r WHERE rn <= 5""".stripMargin,

    "t18_contam_frac" ->
      s"""WITH toks AS (SELECT doc_id, ${shSqlN(5)} AS sh
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents)),
         |ev AS (SELECT DISTINCT unnest(sh) AS s FROM toks WHERE doc_id % 25 = 0),
         |tr AS (SELECT doc_id, unnest(sh) AS s FROM toks WHERE doc_id % 25 <> 0),
         |j AS (SELECT tr.doc_id, CASE WHEN ev.s IS NULL THEN 0 ELSE 1 END AS hit
         |      FROM tr LEFT JOIN ev ON tr.s = ev.s)
         |SELECT doc_id, count(*) AS n_shingles,
         |       CAST(sum(hit) AS BIGINT) AS n_shared,
         |       ${Q6("CAST(sum(hit) AS DOUBLE) / count(*)")} AS overlap_frac
         |FROM j GROUP BY 1""".stripMargin,

    // t22: t18's shingle CTEs joined the OTHER way — per eval doc,
    // distinct train docs and distinct shared shingles
    "t22_eval_leakage" ->
      s"""WITH t2 AS (SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN ' the quick brown fox jumps over the lazy dog today'
         |         ELSE '' END AS text2 FROM documents),
         |toks AS (SELECT doc_id, ${shSqlN(5)} AS sh
         |  FROM (SELECT doc_id, ${ToksSqlOn("text2")} AS tk FROM t2)),
         |ev AS (SELECT DISTINCT doc_id AS eval_id, unnest(sh) AS s
         |       FROM toks WHERE doc_id % 25 = 0),
         |tr AS (SELECT doc_id AS train_id, unnest(sh) AS s
         |       FROM toks WHERE doc_id % 25 <> 0)
         |SELECT eval_id, count(DISTINCT train_id) AS n_train_docs,
         |       count(DISTINCT s) AS n_shared_shingles
         |FROM tr JOIN ev USING (s) GROUP BY 1""".stripMargin,

    // t24: same injected sentences, split-ahead segmentation, list
    // aggregates for the per-sentence word stats
    "t24_sentence_stats" ->
      s"""WITH t2 AS (SELECT doc_id, concat_ws(' ',
         |    substring(text, 1, 60) || '.',
         |    'Short one!',
         |    CASE WHEN doc_id % 3 = 0
         |         THEN 'A much longer sentence with quite a few words in it?' END,
         |    'End.') AS text2 FROM documents),
         |f AS (SELECT doc_id,
         |    list_filter(string_split_regex(text2, '[.!?]+\\s+'), x -> x <> '') AS ls
         |  FROM t2),
         |g AS (SELECT doc_id, ls,
         |    list_transform(ls, s -> len(list_filter(
         |      string_split_regex(s, '\\s+'), w -> w <> ''))) AS wp
         |  FROM f)
         |SELECT doc_id,
         |  CAST(len(ls) AS BIGINT) AS n_sentences,
         |  CAST(coalesce(list_aggregate(wp, 'sum'), 0) AS BIGINT)
         |    AS n_sentence_words,
         |  CAST(coalesce(list_aggregate(wp, 'max'), 0) AS BIGINT)
         |    AS max_sentence_words,
         |  ${Q6("CAST(coalesce(list_aggregate(wp, 'sum'), 0) AS DOUBLE)" +
          " / greatest(len(ls), 1)")} AS mean_sentence_words
         |FROM g""".stripMargin,

    // t25: t24's injected text2, LIX = words/sentences +
    // 100*longwords/words with both divisions IEEE in written order
    "t25_readability" ->
      s"""WITH t2 AS (SELECT doc_id, concat_ws(' ',
         |    substring(text, 1, 60) || '.',
         |    'Short one!',
         |    CASE WHEN doc_id % 3 = 0
         |         THEN 'A much longer sentence with quite a few words in it?' END,
         |    'End.') AS text2 FROM documents),
         |f AS (SELECT doc_id,
         |    list_filter(string_split_regex(text2, '[.!?]+\\s+'), x -> x <> '') AS ls,
         |    list_filter(string_split_regex(text2, '\\s+'), w -> w <> '') AS ws
         |  FROM t2),
         |g AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(ls) AS BIGINT) AS n_sentences,
         |    CAST(len(list_filter(ws, w -> length(w) > 6)) AS BIGINT)
         |      AS n_long_words
         |  FROM f)
         |SELECT doc_id, n_words, n_sentences, n_long_words,
         |  ${Q6("CAST(n_words AS DOUBLE) / greatest(n_sentences, 1)" +
          " + 100.0 * CAST(n_long_words AS DOUBLE) / greatest(n_words, 1)")}
         |    AS lix
         |FROM g""".stripMargin,

    // t23: per-script regexp counts over the injected text2, mixed
    // words via >=2 script-class hits per token, argmax CASE chain
    "t23_script_mix" -> {
      // the Scala pattern strings embed verbatim: DuckDB standard
      // strings don't process backslashes, so '[\x{0400}-...]' reaches
      // RE2 exactly as Java regex reads it
      val classes = TextAnalysis.ScriptClasses
      val cnt = classes.map { case (nm, re) =>
        s"CAST(len(regexp_extract_all(text2, '$re')) AS BIGINT) AS n_$nm"
      }.mkString(",\n  ")
      val nScr = classes.map { case (_, re) =>
        s"CASE WHEN regexp_matches(w, '$re') THEN 1 ELSE 0 END"
      }.mkString(" + ")
      val names = classes.map(_._1)
      val dom = names.map { nm =>
        val ge = names.filter(_ != nm).map(o => s"n_$nm >= n_$o").mkString(" AND ")
        s"WHEN $ge AND n_$nm > 0 THEN '$nm'"
      }.mkString(" ")
      s"""WITH t2 AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 6 = 0 THEN ' привет мир'
         |       WHEN doc_id % 6 = 1 THEN ' γεια σας κόσμε'
         |       WHEN doc_id % 6 = 2 THEN ' 你好世界'
         |       WHEN doc_id % 6 = 3 THEN ' pаypal miхed'
         |       ELSE '' END AS text2 FROM documents),
         |f AS (SELECT doc_id,
         |  $cnt,
         |  CAST(len(list_filter(${ToksSqlOn("text2")},
         |    w -> ($nScr) >= 2)) AS BIGINT) AS n_mixed_words
         |  FROM t2)
         |SELECT *, CASE $dom ELSE 'none' END AS dominant_script FROM f""".stripMargin
    },

    // boundary = floor(lo + span*0.9) over epoch micros, the identical
    // IEEE sequence the operator computes (exact integers < 2^53)
    "x8_time_split" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |           FROM events),
        |c AS (SELECT e.ts, e.user_id,
        |        CASE WHEN epoch_us(e.ts) <
        |               CAST(floor(lo + (hi - lo) * 0.9) AS BIGINT)
        |             THEN 'train' ELSE 'test' END AS split
        |      FROM events e, b)
        |SELECT split, count(*) AS n, count(DISTINCT user_id) AS n_keys,
        |       min(ts) AS min_ts, max(ts) AS max_ts
        |FROM c GROUP BY 1""".stripMargin,

    "e4_kmeans" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |${kmeansCtes("v")}
         |SELECT cent_id, CAST(d AS INTEGER) AS dim, cent[d+1] AS value
         |FROM c2, range(0, 64) r(d)""".stripMargin,

    "d12_fuzzy_join" ->
      s"""WITH cl AS (SELECT doc_id, substring(lower(text), 1, 24) AS name
         |  FROM documents),
         |pz AS (SELECT doc_id, name,
         |  CAST(${h32Sql("CAST(doc_id AS VARCHAR)")} % length(name) AS INTEGER) + 1 AS p
         |  FROM cl),
         |dirty AS (SELECT doc_id AS d_key,
         |  substring(name, 1, p - 1) || substring(name, p + 1, 64) AS d_name
         |  FROM pz)
         |SELECT d.d_key AS left_id, c.doc_id AS right_id,
         |       CAST(levenshtein(d.d_name, c.name) AS INTEGER) AS dist
         |FROM dirty d, cl c
         |WHERE levenshtein(d.d_name, c.name) <= 1""".stripMargin,

    "d11_verbatim_overlap" ->
      """WITH wins AS (
        |  SELECT DISTINCT doc_id, md5(substr(text, CAST(off AS INTEGER) + 1, 40)) AS wh
        |  FROM documents, unnest(range(0, strlen(text) - 39, 20)) r(off)
        |  WHERE strlen(text) >= 40),
        |cool AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) <= 10),
        |cw AS (SELECT doc_id, wh FROM wins JOIN cool USING (wh))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM cw a JOIN cw b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // the scrub replayed: rank every sampled window hash by global
    // (doc_id, off) first-occurrence order, cut all rn>1 windows,
    // merge them per doc (gaps-and-islands), stitch the survivors
    "d11b_overlap_scrub" ->
      """WITH base AS (SELECT doc_id, text AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, CAST(off AS INTEGER) AS off,
        |         md5(substr(t, CAST(off AS INTEGER) + 1, 40)) AS wh
        |  FROM base, unnest(range(0, strlen(t) - 39, 20)) r(off)
        |  WHERE strlen(t) >= 40),
        |rk AS (SELECT doc_id, off,
        |         row_number() OVER (PARTITION BY wh ORDER BY doc_id, off) AS rn
        |       FROM wins),
        |cuts AS (SELECT doc_id, off, off + 40 AS e FROM rk WHERE rn > 1),
        |isl AS (SELECT doc_id, off, e,
        |  CASE WHEN off > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY off
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |       THEN 1 ELSE 0 END AS ni
        |  FROM cuts),
        |isl2 AS (SELECT doc_id, off, e,
        |  sum(ni) OVER (PARTITION BY doc_id ORDER BY off) AS island FROM isl),
        |merged AS (SELECT doc_id, island, min(off) AS s, max(e) AS e
        |           FROM isl2 GROUP BY 1, 2),
        |pieced AS (SELECT m.doc_id, s, e, t,
        |    coalesce(lag(e) OVER (PARTITION BY m.doc_id ORDER BY s), 0) AS ps
        |  FROM merged m JOIN base USING (doc_id)),
        |reb AS (SELECT doc_id,
        |    string_agg(substr(t, ps + 1, s - ps), '' ORDER BY s)
        |      || substr(max(t), max(e) + 1) AS scrubbed,
        |    sum(e - s) AS n_cut
        |  FROM pieced GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(r.scrubbed, b.t) AS scrubbed,
        |       CAST(coalesce(r.n_cut, 0) AS BIGINT) AS n_cut
        |FROM base b LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // d10 = e4's trained centroids (kmeansCtes) + within-cluster pair
    // generation + exact-cosine verify, mirroring Knn.semanticDedupPairs
    "d10_semantic_dedup" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |            FROM embeddings),
         |${kmeansCtes("v0")},
         |cent AS (SELECT cent_id, cent FROM c2),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v0),
         |asg0 AS (SELECT neighbor_id, ce, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, ce, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |p AS (SELECT a.cent_id, a.neighbor_id AS vec_a, b.neighbor_id AS vec_b,
         |  ${cosSqlOf("a.ce", "b.ce")} AS sim
         |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id
         |                       AND a.neighbor_id < b.neighbor_id)
         |SELECT cent_id, vec_a, vec_b, sim FROM p WHERE sim >= 0.4""".stripMargin,

    "e3b_knn_ivf_trained" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |            FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v0 WHERE vec_id < 10),
         |v AS (SELECT vec_id, e FROM v0 WHERE vec_id >= 10),
         |${kmeansCtes("v")},
         |cent AS (SELECT cent_id, cent FROM c2),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v),
         |asg0 AS (SELECT neighbor_id, ce, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, ce, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |pr0 AS (SELECT query_id, qe, cent_id,
         |  ${cosSqlOf("qe", "cent")} AS csim
         |  FROM q, cent),
         |pr AS (SELECT query_id, qe, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM pr0)
         |  WHERE rn <= 2),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM pr JOIN asg USING (cent_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    "e5_knn_ivfpq" ->
      // mirrors Pq.ivfPqTopK step by step: deterministic centroids and
      // per-subspace codebooks (smallest ids), 6-dp rounding before every
      // argmin/rank, DECIMAL-exact ADC sum, ties to the smaller id
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |cent AS (SELECT neighbor_id AS cent_id, ce AS cent FROM c
         |         ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
         |cbs AS (SELECT neighbor_id AS code_id, ce FROM c
         |        ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
         |cb AS (SELECT code_id, CAST(j AS INTEGER) AS j,
         |              list_slice(ce, j*16+1, j*16+16) AS cw
         |       FROM cbs, range(0, 4) r(j)),
         |sv AS (SELECT neighbor_id, CAST(j AS INTEGER) AS j,
         |              list_slice(ce, j*16+1, j*16+16) AS xs
         |       FROM c, range(0, 4) r(j)),
         |enc0 AS (SELECT neighbor_id, j, code_id,
         |    ${pqD2Sql("xs", "cw")} AS d2
         |  FROM sv JOIN cb USING (j)),
         |enc AS (SELECT neighbor_id, j, code_id AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY neighbor_id, j
         |                                 ORDER BY d2, code_id) AS rn FROM enc0)
         |  WHERE rn = 1),
         |asg0 AS (SELECT neighbor_id, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |pr0 AS (SELECT query_id, cent_id,
         |  ${cosSqlOf("qe", "cent")} AS csim
         |  FROM q, cent),
         |pr AS (SELECT query_id, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM pr0)
         |  WHERE rn <= 4),
         |qtab AS (SELECT query_id, j, code_id AS code,
         |    ${PqQdotSql} AS qdot
         |  FROM q, cb),
         |adc AS (SELECT query_id, neighbor_id,
         |    CAST(round(sum(CAST(qdot AS DECIMAL(28,12))), 6) AS DOUBLE) AS adc
         |  FROM pr JOIN asg USING (cent_id)
         |       JOIN enc USING (neighbor_id)
         |       JOIN qtab USING (query_id, j, code)
         |  GROUP BY 1, 2),
         |short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY adc DESC, neighbor_id) AS rn FROM adc)
         |  WHERE rn <= 100),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM short JOIN q USING (query_id) JOIN c USING (neighbor_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    "e6_ann_index" -> ivfPqIndexSql(5),

    // e6c: the e6 pipeline with the searchable corpus minus the
    // deleted set; quantizers still sample the FULL base (frozen
    // contract — delete touches assign/codes/vectors only)
    "e6c_ann_delete" -> ivfPqIndexSql(5, " AND vec_id % 9 <> 0"),

    // e11b: the e6 pipeline with the candidate set label-filtered
    // BEFORE ADC — each query admits only neighbors sharing its label
    // (inner equality, exactly the Spark candidate filter)
    "e11b_filtered_ann" -> ivfPqIndexSql(5, "",
      """
        |       JOIN embeddings ql ON ql.vec_id = query_id
        |       JOIN embeddings nl ON nl.vec_id = neighbor_id
        |                         AND nl.label = ql.label""".stripMargin),

    // e11c: identical to e11b by construction (the shared probe index
    // holds the same base+batch corpus with current labels) — the
    // steady-state leg shares the lifecycle leg's oracle, as e6b/e6
    "e11c_filtered_probe" -> ivfPqIndexSql(5, "",
      """
        |       JOIN embeddings ql ON ql.vec_id = query_id
        |       JOIN embeddings nl ON nl.vec_id = neighbor_id
        |                         AND nl.label = ql.label""".stripMargin),

    // mirrors Sq.sqTopK: exact per-dim bounds, step=(hi-lo)/256,
    // mid-rise reconstruction lo+(code+0.5)*step, 6-dp rounding before
    // every rank, ties to the smaller id
    "e10_knn_sq8" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |dims AS (SELECT d, min(ce[CAST(d AS INTEGER)+1]) AS dlo,
         |                max(ce[CAST(d AS INTEGER)+1]) AS dhi
         |         FROM c, range(0, 64) r(d) GROUP BY 1),
         |b AS (SELECT list(dlo ORDER BY d) AS lo,
         |             list((dhi - dlo)/256 ORDER BY d) AS st FROM dims),
         |enc AS (SELECT neighbor_id,
         |          list_transform(range(0, 64), i -> CASE
         |            WHEN st[CAST(i AS INTEGER)+1] = 0 THEN 0
         |            ELSE CAST(least(floor((ce[CAST(i AS INTEGER)+1]
         |                                   - lo[CAST(i AS INTEGER)+1])
         |                                  / st[CAST(i AS INTEGER)+1]),
         |                            255) AS INTEGER) END) AS codes
         |        FROM c, b),
         |sqs AS (SELECT query_id, neighbor_id,
         |          ${Q6("list_dot_product(qe, list_transform(range(0, 64), " +
                "i -> lo[CAST(i AS INTEGER)+1] + (codes[CAST(i AS INTEGER)+1] " +
                "+ 0.5) * st[CAST(i AS INTEGER)+1]))")} AS sq
         |        FROM q, enc, b),
         |short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY sq DESC, neighbor_id) AS rn
         |    FROM sqs) WHERE rn <= 100),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM short JOIN q USING (query_id) JOIN c USING (neighbor_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    "e5b_knn_ivfpq_trained" -> TrainedIvfPqSql,

    // e20: a retrain of a sampled-quantizer index equals a FRESH
    // trained build over the stored corpus — which is exactly the e5b
    // computation (k-means coarse quantizer k=8/iters=2 over
    // vec_id >= 10, hash-order codebook over the same corpus,
    // nProbe 2), so the two entries share one oracle
    "e20_index_retrain" -> TrainedIvfPqSql,

    "d4_simhash" ->
      s"""$SimHashFpCtes
         |SELECT doc_id, printf('%08x%08x', fhi, flo) AS simhash FROM fp""".stripMargin,

    "d4b_simhash_pairs" ->
      s"""$SimHashFpCtes,
         |hx AS (SELECT doc_id, fhi, flo, printf('%08x%08x', fhi, flo) AS hex FROM fp),
         |banded AS (SELECT doc_id, fhi, flo, q, substr(hex, q*4+1, 4) AS qs
         |           FROM hx, range(0, 4) r(q)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.fhi AS ahi, a.flo AS alo, b.fhi AS bhi, b.flo AS blo
         |         FROM banded a JOIN banded b
         |           ON a.q = b.q AND a.qs = b.qs AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3""".stripMargin,

    "d5_embedding_dedup" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |bk AS (SELECT vec_id, e, ${LshBucketSql("e", 24)} AS sig FROM v),
         |banded AS (SELECT vec_id, t, substr(sig, t*6 + 1, 6) AS bucket
         |           FROM bk, range(0, 4) r(t)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM banded a JOIN banded b
         |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT * FROM (
         |  SELECT vec_a, vec_b,
         |         ${cosSqlOf("va.e", "vb.e")} AS sim
         |  FROM cand JOIN bk va ON va.vec_id = vec_a JOIN bk vb ON vb.vec_id = vec_b)
         |WHERE sim >= 0.4""".stripMargin,

    "e1_knn_brute" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim FROM q, c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    // e14: e1's candidate pool + two unrolled greedy MMR rounds after
    // the relevance seed — candidate-selected cosines use the same
    // 6-dp-rounded formula, (1.0 - 0.7) evaluated as IEEE, argmax =
    // rn=1 with neighbor-id tiebreak, exactly the Spark sequence
    "e14_mmr" -> {
      // exact-integer MMR replay (see mmrTopK scaladoc): sims in 1e-6
      // units, mmr_u = 7*rel_u - 3*maxsim_u in 1e-7 units
      def ucos(a: String, b: String) =
        s"CAST(round(${cosSqlOf(a, b)}*1000000, 0) AS BIGINT)"
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |s AS (SELECT query_id, neighbor_id, ce, $CosSql AS sim,
         |        ${ucos("qe", "ce")} AS rel_u FROM q, c),
         |cand AS (SELECT query_id, neighbor_id, ce, sim, rel_u, rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |  WHERE rnk <= 10),
         |sel1 AS (SELECT query_id, neighbor_id, sim AS mmr_score, ce
         |         FROM cand WHERE rnk = 1),
         |sc2 AS (SELECT cd.query_id, cd.neighbor_id, cd.rel_u,
         |    max(${ucos("cd.ce", "sl.ce")}) AS maxsim_u
         |  FROM cand cd JOIN sel1 sl USING (query_id)
         |  WHERE cd.neighbor_id <> sl.neighbor_id
         |  GROUP BY 1, 2, 3),
         |p2 AS (SELECT query_id, neighbor_id, mmr_u FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr_u DESC, neighbor_id) AS rn
         |    FROM (SELECT *, 7*rel_u - 3*maxsim_u AS mmr_u FROM sc2))
         |  WHERE rn = 1),
         |sa2 AS (SELECT query_id, neighbor_id, ce FROM sel1
         |  UNION ALL
         |  SELECT p.query_id, p.neighbor_id, cd.ce FROM p2 p
         |  JOIN cand cd ON cd.query_id = p.query_id
         |              AND cd.neighbor_id = p.neighbor_id),
         |sc3 AS (SELECT cd.query_id, cd.neighbor_id, cd.rel_u,
         |    max(${ucos("cd.ce", "sl.ce")}) AS maxsim_u
         |  FROM cand cd JOIN sa2 sl USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM sa2 x
         |    WHERE x.query_id = cd.query_id AND x.neighbor_id = cd.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |p3 AS (SELECT query_id, neighbor_id, mmr_u FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr_u DESC, neighbor_id) AS rn
         |    FROM (SELECT *, 7*rel_u - 3*maxsim_u AS mmr_u FROM sc3))
         |  WHERE rn = 1)
         |SELECT query_id, 1 AS mmr_rank, neighbor_id, mmr_score FROM sel1
         |UNION ALL
         |SELECT query_id, 2 AS mmr_rank, neighbor_id,
         |       CAST(mmr_u AS DOUBLE)/10000000.0 AS mmr_score FROM p2
         |UNION ALL
         |SELECT query_id, 3 AS mmr_rank, neighbor_id,
         |       CAST(mmr_u AS DOUBLE)/10000000.0 AS mmr_score FROM p3""".stripMargin
    },

    // e19: the e6 pipeline's centroid-assignment CTEs (quantizers
    // sampled from base >= 110, corpus = everything >= 10), rolled up
    // to per-cell occupancy with a left join from the cent list so
    // empty cells report 0
    "e19_index_stats" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |base AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 110),
         |cent AS (SELECT neighbor_id AS cent_id, ce AS cent FROM base
         |         ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
         |asg0 AS (SELECT neighbor_id, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |occ AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors
         |        FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS t FROM occ)
         |SELECT cent.cent_id, CAST(coalesce(occ.n_vectors, 0) AS BIGINT) AS n_vectors,
         |  ${Q6("CAST(coalesce(occ.n_vectors, 0) AS DOUBLE)" +
          " / CAST(t AS DOUBLE)")} AS share
         |FROM cent LEFT JOIN occ USING (cent_id) CROSS JOIN tot""".stripMargin,

    // e19b: the same assignment CTEs keeping csim, rolled up to the
    // per-cell exact-decimal mean fit (the funnelLatency mean idiom:
    // DECIMAL(28,12) sum, one IEEE division, round 6)
    "e19b_index_fit" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |base AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 110),
         |cent AS (SELECT neighbor_id AS cent_id, ce AS cent FROM base
         |         ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
         |asg0 AS (SELECT neighbor_id, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, cent_id, csim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1)
         |SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors,
         |  ${Q6("CAST(sum(CAST(csim AS DECIMAL(28,12))) AS DOUBLE) / count(*)")}
         |    AS mean_fit
         |FROM asg GROUP BY 1""".stripMargin,

    "e14b_mmr_indexed" -> {
      // e14's exact-integer greedy replay, the candidate pool swapped
      // for the e6/e6b persisted-index pipeline at k=10 (the pool's
      // sims are the probe's exact re-ranked cosines, so rel_u is
      // round(sim*1e6) — identical to mmrRerank's pool contract)
      def ucos(a: String, b: String) =
        s"CAST(round(${cosSqlOf(a, b)}*1000000, 0) AS BIGINT)"
      s"""WITH iv AS (SELECT query_id, neighbor_id, sim, rnk
         |            FROM (${ivfPqIndexSql(10)}) x),
         |v2 AS (SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS e
         |       FROM embeddings),
         |c2 AS (SELECT vec_id AS neighbor_id, e AS ce FROM v2 WHERE vec_id >= 10),
         |cand AS (SELECT iv.query_id, iv.neighbor_id, c2.ce, iv.sim,
         |                CAST(round(iv.sim*1000000, 0) AS BIGINT) AS rel_u,
         |                iv.rnk
         |         FROM iv JOIN c2 USING (neighbor_id)),
         |sel1 AS (SELECT query_id, neighbor_id, sim AS mmr_score, ce
         |         FROM cand WHERE rnk = 1),
         |sc2 AS (SELECT cd.query_id, cd.neighbor_id, cd.rel_u,
         |    max(${ucos("cd.ce", "sl.ce")}) AS maxsim_u
         |  FROM cand cd JOIN sel1 sl USING (query_id)
         |  WHERE cd.neighbor_id <> sl.neighbor_id
         |  GROUP BY 1, 2, 3),
         |p2 AS (SELECT query_id, neighbor_id, mmr_u FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr_u DESC, neighbor_id) AS rn
         |    FROM (SELECT *, 7*rel_u - 3*maxsim_u AS mmr_u FROM sc2))
         |  WHERE rn = 1),
         |sa2 AS (SELECT query_id, neighbor_id, ce FROM sel1
         |  UNION ALL
         |  SELECT p.query_id, p.neighbor_id, cd.ce FROM p2 p
         |  JOIN cand cd ON cd.query_id = p.query_id
         |              AND cd.neighbor_id = p.neighbor_id),
         |sc3 AS (SELECT cd.query_id, cd.neighbor_id, cd.rel_u,
         |    max(${ucos("cd.ce", "sl.ce")}) AS maxsim_u
         |  FROM cand cd JOIN sa2 sl USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM sa2 x
         |    WHERE x.query_id = cd.query_id AND x.neighbor_id = cd.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |p3 AS (SELECT query_id, neighbor_id, mmr_u FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr_u DESC, neighbor_id) AS rn
         |    FROM (SELECT *, 7*rel_u - 3*maxsim_u AS mmr_u FROM sc3))
         |  WHERE rn = 1)
         |SELECT query_id, 1 AS mmr_rank, neighbor_id, mmr_score FROM sel1
         |UNION ALL
         |SELECT query_id, 2 AS mmr_rank, neighbor_id,
         |       CAST(mmr_u AS DOUBLE)/10000000.0 AS mmr_score FROM p2
         |UNION ALL
         |SELECT query_id, 3 AS mmr_rank, neighbor_id,
         |       CAST(mmr_u AS DOUBLE)/10000000.0 AS mmr_score FROM p3""".stripMargin
    },

    "e11_filtered_knn" ->
      s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, label, e AS ce FROM v WHERE vec_id >= 10),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM q JOIN c USING (label)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    "e3_knn_ivf" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |cent AS (SELECT neighbor_id AS cent_id, ce AS cent FROM c
         |         ORDER BY ${h32Sql("CAST(neighbor_id AS VARCHAR)")}, neighbor_id LIMIT 16),
         |asg0 AS (SELECT neighbor_id, ce, cent_id,
         |  ${cosSqlOf("ce", "cent")} AS csim
         |  FROM c, cent),
         |asg AS (SELECT neighbor_id, ce, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM asg0)
         |  WHERE rn = 1),
         |pr0 AS (SELECT query_id, qe, cent_id,
         |  ${cosSqlOf("qe", "cent")} AS csim
         |  FROM q, cent),
         |pr AS (SELECT query_id, qe, cent_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY csim DESC, cent_id) AS rn FROM pr0)
         |  WHERE rn <= 4),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM pr JOIN asg USING (cent_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    "e2_knn_lsh" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe, ${LshBucketSql("e", 16)} AS sig
         |      FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce, ${LshBucketSql("e", 16)} AS sig
         |      FROM v WHERE vec_id >= 10),
         |qb AS (SELECT query_id, t, substr(sig, t*4 + 1, 4) AS bucket
         |       FROM q, range(0, 4) r(t)),
         |cb AS (SELECT neighbor_id, t, substr(sig, t*4 + 1, 4) AS bucket
         |       FROM c, range(0, 4) r(t)),
         |cand AS (SELECT DISTINCT query_id, neighbor_id
         |         FROM qb JOIN cb USING (t, bucket)),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 5""".stripMargin,

    // e16 = e2's candidate CTEs with the corpus on BOTH sides and
    // self-pairs excluded before the rank. The plane count AUTO-SIZES
    // from the corpus count exactly as Knn.derivePlanes does — pure
    // INTEGER arithmetic (ceil-div + bit length via bin()), never a
    // floating log whose ulp could disagree near a power of two; the
    // signature is generated at the 64-bit maximum and sliced at the
    // derived width (bit p is the same function of the vector at any
    // signature width, so the slices match Spark's shorter signature)
    "e16_knn_graph" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |${graphBandCtes("v")},
         |cand AS (SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         |         FROM ab x JOIN ab y USING (t, bucket)
         |         WHERE x.vec_id <> y.vec_id),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM a),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM a),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 3""".stripMargin,

    // e18 = e3's centroid-sample + assignment CTEs over the WHOLE
    // corpus, candidates = same-cell pairs, self excluded
    "e18_knn_graph_ivf" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |${ivfGraphCtes("v")}
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim
         |FROM r WHERE rnk <= 3""".stripMargin,

    // e16b = e16's pp/signature/band CTEs folded into per-(table,
    // bucket) occupancy stats: the derived plane count (same integer
    // arithmetic), bucket count, max occupancy, the exact within-
    // bucket self-join bill Σ occ·(occ−1), and the routing flag at
    // the guard's default budget — pure integer surface
    "e16b_graph_occupancy" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |${graphBandCtes("v")},
         |occ AS (SELECT t, bucket, count(*) AS occ FROM ab GROUP BY 1, 2)
         |SELECT CAST((SELECT p FROM pp) AS INTEGER) AS planes,
         |  CAST(4 AS INTEGER) AS tables,
         |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(coalesce(max(occ), 0) AS BIGINT) AS max_occupancy,
         |  CAST(coalesce(sum(occ * (occ - 1)), 0) AS BIGINT) AS candidate_rows,
         |  coalesce(max(occ), 0) > ${graft.ann.Knn.DefaultMaxGraphOccupancy}
         |    AS over_budget
         |FROM occ""".stripMargin,

    // e16c = the guard's ROUTE action replayed end to end over the
    // duplicate-heavy corpus (v0 + one hot vector × 300): the
    // occupancy surface (e16b's CTEs — over_budget TRUE by
    // construction, 301 copies in one bucket vs the 256 budget) and
    // the routed IVF-cell graph (e18's CTEs at the pinned C=16)
    // cross-joined one-row onto every graph row. An engine that
    // silently built the LSH graph anyway mismatches every row.
    "e16c_graph_route" ->
      s"""WITH $dupCorpusCtes,
         |${graphBandCtes("v")},
         |occ AS (SELECT t, bucket, count(*) AS occ FROM ab GROUP BY 1, 2),
         |rep AS (SELECT CAST((SELECT p FROM pp) AS INTEGER) AS planes,
         |  CAST(coalesce(max(occ), 0) AS BIGINT) AS max_occupancy,
         |  coalesce(max(occ), 0) > ${graft.ann.Knn.DefaultMaxGraphOccupancy}
         |    AS over_budget
         |  FROM occ),
         |${ivfGraphCtes("v")}
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim,
         |       planes, max_occupancy, over_budget
         |FROM r, rep WHERE rnk <= 3""".stripMargin,

    // e16d = the ledger's at-most-once contract replayed: the decision
    // row knnGraphLedgered records for the dup corpus (every column
    // derived from the occupancy surface + the call's literals — the
    // action DERIVES from max(occ) vs the budget, never assumed) and
    // the routed IVF graph a RETRY of the same runId must ship. The
    // engine cross-joins the ledger row read back from disk onto the
    // retry's graph: a ledger holding two rows for the runId doubles
    // every output row; a retry that re-measured and shipped LSH
    // mismatches every row; a recorded decision that drifted from the
    // occupancy math mismatches the replayed columns.
    "e16d_graph_ledger" ->
      s"""WITH $dupCorpusCtes,
         |${graphBandCtes("v")},
         |occ AS (SELECT t, bucket, count(*) AS occ FROM ab GROUP BY 1, 2),
         |led AS (SELECT 'e16d' AS run_id,
         |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_vectors,
         |  CAST((SELECT p FROM pp) AS INTEGER) AS planes,
         |  CAST(4 AS INTEGER) AS tables,
         |  CAST(coalesce(max(occ), 0) AS BIGINT) AS max_occupancy,
         |  CAST(${graft.ann.Knn.DefaultMaxGraphOccupancy} AS BIGINT) AS budget,
         |  CASE WHEN coalesce(max(occ), 0) > ${graft.ann.Knn.DefaultMaxGraphOccupancy}
         |       THEN 'ivf' ELSE 'lsh' END AS action,
         |  CAST(16 AS INTEGER) AS n_centroids
         |  FROM occ),
         |${ivfGraphCtes("v")}
         |SELECT query_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, sim,
         |       run_id, n_vectors, planes, tables, max_occupancy, budget,
         |       action, n_centroids
         |FROM r, led WHERE rnk <= 3""".stripMargin,

    // e7 = e2's candidate CTEs with a range filter instead of a rank
    "e7_range_search" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe, ${LshBucketSql("e", 16)} AS sig
         |      FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce, ${LshBucketSql("e", 16)} AS sig
         |      FROM v WHERE vec_id >= 10),
         |qb AS (SELECT query_id, t, substr(sig, t*4 + 1, 4) AS bucket
         |       FROM q, range(0, 4) r(t)),
         |cb AS (SELECT neighbor_id, t, substr(sig, t*4 + 1, 4) AS bucket
         |       FROM c, range(0, 4) r(t)),
         |cand AS (SELECT DISTINCT query_id, neighbor_id
         |         FROM qb JOIN cb USING (t, bucket)),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim
         |      FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id))
         |SELECT query_id, neighbor_id, sim FROM s WHERE sim >= 0.2""".stripMargin,

    // BM25 with the Lucene +1 idf floor; float-op order mirrors
    // Search.bm25TopK term by term (idf and per-term score rounded to
    // 6 dp, per-doc sum decimal-exact)
    "e8_bm25" -> bm25OracleSql(""),

    // the persisted index scores the same corpus the same way —
    // lifecycle (e8b) and steady-state probe (e8c) share one oracle
    // restricted to the indexed corpus
    "e8b_bm25_indexed" -> bm25OracleSql("WHERE doc_id >= 10"),
    "e8c_bm25_probe" -> bm25OracleSql("WHERE doc_id >= 10"),

    // e8e: the e8 pipeline with GLOBAL stats (tok/tf/dl/st/dfq over
    // the full indexed corpus — the filter gates matches, it does not
    // re-estimate the model) and a per-query lang admission join on
    // the scoring sliver
    "e8e_filtered_search" -> {
      val vals = Bm25Queries.zip(Bm25FilterLangs).flatMap {
        case ((q, ts), (_, lang)) =>
          ts.distinct.map(t => s"('$q','$t','$lang')") }.mkString(", ")
      val vocab = Bm25Queries.flatMap(_._2).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |q(query_id, token, lang) AS (VALUES $vals),
         |dfq AS (SELECT token, count(*) AS dfn FROM tf
         |        WHERE token IN ($vocab) GROUP BY 1),
         |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
         |  FROM tf JOIN q USING (token)
         |       JOIN (SELECT doc_id AS mdoc, lang AS mlang FROM documents) dd
         |            ON dd.mdoc = doc_id AND dd.mlang = q.lang
         |       JOIN dfq USING (token)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS score
         |  FROM sc GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS rank FROM pd)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
         |FROM r WHERE rank <= 5""".stripMargin
    },

    // e13: the e8 pipeline at rank 20, collapsed to <=2 per source,
    // re-ranked to 5 — both row_numbers replayed verbatim
    "e13_diverse_topk" ->
      s"""WITH j AS (SELECT b.query_id, b.rank, b.doc_id, b.score, d.source
         |           FROM (${bm25OracleSql("", 20)}) b
         |           JOIN documents d USING (doc_id)),
         |c AS (SELECT *, row_number() OVER (PARTITION BY query_id, source
         |                ORDER BY rank) AS srn FROM j),
         |f AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY rank) AS nr
         |      FROM c WHERE srn <= 2)
         |SELECT query_id, CAST(nr AS INTEGER) AS rank, doc_id, source, score
         |FROM f WHERE nr <= 5""".stripMargin,
    // e8d: exact-stats delete — the probe must equal BM25 recomputed
    // from scratch over the SURVIVING corpus
    "e8d_bm25_delete" ->
      bm25OracleSql("WHERE doc_id >= 10 AND doc_id % 7 <> 0"),

    // vector leg = e1's exact-cosine CTEs at k=20; lexical leg = MLT
    // BM25 (query terms = each query doc's distinct tokens) at k=20;
    // fusion = sum of 1/(60+rank) per leg, decimal-exact
    "e9_hybrid_rrf" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim FROM q, c),
         |vr AS (SELECT query_id, neighbor_id AS doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY sim DESC, neighbor_id) AS rank
         |       FROM s),
         |tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id < 10)),
         |dfq AS (SELECT token, count(*) AS dfn
         |        FROM tf JOIN (SELECT DISTINCT token FROM qt) USING (token)
         |        GROUP BY 1),
         |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
         |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS score
         |  FROM sc GROUP BY 1, 2),
         |lr AS (SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |       FROM pd),
         |u AS (SELECT query_id, doc_id, rank FROM vr WHERE rank <= 20
         |      UNION ALL
         |      SELECT query_id, doc_id, rank FROM lr WHERE rank <= 20),
         |f AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(" + Q9("CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE)") + " AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS rrf_score
         |  FROM u GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY rrf_score DESC, doc_id) AS rn FROM f)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, rrf_score
         |FROM r WHERE rn <= 10""".stripMargin,

    // e17: e9's MLT lexical pipeline at rank 20 is the recall stage;
    // only those (query, doc) pairs fetch embeddings for the cosine
    // precision re-rank to 5
    "e17_rerank_cascade" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id < 10)),
         |dfq AS (SELECT token, count(*) AS dfn
         |        FROM tf JOIN (SELECT DISTINCT token FROM qt) USING (token)
         |        GROUP BY 1),
         |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
         |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS score
         |  FROM sc GROUP BY 1, 2),
         |h AS (SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY score DESC, doc_id) AS rank
         |    FROM pd) WHERE rank <= 20),
         |s2 AS (SELECT query_id, doc_id, $CosSql AS sim
         |       FROM h JOIN (SELECT vec_id AS query_id, e AS qe FROM v)
         |                USING (query_id)
         |              JOIN (SELECT vec_id AS doc_id, e AS ce FROM v)
         |                USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY sim DESC, doc_id) AS rank FROM s2)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, sim
         |FROM r WHERE rank <= 5""".stripMargin,

    // e15: e9's leg pipelines kept through their scores, then per-leg
    // per-query min-max normalization, a full-outer combine at α=0.5,
    // fused emitted RAW (see linearFuse scaladoc)
    "e15_hybrid_linear" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v WHERE vec_id >= 10),
         |s AS (SELECT query_id, neighbor_id, $CosSql AS sim FROM q, c),
         |vtop AS (SELECT query_id, doc_id, score FROM (
         |    SELECT query_id, neighbor_id AS doc_id, sim AS score,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sim DESC, neighbor_id) AS rank
         |    FROM s) WHERE rank <= 20),
         |tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id < 10)),
         |dfq AS (SELECT token, count(*) AS dfn
         |        FROM tf JOIN (SELECT DISTINCT token FROM qt) USING (token)
         |        GROUP BY 1),
         |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
         |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS score
         |  FROM sc GROUP BY 1, 2),
         |ltop AS (SELECT query_id, doc_id, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, doc_id) AS rank
         |    FROM pd) WHERE rank <= 20),
         |vn AS (SELECT t.query_id, t.doc_id,
         |    CASE WHEN m.mx = m.mn THEN 1.0
         |         ELSE (t.score - m.mn) / (m.mx - m.mn) END AS nv
         |  FROM vtop t JOIN (SELECT query_id, min(score) AS mn, max(score) AS mx
         |                    FROM vtop GROUP BY 1) m USING (query_id)),
         |ln AS (SELECT t.query_id, t.doc_id,
         |    CASE WHEN m.mx = m.mn THEN 1.0
         |         ELSE (t.score - m.mn) / (m.mx - m.mn) END AS nl
         |  FROM ltop t JOIN (SELECT query_id, min(score) AS mn, max(score) AS mx
         |                    FROM ltop GROUP BY 1) m USING (query_id)),
         |f AS (SELECT query_id, doc_id,
         |    0.5 * coalesce(nv, CAST(0.0 AS DOUBLE)) +
         |    0.5 * coalesce(nl, CAST(0.0 AS DOUBLE)) AS fused_score
         |  FROM vn FULL OUTER JOIN ln USING (query_id, doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY fused_score DESC, doc_id) AS rn FROM f)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, fused_score
         |FROM r WHERE rn <= 10""".stripMargin,

    // e15b: e15's fusion tail with the vector leg swapped for the
    // e6/e6b persisted-index pipeline at k=20; the lexical leg stays
    // e15's MLT recompute over doc_id >= 10 (= the indexed corpus —
    // e8b's EXACT stats maintenance makes probe == fresh recompute)
    "e15b_hybrid_linear_indexed" ->
      s"""WITH vtop AS (SELECT query_id, neighbor_id AS doc_id, sim AS score
         |              FROM (${ivfPqIndexSql(20)}) iv),
         |tok AS (SELECT doc_id, unnest(tk) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id >= 10)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS token
         |  FROM (SELECT doc_id, $ToksSql AS tk FROM documents WHERE doc_id < 10)),
         |dfq AS (SELECT token, count(*) AS dfn
         |        FROM tf JOIN (SELECT DISTINCT token FROM qt) USING (token)
         |        GROUP BY 1),
         |sc AS (SELECT query_id, doc_id, $Bm25TermSql AS term_score
         |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id,
         |    ${Q6("CAST(sum(CAST(term_score AS DECIMAL(28,12))) AS DOUBLE)")}
         |      AS score
         |  FROM sc GROUP BY 1, 2),
         |ltop AS (SELECT query_id, doc_id, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, doc_id) AS rank
         |    FROM pd) WHERE rank <= 20),
         |vn AS (SELECT t.query_id, t.doc_id,
         |    CASE WHEN m.mx = m.mn THEN 1.0
         |         ELSE (t.score - m.mn) / (m.mx - m.mn) END AS nv
         |  FROM vtop t JOIN (SELECT query_id, min(score) AS mn, max(score) AS mx
         |                    FROM vtop GROUP BY 1) m USING (query_id)),
         |ln AS (SELECT t.query_id, t.doc_id,
         |    CASE WHEN m.mx = m.mn THEN 1.0
         |         ELSE (t.score - m.mn) / (m.mx - m.mn) END AS nl
         |  FROM ltop t JOIN (SELECT query_id, min(score) AS mn, max(score) AS mx
         |                    FROM ltop GROUP BY 1) m USING (query_id)),
         |f AS (SELECT query_id, doc_id,
         |    0.5 * coalesce(nv, CAST(0.0 AS DOUBLE)) +
         |    0.5 * coalesce(nl, CAST(0.0 AS DOUBLE)) AS fused_score
         |  FROM vn FULL OUTER JOIN ln USING (query_id, doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY fused_score DESC, doc_id) AS rn FROM f)
         |SELECT query_id, CAST(rn AS INTEGER) AS rank, doc_id, fused_score
         |FROM r WHERE rn <= 10""".stripMargin,

    "t1_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, $ToksSql AS tk FROM documents),
         |scores AS (SELECT doc_id,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM toks)
         |SELECT doc_id, $LangCaseSql AS lang_pred FROM scores""".stripMargin,

    // t29/t29b: the multinomial-NB train/score replay — add-one model
    // over the hash-80% split (log-probs rounded to 9 dp, the
    // Bm25TermSql libm-absorption move), scores as exact
    // DECIMAL(28,12) sums that leave decimal space through one final
    // round(·, 6); argmax ties break by label ascending
    "t29_nb_model" ->
      s"""$NbModelCtes
         |SELECT token, lang AS label, c, logp FROM m""".stripMargin,

    "t29c_nb_model_mindf" ->
      s"""${nbModelCtes(minDf = 3)}
         |SELECT token, lang AS label, c, logp FROM m""".stripMargin,

    "t29b_nb_classify" ->
      nbClassifySql(spCte = s"SELECT * FROM d WHERE ${bucketSql(5)} = 0",
        where = ""),

    // t29e: the margin-calibration table — integer counts per capped
    // margin bin over the held-out scoring
    "t29e_calibration" ->
      nbClassifySql(spCte = s"SELECT * FROM d WHERE ${bucketSql(5)} = 0",
        where = "",
        finalSql = """, sel AS (SELECT pred = actual AS correct,
          |    CAST(round(s_dec - s2, 6) AS DOUBLE) AS margin
          |  FROM r WHERE rn = 1)
          |SELECT CAST(floor(least(margin, 10.0)) AS INTEGER) AS bin,
          |       count(*) AS n,
          |       CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_correct
          |FROM sel GROUP BY 1""".stripMargin),

    // t29d: the label-noise audit — only the confident disagreements
    // survive the final cut
    "t29d_label_audit" ->
      nbClassifySql(spCte = "SELECT * FROM tr",
        where = "WHERE rn = 1 AND pred <> actual" +
          " AND CAST(round(s_dec - s2, 6) AS DOUBLE) >= 1.0"),

    "t2_quality_score" ->
      s"""WITH toks AS (SELECT doc_id, text, $ToksSql AS tk FROM documents),
         |feat AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_chk,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio
         |  FROM toks)
         |SELECT doc_id, n_chars_chk, n_tokens, punct_ratio, stop_ratio,
         |  ${QScoreSql} AS quality_score
         |FROM feat""".stripMargin,

    // t20: the Gopher gate replayed rule by rule — the injected text2
    // CASE chain, token/line lists, exact-integer numerators over
    // greatest(n,1) denominators (single IEEE divisions, bit-identical
    // to the Spark entry), verdicts on UNROUNDED values
    "t20_gopher_rules" ->
      s"""WITH t2 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 13 = 0 THEN '• the list' || chr(10) || '• of and' || chr(10) || '• that have' || chr(10) || '• with be to'
         |       WHEN doc_id % 17 = 0 THEN '12 34 56 78 90 11 22 33 the of'
         |       WHEN doc_id % 19 = 0 THEN 'aa bb cc dd ee ff gg hh the of'
         |       WHEN doc_id % 11 = 0 THEN 'tiny doc'
         |       ELSE concat_ws(chr(10), text,
         |         CASE WHEN doc_id % 4 = 0 THEN '• bullet item one' ELSE 'the state of the art and that of design' END,
         |         CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' || chr(10) || 'more soon…' END,
         |         CASE WHEN doc_id % 7 = 0 THEN '## ## ## ## ## ##' END)
         |  END AS text2 FROM documents),
         |f AS (SELECT doc_id, text2, ${ToksSqlOn("text2")} AS tk,
         |  string_split(text2, chr(10)) AS ls FROM t2),
         |g AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS DOUBLE)
         |    / greatest(len(tk), 1) AS mean_word_len,
         |  CAST(len(regexp_extract_all(text2, '#')) AS DOUBLE)
         |    / greatest(len(tk), 1) AS hash_ratio,
         |  CAST(len(regexp_extract_all(text2, '\\.\\.\\.')) AS DOUBLE)
         |    / greatest(len(tk), 1) AS dots_ratio,
         |  CAST(len(list_filter(ls, l -> starts_with(l, '• ')
         |    OR starts_with(l, '- ') OR starts_with(l, '* '))) AS DOUBLE)
         |    / greatest(len(ls), 1) AS bullet_line_frac,
         |  CAST(len(list_filter(ls, l -> ends_with(l, '...')
         |    OR ends_with(l, '…'))) AS DOUBLE)
         |    / greatest(len(ls), 1) AS ellipsis_line_frac,
         |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |    / greatest(len(tk), 1) AS alpha_word_frac,
         |  CAST(len(list_filter(${GopherStopsSql},
         |    w -> list_contains(tk, w))) AS BIGINT) AS n_stop_types
         |  FROM f),
         |v AS (SELECT *,
         |  n_words >= 50 AND n_words <= 100000 AS ok_wc,
         |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_wl,
         |  hash_ratio <= 0.1 AND dots_ratio <= 0.1 AS ok_sym,
         |  bullet_line_frac <= 0.9 AS ok_bul,
         |  ellipsis_line_frac <= 0.3 AS ok_ell,
         |  alpha_word_frac >= 0.8 AS ok_alpha,
         |  n_stop_types >= 2 AS ok_stop
         |  FROM g)
         |SELECT doc_id, n_words, ${Q6("mean_word_len")} AS mean_word_len,
         |  ${Q6("hash_ratio")} AS hash_ratio,
         |  ${Q6("dots_ratio")} AS dots_ratio,
         |  ${Q6("bullet_line_frac")} AS bullet_line_frac,
         |  ${Q6("ellipsis_line_frac")} AS ellipsis_line_frac,
         |  ${Q6("alpha_word_frac")} AS alpha_word_frac,
         |  n_stop_types,
         |  ok_wc AND ok_wl AND ok_sym AND ok_bul AND ok_ell AND ok_alpha AND ok_stop AS keep,
         |  coalesce(array_to_string(list_filter([
         |    CASE WHEN NOT ok_wc THEN 'word_count' END,
         |    CASE WHEN NOT ok_wl THEN 'word_length' END,
         |    CASE WHEN NOT ok_sym THEN 'symbol_ratio' END,
         |    CASE WHEN NOT ok_bul THEN 'bullet_lines' END,
         |    CASE WHEN NOT ok_ell THEN 'ellipsis_lines' END,
         |    CASE WHEN NOT ok_alpha THEN 'alpha_words' END,
         |    CASE WHEN NOT ok_stop THEN 'stop_words' END
         |  ], x -> x IS NOT NULL), ';'), '') AS reasons
         |FROM v""".stripMargin,

    "t3_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($ToksSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents""".stripMargin,

    "t4_fingerprint" ->
      s"""WITH n AS (SELECT doc_id,
         |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents)
         |SELECT doc_id, md5(norm) AS md5_fp,
         |  list_reduce(list_prepend(CAST(7 AS BIGINT),
         |    list_transform(list_filter(string_split(norm, ' '), x -> x <> ''),
         |                   s -> ${h32Sql("s")})),
         |    (a, b) -> (a*31 + b) % ${graft.functions.Hashing.RollP}) AS rolling_fp
         |FROM n""".stripMargin,

    // t8b: order-preserving first-occurrence line dedup replayed via
    // min-position per (doc, line) + position-ordered string_agg
    "t8b_line_dedup" ->
      """WITH p AS (SELECT doc_id,
        |    substring(text, 1, 80) || chr(10) ||
        |    'only line ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    substring(text, 1, 80) || chr(10) ||
        |    substring(text, 1, 80) AS text2
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(text2, chr(10)) AS ls FROM p),
        |l AS (SELECT doc_id, ls[CAST(i AS INTEGER)] AS line, i
        |      FROM s, unnest(range(1, len(ls) + 1)) r(i)),
        |f AS (SELECT doc_id, line, min(i) AS fi FROM l GROUP BY 1, 2),
        |j AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY fi) AS txt,
        |        count(*) AS n_kept
        |      FROM f GROUP BY 1),
        |n AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM s)
        |SELECT doc_id, n_lines, CAST(n_kept AS BIGINT) AS n_kept,
        |       md5(txt) AS dedup_md5
        |FROM n JOIN j USING (doc_id)""".stripMargin,

    // t21: cross-doc keep-first line dedup replayed — injected text2,
    // 1-based positions (order-isomorphic to the entry's 0-based),
    // rn=1 over (doc_id, pos) per line keeps the global first
    // occurrence, blank lines pass through (none injected)
    "t21_boilerplate_lines" ->
      """WITH t2 AS (SELECT doc_id, concat_ws(chr(10),
        |    'SHARED SITE HEADER — all pages',
        |    substring(text, 1, 60),
        |    CASE WHEN doc_id % 3 = 0 THEN 'promo footer: subscribe now' END,
        |    'unique line ' || CAST(doc_id AS VARCHAR)) AS text2
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(text2, chr(10)) AS ls FROM t2),
        |l AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |        ls[CAST(i AS INTEGER)] AS line
        |      FROM s, unnest(range(1, len(ls) + 1)) r(i)),
        |rk AS (SELECT doc_id, pos, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |       FROM l WHERE line <> ''),
        |kept AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1
        |         UNION ALL SELECT doc_id, pos, line FROM l WHERE line = ''),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(line, chr(10) ORDER BY pos) AS dedup_text
        |        FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM s)
        |SELECT n.doc_id, n.n_lines,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       md5(coalesce(r.dedup_text, '')) AS dedup_md5
        |FROM n LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // t5b: the Luhn check is inlined as a list_filter lambda — digits
    // reversed, every second doubled (minus 9 past 9), total % 10 = 0
    "t5b_pii_extended" -> {
      import graft.text.TextAnalysis.{EmailRe, PhoneRe, IpRe, CardRe}
      val ds = "reverse(regexp_replace(c, '[^0-9]', '', 'g'))"
      val d = s"CAST(substring($ds, CAST(i AS INTEGER), 1) AS INTEGER)"
      s"""WITH p AS (SELECT doc_id,
         |  text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN ' or call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END ||
         |  CASE WHEN doc_id % 2 = 0
         |       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.42'
         |       ELSE '' END ||
         |  CASE WHEN doc_id % 7 = 0 THEN ' at 999.999.999.999' ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' ref 1234-5678-9012-3456' ELSE '' END
         |    AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text2, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text2, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text2, '$IpRe')) AS BIGINT) AS n_ips,
         |  CAST(len(list_filter(regexp_extract_all(text2, '$CardRe'), c ->
         |    list_sum(list_transform(range(1, length($ds) + 1), i ->
         |      CASE WHEN i % 2 = 0
         |           THEN CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END
         |           ELSE $d END)) % 10 = 0)) AS BIGINT) AS n_cards,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text2,
         |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g'), '$CardRe', '[CARD]', 'g')) AS scrub_md5
         |FROM p""".stripMargin
    },

    "t5_pii_scrub" -> {
      import graft.text.TextAnalysis.{EmailRe, PhoneRe}
      s"""WITH p AS (SELECT doc_id,
         |  text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN ' or call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text2, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text2, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(text2, '$EmailRe', '[EMAIL]', 'g'),
         |                     '$PhoneRe', '[PHONE]', 'g')) AS scrub_md5
         |FROM p""".stripMargin
    },

    // n_chars via length() (codepoints — strlen is BYTES and the damage
    // is multibyte); chr(1) = the injected control byte
    "t17_charset_audit" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' café �' || chr(1) || '  x'
        |       ELSE text END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text2) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text2, '[^\x00-\x7f]')) AS BIGINT) AS n_non_ascii,
        |  CAST(len(regexp_extract_all(text2, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_control,
        |  CAST(len(regexp_extract_all(text2, '�')) AS BIGINT) AS n_replacement,
        |  CAST(len(regexp_extract_all(text2, '  +')) AS BIGINT) AS n_multi_space,
        |  (text2 = trim(regexp_replace(lower(text2), '[^a-z0-9]+', ' ', 'g'))) AS is_normalized
        |FROM p""".stripMargin,

    // the fixer replayed step by step with DuckDB's regex engine and
    // nfc_normalize: drop U+FFFD, strip the audit's control class,
    // collapse whitespace + trim, NFC-compose
    "t17b_charset_fix" ->
      """WITH p AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN text || ' cafe' || chr(769) || ' ' || chr(65533)
        |            || chr(1) || chr(7) || '  x '
        |       ELSE text END AS t2
        |  FROM documents),
        |f AS (SELECT doc_id,
        |  nfc_normalize(trim(regexp_replace(regexp_replace(regexp_replace(t2,
        |    chr(65533), '', 'g'),
        |    '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS fixed
        |  FROM p)
        |SELECT doc_id, fixed, CAST(length(fixed) AS BIGINT) AS n_chars
        |FROM f""".stripMargin,

    // the extractor replayed: same page render, invisible-subtree
    // strip, block split on the closer set, per-block visible/anchor
    // text (tag strip -> entity decode with &amp; last -> whitespace
    // collapse), length + link-density gate, survivors joined in order
    "t19_extract" ->
      s"""WITH $ExtractCtes
         |SELECT doc_id, extracted, n_blocks, n_kept FROM xt""".stripMargin,

    // t19's extraction feeding c1's chain verbatim: the extracted text
    // IS the text column from t0 on
    "c3_curate_html" ->
      s"""WITH $ExtractCtes,
         |t0 AS (SELECT doc_id, extracted AS text, ${ToksSqlOn("extracted")} AS tk
         |       FROM xt),
         |feat AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM t0),
         |keepq AS (SELECT doc_id, text FROM (
         |    SELECT *,
         |      ${QScoreSql} AS q,
         |      $LangCaseSql AS lang
         |    FROM feat)
         |  WHERE q >= 0.5 AND lang = 'en'),
         |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
         |         FROM keepq GROUP BY md5(text)),
         |${minhashCtes("uniq")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1)
         |SELECT doc_id FROM uniq
         |WHERE doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin,

    // d20: d13's canonicalization CTEs + the suffix-set domain match
    // (UT1 subdomain semantics: entry hits exact host and every
    // subdomain) + the same pattern rules; blocklist and patterns are
    // interpolated from the SAME constants the entry uses
    "d20_url_blocklist" ->
      s"""WITH $UrlGateCtes
         |SELECT doc_id, canon_url, host, blocked_domain, reason,
         |       length(reason) = 0 AS allowed
         |FROM r""".stripMargin,

    // c3b: d20's gate CTEs feed c3's extract/gate/dedup CTEs (the
    // extraction is per-doc independent, so running it over the full
    // corpus then joining the allowed set gives the gated counts; the
    // dedup stages regroup over the gated corpus only), assembled into
    // c5's attrition-row shape
    "c3b_crawl_attrition" ->
      s"""WITH $UrlGateCtes,
         |allowed AS (SELECT doc_id FROM r WHERE length(reason) = 0),
         |$ExtractCtes,
         |xta AS (SELECT xt.doc_id, extracted AS text
         |        FROM xt JOIN allowed USING (doc_id)
         |        WHERE length(extracted) > 0),
         |t0 AS (SELECT doc_id, text, ${ToksSqlOn("text")} AS tk FROM xta),
         |feat AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
         |    greatest(length(text), 1) AS punct_ratio,
         |  CAST(len(list_filter(tk, x -> x IN ($EnStopsSql))) AS DOUBLE) /
         |    greatest(len(tk), 1) AS stop_ratio,
         |  ${LangScoreSql.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
         |  FROM t0),
         |keepq AS (SELECT doc_id, text FROM (
         |    SELECT *,
         |      ${QScoreSql} AS q,
         |      $LangCaseSql AS lang
         |    FROM feat)
         |  WHERE q >= 0.5 AND lang = 'en'),
         |uniq AS (SELECT min(doc_id) AS doc_id, first(text) AS text
         |         FROM keepq GROUP BY md5(text)),
         |${minhashCtes("uniq")},
         |drops AS (SELECT DISTINCT doc_b FROM ver WHERE jaccard >= 0.1),
         |surv AS (SELECT doc_id FROM uniq
         |         WHERE doc_id NOT IN (SELECT doc_b FROM drops)),
         |st AS (
         |  SELECT 1 AS stage_no, 'url_gate' AS stage,
         |         (SELECT count(*) FROM documents) AS n_in,
         |         (SELECT count(*) FROM allowed) AS n_out
         |  UNION ALL SELECT 2, 'extract',
         |         (SELECT count(*) FROM allowed), (SELECT count(*) FROM xta)
         |  UNION ALL SELECT 3, 'gate',
         |         (SELECT count(*) FROM xta), (SELECT count(*) FROM keepq)
         |  UNION ALL SELECT 4, 'exact_dedup',
         |         (SELECT count(*) FROM keepq), (SELECT count(*) FROM uniq)
         |  UNION ALL SELECT 5, 'near_dup',
         |         (SELECT count(*) FROM uniq), (SELECT count(*) FROM surv))
         |SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  CASE WHEN n_in = 0 THEN NULL
         |       ELSE ${Q6("CAST(1.0 AS DOUBLE) - CAST(n_out AS DOUBLE)" +
          " / CAST(n_in AS DOUBLE)")}
         |  END AS drop_frac
         |FROM st""".stripMargin,

    // mirrors Urls.canonicalUrl step by step over the same deterministic
    // URL variants the entry derives
    "d13_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
        |  || '.example.com'
        |  || (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
        |  || '/docs/p' || CAST(doc_id % 3 AS VARCHAR)
        |  || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 3 = 0
        |      THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) || '&lang=' || lang || '&utm_source=feed'
        |      ELSE '?utm_source=feed&lang=' || lang || '&page=' || CAST(doc_id % 2 AS VARCHAR) END)
        |  || (CASE WHEN doc_id % 7 = 0 THEN '&fbclid=abc' ELSE '' END)
        |  || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |         regexp_replace(regexp_replace(url, '#.*$', ''),
        |                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS ns FROM u),
        |s2 AS (SELECT doc_id, ns,
        |         CASE WHEN contains(ns, '?') THEN regexp_extract(ns, '\?(.*)$', 1)
        |              ELSE '' END AS q,
        |         regexp_replace(ns, '\?.*$', '') AS hp FROM s1),
        |s3 AS (SELECT doc_id, q,
        |         regexp_replace(regexp_replace(
        |           lower(regexp_extract(hp, '^[^/]*', 0)), '^www\.', ''),
        |           ':(80|443)$', '') AS host,
        |         regexp_replace(regexp_extract(hp, '^[^/]*(.*)$', 1), '/+$', '') AS p0
        |       FROM s2),
        |s4 AS (SELECT doc_id, host,
        |         CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p,
        |         array_to_string(list_sort(list_filter(str_split(q, '&'),
        |           x -> x <> '' AND NOT starts_with(x, 'utm_')
        |             AND NOT (x = 'fbclid' OR starts_with(x, 'fbclid='))
        |             AND NOT (x = 'gclid' OR starts_with(x, 'gclid='))
        |             AND NOT (x = 'ref' OR starts_with(x, 'ref=')))), '&') AS qq
        |       FROM s3),
        |c AS (SELECT doc_id,
        |        host || p || (CASE WHEN qq = '' THEN '' ELSE '?' || qq END) AS canon_url
        |      FROM s4)
        |SELECT canon_url, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM c GROUP BY 1""".stripMargin,

    "m1_multimodal" -> {
      def f(i: Int) =
        s"""CAST(coalesce(list_sum(list_transform(
           |          list_filter(range(strlen(text)), p -> p % 4 = $i),
           |          p -> ascii(text[p+1]))), 0) AS DOUBLE) AS f$i""".stripMargin
      s"""SELECT doc_id AS asset_id, 'text/plain' AS media_type,
         |       CAST(strlen(text) AS BIGINT) AS n_bytes,
         |       md5(text) AS content_md5,
         |       ${(0 until 4).map(f).mkString(",\n       ")}
         |FROM documents""".stripMargin
    },

    "m3_resize" -> {
      def rw(w: Int) =
        s"""coalesce(list_avg(list_transform(
           |  range(CAST($w*strlen(text)//8 AS INTEGER), CAST(${w + 1}*strlen(text)//8 AS INTEGER)),
           |  p -> ascii(text[p+1]))), 0.0) AS r$w""".stripMargin
      s"""SELECT doc_id AS asset_id,
         |${(0 until 8).map(rw).mkString(",\n")}
         |FROM documents""".stripMargin
    },

    "m2_frame_sample" ->
      """SELECT doc_id AS asset_id, CAST(off // 64 AS BIGINT) AS frame_no,
        |       md5(substr(text, CAST(off AS INTEGER) + 1, 64)) AS frame_md5
        |FROM documents, unnest(range(0, strlen(text) - 63, 256)) r(off)
        |WHERE strlen(text) >= 64""".stripMargin,

    // ascii() per byte (pure-ASCII corpus, the m1 precedent); big-endian
    // uint16 = byte*256 + byte
    // m8: the injected-magic payloads rebuilt blob-for-blob, the sniff
    // CASE replayed over the hex prefix (hex() is uppercase in both
    // engines; prefix chars of hex(payload) == hex of the byte prefix)
    // m9: m8's per-asset injection + sniff, then x5's k-minwise rank
    // per sniffed type (ORDER BY hash, id — exactKPerStratum's total
    // order)
    "m9_type_sample" ->
      s"""WITH a AS (SELECT doc_id, doc_id % 6 AS k, encode(text) AS body
         |           FROM documents),
         |p AS (SELECT doc_id, CASE CAST(k AS INTEGER)
         |    WHEN 0 THEN unhex('89504E470D0A1A0A') || body
         |    WHEN 1 THEN unhex('FFD8FFE000104A464946') || body
         |    WHEN 2 THEN unhex('52494646AAAA000057415645') || body
         |    WHEN 3 THEN unhex('255044462D312E37') || body
         |    WHEN 4 THEN unhex('1F8B08') || body
         |    ELSE body END AS payload FROM a),
         |h AS (SELECT doc_id, substr(hex(payload), 1, 24) AS hx FROM p),
         |s AS (SELECT doc_id, CASE
         |    WHEN substr(hx,1,8) = '89504E47' THEN 'image/png'
         |    WHEN substr(hx,1,6) = 'FFD8FF' THEN 'image/jpeg'
         |    WHEN substr(hx,1,8) = '47494638' THEN 'image/gif'
         |    WHEN substr(hx,1,8) = '52494646' AND substr(hx,17,8) = '57415645'
         |      THEN 'audio/wav'
         |    WHEN substr(hx,1,8) = '25504446' THEN 'application/pdf'
         |    WHEN substr(hx,1,8) = '504B0304' THEN 'application/zip'
         |    WHEN substr(hx,1,4) = '1F8B' THEN 'application/gzip'
         |    WHEN substr(hx,9,8) = '66747970' THEN 'video/mp4'
         |    WHEN substr(hx,1,6) = 'EFBBBF' THEN 'text/utf8-bom'
         |    ELSE 'unknown' END AS stratum FROM h),
         |r AS (SELECT stratum, doc_id,
         |    row_number() OVER (PARTITION BY stratum
         |        ORDER BY ${h32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM s)
         |SELECT stratum, doc_id AS kept_id FROM r WHERE rn <= 20""".stripMargin,

    "m8_type_sniff" ->
      s"""WITH a AS (SELECT doc_id % 6 AS k, encode(text) AS body FROM documents),
         |p AS (SELECT CASE CAST(k AS INTEGER)
         |    WHEN 0 THEN unhex('89504E470D0A1A0A') || body
         |    WHEN 1 THEN unhex('FFD8FFE000104A464946') || body
         |    WHEN 2 THEN unhex('52494646AAAA000057415645') || body
         |    WHEN 3 THEN unhex('255044462D312E37') || body
         |    WHEN 4 THEN unhex('1F8B08') || body
         |    ELSE body END AS payload FROM a),
         |h AS (SELECT payload, substr(hex(payload), 1, 24) AS hx FROM p),
         |s AS (SELECT CASE
         |    WHEN substr(hx,1,8) = '89504E47' THEN 'image/png'
         |    WHEN substr(hx,1,6) = 'FFD8FF' THEN 'image/jpeg'
         |    WHEN substr(hx,1,8) = '47494638' THEN 'image/gif'
         |    WHEN substr(hx,1,8) = '52494646' AND substr(hx,17,8) = '57415645'
         |      THEN 'audio/wav'
         |    WHEN substr(hx,1,8) = '25504446' THEN 'application/pdf'
         |    WHEN substr(hx,1,8) = '504B0304' THEN 'application/zip'
         |    WHEN substr(hx,1,4) = '1F8B' THEN 'application/gzip'
         |    WHEN substr(hx,9,8) = '66747970' THEN 'video/mp4'
         |    WHEN substr(hx,1,6) = 'EFBBBF' THEN 'text/utf8-bom'
         |    ELSE 'unknown' END AS sniffed_type,
         |    octet_length(payload) AS nb FROM h),
         |c AS (SELECT sniffed_type, CAST(count(*) AS BIGINT) AS n_assets,
         |             CAST(sum(nb) AS BIGINT) AS total_bytes
         |      FROM s GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_assets) AS BIGINT) AS tot FROM c)
         |SELECT sniffed_type, n_assets, total_bytes,
         |  ${Q6("CAST(n_assets AS DOUBLE) / CAST(tot AS DOUBLE)")} AS share
         |FROM c CROSS JOIN tt""".stripMargin,

    // m10: the scrub's expected output REBUILT from the same
    // MediaMeta constants the entry injects (byte-arithmetic replay —
    // the oracle needs no segment walker); md5 over hex(blob) because
    // DuckDB's md5 is VARCHAR-only and hex is uppercase in both engines
    "m10_exif_scrub" -> {
      import graft.multimodal.MediaMeta
      s"""WITH a AS (SELECT doc_id AS asset_id, doc_id % 4 AS k,
         |                  encode(text) AS body FROM documents),
         |p AS (SELECT asset_id,
         |  CASE CAST(k AS INTEGER)
         |    WHEN 0 THEN unhex('${MediaMeta.JpegExifDirtyHex}') || body
         |    WHEN 1 THEN unhex('${MediaMeta.PngMetaDirtyHex}') || body
         |    WHEN 2 THEN unhex('${MediaMeta.JpegComDirtyHex}') || body
         |    ELSE body END AS payload,
         |  CASE CAST(k AS INTEGER)
         |    WHEN 0 THEN unhex('${MediaMeta.JpegCleanHex}') || body
         |    WHEN 1 THEN unhex('${MediaMeta.PngCleanHex}') || body
         |    WHEN 2 THEN unhex('${MediaMeta.JpegCleanHex}') || body
         |    ELSE body END AS expected
         |  FROM a)
         |SELECT asset_id,
         |  CAST(octet_length(payload) AS BIGINT) AS n_before,
         |  CAST(octet_length(expected) AS BIGINT) AS n_after,
         |  CAST(octet_length(payload) - octet_length(expected) AS BIGINT)
         |    AS removed_bytes,
         |  md5(hex(expected)) AS scrubbed_md5
         |FROM p""".stripMargin
    },

    // m11: the audit numbers replayed from the SAME MediaMeta
    // constants the entry injects (k=0 jpeg+APP1/EXIF/GPS, k=1
    // png+tEXt+eXIf/GPS, k=2 jpeg+COM, k=3 raw)
    "m11_meta_audit" -> {
      import graft.multimodal.MediaMeta
      val jpegMeta = MediaMeta.App1ExifGpsHex.length / 2
      val pngMeta = (MediaMeta.TExtHex.length + MediaMeta.EXIfHex.length) / 2
      val comMeta = MediaMeta.ComHex.length / 2
      s"""SELECT doc_id AS asset_id,
         |  CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
         |    WHEN 2 THEN 'image/jpeg' ELSE 'unknown' END AS sniffed_type,
         |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1
         |    ELSE 0 END AS BIGINT) AS n_meta_segments,
         |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN $jpegMeta WHEN 1 THEN $pngMeta WHEN 2 THEN $comMeta
         |    ELSE 0 END AS BIGINT) AS meta_bytes,
         |  doc_id % 4 IN (0, 1) AS has_exif,
         |  doc_id % 4 IN (0, 1) AS has_gps
         |FROM documents""".stripMargin
    },

    "m5_header_parse" ->
      """SELECT doc_id AS asset_id,
        |       substring(text, 1, 2) AS magic,
        |       CAST(ascii(text[3]) * 256 + ascii(text[4]) AS BIGINT) AS width,
        |       CAST(ascii(text[5]) * 256 + ascii(text[6]) AS BIGINT) AS height,
        |       CAST(strlen(text) - 6 AS BIGINT) AS body_bytes
        |FROM documents WHERE strlen(text) >= 6""".stripMargin,

    // frames as in m2 (64-byte windows, stride 4); means over
    // power-of-two windows are exact binary doubles, so the flatness
    // compare and the DECIMAL(18,6) mean are engine-identical
    "m6_energy_windows" ->
      s"""WITH f AS (SELECT doc_id AS asset_id,
        |                  substr(text, CAST(off AS INTEGER) + 1, 64) AS frame
        |           FROM documents, unnest(range(0, strlen(text) - 63, 256)) r(off)
        |           WHERE strlen(text) >= 64),
        |s AS (SELECT asset_id,
        |        list_avg(list_transform(range(0, 64), p -> ascii(frame[p+1]))) AS level,
        |        list_transform(range(0, 8), w ->
        |          list_avg(list_transform(range(w*8, (w+1)*8),
        |                                  p -> ascii(frame[p+1])))) AS sub
        |      FROM f),
        |g AS (SELECT asset_id, level,
        |        (list_max(sub) - list_min(sub)) < 4.0 AS silent FROM s)
        |SELECT asset_id, count(*) AS n_frames,
        |       CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
        |       ${Q6("CAST(sum(CAST(level AS DECIMAL(18,6))) AS DOUBLE)" +
          " / count(*)")} AS mean_level
        |FROM g GROUP BY 1""".stripMargin,

    // frames as in m2/m6; sub-window means are exact binary doubles so
    // the L1 distances and the >55 compare are engine-identical
    "m7_scene_cuts" ->
      """WITH f AS (SELECT doc_id AS asset_id, CAST(off // 64 AS BIGINT) AS frame_no,
        |                  substr(text, CAST(off AS INTEGER) + 1, 64) AS frame
        |           FROM documents, unnest(range(0, strlen(text) - 63, 256)) r(off)
        |           WHERE strlen(text) >= 64),
        |s AS (SELECT asset_id, frame_no,
        |        list_transform(range(0, 8), w ->
        |          list_avg(list_transform(range(w*8, (w+1)*8),
        |                                  p -> ascii(frame[p+1])))) AS sig
        |      FROM f),
        |d AS (SELECT asset_id, frame_no, sig,
        |        lag(sig) OVER (PARTITION BY asset_id ORDER BY frame_no) AS prev
        |      FROM s),
        |l AS (SELECT asset_id, frame_no,
        |        CASE WHEN prev IS NULL THEN NULL
        |             ELSE list_sum(list_transform(range(0, 8), i ->
        |                    abs(sig[CAST(i AS INTEGER)+1]
        |                        - prev[CAST(i AS INTEGER)+1]))) END AS l1
        |      FROM d)
        |SELECT asset_id, count(*) AS n_frames,
        |       CAST(sum(CASE WHEN l1 > 55.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |       coalesce(min(CASE WHEN l1 > 55.0 THEN frame_no END), -1) AS first_cut_frame
        |FROM l GROUP BY 1""".stripMargin,

    // integer-exact aHash mirror of functions.ByteAHash64: window sums
    // over ascii codes (pure-ASCII corpus, the m1 precedent), bit w =
    // sum_w*n > total*width_w, halves packed MSB-first then banded and
    // popcount-verified exactly like d4b
    "m4_phash_dedup" ->
      s"""WITH pz AS (SELECT doc_id, text,
         |    CAST(${h32Sql("CAST(doc_id AS VARCHAR)")} % strlen(text) AS INTEGER) + 1 AS p
         |  FROM documents),
         |allp AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, substring(text, 1, p - 1) || 'a' || substring(text, p + 1)
         |  FROM pz),
         |codes AS (SELECT doc_id,
         |    list_transform(range(strlen(text)), q -> ascii(text[CAST(q AS INTEGER)+1])) AS cs,
         |    CAST(strlen(text) AS BIGINT) AS n
         |  FROM allp),
         |wins AS (SELECT doc_id, n,
         |    list_transform(range(0, 64), w -> coalesce(list_sum(
         |      cs[CAST(w*n//64 AS INTEGER)+1 : CAST((w+1)*n//64 AS INTEGER)]), 0)) AS sums,
         |    coalesce(list_sum(cs), 0) AS total
         |  FROM codes),
         |bits AS (SELECT doc_id,
         |    list_transform(range(0, 64), w -> CASE
         |      WHEN sums[CAST(w AS INTEGER)+1] * n > total * ((w+1)*n//64 - w*n//64)
         |      THEN 1 ELSE 0 END) AS b
         |  FROM wins),
         |fp AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 32),
         |      i -> b[CAST(i AS INTEGER)+1] * (CAST(1 AS BIGINT) << CAST(31-i AS INTEGER)))) AS BIGINT) AS fhi,
         |    CAST(list_sum(list_transform(range(0, 32),
         |      i -> b[CAST(i AS INTEGER)+33] * (CAST(1 AS BIGINT) << CAST(31-i AS INTEGER)))) AS BIGINT) AS flo
         |  FROM bits),
         |hx AS (SELECT doc_id, fhi, flo, printf('%08x%08x', fhi, flo) AS hex FROM fp),
         |banded AS (SELECT doc_id, fhi, flo, q, substr(hex, q*4+1, 4) AS qs
         |           FROM hx, range(0, 4) r(q)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.fhi AS ahi, a.flo AS alo, b.fhi AS bhi, b.flo AS blo
         |         FROM banded a JOIN banded b
         |           ON a.q = b.q AND a.qs = b.qs AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3""".stripMargin,

    "st6_trending" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT hr, event_type, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY hr
        |                               ORDER BY n DESC, event_type) AS rn
        |  FROM c) WHERE rn <= 3""".stripMargin,

    "st1_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "st2_sessionize" ->
      s"""$SessionCtes
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM sx GROUP BY 1, 2""".stripMargin,

    // g34: st2's session CTEs → per-session depth/duration → one-row
    // stats in g17b's idiom (decimal means, R-7 quantile_cont, 4-dp
    // rounds; bounce rate a single 6-dp-rounded division)
    "g34_session_stats" ->
      s"""$SessionCtes,
        |sess AS (SELECT user_id, session_idx, count(*) AS n_events,
        |    CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE)
        |      / 1000000.0 AS dur_s
        |  FROM sx GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users,
        |  ${Q4("CAST(sum(n_events) AS DOUBLE) / count(*)")} AS mean_events,
        |  ${Q4("CAST(sum(CAST(dur_s AS DECIMAL(28,6))) AS DOUBLE)" +
          " / count(*)")} AS mean_dur_s,
        |  ${Q4("quantile_cont(dur_s, 0.5)")} AS p50_dur_s,
        |  ${Q4("quantile_cont(dur_s, 0.9)")} AS p90_dur_s,
        |  ${Q6("CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)" +
          " / count(*)")} AS bounce_rate
        |FROM sess""".stripMargin,

    "st4_range" ->
      s"""$SessionCtes,
        |sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |                min(ts) AS session_start, max(ts) AS session_end
        |         FROM sx GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, s.session_idx
        |FROM p JOIN sess s ON p.user_id = s.user_id
        | AND p.ts BETWEEN s.session_start AND s.session_end""".stripMargin,

    "st5_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin,

    "st7_interval_join" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click'),
        |j AS (SELECT c.event_id AS click_id, v.ts AS vts
        |      FROM c JOIN v ON c.user_id = v.user_id
        |       AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts)
        |SELECT click_id, CAST(count(*) AS BIGINT) AS n_views,
        |       min(vts) AS first_view_ts, max(vts) AS last_view_ts
        |FROM j GROUP BY 1""".stripMargin,

    "st3_asof" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |v0 AS (SELECT event_id, user_id, ts, value FROM events
        |       WHERE event_type = 'view'),
        |v AS (SELECT user_id, ts, max_by(event_id, event_id) AS view_event_id,
        |             max_by(value, event_id) AS view_value
        |      FROM v0 GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.view_event_id, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.{Dsir, NaiveBayes}

/** The c6 selection pipeline served as ONE composed stream — the
  * production serving shape ([[CurationStream]], [[ClassifyStream]]
  * and [[SelectStream]] each serve one stage; a firehose ingest runs
  * them as one query): quality/language gate → watermark-bounded
  * exact dedup → near-dup band flag → frozen-NB model route → frozen-
  * DSIR weight threshold → MERGE, with the decontamination firewall
  * applied as the FIRST routing decision (eval membership wins over
  * every retention decision — [[graft.LlmCuration.runSelected]]'s
  * batch contract, preserved at serve time).
  *
  * Three frozen artifacts ride the stream — the NB (model, priors),
  * the DSIR bucket model, and the corpus band index (plus the eval
  * shingle set) — all fixed-size broadcastable frames; the caller
  * persists them before starting (re-read every micro-batch). Re-
  * training any of them is a new artifact + stream restart, the same
  * discipline each single-stage stream documents.
  *
  * Deviations from batch c6, by design (the serving contract):
  *  - SELECTION: the batch draws a global Gumbel top-k (rank needs
  *    the whole pool); a stream applies a THRESHOLD calibrated
  *    offline from the batch run (e.g. the k-th selected weight) —
  *    [[SelectStream]]'s documented contract. The sets agree exactly
  *    when the weight gap at the cut exceeds the Gumbel spread, and
  *    diverge only at near-ties.
  *  - NEAR-DUP: band hits FLAG (`n_band_hits`), never drop — exact
  *    verification needs corpus text the stream doesn't carry; the
  *    downstream batch decides ([[CurationStream]]'s contract).
  *  - EXACT DEDUP: watermark-bounded first-arrival keeper vs the
  *    batch's global min-id keeper — identical when ids arrive in
  *    order, and bounded state either way.
  *
  * Routing (decided in this order): `drop_contaminated` (any shared
  * eval n-gram), `review` (no NB evidence), `drop_model` (routed off
  * `keepLabel` or margin below `minMargin`), `review` (no DSIR
  * evidence), `drop_dsir` (weight below `minWeight`), else `select`.
  * An ingest gate admits on evidence; silence parks for review.
  *
  * Scale shape: the only stateful operator is the watermark-bounded
  * dedup (state = docs inside the window); every flag/score stage is
  * map-only plus doc-keyed IN-BATCH aggregation against broadcast
  * artifacts; the sink is the replay-safe MERGE-on-doc_id protocol.
  */
object SelectionPipelineStream {

  /** Pure per-batch routing, factored for spec replay. `batch` carries
    * (doc_id, text); in-batch doc_id redeliveries collapse to one row
    * first ([[MicroBatchSink.perDoc]] — a doubled doc would double its
    * DSIR feature stream). */
  def routeBatch(batch: DataFrame, corpusIndex: DataFrame,
                 evalCorpus: DataFrame, evalText: Column,
                 nbModel: DataFrame, nbPriors: DataFrame,
                 dsirModel: DataFrame,
                 keepLabel: String, minMargin: Double, minWeight: Double,
                 n: Int = 5, buckets: Int = Dsir.DefaultBuckets,
                 ngrams: Int = 1): DataFrame = {
    val uniq = MicroBatchSink.perDoc(batch)
    val band = CurationStream.nearDupFlagStream(uniq, col("doc_id"),
        col("text"), corpusIndex)
      .groupBy("doc_id").agg(count(lit(1)).as("n_band_hits"))
    val contam = CurationStream.contamFlagStream(uniq, col("doc_id"),
        col("text"), evalCorpus, evalText, n)
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam_hits"))
    val nb = NaiveBayes.score(uniq, col("doc_id"), col("text"),
      nbModel, nbPriors).select("doc_id", "pred", "margin")
    val dsir = Dsir.score(uniq, col("doc_id"), col("text"), dsirModel,
      buckets, ngrams).select("doc_id", "weight")
    uniq
      .join(band, Seq("doc_id"), "left").na.fill(0L, Seq("n_band_hits"))
      .join(contam, Seq("doc_id"), "left").na.fill(0L, Seq("n_contam_hits"))
      .join(nb, Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .withColumn("route",
        when(col("n_contam_hits") > 0, lit("drop_contaminated"))
          .when(col("margin").isNull, lit("review"))
          .when(col("pred") =!= keepLabel || col("margin") < minMargin,
            lit("drop_model"))
          .when(col("weight").isNull, lit("review"))
          .when(col("weight") < minWeight, lit("drop_dsir"))
          .otherwise(lit("select")))
  }

  /** The FULL crawl serving shape — [[run]] with the two pre-text
    * stages a crawl executes first (c3b's batch order, served):
    * d20's URL/domain gate as a compiled-in map-only filter
    * ([[graft.text.Urls.isAllowed]] — a blocked page dies before any
    * text work) and t19's boilerplate extraction as a map-only column
    * ([[graft.text.Html.extractedText]] — pages whose extraction is
    * empty carry no trainable text and drop). Both stages are
    * stateless scan-speed columns, so the composed query's state
    * posture is unchanged: the watermark dedup remains the only
    * stateful operator. `stream` must carry (`id`, `url`, `html`,
    * `ts`). */
  def runCrawl(stream: DataFrame, id: Column, url: Column, html: Column,
               blockedDomains: Seq[String],
               patternRules: Seq[(String, String)],
               corpusIndex: DataFrame, evalCorpus: DataFrame, evalText: Column,
               nbModel: DataFrame, nbPriors: DataFrame, dsirModel: DataFrame,
               targetDir: String, checkpointDir: String,
               keepLabel: String, minMargin: Double, minWeight: Double,
               minQuality: Double = 0.5, lang: Option[String] = Some("en"),
               watermark: String = "1 hour", ts: Column = col("ts"),
               n: Int = 5, buckets: Int = Dsir.DefaultBuckets,
               ngrams: Int = 1): StreamingQuery = {
    val extracted = stream
      .filter(graft.text.Urls.isAllowed(url, blockedDomains, patternRules))
      .select(id.as("doc_id"),
        graft.text.Html.extractedText(html).as("text"), ts.as("ts"))
      .filter(length(col("text")) > 0)
    run(extracted, col("doc_id"), col("text"), corpusIndex, evalCorpus,
      evalText, nbModel, nbPriors, dsirModel, targetDir, checkpointDir,
      keepLabel, minMargin, minWeight, minQuality, lang, watermark,
      col("ts"), n, buckets, ngrams)
  }

  /** Start the composed stream: `stream` must carry (`id`, `text`,
    * `ts`); routed rows MERGE into `targetDir` keyed on doc_id. */
  def run(stream: DataFrame, id: Column, text: Column,
          corpusIndex: DataFrame, evalCorpus: DataFrame, evalText: Column,
          nbModel: DataFrame, nbPriors: DataFrame, dsirModel: DataFrame,
          targetDir: String, checkpointDir: String,
          keepLabel: String, minMargin: Double, minWeight: Double,
          minQuality: Double = 0.5, lang: Option[String] = Some("en"),
          watermark: String = "1 hour", ts: Column = col("ts"),
          n: Int = 5, buckets: Int = Dsir.DefaultBuckets,
          ngrams: Int = 1): StreamingQuery = {
    // stage 1: the map-only quality + language gate (CurationStream's
    // stream section — gates run first so the stateful dedup and every
    // scorer see the smallest surviving stream)
    val kept = graft.LlmCuration.qualityGate(
      stream.select(id.as("doc_id"), text.as("text"), ts.as("ts")),
      minQuality, lang)
    // stage 2: watermark-bounded exact content dedup (the one stateful
    // op); stages 3-6 run stateless per persisted micro-batch, and
    // routeBatch's per-doc collapse leaves ts out of the routed rows
    CurationStream.dedupAndMerge(kept, watermark, targetDir, checkpointDir) {
      routeBatch(_, corpusIndex, evalCorpus, evalText, nbModel, nbPriors,
        dsirModel, keepLabel, minMargin, minWeight, n, buckets, ngrams)
    }
  }
}

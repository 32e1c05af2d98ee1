package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
  * score every raw document by how target-like its hashed bag-of-words
  * distribution is — the log likelihood ratio of two add-one-smoothed
  * hashed-feature language models, one fit on a small TARGET corpus
  * (the domain you want more of) and one on the RAW pool — then draw a
  * without-replacement sample weighted by exp(weight) via Gumbel
  * top-k. This is the standard pretraining-data selection shape: the
  * same log-linear scorer as [[NaiveBayes]] but with a two-class
  * likelihood-ratio reading and HASHED features, so the model is a
  * FIXED-size (`buckets`-row) frame no matter the corpus vocabulary —
  * the property that lets the model broadcast at 100 TB. (The paper
  * hashes n-grams; token choice is pluggable — these are
  * [[TextAnalysis.tokens]] unigrams, and any shingle column composes.)
  *
  * Scale shape: one pass over each corpus to bucket counts, densified
  * against the constant `range(buckets)` grid (every possible bucket
  * present, so scoring never misses); each side's total is a one-row
  * scalar subquery over its bucket counts, not a window funnelling
  * every bucket through one reducer. Scoring is map-only against the
  * BROADCAST model plus one doc-keyed aggregation. The resample's
  * global top-k is the naive rn<=k window that
  * [[graft.plans.WindowTopOneRewrite]] ships as bounded-heap partial
  * aggregation — no corpus sort, no single partition.
  *
  * Determinism: log-probs round to 9 dp at the model (absorbing libm
  * ulp differences), per-doc sums ride DECIMAL(28,12), doubles are
  * re-entered only through a final round(·, 6). The Gumbel noise is
  * pseudo-random from md5 of the doc id — u = (h32(id)+1)/2^31 is an
  * EXACT double (power-of-two divisor), so both engines log the same
  * value; the inner log is clamped to −1e−9 before the outer log so a
  * max-hash doc (u within 5e−10 of 1, rounding to −0.0 at 9 dp)
  * cannot produce −ln(0) = ∞ — at billions of docs that hash value
  * does occur.
  */
object Dsir {

  /** Hashed feature space size. 4096 keeps the model broadcast-tiny;
    * production DSIR uses ~10k buckets (Xie et al. 2023 §3). */
  val DefaultBuckets = 4096

  /** The hashed feature stream of one doc: unigrams (`ngrams = 1`) or
    * the paper's unigrams ∪ bigrams (`ngrams = 2`, Xie et al. 2023
    * §3's hashed n-grams) — NON-distinct (DSIR counts occurrences,
    * unlike the dedup family's distinct shingles). */
  private def features(text: Column, ngrams: Int): Column = {
    val tk = TextAnalysis.tokens(text)
    if (ngrams <= 1) tk else concat(tk, TextStages.bigrams(tk))
  }

  /** The importance model: (bucket, lr) for EVERY bucket in
    * [0, buckets), lr the exact-decimal difference of the two sides'
    * 9-dp-rounded add-one log-probs, each side the dense
    * [[TextStages.gridCounts]] of one corpus pass. `buckets` rows —
    * broadcast it. */
  def model(target: DataFrame, raw: DataFrame, text: Column,
            buckets: Int = DefaultBuckets, ngrams: Int = 1): DataFrame = {
    def logp(side: DataFrame, as: String): DataFrame =
      TextStages.gridCounts(side, Nil, features(text, ngrams), buckets)
        .select(col("bucket"), TextStages.addOneLogp(col("c"), col("n"),
          lit(buckets.toDouble)).cast("decimal(28,12)").as(as))
    logp(target, "lp_t").join(logp(raw, "lp_r"), "bucket")
      .select(col("bucket"), (col("lp_t") - col("lp_r")).as("lr"))
  }

  /** (doc_id, n_feats, w_dec) of `docs` against a PRE-BUILT model
    * frame `m(bucket, lr)` — the frozen-artifact scoring surface
    * ([[graft.streaming.SelectStream]] serves this per micro-batch;
    * the caller must hash with the SAME `buckets`/`ngrams` the model
    * was built with). Map-only against the broadcast model plus one
    * doc-keyed aggregation; docs with no features produce no row. */
  private def scoreDec(docs: DataFrame, id: Column, text: Column,
                       m: DataFrame, buckets: Int,
                       ngrams: Int): DataFrame =
    docs
      .select(id.as("doc_id"), explode(features(text, ngrams)).as("token"))
      .select(col("doc_id"),
        TextStages.bucketOf(col("token"), buckets).as("bucket"))
      .join(broadcast(m), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("w_dec"))

  /** [[importanceWeights]]' output shape against a pre-built
    * `m(bucket, lr)`: (doc_id, n_feats, weight). */
  def score(docs: DataFrame, id: Column, text: Column, m: DataFrame,
            buckets: Int = DefaultBuckets, ngrams: Int = 1): DataFrame =
    scoreDec(docs, id, text, m, buckets, ngrams)
      // decimal-space round, then cast (see NaiveBayes.scoreAgainst:
      // a half-boundary sum rounds engine-dependently on doubles)
      .select(col("doc_id"), col("n_feats"),
        round(col("w_dec"), 6).cast("double").as("weight"))

  /** Per-raw-doc importance weight: Σ over the doc's hashed tokens of
    * the model's log ratio — positive means target-like. Docs with no
    * tokens produce no row (no features, no evidence). Output:
    * (doc_id, n_feats, weight). */
  def importanceWeights(target: DataFrame, raw: DataFrame, id: Column,
                        text: Column, buckets: Int = DefaultBuckets,
                        ngrams: Int = 1): DataFrame =
    score(raw, id, text, model(target, raw, text, buckets, ngrams), buckets, ngrams)

  /** Deterministic Gumbel noise from the doc id: round 9-dp at each
    * log so both engines replay it; inner log clamped to −1e−9 (see
    * the object scaladoc). */
  private def gumbel(id: Column): Column = {
    val u = (Hashing.h32(id.cast("string")) + lit(1L)).cast("double") /
      lit(2147483648.0)
    round(-log(-least(round(log(u), 9), lit(-1e-9))), 9)
  }

  /** Without-replacement sample of `k` raw docs with probability
    * ∝ exp(weight) — Gumbel top-k (Vieira 2014): rank by
    * weight + Gumbel(doc_id) and keep the k largest (exact-decimal
    * order, doc_id tiebreak). The rn<=k window rides
    * WindowTopOneRewrite's bounded-heap path. Output:
    * (doc_id, weight, skey). */
  def resample(target: DataFrame, raw: DataFrame, id: Column,
               text: Column, k: Int, buckets: Int = DefaultBuckets,
               ngrams: Int = 1): DataFrame =
    resampleWith(model(target, raw, text, buckets, ngrams), raw, id,
      text, k, buckets, ngrams)

  /** [[resample]] against a PRE-BUILT model frame `m(bucket, lr)` —
    * the frozen-artifact form (the steady-state serving leg scores and
    * draws under a model trained once; re-training is a new artifact).
    * Identical math: when `m` was built by [[model]] from the same
    * (target, raw) inputs, the draw is bit-identical to [[resample]]'s.
    * The caller must pass the SAME `buckets`/`ngrams` the model was
    * built with. */
  def resampleWith(m: DataFrame, raw: DataFrame, id: Column,
                   text: Column, k: Int, buckets: Int = DefaultBuckets,
                   ngrams: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = scoreDec(raw, id, text, m, buckets, ngrams)
      .withColumn("s_dec",
        col("w_dec") + gumbel(col("doc_id")).cast("decimal(28,12)"))
    val rn = row_number().over(
      Window.orderBy(col("s_dec").desc, col("doc_id")))
    w.withColumn("rn", rn).filter(col("rn") <= k)
      .select(col("doc_id"),
        round(col("w_dec"), 6).cast("double").as("weight"),
        round(col("s_dec"), 6).cast("double").as("skey"))
  }

  /** The selection → mixture bridge (Xie et al. 2023 §5 trains on the
    * SELECTED set — this is that selection re-expressed as the
    * per-source epoch weights [[graft.operators.Sampling.mix]]
    * consumes, for pipelines that keep the full pool and re-weight
    * instead of materializing the selected subset): run the Gumbel
    * top-`k` draw, then per source report pool size, selected count,
    * mean selected weight, natural vs selected share, and
    * `epoch_weight = sel_share / nat_share` — the multiplier that
    * makes `mix(pool, …, epoch weights)` reproduce the selected set's
    * source mix in expectation (each source's mixed mass is
    * `n_pool × epoch_weight = n_selected × N/k`, i.e. proportional to
    * its selected count).
    *
    * Scale shape: [[resample]]'s bounded-heap draw, the k-row
    * selection broadcast back onto the (doc, source) projection, one
    * sources-sized rollup; the pool total is a one-row scalar
    * subquery over the sources frame. Share and
    * weight arithmetic is exact-integer products with ONE IEEE
    * division each (plus a 6-dp round), so engines agree exactly;
    * the mean selected weight sums the 6-dp weights in DECIMAL(18,6)
    * and leaves decimal through one division. */
  def mixtureWeights(target: DataFrame, raw: DataFrame, id: Column,
                     text: Column, source: Column, k: Int,
                     buckets: Int = DefaultBuckets,
                     ngrams: Int = 1): DataFrame = {
    val pool = raw.select(id.as("doc_id"), text.as("text"),
      source.as("source"))
    // project target under the caller's text column too (the
    // dsir_select stage contract) — an unprojected pass-through would
    // demand a literal 'text' column on target
    val sel = resample(target.select(text.as("text")), pool,
      col("doc_id"), col("text"), k, buckets, ngrams)
    val perSrc = pool.groupBy("source").agg(count(lit(1)).as("n_pool"))
    val selSrc = pool.select("doc_id", "source")
      .join(broadcast(sel.select(col("doc_id"), col("weight"))), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"),
        sum(col("weight").cast("decimal(18,6)")).as("__wsum"))
    val nTotal = perSrc.agg(sum(col("n_pool"))).scalar()
    perSrc.join(selSrc, Seq("source"), "left")
      .na.fill(0L, Seq("n_selected"))
      .withColumn("__n_total", nTotal)
      .select(col("source"), col("n_pool"), col("n_selected"),
        // §6 quantizer on the report quotients (Quantize scaladoc):
        // engine-identical at the half boundary
        when(col("n_selected") === 0, lit(null)).otherwise(
          graft.functions.Quantize.qdp(col("__wsum").cast("double") /
            col("n_selected").cast("double"), 6)).as("mean_sel_weight"),
        graft.functions.Quantize.qdp(col("n_pool").cast("double") /
          col("__n_total").cast("double"), 6).as("nat_share"),
        graft.functions.Quantize.qdp(
          col("n_selected").cast("double") / lit(k.toDouble), 6)
          .as("sel_share"),
        graft.functions.Quantize.qdp((col("n_selected").cast("double") *
            col("__n_total").cast("double")) /
          (lit(k.toDouble) * col("n_pool").cast("double")), 6)
          .as("epoch_weight"))
  }
}

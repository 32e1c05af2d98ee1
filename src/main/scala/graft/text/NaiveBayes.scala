package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caching

/** Multinomial Naive Bayes over whitespace tokens — the TRAINABLE
  * classifier of the curation stack (McCallum & Nigam 1998), the
  * supervised complement to the rule-based t1/t1b language profiles:
  * production pipelines train exactly this shape of linear
  * bag-of-words model on labeled sources to score domain/quality/
  * language (the fastText-classifier practice of Joulin et al. 2016;
  * GPT-3's quality filter — Brown et al. 2020 §A — is the same
  * log-linear scorer with a different loss).
  *
  * Scale shape: training is ONE corpus pass (explode → (label, token)
  * count, a token-keyed shuffle whose output is vocabulary-sized);
  * everything after operates on vocabulary-sized frames — the counts
  * frame is materialized once (Caching.persisted, the d2b pattern) so
  * the label-totals/vocab branches never re-execute the corpus
  * subtree. Scoring is map-only against the BROADCAST dense model
  * (vocabulary-bounded by construction) plus one (doc, label)-keyed
  * aggregation; the per-doc argmax window ranks ≤|labels| rows per
  * doc. No stage is ever corpus × corpus.
  *
  * Determinism (the cross-engine oracle discipline): log-probs are
  * rounded to 9 dp at the model (absorbing libm ulp differences —
  * the Bm25TermSql precedent), cast DECIMAL(28,12) before any
  * cross-row sum (order independence), and scores leave decimal
  * space exactly once, through a final round(·, 6). Ties in the
  * argmax break by label ascending.
  */
object NaiveBayes {

  /** Dense add-one-smoothed (token × label) model from a labeled
    * corpus: `logp = round(ln((c + 1) / (n_label_tokens + |V|)), 9)`
    * with `c` the (token, label) occurrence count, `n_label_tokens`
    * the label's total token mass and `|V|` the training vocabulary
    * size. Labels are the labels OBSERVED in training tokens; the
    * model is densified (every in-vocab token scores every label) so
    * scoring needs no missing-pair handling. Output: (token, label,
    * c, logp), |V| × |labels| rows.
    */
  def model(docs: DataFrame, text: Column, label: Column,
            minDf: Long = 1L): DataFrame =
    // one corpus pass; vocabulary-sized result, materialized so the
    // distinct-labels / distinct-vocab branches below don't each
    // re-execute the explode+shuffle subtree (the r11 single-pass
    // audit class)
    modelFromCounts(Caching.persisted(
      docs.select(label.cast("string").as("label"),
          explode(TextAnalysis.tokens(text)).as("token"))
        .groupBy("label", "token").agg(count(lit(1)).as("c"))), minDf)

  /** [[model]] from an already-materialized (label, token, c) counts
    * frame — the surface incremental maintenance feeds
    * ([[graft.streaming.NbModelStream]] folds additive count
    * registers to exactly this shape). `counts` is read by three
    * branches (labels, vocab, the dense join); it must be cheap to
    * re-read (a snapshot fold or a persisted frame), never a raw
    * corpus subtree.
    *
    * `minDf` is the open-vocabulary escape valve: on a corpus whose
    * vocabulary grows with size (real web text — heaps-law growth),
    * the dense |V|×|labels| model eventually outgrows a broadcast;
    * `minDf > 1` keeps only tokens with at least that many TOTAL
    * training occurrences (the classic min-count cut — singleton
    * tokens carry no reusable signal and are the bulk of an open
    * vocabulary). Dropped tokens become OOV at scoring (ignored,
    * [[score]]'s contract); the smoothing denominators use the KEPT
    * vocabulary's mass and size, so the model stays a proper
    * distribution over its own vocabulary. (The other valve is
    * feature hashing — [[Dsir]]'s fixed bucket space.) */
  def modelFromCounts(counts: DataFrame, minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val labels = counts.select("label").distinct()
    val vocab =
      if (minDf <= 1L) counts.select("token").distinct()
      else counts.groupBy("token").agg(sum("c").as("__df"))
        .filter(col("__df") >= minDf).select("token")
    // vocab × constant-labels product (|V| × O(1)); totals and |V|
    // ride label-partitioned windows over the DENSE frame — within a
    // label partition, count(*) IS |V| and sum(c) is the token mass,
    // so no re-aggregation branch and no one-row attach is needed
    val wLabel = Window.partitionBy("label")
    vocab.crossJoin(broadcast(labels))
      .join(counts, Seq("label", "token"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("n_tok", sum("c").over(wLabel))
      .withColumn("vn", count(lit(1)).over(wLabel))
      .select(col("token"), col("label"), col("c"),
        round(log((col("c") + lit(1.0)) /
          (col("n_tok") + col("vn")).cast("double")), 9).as("logp"))
  }

  /** Exact-decimal ln label priors from the train split's label
    * document counts: (pred, prior_dec). The label-sized frame
    * carries its own total as an unpartitioned window sum
    * (aggregated-small receiver — no second train pass). */
  def priors(trainDocs: DataFrame, label: Column): DataFrame =
    priorsFromCounts(trainDocs.select(label.cast("string").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_docs")))

  /** [[priors]] from an already-aggregated (label, n_docs) frame —
    * the incremental-maintenance twin of [[modelFromCounts]]. */
  def priorsFromCounts(docCounts: DataFrame): DataFrame =
    docCounts.select(col("label").as("pred"), col("n_docs"))
      .withColumn("n_total", sum("n_docs").over(Window.partitionBy()))
      .select(col("pred"),
        round(log(col("n_docs").cast("double") / col("n_total")), 9)
          .cast("decimal(28,12)").as("prior_dec"))

  /** The scorer both surfaces share: per-doc log-posterior
    * `round(ln prior + Σ logp(token|label), 6)` per label, argmax
    * with label-ascending tie-break, margin = best minus runner-up.
    * With `actual` set the output carries (actual, correct) for
    * in-plan accuracy audit — the same plan otherwise. */
  private def scoreAgainst(docs: DataFrame, id: Column, text: Column,
                           actual: Option[Column], m: DataFrame,
                           pri: DataFrame): DataFrame = {
    val occCols = Seq(id.as("doc_id")) ++
      actual.map(_.cast("string").as("actual")).toSeq :+
      explode(TextAnalysis.tokens(text)).as("token")
    val keyCols = Seq("doc_id") ++ actual.map(_ => "actual").toSeq :+ "pred"
    val w = Window.partitionBy("doc_id")
      .orderBy(col("s_dec").desc, col("pred"))
    val ranked = docs.select(occCols: _*)
      .join(broadcast(m.select(col("token"), col("label").as("pred"),
        col("logp"))), "token")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("logp").cast("decimal(28,12)")).as("tok_dec"))
      .join(broadcast(pri), "pred")
      .withColumn("s_dec", col("tok_dec") + col("prior_dec"))
      .withColumn("rn", row_number().over(w))
      .withColumn("margin_dec", col("s_dec") - lead("s_dec", 1).over(w))
      .filter(col("rn") === 1)
    val base = Seq(col("doc_id")) ++ actual.map(_ => col("actual")).toSeq ++
      Seq(col("pred"),
        // round in DECIMAL space, THEN cast: rounding the double
        // instead lets an exact half-boundary sum (it happens — a
        // 4500-doc sf0.1 corpus produced one) round differently per
        // engine, because Spark rounds the shortest decimal repr and
        // DuckDB the binary value
        round(col("s_dec"), 6).cast("double").as("score"),
        round(col("margin_dec"), 6).cast("double").as("margin"))
    val audit = actual.map(_ => (col("pred") === col("actual")).as("correct"))
    ranked.select(base ++ audit.toSeq: _*)
  }

  /** Score unlabeled `docs` against a PRE-TRAINED (model, priors)
    * pair — the serving surface [[graft.streaming.ClassifyStream]]
    * runs per micro-batch: (doc_id, pred, score, margin). Margin is
    * null iff the model has a single label. Out-of-vocabulary tokens
    * are ignored; docs whose tokens are ALL out-of-vocabulary
    * produce no row (no evidence — the consumer routes them). */
  def score(docs: DataFrame, id: Column, text: Column,
            m: DataFrame, pri: DataFrame): DataFrame =
    scoreAgainst(docs, id, text, None, m, pri)

  /** Label-noise audit — Confident Learning's core signal (Northcutt
    * et al. 2021): train on the labeled corpus, score the SAME
    * corpus, and keep the docs where the model disagrees with the
    * given label at high margin — for a mislabeled doc the
    * (correct-majority) model out-votes its own training label, and
    * the margin gate keeps only the confident disagreements. The
    * standard pre-training audit before trusting labels enough to
    * train the production [[ClassifyStream]] gate on them. Same plan
    * as [[classify]] plus a row-local filter. Output: the flagged
    * docs, (doc_id, actual, pred, score, margin, correct=false). */
  def labelAudit(docs: DataFrame, id: Column, text: Column, label: Column,
                 minMargin: Double = 1.0): DataFrame =
    classify(docs, docs, id, text, label)
      .filter(!col("correct") && col("margin") >= minMargin)

  /** Margin-calibration table over [[classify]]'s output — the check
    * run before using margins as routing gates ("is a margin-3 doc
    * actually righter than a margin-1 doc?"): held-out accuracy per
    * integer margin bin (capped at 10). Counts only — an exact-integer
    * table has no cross-engine float surface at all; accuracy is
    * n_correct/n at read time. Output: (bin, n, n_correct). */
  def calibration(scored: DataFrame): DataFrame =
    scored.groupBy(
        floor(least(col("margin"), lit(10.0))).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))

  /** Train on `trainDocs`, score labeled `scoreDocs`:
    * (doc_id, actual, pred, score, margin, correct) — the held-out
    * evaluation surface (t29b). Same OOV contract as [[score]]. */
  def classify(trainDocs: DataFrame, scoreDocs: DataFrame, id: Column,
               text: Column, label: Column): DataFrame =
    scoreAgainst(scoreDocs, id, text, Some(label),
      model(trainDocs, text, label),
      priors(trainDocs, label))
}

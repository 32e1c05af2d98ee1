package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Caching
import graft.functions.Vectors

import VectorStages._

/** Lloyd's k-means over an embedding column — the centroid-training
  * step [[Knn.ivfTopK]] assumes (its scaladoc: "swap for k-means
  * outputs in production"). Coarse IVF quantization per Jégou et al.
  * 2011; Lloyd 1982 for the iteration.
  *
  * Deterministic end to end, so an external engine reproduces every
  * centroid bit-for-bit:
  *  - seeds = the k smallest vec_ids (swap for k-means|| at deploy; the
  *    dataflow is identical),
  *  - assignment = cosine rounded to 6 dp, argmax tie-broken by
  *    cent_id — partition-order independent,
  *  - recompute = per-dimension mean as an exact DECIMAL sum cast to
  *    double (summation-order independent) and rounded to 6 dp before
  *    the next round reads it.
  *
  * Scale: centroids broadcast (k·dim doubles); assignment is map-only
  * (k dot products per vector, then a max_by partial-aggregate);
  * recompute is one posexplode + (cent_id, dim)-keyed aggregation whose
  * map-side partials reduce each partition to ≤ k·dim rows before the
  * shuffle. Rounds are a driver loop over `iters` — the standard shape
  * for an iterative refinement whose state is k·dim scalars.
  *
  * Vector movement: the corpus is hash-partitioned by vec_id ONCE
  * (the cached frame), and each round's only shuffle is the
  * (vec_id, cent_id) assignment pairs — the vectors are re-read from
  * the partitioned cache on both sides of the assignment join, never
  * re-shuffled. The earlier form aggregated `first(e)` through the
  * per-round groupBy, shipping every vector across the wire every
  * round; at corpus scale that dwarfs the k·dim state this loop
  * actually updates.
  */
object KMeans {

  /** Train centroids; returns k×dims (cent_id, dim, value) scalar
    * rows — cent_id is the seed vector's vec_id, `value` rounded to
    * 6 dp. A cluster that receives no vectors in a round (the classic
    * Lloyd empty-cluster degeneracy, e.g. duplicate seeds) carries its
    * previous centroid forward, so the output has exactly
    * min(k, |corpus|) centroids: a corpus of fewer than k vectors seeds
    * only |corpus| of them. */
  def lloyd(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 1, "k and iters must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = Caching.persisted(kmeansSide(corpus).repartition(col("vec_id")))
    // The model state is k·dim scalars — DRIVER-RESIDENT between
    // rounds (the MLlib k-means shape: collect the new centers each
    // iteration). The earlier DataFrame-state form paid two
    // localCheckpoint materializations plus an anti-join/union per
    // round to keep the same k·dim values distributed; holding them on
    // the driver makes each round exactly ONE job (the assignment +
    // per-dimension mean collect) with the centroids re-entering as a
    // broadcast literal frame. Values are bit-identical: same
    // assignment argmax, same exact-decimal per-dimension mean, same
    // 6-dp quantizer, same empty-cluster carry-forward.
    var cents: Seq[(Long, Seq[Double])] = c.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
    for (_ <- 0 until iters) {
      val ct = broadcast(cents.toDF("cent_id", "cent")
        .withColumn("centn", Vectors.norm(col("cent"))))
      // nearest centroid by rounded cosine; ties -> smallest cent_id.
      // Only (vec_id, cent_id) flows through the groupBy; the vectors
      // come back from the vec_id-partitioned cache via a
      // partition-aligned join (both sides hash(vec_id) — no exchange
      // on the corpus side, so no vectors cross the wire).
      val assigned = nearestCentroid(c, ct, "vec_id", "e", "nrm")
      val dims = c.join(assigned, Seq("vec_id"))
        .select(col("cent_id"), posexplode(col("e")))
        .groupBy(col("cent_id"), col("pos").as("dim"))
        // §6 quantizer on the centroid-mean quotient (Quantize
        // scaladoc): engine-identical at the half boundary
        .agg(graft.functions.Quantize.qdp(
          (sum(col("col").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1))), 6).as("value"))
      // ≤ k·dim rows — control-plane sized regardless of corpus size
      val byCent = dims.collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq }
      // a cluster that received no vectors this round (the classic
      // Lloyd empty-cluster degeneracy) carries its previous centroid
      cents = cents.map { case (cid, old) => (cid, byCent.getOrElse(cid, old)) }
    }
    cents.flatMap { case (cid, vs) =>
      vs.zipWithIndex.map { case (v, d) => (cid, d, v) } }
      .toDF("cent_id", "dim", "value")
  }

  /** Nearest trained centroid per corpus vector — the serving half of
    * [[lloyd]] (its per-round assignment step, for consumers that
    * cluster once and then slice by cluster): (vec_id, cent_id), the
    * [[VectorStages]] assignment the training rounds run. `centroids`
    * takes [[lloyd]]'s (cent_id, dim, value) output directly. Plan:
    * broadcast-centroid map-only product (corpus × O(k) constants)
    * plus one max_by partial aggregate — no corpus-sized join. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    nearestCentroid(kmeansSide(corpus), trainedCentroids(centroids),
      "vec_id", "e", "nrm")

  /** (vec_id as long, e, nrm): k-means' prep of a corpus. */
  private def kmeansSide(corpus: DataFrame): DataFrame =
    prep(corpus, col("vec_id").cast("long").as("vec_id"), "e", "nrm")
}

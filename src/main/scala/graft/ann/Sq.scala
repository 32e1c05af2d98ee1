package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

import VectorStages._

/** Scalar-quantized (SQ8-style) approximate nearest-neighbor search —
  * the simplest compressed-domain scale path, the standard alternative
  * to [[Pq]]'s product quantization (FAISS's `IndexScalarQuantizer`
  * lineage): each DIMENSION is affine-quantized independently into
  * `levels` uniform cells between the corpus's per-dim min/max, so a
  * dim=64 float vector becomes 64 single-byte codes with no codebook
  * training at all. Where PQ learns a joint codebook per subspace
  * (better fidelity per bit, needs training), SQ needs only per-dim
  * bounds — one aggregation — and decodes with two flops: the right
  * first rung on the compression ladder, and the variant that stays
  * exact-updatable under append (bounds only widen).
  *
  * Plan shape:
  *  1. bounds — ONE partial-aggregating pass: (dim, min, max) keyed by
  *     dim index (map-side combined; the shuffle carries partitions ×
  *     dim rows, not the corpus), collected to a ONE-ROW broadcast
  *     frame (the documented constant-side product class);
  *  2. encode — map-only: `code_i = clamp(floor((x_i - lo_i)/step_i))`
  *     per element, vectors reduced to code arrays at scan speed;
  *  3. approximate scoring — queries × code arrays; the scored
  *     representation is the codes (reconstructed on the fly as
  *     `lo + (code+0.5)·step` mid-rise values inside the dot), full
  *     vectors do NOT ship through this join — e1's |Q| × corpus
  *     product contract with a ~8x lighter payload (production packs
  *     the codes to a `binary` column for the full cut; the array
  *     form keeps the semantics oracle-checkable);
  *  4. shortlist — bounded-heap [[Knn.topKAgg]];
  *  5. exact cosine re-rank of the |Q| × shortlist survivors.
  *
  * Determinism: bounds are exact min/max; step, codes, reconstruction,
  * and dots are plain IEEE double arithmetic reproduced operation for
  * operation by the oracle; the approximate score and the final cosine
  * are rounded 6 dp before any rank, ties to the smaller id. Constant
  * dims (hi = lo, step 0) encode as code 0 and reconstruct to exactly
  * `lo`.
  */
object Sq {

  /** Approximate top-k by cosine via scalar-quantized scoring + exact
    * re-rank. Output schema/ordering match [[Knn.bruteForceTopK]]:
    * (query_id, rnk, neighbor_id, sim). */
  def sqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             levels: Int = 256, shortlist: Int = 100): DataFrame = {
    require(levels >= 2, "need at least 2 quantization levels")
    val c = graft.Caching.persisted(corpusSide(corpus))

    // 1. per-dim bounds -> one broadcast row of structs (d, lo, hi),
    // sorted by dim index so element_at(b, i+1) is dim i
    val bounds = broadcast(
      c.select(posexplode(col("ce")).as(Seq("d", "x")))
        .groupBy("d").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        .agg(array_sort(collect_list(struct(col("d"), col("lo"), col("hi"))))
          .as("b")))

    def lo(i: Column): Column = element_at(col("b"), i + 1)("lo")
    def step(i: Column): Column =
      (element_at(col("b"), i + 1)("hi") - lo(i)) / levels

    // 2. encode: map-only element-wise affine quantization
    val codes = c.crossJoin(bounds).select(
      col("neighbor_id"),
      transform(col("ce"), (x, i) =>
        when(step(i) === 0d, lit(0L)).otherwise(
          least(floor((x - lo(i)) / step(i)), lit(levels - 1L)))
          .cast("int")).as("codes"))

    val q = querySide(queries)

    // 3. reconstruct-and-dot against the codes only
    val recon = q.join(codes).crossJoin(bounds)
      .withColumn("xhat", transform(col("codes"), (code, i) =>
        lo(i) + (code.cast("double") + 0.5d) * step(i)))
      .withColumn("sq", graft.functions.Quantize.qdp(
        Vectors.dot(col("qe"), col("xhat")), 6))

    // 4. bounded-heap shortlist, 5. exact re-rank
    rerank(shortlisted(recon, "sq", shortlist), q, c, k)
  }
}

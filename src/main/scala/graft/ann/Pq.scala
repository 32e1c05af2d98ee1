package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caching

import VectorStages._

/** IVF-PQ approximate nearest-neighbor search — the memory-resident
  * 100 TB scale path (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  * [[Knn.ivfTopK]] prunes WHICH vectors a query scores (nProbe coarse
  * buckets instead of the whole corpus) but still ships full
  * `dim`-double vectors into the scoring join. At 100 TB that fetch is
  * the bottleneck: the probed slice of a billion-vector corpus is
  * still millions of 512-byte rows per query batch. IVF-PQ compresses
  * the scored representation itself: each corpus vector is encoded
  * once (map-only) as `m` small codebook ids — `m` bytes instead of
  * `dim * 8` — and query-time scoring is `m` table lookups against a
  * per-query lookup table of `m * nCodes` precomputed dot products
  * (asymmetric distance computation). Full vectors are touched only to
  * re-rank a per-query `shortlist`, so the big join ships codes, never
  * embeddings: at dim=64/m=4 that is a ~128x cut in scored bytes.
  *
  * Plan shape (the ONLY corpus-wide stages are map-only or
  * partial-aggregating):
  *  1. coarse assignment — corpus x broadcast-constant centroids, the
  *     standard IVF pass ([[Knn.ivfTopK]]'s documented exemption);
  *  2. encoding — corpus x broadcast codebook (each codebook row
  *     slices its own subvector), argmin as a partial-aggregating
  *     `min_by`;
  *  3. candidate generation — equi-join probes x assignment on
  *     cent_id;
  *  4. ADC scoring — candidates x broadcast per-query lookup table,
  *     summed per pair with partial aggregation;
  *  5. shortlist — bounded-heap [[graft.functions.TopKPairs]] (at most
  *     `shortlist` rows per (query, map partition) cross the wire);
  *  6. exact re-rank — fetch-join the |Q| x shortlist survivors'
  *     vectors, cosine, top-k.
  *
  * Every stage is [[VectorStages]]' single definition, the one
  * [[AnnIndex]] persists, so a probe of a written index returns exactly
  * this operator's output.
  *
  * Determinism (so a DuckDB oracle reproduces bit-identical output):
  * centroids and codebooks are deterministic uniform corpus samples
  * (first n ids under md5-hash order — swap in [[KMeans.lloyd]] per
  * subspace for production quality; the plumbing is identical), every
  * distance is rounded to 6 dp before any argmin/rank, ties break on
  * the smaller id, and the ADC sum adds 6-dp-rounded lookups as
  * DECIMAL(28,12) so the sum is exact and order-independent.
  *
  * Accuracy posture (measured, sf0.001 embeddings — near-uniform
  * synthetic vectors, the hard case for coarse quantization): at the
  * defaults the ADC shortlist recovers ~98% of what exact scoring of
  * the same nProbe buckets returns, i.e. PQ compression costs almost
  * nothing on top of the IVF pruning itself; overall recall@5 vs brute
  * force equals [[Knn.ivfTopK]]'s at the same nProbe. Raise `nProbe`
  * (coarse coverage) or `shortlist`/`nCodes` (ADC fidelity) to trade
  * cost for recall.
  */
object Pq {

  /** Approximate top-k by cosine via IVF coarse pruning + PQ/ADC
    * scoring + exact re-rank. Output schema and ordering match
    * [[Knn.bruteForceTopK]]: (query_id, rank, neighbor_id, sim), sim
    * rounded to 6 dp, rank by (sim desc, neighbor_id asc).
    *
    * @param m         number of PQ subspaces; must divide `dim`
    * @param nCodes    codewords per subspace (production: 256 = 1 byte)
    * @param shortlist ADC survivors re-ranked exactly, per query
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 4, nCodes: Int = 16,
                shortlist: Int = 100, dim: Int = 64): DataFrame = {
    // the prepped corpus feeds four stages (codebook sample, encoding,
    // assignment, re-rank fetch) — cached once; the caller owns its
    // lifetime (see graft.Caching)
    val c = Caching.persisted(corpusSide(corpus))
    // coarse quantizer: deterministic sample, broadcast constant
    ivfPqCore(queries, c, broadcast(sampledCentroids(c, nCentroids)), k,
      nProbe, m, nCodes, shortlist, dim)
  }

  /** IVF-PQ with an externally trained coarse quantizer — the full
    * production composition: [[KMeans.lloyd]] trains the centroids,
    * PQ compresses the scored representation. `centroids` takes
    * lloyd's (cent_id, dim, value) scalar rows directly, reassembled
    * and broadcast exactly like [[Knn.ivfTopK]]'s trained overload. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                centroids: DataFrame, nProbe: Int,
                m: Int, nCodes: Int, shortlist: Int,
                dim: Int): DataFrame =
    ivfPqCore(queries, Caching.persisted(corpusSide(corpus)),
      trainedCentroids(centroids), k, nProbe, m, nCodes, shortlist, dim)

  private def ivfPqCore(queries: DataFrame, c: DataFrame, cents: DataFrame,
                        k: Int, nProbe: Int, m: Int, nCodes: Int,
                        shortlist: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val cb = broadcast(sampleCodebook(c, nCodes, m, dim / m))
    val q = querySide(queries)
    // candidates: the probed cells' vectors; ADC scores them from their
    // codes alone, then the shortlist survivors are re-ranked exactly
    val cand = probeCells(q, cents, nProbe)
      .join(nearestCentroid(c, cents), "cent_id")
      .select("query_id", "neighbor_id")
    val adc = adcScore(cand, pqEncode(c, cb), adcTable(q, cb))
    rerank(shortlisted(adc, "adc", shortlist), q, c, k)
  }
}

package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

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
  *  2. encoding — corpus subvectors x broadcast codebook (equi-join on
  *     the subspace index), argmin as a partial-aggregating `min_by`;
  *  3. candidate generation — equi-join probes x assignment on
  *     cent_id;
  *  4. ADC scoring — candidates x broadcast per-query lookup table,
  *     summed per pair with partial aggregation;
  *  5. shortlist — bounded-heap [[graft.functions.TopKPairs]] (at most
  *     `shortlist` rows per (query, map partition) cross the wire);
  *  6. exact re-rank — fetch-join the |Q| x shortlist survivors'
  *     vectors, cosine, top-k.
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

  /** Per-subspace views of `vec`: array of struct(j, sv) where `sv` is
    * the j-th `sub`-length slice. Map-only. */
  private def subspaces(vec: Column, m: Int, sub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      j => struct(j.as("j"), slice(vec, j * sub + 1, lit(sub)).as("sv")))

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
    val c = graft.Caching.persisted(prep(corpus))
    // coarse quantizer: deterministic sample, broadcast constant
    val cents = broadcast(c.orderBy(sampleOrd: _*).limit(nCentroids)
      .select(col("neighbor_id").as("cent_id"), col("ce").as("cent"),
        col("cn").as("centn")))
    ivfPqCore(queries, c, cents, k, nProbe, m, nCodes, shortlist, dim)
  }

  /** IVF-PQ with an externally trained coarse quantizer — the full
    * production composition: [[KMeans.lloyd]] trains the centroids,
    * PQ compresses the scored representation. `centroids` takes
    * lloyd's (cent_id, dim, value) scalar rows directly, reassembled
    * and broadcast exactly like [[Knn.ivfTopK]]'s trained overload. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                centroids: DataFrame, nProbe: Int,
                m: Int, nCodes: Int, shortlist: Int,
                dim: Int): DataFrame = {
    val cents = broadcast(centroids
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("value")))).as("dv"))
      .select(col("cent_id"), transform(col("dv"), x => x("value")).as("cent"))
      .withColumn("centn", Vectors.norm(col("cent"))))
    ivfPqCore(queries, graft.Caching.persisted(prep(corpus)),
      cents, k, nProbe, m, nCodes, shortlist, dim)
  }

  private[ann] def prep(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("neighbor_id"),
      Vectors.asDouble(col("embedding")).as("ce"))
      .withColumn("cn", Vectors.norm(col("ce")))

  // deterministic UNIFORM sample order: md5-hash of the id, ties on
  // the id. Ids often correlate with content clusters (append-only
  // corpora), so the "n smallest ids" sample can degenerate to one
  // cluster; hash order is a reproducible random permutation, giving
  // centroids/codewords cluster-proportional spread
  private[ann] def sampleOrd: Seq[Column] = Seq(
    graft.functions.Hashing.h32(col("neighbor_id").cast("string")),
    col("neighbor_id"))

  private def ivfPqCore(queries: DataFrame, c: DataFrame, cents: DataFrame,
                        k: Int, nProbe: Int, m: Int, nCodes: Int,
                        shortlist: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m

    // per-subspace codebook from a deterministic corpus sample:
    // (j, code_id, cw, cc=|cw|^2); m * nCodes rows, broadcast
    val cb = broadcast(c.orderBy(sampleOrd: _*).limit(nCodes)
      .select(col("neighbor_id").as("code_id"),
        explode(subspaces(col("ce"), m, sub)).as("s"))
      .select(col("code_id"), col("s.j").as("j"), col("s.sv").as("cw"))
      .withColumn("cc", Vectors.dot(col("cw"), col("cw"))))

    // encode: nearest codeword per (vector, subspace) by squared L2
    // (|x|^2 - 2<x,cw> + |cw|^2), rounded 6 dp, ties to the smaller
    // code_id; min_by partial-aggregates map-side
    val codes = c.select(col("neighbor_id"),
        explode(subspaces(col("ce"), m, sub)).as("s"))
      .select(col("neighbor_id"), col("s.j").as("j"), col("s.sv").as("xs"))
      .join(cb, "j")
      // §6 quantizer (Quantize scaladoc): d2 feeds the code argmin,
      // so the 6-dp cut must be engine-identical at the half boundary
      .withColumn("d2", graft.functions.Quantize.qdp(
        Vectors.dot(col("xs"), col("xs"))
          - lit(2) * Vectors.dot(col("xs"), col("cw")) + col("cc"), 6))
      .groupBy("neighbor_id", "j")
      .agg(min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code"))

    def centSim(e: Column, n: Column): Column =
      Vectors.qcos(e, col("cent"), n * col("centn"))

    // coarse assignment: argmax centroid per corpus vector (csim desc,
    // cent_id asc) — same shape as Knn.ivfTopK
    val assigned = c.join(cents)
      .withColumn("csim", centSim(col("ce"), col("cn")))
      .groupBy("neighbor_id")
      .agg(max_by(col("cent_id"),
        struct(col("csim"), (-col("cent_id")).as("nid"))).as("cent_id"))

    val q = queries.select(col("vec_id").as("query_id"),
      Vectors.asDouble(col("embedding")).as("qe"))
      .withColumn("qn", Vectors.norm(col("qe")))

    // nProbe nearest centroids per query
    val probes = q.join(cents)
      .withColumn("csim", centSim(col("qe"), col("qn")))
      .groupBy("query_id")
      .agg(Knn.topKAgg(col("csim"), col("cent_id"), nProbe).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("cent_id"))

    // ADC lookup table: <q_j, cw> for every (query, subspace, code) —
    // |Q| * m * nCodes rows, broadcast
    val qtab = broadcast(q.select(col("query_id"),
        explode(subspaces(col("qe"), m, sub)).as("s"))
      .select(col("query_id"), col("s.j").as("j"), col("s.sv").as("qs"))
      .join(cb, "j")
      .select(col("query_id"), col("j"), col("code_id").as("code"),
        graft.functions.Quantize.qdp(
          Vectors.dot(col("qs"), col("cw")), 6).as("qdot")))

    // score candidates from codes alone: sum of m exact-decimal lookups
    // approximates <q, x>; vectors do NOT ship through this join
    val adc = probes
      .join(assigned, "cent_id")
      .select("query_id", "neighbor_id")
      .join(codes, "neighbor_id")
      .join(qtab, Seq("query_id", "j", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("qdot").cast("decimal(28,12)")), 6).cast("double")
        .as("adc"))

    // bounded-heap shortlist, then exact cosine re-rank of survivors
    val short = adc.groupBy("query_id")
      .agg(Knn.topKAgg(col("adc"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val scored = short
      .join(q.select("query_id", "qe", "qn"), "query_id")
      .join(c.select("neighbor_id", "ce", "cn"), "neighbor_id")
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    Knn.rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }
}

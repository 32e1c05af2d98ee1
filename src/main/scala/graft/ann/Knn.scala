package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.Caching
import graft.functions.{TopKPairs, Vectors}

import VectorStages._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[bruteForceTopK]] is the exact baseline: broadcast the (small)
  *   query set, one pass over the candidate corpus, per-query top-k.
  *   At 100 TB the corpus side stays partition-parallel; the only
  *   wide op is the final per-query top-k (tiny: queries x k rows).
  * - [[lshTopK]] is the scale path: random-hyperplane LSH buckets both
  *   sides so each query only scores its bucket — candidate cost drops
  *   from |corpus| to |bucket|, at recall < 1.
  * - [[embeddingNearDupPairs]] is cosine near-dup detection (the
  *   embedding leg of the dedup family).
  */
object Knn {

  /** Bounded top-k aggregate of struct(sim, id) per group — see
    * [[graft.functions.TopKPairs]]. Unlike row_number().over(window),
    * this partial-aggregates: each map partition ships at most k
    * candidates per group into the shuffle instead of every row. */
  private[ann] def topKAgg(sim: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKPairs(
      ColumnBridge.expression(struct(sim, id.cast("long"))), k)
      .toAggregateExpression())

  /** Rank the per-query top-k of scored (query_id, neighbor_id, sim)
    * rows: sim desc, neighbor_id asc — identical output to the window
    * row_number form (unique ids make the order total). */
  private[ann] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(topKAgg(col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.sim").as("sim"))

  /** Exact top-k by cosine: returns (query_id, rank, neighbor_id, sim)
    * with sim rounded to 6 dp and rank ordered by (sim desc, id) so the
    * result is engine-reproducible. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // Norms computed once per row before the join; per-pair work is a
    // single codegen'd dot product. Same float ops as cosine() — the
    // divisor is the identical sqrt(dot) values — so results match.
    val q = broadcast(querySide(queries))
    val c = corpusSide(corpus)
    val scored = q.join(c)
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** Exact top-k by cosine RESTRICTED to corpus rows sharing the
    * query's metadata (`filterKeys` equality) — filtered vector
    * search, the production-retrieval shape every vector store grew
    * ("nearest products in MY category", "nearest docs with MY
    * license"): the filter is applied DURING candidate generation,
    * not post-hoc on a top-k that may then underfill.
    *
    * Scale shape: the filter keys ARE the blocking key — the join is
    * an equi-join on them (queries broadcast, corpus-side work
    * proportional to the matching slices, never |Q|×|C| unless every
    * row shares one key value; a hot filter value degrades to the
    * brute scan of that slice, which is what correctness requires).
    * Same float ops and rounding as [[bruteForceTopK]], so results
    * are engine-reproducible. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame,
                   filterKeys: Seq[String], k: Int): DataFrame = {
    require(filterKeys.nonEmpty, "filteredTopK needs at least one filter key")
    val q = broadcast(querySide(queries, filterKeys.map(col)))
    val c = corpusSide(corpus, filterKeys.map(col))
    val scored = q.join(c, filterKeys)
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the EMBEDDING-space diversity leg next to
    * [[graft.text.Search.diversifyTopK]]'s metadata group collapse:
    * where e13 can only diversify on a label it can see (source/host),
    * MMR removes redundancy the embedding itself reveals (five
    * rephrasings of one answer collapse to one slot). Greedy: seed
    * with the most-relevant candidate, then k-1 rounds of
    * argmax( λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) ), ties on
    * the smaller neighbor id.
    *
    * Scale shape: retrieval is [[bruteForceTopK]] (swap in any rung of
    * the ANN ladder — MMR only needs (id, sim, embedding) per
    * candidate); everything AFTER retrieval operates on the
    * |Q|×poolSize candidate frame — per-round work is candidate×
    * selected (≤ poolSize·k rows per query), the argmax is a
    * partitioned rn=1 window riding the bounded-heap rewrite, and the
    * candidate frame is cached once for all rounds. The greedy loop
    * unrolls at PLAN level (k is a small constant); nothing
    * corpus-sized recomputes per round. Pool membership orders on the
    * 6-dp-rounded sims (bruteForceTopK's e1-gated contract); the MMR
    * arithmetic itself runs in exact scaled-INTEGER units of those
    * sims (λ constrained to tenths), so scores and selection replay
    * bit-for-bit on any engine — see the in-body note.
    *
    * Output: (query_id, mmr_rank 1..k, neighbor_id, mmr_score) —
    * rank 1's score is its relevance; later ranks score their
    * selection-round MMR value. Queries with fewer than k candidates
    * underfill, never pad. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int = 3,
              poolSize: Int = 10, lambda: Double = 0.7): DataFrame = {
    require(poolSize >= k, s"invalid k=$k poolSize=$poolSize")
    mmrRerank(bruteForceTopK(queries, corpus, poolSize), corpus, k,
      lambda)
  }

  /** The retrieval-agnostic core of [[mmrTopK]]: MMR re-rank of a
    * PRE-RETRIEVED candidate pool. `pool` is any (query_id, rank,
    * neighbor_id, sim) frame — e1's brute product, e2's LSH leg, or
    * the e6b persisted-index probe ([[AnnIndex.topK]]) for the 100 TB
    * posture where nothing corpus-sized is scanned per probe batch;
    * `vectors` supplies (vec_id, embedding) for the |pool|-sized
    * candidate-embedding fetch (one broadcast-pool equi-join — the
    * e17 fetch shape, never a corpus-wide shuffle). Pool sims must be
    * 6-dp-rounded exact cosines (every retrieval rung's contract).
    *
    * Local-bench crossover note: at toy corpus sizes (≲ sf1) the
    * indexed pool (e14b) benches SLOWER than the brute pool (e14) —
    * index-probe overhead dominates while the brute product is still
    * cheap. That inverts with corpus growth: SCALING.md shows probe
    * latency flat in corpus size while brute grows linearly, so the
    * indexed leg is the production path — do not "optimize" back to
    * brute off the local number. */
  def mmrRerank(pool: DataFrame, vectors: DataFrame, k: Int = 3,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"invalid k=$k")
    val lam10 = math.round(lambda * 10).toInt
    require(lam10 >= 0 && lam10 <= 10 && lam10 / 10.0 == lambda,
      s"lambda must be a multiple of 0.1 in [0,1], got $lambda")
    import org.apache.spark.sql.expressions.Window
    // Determinism: every similarity enters the MMR math as an exact
    // INTEGER in 1e-6 units of its 6-dp-rounded value (the ×1e6
    // product of a 6-dp double sits within 1e-9 of an integer, so the
    // to-integer round has no half-way cases on any engine), and
    // λ=lam10/10 makes mmr_u = lam10·rel_u − (10−lam10)·maxsim_u an
    // exact long in 1e-7 units — cross-engine float drift cannot
    // reorder the selection. A double λ-combination of 6-dp inputs,
    // by contrast, lands ON decimal grid boundaries where the two
    // engines' round() disagree by an ulp.
    val cand = Caching.persisted(
      broadcast(pool)
        .join(vectors.select(col("vec_id").as("neighbor_id"),
          Vectors.asDouble(col("embedding")).as("ce")), "neighbor_id")
        .withColumn("cn", Vectors.norm(col("ce")))
        .withColumn("rel_u", round(col("sim") * 1e6, 0).cast("long"))
        .select("query_id", "rank", "neighbor_id", "sim", "rel_u", "ce", "cn"))
    var all = cand.filter(col("rank") === 1)
      .select(col("query_id"), lit(1).as("mmr_rank"), col("neighbor_id"),
        col("sim").as("mmr_score"), col("ce"), col("cn"))
    for (r <- 2 to k) {
      val rem = cand.join(all.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val scored = rem.join(all.select(col("query_id"),
          col("ce").as("se"), col("cn").as("sn")), Seq("query_id"))
        .withColumn("psim_u", round(Vectors.qcos(col("ce"), col("se"), col("cn") * col("sn"))
          * 1e6, 0).cast("long"))
        .groupBy("query_id", "neighbor_id")
        .agg(max(col("rel_u")).as("rel_u"), max(col("psim_u")).as("maxsim_u"))
        .withColumn("mmr_u", lit(lam10.toLong) * col("rel_u") -
          lit((10 - lam10).toLong) * col("maxsim_u"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("mmr_u").desc, col("neighbor_id"))
      val sel = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(cand.select("query_id", "neighbor_id", "ce", "cn"),
          Seq("query_id", "neighbor_id"))
        .select(col("query_id"), lit(r).as("mmr_rank"), col("neighbor_id"),
          (col("mmr_u").cast("double") / 1e7).as("mmr_score"),
          col("ce"), col("cn"))
      all = all.unionByName(sel)
    }
    all.select("query_id", "mmr_rank", "neighbor_id", "mmr_score")
  }

  /** Sign-bucket of a vector under `planes` hyperplanes: a bit string
    * like "0110...". Map-only; the codegen'd
    * [[graft.functions.LshSignBucket]] kernel (spec-checked
    * bit-identical to the HOF `aggregate(zip_with(...))` form). */
  def lshBucket(vec: Column, planes: Int): Column =
    ColumnBridge.column(graft.functions.LshSignBucket(
      ColumnBridge.expression(vec), planes))

  /** Approximate top-k via multi-table sign LSH — the same
    * OR-construction as [[embeddingNearDupPairs]]: one
    * `planes * tables`-bit signature per vector (a single
    * [[lshBucket]] pass), sliced into `tables` independent
    * `planes`-bit buckets; a corpus vector is a candidate for a query
    * if they collide in ANY table. Per-pair recall is
    * 1-(1-p^planes)^tables with p = 1 - angle/pi (at the 4x4 default:
    * ~0.96 for sim 0.9, ~0.59 for sim 0.5), against the single-table
    * p^planes. Plan: explode -> hash shuffle on (table, bucket) ->
    * equi-join -> distinct candidate pairs -> fetch-join the vectors
    * -> exact-cosine top-k; candidate cost is bounded by bucket
    * occupancy, never |Q|x|C|. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 4, tables: Int = 4): DataFrame = {
    val (q, c) = lshSides(queries, corpus, planes, tables)
    rerank(lshCandidates(q, c, planes, tables), q, c, k)
  }

  /** The signed query and corpus sides of [[lshTopK]] and
    * [[lshRangeSearch]]. */
  private def lshSides(queries: DataFrame, corpus: DataFrame, planes: Int,
                       tables: Int): (DataFrame, DataFrame) =
    (lshSigned(querySide(queries), "qe", planes, tables),
      lshSigned(corpusSide(corpus), "ce", planes, tables))

  /** Distinct (query_id, neighbor_id) pairs colliding in any table:
    * explode -> hash shuffle on (table, bucket) -> equi-join. */
  private def lshCandidates(q: DataFrame, c: DataFrame, planes: Int,
                            tables: Int): DataFrame =
    banded(q, "query_id", planes, tables)
      .join(banded(c, "neighbor_id", planes, tables), Seq("t", "bucket"))
      .select("query_id", "neighbor_id").distinct()

  /** Radius (range) search: every corpus neighbor with cosine >=
    * minSim per query — the "find all sufficiently-similar documents"
    * shape (retrieval dedup gates, near-duplicate audits), where top-k
    * is the wrong contract because the answer size is data-dependent.
    * Candidate generation is [[lshTopK]]'s multi-table OR-construction
    * verbatim; the verify stage filters on the rounded exact cosine
    * instead of ranking. Output: (query_id, neighbor_id, sim), one row
    * per qualifying pair; recall follows the LSH table math (a pair
    * missed by every table is absent, exactly as in [[lshTopK]]).
    * Plan shape: explode → hash shuffle on (table, bucket) → equi-join
    * → distinct → fetch-join → filter; no per-query corpus scan. */
  def lshRangeSearch(queries: DataFrame, corpus: DataFrame, minSim: Double,
                     planes: Int = 4, tables: Int = 4): DataFrame = {
    val (q, c) = lshSides(queries, corpus, planes, tables)
    exactSim(lshCandidates(q, c, planes, tables), q, c)
      .filter(col("sim") >= minSim)
  }

  /** Approximate kNN GRAPH — per-vector top-k over the corpus ITSELF
    * (self excluded): the neighborhood structure that graph-based
    * curation consumes (kNN-graph clustering, graph-connectivity dedup
    * audits, label propagation over near-neighbors; the k-NN-graph
    * stage of NN-Descent-style pipelines — Dong et al. 2011 — built
    * here in one LSH pass instead of iterative refinement). Candidate
    * generation is [[lshTopK]]'s multi-table OR-construction with ONE
    * signature pass over the single input (the corpus is both sides),
    * then self-pairs are filtered before the distinct: explode → hash
    * shuffle on (table, bucket) → self equi-join → exact-cosine
    * bounded-heap top-k. Per-pair recall follows the same table math;
    * cost is bounded by bucket OCCUPANCY (≈ |V| / 2^planes per
    * table), never |V|² — which makes `planes` the scale knob: a
    * corpus of tight duplicate clusters can put whole clusters in
    * shared buckets and push within-cluster candidates quadratic
    * (SCALING.md measured exactly this at a FIXED planes=4 on a
    * 16-cluster corpus — 48× cost for 20× corpus — and planes=8
    * restoring a near-linear curve at 5th-decimal-identical rank-1
    * quality).
    *
    * `planes` therefore AUTO-SIZES by default ([[derivePlanes]]:
    * `max(4, ceil(log2(|V| / targetOccupancy)))` from one cheap
    * metadata count — the same move [[knnGraphIvf]] makes with
    * C ∝ √|V|), so bucket occupancy stays ≈ `targetOccupancy` as the
    * corpus grows instead of growing linearly into the quadratic
    * cliff. Pass `Some(p)` to pin the plan (reproducibility across
    * corpora of different sizes; an external oracle replaying a fixed
    * bucketing). For densities that defeat any hyperplane count, the
    * IVF-cell form (k-means assign, rank within cells —
    * [[ivfTopK]]'s posture) bounds work per cell.
    * Output: (query_id, rank, neighbor_id, sim) — one bounded-k
    * adjacency list per vector that made it into any candidate
    * pair. */
  def knnGraph(vectors: DataFrame, k: Int,
               planes: Option[Int] = None, tables: Int = 4,
               targetOccupancy: Int = DefaultGraphOccupancy): DataFrame = {
    val p = planes.getOrElse(
      derivePlanes(vectors.count(), targetOccupancy))
    knnGraphAt(vectors, k, p, tables)
  }

  /** Default per-(table, bucket) occupancy target for [[knnGraph]]'s
    * plane auto-sizing: small enough that the within-bucket self-join
    * (occupancy² candidate rows per bucket) stays trivial, large
    * enough that true neighbors keep colliding. */
  val DefaultGraphOccupancy: Int = 32

  /** `max(4, ceil(log2(n / targetOccupancy)))` in PURE INTEGER
    * arithmetic (ceil-div + bit length — no floating log whose ulp
    * could disagree with an external engine's near an integer
    * boundary): the plane count that holds expected bucket occupancy
    * `n / 2^planes` at or below the target. */
  def derivePlanes(n: Long, targetOccupancy: Int = DefaultGraphOccupancy): Int = {
    require(targetOccupancy > 0,
      s"targetOccupancy must be positive, got $targetOccupancy")
    val m = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    // ceil(log2(m)) = bit length of (m - 1) for m >= 2; 0 for m = 1
    val bits =
      if (m <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(4, bits)
  }

  /** [[knnGraph]] at an EXPLICIT plane count — the pinned form the
    * auto-sizing default delegates to. */
  def knnGraphAt(vectors: DataFrame, k: Int,
                 planes: Int, tables: Int = 4): DataFrame = {
    val v = graphSigned(vectors, planes, tables)
    knnGraphCore(v, banded(v, "query_id", planes, tables), k)
  }

  /** The graph ops' shared signature pass: (query_id, qe, qn, sig). */
  private def graphSigned(vectors: DataFrame, planes: Int,
                          tables: Int): DataFrame =
    lshSigned(querySide(vectors), "qe", planes, tables)

  /** Candidate self-join + exact-cosine bounded-heap rank over
    * prepared graph frames — the tail both [[knnGraphAt]] and the
    * guarded form share (so the guarded happy path is byte-identical
    * to the unguarded operator by construction). */
  private def knnGraphCore(v: DataFrame, banded: DataFrame,
                           k: Int): DataFrame = {
    val cand = banded
      .join(banded.select(col("query_id").as("neighbor_id"),
        col("t"), col("bucket")), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    rerank(cand, v, v.select(col("query_id").as("neighbor_id"),
      col("qe").as("ce"), col("qn").as("cn")), k)
  }

  /** The guard threshold [[knnGraphGuarded]] defaults to: 8× the
    * occupancy target. derivePlanes holds the EXPECTED occupancy at
    * ~targetOccupancy, so a bucket 8× over it is not hash variance —
    * it is duplicate/near-duplicate mass that no hyperplane count can
    * split (identical vectors produce identical signatures at every
    * plane count), i.e. exactly the corpus shape whose within-bucket
    * self-join goes quadratic (SCALING.md r13/r14: a 16-cluster
    * duplicate-heavy corpus bent the curve at ANY fixed planes). */
  val DefaultMaxGraphOccupancy: Long = 8L * DefaultGraphOccupancy

  /** Per-(table, bucket) occupancy stats of the graph's banded
    * signature frame — the measured number that decides whether
    * [[knnGraph]]'s LSH plan is safe on THIS corpus (the
    * [[graft.dedup.Banding.chooseOperating]] move — measure, then
    * decide — applied to the graph). One partial-aggregating pass over
    * the same banded frame the candidate join would shuffle anyway;
    * never corpus-quadratic. One row: (planes, tables, n_vectors,
    * n_buckets, max_occupancy, candidate_rows, over_budget) where
    * candidate_rows = Σ occ·(occ−1) is the exact within-bucket
    * self-join bill the candidate stage would pay (ordered, before the
    * distinct) and over_budget flags max_occupancy > maxOccupancy. */
  def graphOccupancyReport(vectors: DataFrame,
                           planes: Option[Int] = None, tables: Int = 4,
                           targetOccupancy: Int = DefaultGraphOccupancy,
                           maxOccupancy: Long = DefaultMaxGraphOccupancy): DataFrame = {
    val n = vectors.count()
    val p = planes.getOrElse(derivePlanes(n, targetOccupancy))
    occupancy(banded(graphSigned(vectors, p, tables), "query_id", p, tables))
      .select(lit(p).as("planes"), lit(tables).as("tables"),
        lit(n).as("n_vectors"), col("n_buckets"), col("max_occupancy"),
        col("candidate_rows"),
        (col("max_occupancy") > lit(maxOccupancy)).as("over_budget"))
  }

  /** Centroid count for the routed IVF-cell graph: C ≈ √n (cells of
    * ~√n vectors each — |cell|² work per cell totals ~n^1.5 worst
    * case, vs the unbounded within-bucket quadratic), floored at the
    * [[knnGraphIvf]] default 16. Plan-sizing only — never replayed by
    * an oracle (unlike [[derivePlanes]]), so the floating sqrt is
    * fine here. */
  def deriveGraphCentroids(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt

  /** The one occupancy measurement of a banded signature frame: a
    * single partial-aggregated pass whose one row holds (n_buckets,
    * max_occupancy, candidate_rows = Σ occ·(occ−1)).
    * [[graphOccupancyReport]] and the guard ([[measureGuard]]) both
    * read it. */
  private def occupancy(banded: DataFrame): DataFrame =
    banded.groupBy("t", "bucket").agg(count(lit(1)).as("occ"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_buckets"),
        coalesce(max("occ"), lit(0L)).as("max_occupancy"),
        coalesce(sum(col("occ") * (col("occ") - 1)), lit(0L))
          .as("candidate_rows"))

  /** The guard's measurement stage — sign + persist + band + the one
    * [[occupancy]] pass — shared by [[knnGraphGuarded]] and
    * [[knnGraphLedgered]], so both decide from one measurement. `release()`
    * drops the persisted signature frame on branches that will never
    * read it (the IVF route and fail-fast): the Caching no-unpersist
    * rationale — "the consumer hasn't run yet" — doesn't apply when
    * the consumer provably never runs, and a long-lived nightly
    * session must not pin a corpus-sized frame per routed call. */
  private final case class GuardMeasure(n: Long, planes: Int,
      v: DataFrame, banded: DataFrame, nBuckets: Long, maxOcc: Long,
      bill: Long) {
    def release(): Unit = { v.unpersist(); () }
  }
  private def measureGuard(vectors: DataFrame, planes: Option[Int],
                           tables: Int, targetOccupancy: Int): GuardMeasure = {
    val n = vectors.count()
    val p = planes.getOrElse(derivePlanes(n, targetOccupancy))
    val v = Caching.persisted(graphSigned(vectors, p, tables))
    val b = banded(v, "query_id", p, tables)
    // control-plane: one row out of a partial-aggregated count
    val r = occupancy(b).head()
    GuardMeasure(n, p, v, b, r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** [[knnGraph]] with the OCCUPANCY GUARD closed over it — the
    * measured check [[derivePlanes]] cannot make: auto-sizing holds
    * EXPECTED bucket occupancy at the target, but duplicate mass is
    * invisible to a COUNT (identical vectors share every signature at
    * any plane count), and SCALING.md measured exactly that corpus
    * shape walking the within-bucket quadratic regardless of planes.
    * After the signature pass (persisted, reused by the
    * happy path — no re-signing), ONE partial-aggregating count
    * measures max bucket occupancy:
    *
    *  - at or under `maxOccupancy` → proceed; the result is
    *    byte-identical to [[knnGraph]] (same core over the same
    *    frames — spec-asserted).
    *  - over, `routeToIvf = true` (default) → route to
    *    [[knnGraphIvf]] at C = [[deriveGraphCentroids]](n): the
    *    bounded build whose cell partition exists regardless of how
    *    vectors cluster. Different (documented) recall contract —
    *    nProbe=1 cell semantics — which is the point: no silent
    *    quadratic, a bounded approximate answer instead.
    *  - over, `routeToIvf = false` → fail FAST with the measured
    *    occupancy in the message (for callers who must not change
    *    recall semantics implicitly — the
    *    [[graft.dedup.TextDedup.rebandToBudget]] refuse-don't-ship
    *    stance).
    *
    * CACHING (ADVICE r15): on the under-budget path the persisted
    * signature frame stays pinned — the returned graph is LAZY over
    * it, so the operator cannot unpersist what the caller hasn't run
    * yet (the routed / fail-fast branches DO release it, because
    * there the consumer provably never runs). This is
    * [[graft.dedup.TextDedup]]'s documented caching contract: frames
    * are evicted LRU under pressure, and a long-lived nightly session
    * issuing many guarded builds owns their lifetime: it should
    * `spark.catalog.clearCache()` between runs once each returned
    * graph is materialized ([[graft.Caching]]). */
  def knnGraphGuarded(vectors: DataFrame, k: Int,
                      planes: Option[Int] = None, tables: Int = 4,
                      targetOccupancy: Int = DefaultGraphOccupancy,
                      maxOccupancy: Long = DefaultMaxGraphOccupancy,
                      routeToIvf: Boolean = true,
                      nCentroids: Option[Int] = None): DataFrame =
    knnGraphGuardedWithReport(vectors, k, planes, tables,
      targetOccupancy, maxOccupancy, routeToIvf, nCentroids)._1

  /** [[knnGraphGuarded]] exposing the decision surface it measured:
    * returns (guarded graph, one-row report) where the report is
    * [[graphOccupancyReport]]'s exact schema built from the SAME
    * single measurement pass the route decision read — a caller that
    * wants both (e16c's shape: ship the routed graph AND publish why
    * it routed) pays ONE signature + occupancy pass instead of two. */
  def knnGraphGuardedWithReport(vectors: DataFrame, k: Int,
                      planes: Option[Int] = None, tables: Int = 4,
                      targetOccupancy: Int = DefaultGraphOccupancy,
                      maxOccupancy: Long = DefaultMaxGraphOccupancy,
                      routeToIvf: Boolean = true,
                      nCentroids: Option[Int] = None): (DataFrame, DataFrame) = {
    val m = measureGuard(vectors, planes, tables, targetOccupancy)
    val report = vectors.sparkSession.range(1).select(
      lit(m.planes).as("planes"), lit(tables).as("tables"),
      lit(m.n).as("n_vectors"), lit(m.nBuckets).as("n_buckets"),
      lit(m.maxOcc).as("max_occupancy"), lit(m.bill).as("candidate_rows"),
      lit(m.maxOcc > maxOccupancy).as("over_budget"))
    if (m.maxOcc <= maxOccupancy) (knnGraphCore(m.v, m.banded, k), report)
    else if (routeToIvf) {
      m.release()
      (knnGraphIvf(vectors, k,
        nCentroids.getOrElse(deriveGraphCentroids(m.n))), report)
    } else {
      m.release()
      throw new IllegalStateException(
        s"knnGraph occupancy guard: max bucket occupancy ${m.maxOcc} " +
          s"exceeds $maxOccupancy at planes=${m.planes}, tables=$tables " +
          s"over ${m.n} vectors — duplicate-heavy corpus; the " +
          s"within-bucket self-join would go quadratic at any plane " +
          s"count. Route to knnGraphIvf (C≈${deriveGraphCentroids(m.n)}), " +
          s"dedup the corpus first, or raise maxOccupancy deliberately.")
    }
  }

  /** [[knnGraphGuarded]] with the route DECISION recorded in a
    * replay-safe ledger — [[AnnIndex.maintain]]'s pattern applied to
    * the graph build: a nightly graph job names each run (`runId` —
    * the ingest date, snapshot version, whatever identifies the
    * occurrence) and each runId gets AT MOST ONE decision row, so
    * (a) the route history is auditable after the fact (which nights
    * built LSH, which routed to IVF cells, at what measured
    * occupancy), and (b) a RETRIED run re-executes the route its
    * first attempt recorded — without re-measuring — so a retry
    * cannot flip route mid-night even if the corpus moved underneath
    * it (the at-most-once unit of work is the runId, as maintain's
    * is the index version). Ledger row: (run_id, n_vectors, planes,
    * tables, max_occupancy, budget, action 'lsh'|'ivf',
    * n_centroids); read it back with
    * [[graft.sources.SnapshotStore.read]].
    *
    * Concurrency (r17, closing the r15/r16 narrowed-window item):
    * the decision is published CLAIM-THEN-BUILD through
    * [[graft.sources.SnapshotStore.tryClaim]] — after measuring, an
    * attempt atomically claims `run_<hex(runId)>` with its decision
    * as the payload; exactly one concurrent attempt wins, and every
    * loser executes the WINNER's payload (read back from the claim
    * file, never its own measurement), so two racing same-runId
    * attempts now ship the same route by construction — the window
    * in which the shipped and recorded routes could differ is
    * CLOSED, as strong as the filesystem's atomic-link guarantee
    * (see tryClaim's scaladoc). The ledger ROW is the queryable
    * mirror of the claim: the winner merges it, and losers/retries
    * self-heal it from the claim payload if the winner died between
    * claim and merge (idempotent — identical content keyed run_id),
    * so a crash never wedges the runId. The happy-path signature
    * frame follows [[knnGraphGuarded]]'s caching contract. */
  def knnGraphLedgered(vectors: DataFrame, k: Int, ledgerDir: String,
                       runId: String, planes: Option[Int] = None,
                       tables: Int = 4,
                       targetOccupancy: Int = DefaultGraphOccupancy,
                       maxOccupancy: Long = DefaultMaxGraphOccupancy,
                       nCentroids: Option[Int] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    import graft.sources.SnapshotStore
    // the claim payload is line-oriented; a newline inside the runId
    // would shear it mid-field (any other character is fine — the
    // token hex-encodes, and parse splits on the FIRST '=')
    require(!runId.exists(c => c == '\n' || c == '\r'),
      s"runId must not contain line breaks: '$runId'")
    val token = "run_" + runId.getBytes("UTF-8").map("%02x".format(_))
      .mkString // filesystem-safe whatever the caller names the run
    // One decision row from its claim-payload fields, and back: the
    // payload is the claim-time serialization of the SAME eight
    // columns the ledger row carries, so losers/retries reconstruct
    // the winner's exact row (self-heal) and the mirror cannot drift.
    def payloadOf(n: Long, p: Int, occ: Long, action: String,
                  cents: Int): String =
      Seq("run_id=" + runId, "n_vectors=" + n, "planes=" + p,
        "tables=" + tables, "max_occupancy=" + occ,
        "budget=" + maxOccupancy, "action=" + action,
        "n_centroids=" + cents).mkString("\n")
    def rowOf(fields: Map[String, String]) =
      Seq((runId, fields("n_vectors").toLong, fields("planes").toInt,
        fields("tables").toInt, fields("max_occupancy").toLong,
        fields("budget").toLong, fields("action"),
        fields("n_centroids").toInt))
        .toDF("run_id", "n_vectors", "planes", "tables",
          "max_occupancy", "budget", "action", "n_centroids")
    def parse(payload: String): Map[String, String] =
      payload.linesIterator.map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    // Execute a recorded decision (replay / lost-claim paths).
    def execute(action: String, p: Int, t: Int, cents: Int): DataFrame =
      if (action == "lsh") knnGraphAt(vectors, k, p, t)
      else knnGraphIvf(vectors, k, cents)
    val prior = SnapshotStore.read(spark, ledgerDir)
      .flatMap(_.filter(col("run_id") === runId).limit(1)
        .collect().headOption)
    (prior, SnapshotStore.claimPayload(ledgerDir, token)) match {
      case (Some(r), _) => // this run already decided — replay it
        execute(r.getAs[String]("action"), r.getAs[Int]("planes"),
          r.getAs[Int]("tables"), r.getAs[Int]("n_centroids"))
      case (None, Some(claimed)) =>
        // a winner claimed but its row never landed (died between
        // claim and merge, or is mid-merge right now): SELF-HEAL the
        // queryable mirror from the claim payload — idempotent, the
        // content is byte-identical to what the winner merges — and
        // execute the claimed decision. No re-measurement: the claim
        // IS the decision.
        val f = parse(claimed)
        SnapshotStore.mergeInto(rowOf(f), ledgerDir, Seq("run_id"))
        execute(f("action"), f("planes").toInt, f("tables").toInt,
          f("n_centroids").toInt)
      case (None, None) =>
        val m = measureGuard(vectors, planes, tables, targetOccupancy)
        val underBudget = m.maxOcc <= maxOccupancy
        val cents = nCentroids.getOrElse(deriveGraphCentroids(m.n))
        val action = if (underBudget) "lsh" else "ivf"
        // CLAIM-THEN-BUILD (r17): publish the decision through the
        // atomic claim BEFORE recording or executing anything.
        // Exactly one concurrent attempt wins the claim; every other
        // attempt discards its own measurement and executes the
        // winner's payload, so two racing same-runId attempts ship
        // the same route by construction.
        if (SnapshotStore.tryClaim(ledgerDir, token,
            payloadOf(m.n, m.planes, m.maxOcc, action, cents))) {
          SnapshotStore.mergeInto(
            rowOf(parse(payloadOf(m.n, m.planes, m.maxOcc, action,
              cents))), ledgerDir, Seq("run_id"))
          if (underBudget) knnGraphCore(m.v, m.banded, k)
          else { m.release(); knnGraphIvf(vectors, k, cents) }
        } else {
          // lost the race: the winner's claim is the decision.
          // Self-heal the row (the winner may still be mid-merge;
          // identical content keyed run_id makes this idempotent)
          // and release our measurement — it must never be shipped.
          m.release()
          val f = parse(SnapshotStore.claimPayload(ledgerDir, token)
            .getOrElse(throw new IllegalStateException(
              s"knnGraphLedgered: claim for runId '$runId' vanished " +
                s"from ledger '$ledgerDir' after a failed tryClaim — " +
                s"claims are permanent by contract; something outside " +
                s"the engine deleted _claim_$token.")))
          SnapshotStore.mergeInto(rowOf(f), ledgerDir, Seq("run_id"))
          execute(f("action"), f("planes").toInt, f("tables").toInt,
            f("n_centroids").toInt)
        }
    }
  }

  /** Second-stage re-rank of a retrieved candidate list by embedding
    * cosine — the retrieve-then-rerank cascade (BM25 recall stage →
    * semantic precision stage) that production search stacks run where
    * [[graft.text.Search.rrfFuse]]/linearFuse MERGE two full legs,
    * this one lets a cheap lexical stage bound how many vectors are
    * ever scored: only `hits`' (query_id, doc_id) pairs fetch
    * embeddings (two equi-joins), cosine is rounded to 6 dp, and the
    * bounded-heap top-k keeps the final k. Cost is |hits| — never
    * corpus-sized, no products of any kind. Output: (query_id, rank,
    * doc_id, sim). */
  def rerankByCosine(hits: DataFrame, queries: DataFrame,
                     corpus: DataFrame, k: Int): DataFrame = {
    val q = querySide(queries)
    val c = prep(corpus, col("vec_id").as("doc_id"), "ce", "cn")
    val scored = hits.select("query_id", "doc_id")
      .join(q, "query_id").join(c, "doc_id")
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    rankTopK(scored.select(col("query_id"),
        col("doc_id").as("neighbor_id"), col("sim")), k)
      .withColumnRenamed("neighbor_id", "doc_id")
  }

  /** IVF (inverted-file) approximate top-k — the second scale path
    * besides [[lshTopK]]. Centroids are a deterministic uniform sample
    * of the corpus: the nCentroids first ids under md5-hash order (ids
    * often correlate with content clusters in append-only corpora, so
    * hash order — a reproducible random permutation — spreads the
    * sample cluster-proportionally where "smallest ids" collapses to
    * one cluster; swap for k-means outputs in production via the
    * trained overload). Each corpus vector is
    * assigned to its nearest centroid (one broadcast pass, C dots per
    * vector); a query scores only the vectors in its nProbe nearest
    * centroid buckets. At 100 TB: centroids broadcast, assignment is
    * map-only, the only shuffle is the bucket join on cent_id, and
    * per-bucket work is |corpus|/C × nProbe per query. Similarities
    * are rounded to 6 dp BEFORE every argmax/rank so bucket assignment
    * and ranking are engine-reproducible. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = corpusSide(corpus)
    ivfCore(queries, c, broadcast(sampledCentroids(c, nCentroids)), k, nProbe)
  }

  /** IVF top-k with externally trained centroids — the production
    * shape: [[KMeans.lloyd]] trains the coarse quantizer, this searches
    * it. `centroids` takes lloyd's output directly: (cent_id, dim,
    * value) scalar rows, reassembled here into dim-ordered arrays and
    * broadcast (k·dim scalars — driver-free, one tiny aggregation). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: DataFrame, nProbe: Int): DataFrame =
    ivfCore(queries, corpusSide(corpus), trainedCentroids(centroids), k, nProbe)

  /** SemDeDup-style semantic dedup pairs (Abbas et al. 2023: cluster
    * the embedding space with k-means, then search for near-duplicates
    * only WITHIN each cluster). The published semantic-level
    * complement to [[embeddingNearDupPairs]]'s sign-LSH blocking:
    * blocking here is the trained coarse quantizer itself, so
    * candidate cost is bounded by cluster occupancy and the cluster
    * count is the deploy knob that scales with the corpus. `centroids`
    * takes [[KMeans.lloyd]]'s output directly. Output: (cent_id,
    * vec_a, vec_b, sim) with vec_a < vec_b, sim rounded to 6 dp before
    * the threshold. Plan: broadcast-centroid map-only assignment (a
    * |corpus| × O(1) constant product), one equi-join on cent_id —
    * never an all-pairs stage across clusters. */
  def semanticDedupPairs(vectors: DataFrame, centroids: DataFrame,
                         minSim: Double): DataFrame = {
    val assigned = Caching.persisted(nearestCentroid(corpusSide(vectors),
      trainedCentroids(centroids), carry = Seq("ce", "cn")))
    assigned.as("a").join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.cent_id").as("cent_id"),
        col("a.neighbor_id").as("vec_a"), col("b.neighbor_id").as("vec_b"),
        Vectors.qcos(col("a.ce"), col("b.ce"), col("a.cn") * col("b.cn"))
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Shared IVF search: assign corpus vectors to their nearest
    * broadcast centroid, pick each query's nProbe nearest centroids,
    * equi-join on cent_id, exact-cosine rank. Both sides carry their
    * vectors through the aggregate, so the cell join scores directly. */
  private def ivfCore(queries: DataFrame, c: DataFrame, cents: DataFrame,
                      k: Int, nProbe: Int): DataFrame = {
    val assigned = nearestCentroid(c, cents, carry = Seq("ce", "cn"))
    val probes = probeCells(querySide(queries), cents, nProbe,
      carry = Seq("qe", "qn"))
    val scored = probes.join(assigned, "cent_id")
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** IVF-cell kNN graph — the bounded alternative [[knnGraph]]'s
    * scaladoc points at for corpora whose duplicate clusters defeat
    * any hyperplane count: assign every vector to its nearest
    * broadcast centroid (the [[ivfTopK]] assignment pass — corpus ×
    * constant-centroids, the documented exemption class), then rank
    * each vector's top-k by exact cosine WITHIN its cell (one
    * equi-join on cent_id, self excluded). Work per cell is
    * (|cell|)², so sizing nCentroids to corpus density bounds the
    * build the way planes bound [[knnGraph]] — with the difference
    * that a cell partition always exists regardless of how vectors
    * cluster (the centroid sample splits dense regions by
    * construction). Recall contract: neighbors OUTSIDE the cell are
    * invisible (nProbe=1 semantics) — the standard IVF-graph
    * trade-off; raise nCentroids for cost, not recall. Output:
    * (query_id, rank, neighbor_id, sim). */
  def knnGraphIvf(vectors: DataFrame, k: Int,
                  nCentroids: Int = 16): DataFrame = {
    val c = corpusSide(vectors)
    val assigned = nearestCentroid(c, broadcast(sampledCentroids(c, nCentroids)),
      carry = Seq("ce", "cn"))
    val scored = assigned
      .select(col("neighbor_id").as("query_id"), col("ce").as("qe"),
        col("cn").as("qn"), col("cent_id"))
      .join(assigned, "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
    rankTopK(scored.select("query_id", "neighbor_id", "sim"), k)
  }

  /** Embedding-cosine near-dup pairs with sim >= minSim (rounded to
    * 6 dp before the threshold so engines agree at the boundary).
    *
    * This is the shipped scale path: multi-table random-hyperplane LSH
    * candidate generation + exact cosine verify. One 24-plane sign
    * signature per vector (a single pass of the codegen'd
    * [[graft.functions.LshSignBucket]] kernel, whose per-(plane,dim)
    * weights are independent md5 draws — see
    * [[graft.functions.LshSignBucket.weight]] — so the 24 planes are
    * genuinely distinct hyperplanes), sliced into `tables` independent
    * `planes`-bit buckets; a pair is a candidate if it collides in ANY
    * table (the standard OR-construction: recall
    * 1-(1-p^planes)^tables where p = 1 - angle/pi, so ~0.87 for
    * sim=0.9 pairs at 6x4 vs ~0.40 for one table; the discrete
    * [-3,3] weights approximate the Gaussian model at dim 64). The plan is
    * explode -> hash shuffle on (table, bucket) -> bounded-bucket
    * equi-join -> distinct pair set -> fetch-join the two vectors ->
    * verify; no nested-loop or all-pairs stage anywhere. For
    * exhaustive small-data runs use [[embeddingNearDupPairsExact]]. */
  def embeddingNearDupPairs(vectors: DataFrame, minSim: Double,
                            planes: Int = 6, tables: Int = 4): DataFrame = {
    val v = Caching.persisted(
      lshSigned(prep(vectors, col("vec_id"), "e", "nrm"), "e", planes, tables))
    val b = banded(v, "vec_id", planes, tables)
    val cand = b.as("a").join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        Vectors.qcos(col("ea"), col("eb"), col("na") * col("nb")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Exhaustive all-pairs variant of [[embeddingNearDupPairs]] — exact
    * recall, O(n²) nested-loop plan. Small-data / oracle use only. */
  def embeddingNearDupPairsExact(vectors: DataFrame, minSim: Double): DataFrame = {
    val v = prep(vectors, col("vec_id"), "e", "nrm")
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Vectors.qcos(col("a.e"), col("b.e"), col("a.nrm") * col("b.nrm"))
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Recall@k audit of an approximate retriever against the exact
    * baseline — the number every ANN deployment quotes before trading
    * recall for latency (choosing tables/planes for [[lshTopK]], nProbe
    * for IVF, m for PQ). Both inputs are (query_id, neighbor_id) top-k
    * frames (extra columns ignored; [[bruteForceTopK]] output feeds
    * `exact`, any e2/e3/e5-family output feeds `approx`). Returns one
    * row per query: (query_id, n_exact, n_hits, recall), recall =
    * hits/exact rounded to 6 dp. Queries the approximate leg misses
    * entirely still report (recall 0) — the audit must not hide them.
    *
    * Cost: both sides are |Q|×k frames, so the equi-join and keyed
    * counts are trivia next to the searches themselves. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
    val nExact = ex.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val nHits = ap.join(ex, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    nExact.join(nHits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall",
        // §6 quantizer (Quantize scaladoc): engine-identical at the
        // half boundary, unlike round(double, n)
        graft.functions.Quantize.qdp(
          col("n_hits").cast("double") / col("n_exact").cast("double"), 6))
  }
}

package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Quantize, Vectors}

/** The search stages of `graft.ann`, each defined once. [[Knn]], [[Pq]],
  * [[Sq]], [[KMeans]] and [[AnnIndex]] build their operators from these
  * definitions, so two operators that run the same stage run the same
  * float operations in the same order: an index probe computes what the
  * one-shot [[Pq.ivfPqTopK]] computes, and a centroid assignment is the
  * same argmax in training, search, semantic dedup and the persisted
  * index. Where two hand copies of a stage once differed in plan shape,
  * the persisted index's shape was kept. Changing a stage (re-laying the
  * probe out as inverted lists, say) is one edit here.
  *
  * Column conventions: a corpus row is (neighbor_id, ce, cn) and a query
  * row (query_id, qe, qn), where `e` is the embedding cast to double and
  * `n` its norm; centroids are (cent_id, cent, centn); a PQ codebook row
  * is (j, code_id, cw, cc = |cw|²). Every similarity or distance is
  * rounded to 6 dp before any argmax or rank, and ties break on the
  * smaller id, so an external engine replays every stage bit for bit.
  */
private[ann] object VectorStages {

  /** (id, carry…, e = embedding as doubles, n = its norm): the prep
    * every scoring stage reads. */
  def prep(vectors: DataFrame, id: Column, e: String, n: String,
           carry: Seq[Column] = Nil): DataFrame =
    vectors.select((id +: carry) :+ Vectors.asDouble(col("embedding")).as(e): _*)
      .withColumn(n, Vectors.norm(col(e)))

  /** Query side: (query_id, carry…, qe, qn). */
  def querySide(queries: DataFrame, carry: Seq[Column] = Nil): DataFrame =
    prep(queries, col("vec_id").as("query_id"), "qe", "qn", carry)

  /** Corpus side: (neighbor_id, carry…, ce, cn). */
  def corpusSide(corpus: DataFrame, carry: Seq[Column] = Nil): DataFrame =
    prep(corpus, col("vec_id").as("neighbor_id"), "ce", "cn", carry)

  /** The first `n` rows of a prepped corpus in hash order: md5 of the
    * id, ties on the id. Ids often correlate with content clusters in
    * append-only corpora, so the "n smallest ids" sample can collapse
    * onto one cluster; hash order is a reproducible random permutation
    * that spreads centroids and codewords cluster-proportionally. */
  def hashSample(c: DataFrame, n: Int): DataFrame =
    c.orderBy(Hashing.h32(col("neighbor_id").cast("string")),
      col("neighbor_id")).limit(n)

  /** Untrained coarse quantizer: the hash-order sample as centroids. */
  def sampledCentroids(c: DataFrame, n: Int): DataFrame =
    hashSample(c, n).select(col("neighbor_id").as("cent_id"),
      col("ce").as("cent"), col("cn").as("centn"))

  /** Trained coarse quantizer: [[KMeans.lloyd]]'s (cent_id, dim, value)
    * scalar rows reassembled into dim-ordered broadcast arrays (k·dim
    * scalars: one tiny aggregation, no driver collect). */
  def trainedCentroids(centroids: DataFrame): DataFrame =
    broadcast(centroids
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("value")))).as("dv"))
      .select(col("cent_id"), transform(col("dv"), x => x("value")).as("cent"))
      .withColumn("centn", Vectors.norm(col("cent"))))

  /** Cosine of vector `e` (norm `n`) to the joined centroid. */
  def centSim(e: Column, n: Column): Column =
    Vectors.qcos(e, col("cent"), n * col("centn"))

  private def firsts(carry: Seq[String]): Seq[Column] =
    carry.map(x => first(col(x)).as(x))

  /** Nearest centroid per vector: the argmax of [[centSim]] over the
    * (broadcast) centroids, ties to the smaller cent_id, as a
    * partial-aggregating max_by. Output (id, carry…, cent_id); `carry`
    * names columns that depend on `id` alone, passed through with
    * first(). */
  def nearestCentroid(v: DataFrame, cents: DataFrame,
                      id: String = "neighbor_id", e: String = "ce",
                      n: String = "cn",
                      carry: Seq[String] = Nil): DataFrame = {
    val aggs = firsts(carry) :+ max_by(col("cent_id"),
      struct(col("csim"), (-col("cent_id")).as("nid"))).as("cent_id")
    v.join(cents)
      .withColumn("csim", centSim(col(e), col(n)))
      .groupBy(id).agg(aggs.head, aggs.tail: _*)
  }

  /** Cell probe: each query's `nProbe` nearest centroids by
    * [[centSim]] (bounded-heap top-n), one row per (query_id, carry…,
    * cent_id). */
  def probeCells(q: DataFrame, cents: DataFrame, nProbe: Int,
                 carry: Seq[String] = Nil): DataFrame = {
    val aggs = firsts(carry) :+
      Knn.topKAgg(col("csim"), col("cent_id"), nProbe).as("top")
    q.join(cents)
      .withColumn("csim", centSim(col("qe"), col("qn")))
      .groupBy("query_id").agg(aggs.head, aggs.tail: _*)
      .select((col("query_id") +: carry.map(col)) :+
        explode(col("top.id")).as("cent_id"): _*)
  }

  /** PQ codebook from the hash-order sample: the first `nCodes`
    * vectors, each cut into `m` subvectors of length `sub`. */
  def sampleCodebook(c: DataFrame, nCodes: Int, m: Int, sub: Int): DataFrame =
    hashSample(c, nCodes)
      .select(col("neighbor_id").as("code_id"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          j => struct(j.as("j"),
            slice(col("ce"), j * sub + 1, lit(sub)).as("sv")))).as("s"))
      .select(col("s.j").as("j"), col("code_id"), col("s.sv").as("cw"))
      .withColumn("cc", Vectors.dot(col("cw"), col("cw")))

  /** Subvector `j` of `v` under the joined codebook row. The geometry
    * comes from the codebook rows themselves (`j`, `size(cw)`), so an
    * index probe cannot drift from its build. */
  private def subvector(v: Column): Column =
    slice(v, col("j") * size(col("cw")) + 1, size(col("cw")))

  /** PQ codes (neighbor_id, j, code) of a prepped corpus under a
    * broadcast codebook: nearest codeword per subvector by squared L2
    * (|x|² − 2⟨x,cw⟩ + |cw|²), ties to the smaller code_id, as a
    * partial-aggregating min_by. */
  def pqEncode(c: DataFrame, cb: DataFrame): DataFrame =
    c.join(cb)
      .withColumn("xs", subvector(col("ce")))
      // §6 quantizer (Quantize scaladoc): d2 feeds the code argmin,
      // so the 6-dp cut must be engine-identical at the half boundary
      .withColumn("d2", Quantize.qdp(
        Vectors.dot(col("xs"), col("xs"))
          - lit(2) * Vectors.dot(col("xs"), col("cw")) + col("cc"), 6))
      .groupBy("neighbor_id", "j")
      .agg(min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code"))

  /** ADC lookup table (query_id, j, code, qdot = ⟨q_j, cw⟩) of a query
    * batch under a broadcast codebook: |Q|·m·nCodes rows, broadcast. */
  def adcTable(q: DataFrame, cb: DataFrame): DataFrame =
    broadcast(q.join(cb)
      .select(col("query_id"), col("j"), col("code_id").as("code"),
        Quantize.qdp(Vectors.dot(subvector(col("qe")), col("cw")), 6)
          .as("qdot")))

  /** ADC score (query_id, neighbor_id, adc) of candidate pairs from
    * their codes alone: the m looked-up dots summed as DECIMAL(28,12),
    * so the sum is exact and order-independent. Vectors do not ship
    * through this join. */
  def adcScore(cand: DataFrame, codes: DataFrame, qtab: DataFrame): DataFrame =
    cand.join(codes, "neighbor_id")
      .join(qtab, Seq("query_id", "j", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("qdot").cast("decimal(28,12)")), 6).cast("double")
        .as("adc"))

  /** The bounded-heap shortlist: each query's `n` best candidates by
    * the approximate `score` column, as (query_id, neighbor_id). At most
    * `n` rows per (query, map partition) cross the wire. */
  def shortlisted(scored: DataFrame, score: String, n: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(Knn.topKAgg(col(score), col("neighbor_id"), n).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))

  /** Exact cosine (query_id, neighbor_id, sim) of candidate pairs:
    * fetch-join the query and corpus vectors, then score. */
  def exactSim(pairs: DataFrame, q: DataFrame, c: DataFrame): DataFrame =
    pairs
      .join(q.select("query_id", "qe", "qn"), "query_id")
      .join(c.select("neighbor_id", "ce", "cn"), "neighbor_id")
      .withColumn("sim",
        Vectors.qcos(col("qe"), col("ce"), col("qn") * col("cn")))
      .select("query_id", "neighbor_id", "sim")

  /** Exact re-rank: [[exactSim]] of the candidate pairs, top-k. */
  def rerank(pairs: DataFrame, q: DataFrame, c: DataFrame, k: Int): DataFrame =
    Knn.rankTopK(exactSim(pairs, q, c), k)

  /** One `planes·tables`-bit sign signature `sig` of vector column `e`
    * (a single [[Knn.lshBucket]] pass). */
  def lshSigned(v: DataFrame, e: String, planes: Int, tables: Int): DataFrame =
    v.withColumn("sig", Knn.lshBucket(col(e), planes * tables))

  /** Banding: (id, t, bucket), the signature sliced into `tables`
    * independent `planes`-bit buckets (map-only slice-and-explode). A
    * pair colliding in ANY table is a candidate: the OR-construction,
    * per-pair recall 1-(1-p^planes)^tables with p = 1 - angle/pi. */
  def banded(v: DataFrame, id: String, planes: Int, tables: Int): DataFrame =
    v.select(col(id), explode(
        transform(sequence(lit(0), lit(tables - 1)),
          t => struct(t.as("t"),
            col("sig").substr(t * planes + 1, lit(planes)).as("bucket")))).as("b"))
      .select(col(id), col("b.t"), col("b.bucket"))
}

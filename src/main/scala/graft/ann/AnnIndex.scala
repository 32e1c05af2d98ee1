package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

import VectorStages._

/** Persisted IVF-PQ index — build once, probe every batch, update
  * incrementally. The ANN analogue of the dedup family's persisted
  * band index ([[graft.dedup.TextDedup.writeDedupIndexBucketed]]),
  * sharing its metastore protocol: data lands in versioned tables,
  * a single `CREATE OR REPLACE VIEW` is the atomic current pointer,
  * single-writer, one prior version retained for in-flight readers.
  *
  * Atomicity: the ONE `<name>_ptr` view (a literal `SELECT v`) is the
  * only pointer; [[topK]] and [[update]] resolve it once and then read
  * the member tables of that pinned version directly, so a
  * reader planned mid-commit sees a complete version — never a new
  * codebook with old codes. (Per-table `<name>_<t>` views also exist
  * as a convenience for ad-hoc SQL, but they are repointed
  * sequentially and carry no consistency guarantee; anything that
  * joins across index tables must pin through the ptr as [[topK]]
  * does.)
  *
  * [[Pq.ivfPqTopK]] re-derives quantizers and re-encodes the corpus on
  * every call — right for one-shot jobs, wrong for a nightly search
  * service over a 100 TB corpus. Here the expensive corpus-wide passes
  * happen once at [[write]] and O(batch) at [[update]]; [[topK]] reads
  * five tables and touches nothing corpus-sized except bucketed scans:
  *
  *  - `<name>_cents`    (cent_id, cent, centn)  — tiny, broadcast
  *  - `<name>_codebook` (j, code_id, cw, cc)    — tiny, broadcast
  *  - `<name>_assign`   (neighbor_id, cent_id)  — bucketed by cent_id:
  *    the candidate join reads it pre-partitioned
  *  - `<name>_codes`    (neighbor_id, j, code)  — bucketed by
  *    neighbor_id: the ADC scoring join reads it pre-partitioned
  *  - `<name>_vectors`  (neighbor_id, emb float[], cn) — bucketed by
  *    neighbor_id: the exact re-rank fetches only |Q| x shortlist
  *    rows. Stored as the source floats (half the bytes of the
  *    double-cast working form; the cast back is exact)
  *  - `<name>_meta`     (neighbor_id, metadata…) — OPTIONAL, written
  *    via [[write]]'s `metaCols`, bucketed by neighbor_id, kept
  *    current through [[update]]/[[delete]]; [[topKFiltered]]'s
  *    admission join. Indexes without it are unchanged.
  *
  * [[update]] encodes an incoming batch with the STORED quantizers
  * (map-only over the batch) and upserts — the index stays coherent
  * under the frozen-quantizer contract every production IVF-PQ system
  * uses between full retrains (re-[[write]] to retrain).
  *
  * Probing an index written with [[write]]'s defaults returns exactly
  * [[Pq.ivfPqTopK]]'s output for the same corpus (spec-asserted):
  * persistence changes where the stages run, not what they compute.
  * Both are built from [[VectorStages]]' single definition of each
  * stage.
  */
object AnnIndex {

  import graft.sources.BucketedStore.{Layout, Member}

  /** The index's store layout: cents/codebook are tiny broadcast-side
    * tables; assign buckets on the candidate join's key, codes and
    * vectors on the ADC/re-rank join's key, so a probe plans no
    * exchange on any corpus-sized input; meta (written only with
    * [[write]]'s `metaCols`) on the admission join's key. */
  val Store: Layout = Layout("ANN", Seq(
    Member("cents"), Member("codebook"),
    Member("assign", Seq("cent_id")),
    Member("codes", Seq("neighbor_id")),
    Member("vectors", Seq("neighbor_id")),
    Member("meta", Seq("neighbor_id"), optional = true)))

  /** Drop every catalog object and on-disk remnant of index `name`
    * (see [[graft.sources.BucketedStore.Layout.drop]]). Shared by the
    * shipped e6 entries and the specs so the cleanup path can't drift. */
  def drop(spark: SparkSession, name: String): Unit = Store.drop(spark, name)

  private def metaOf(df: DataFrame, metaCols: Seq[String]): DataFrame =
    df.select((col("vec_id").as("neighbor_id") +: metaCols.map(col)): _*)

  /** Build and commit a full index over `corpus` (vec_id, embedding);
    * returns the committed version. Quantizers default to [[Pq]]'s
    * deterministic hash-order samples; pass `centroids` =
    * [[KMeans.lloyd]]'s (cent_id, dim, value) output for a TRAINED
    * coarse quantizer (the e3b/e5b production shape — `nCentroids` is
    * then ignored). [[retrain]] produces exactly this trained build
    * in place. */
  def write(corpus: DataFrame, name: String,
            nCentroids: Int = 16, m: Int = 4, nCodes: Int = 16,
            dim: Int = 64, buckets: Int = 32,
            metaCols: Seq[String] = Nil,
            centroids: Option[DataFrame] = None): Int = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val spark = corpus.sparkSession
    val c = corpusSide(corpus)
    val cents = centroids.fold(sampledCentroids(c, nCentroids))(trainedCentroids)
    val cb = sampleCodebook(c, nCodes, m, dim / m)
    Store.commit(spark, name, Map(
      "cents" -> cents, "codebook" -> cb,
      "assign" -> nearestCentroid(c, broadcast(cents)),
      "codes" -> pqEncode(c, broadcast(cb)),
      "vectors" -> storedVectors(corpus)) ++
      Option.when(metaCols.nonEmpty)("meta" -> metaOf(corpus, metaCols)),
      buckets)
  }

  /** The float-typed persisted form of the re-rank table: source
    * embedding + precomputed norm (norm math happens in double, so the
    * stored cn equals the working form's). */
  private def storedVectors(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .withColumn("cn", Vectors.norm(Vectors.asDouble(col("embedding"))))

  /** Encode an incoming batch with the STORED quantizers and upsert it
    * (keyed on neighbor_id) — O(batch) compute, one index rewrite
    * pass. Returns the new version. */
  def update(incoming: DataFrame, name: String, buckets: Int = 32): Int = {
    val spark = incoming.sparkSession
    val p = Store.pin(spark, name)
    val cents = broadcast(p.table("cents"))
    val cb = broadcast(p.table("codebook"))
    val inc = corpusSide(incoming)
    import graft.operators.Merge
    // an index written with metaCols keeps its metadata current: the
    // incoming batch must carry the same columns (fail-fast select)
    val meta = Option.when(p.has("meta")) {
      val stored = p.table("meta")
      "meta" -> Merge.upsert(stored,
        metaOf(incoming, stored.columns.filter(_ != "neighbor_id").toIndexedSeq),
        Seq("neighbor_id"))
    }
    Store.commit(spark, name, Map(
      "assign" -> Merge.upsert(p.table("assign"), nearestCentroid(inc, cents),
        Seq("neighbor_id")),
      "codes" -> Merge.upsert(p.table("codes"), pqEncode(inc, cb),
        Seq("neighbor_id", "j")),
      "vectors" -> Merge.upsert(p.table("vectors"), storedVectors(incoming),
        Seq("neighbor_id"))) ++ meta,
      buckets,
      // frozen-quantizer contract: cents/codebook are untouched — carry
      carry = p.carry("cents", "codebook"))
  }

  /** Remove a vector id set from index `name` — the takedown /
    * tombstone leg next to [[update]], under the same frozen-quantizer
    * contract: cents/codebook pass through untouched (retraining is a
    * separate cadence), and the deleted ids leave `assign`, `codes`,
    * and `vectors` by one anti-join each — so a probe after delete
    * equals a probe of an index whose corpus never contained them
    * (spec-asserted). Ids absent from the index are no-ops. `ids`'
    * first column is the vector id; a delete set is
    * takedown-request-sized — broadcast. Returns the new version. */
  def delete(ids: DataFrame, name: String, buckets: Int = 32): Int = {
    val spark = ids.sparkSession
    val p = Store.pin(spark, name)
    val del = broadcast(
      ids.select(col(ids.columns.head).as("neighbor_id")).distinct())
    Store.commit(spark, name,
      Seq("assign", "codes", "vectors", "meta").filter(p.has).map { t =>
        t -> p.table(t).join(del, Seq("neighbor_id"), "left_anti")
      }.toMap,
      buckets,
      // frozen-quantizer contract: cents/codebook are untouched — carry
      carry = p.carry("cents", "codebook"))
  }

  /** Retrain the index's quantizers IN PLACE — the operator that ACTS
    * on the [[stats]]/[[fit]] retrain signal (skewed occupancy, decayed
    * mean fit): re-fit the coarse quantizer with [[KMeans.lloyd]] over
    * the STORED vectors member, re-derive the codebook by the same
    * hash-order sample rule [[write]] uses over the CURRENT corpus
    * (an index built before many updates re-samples codewords from
    * what it actually holds now), re-assign and re-encode every stored
    * vector under the new quantizers, and commit as version v+1 behind
    * the atomic ptr — in-flight probes pinned to v are never torn, the
    * protocol [[topK]] already guarantees. The metadata member passes
    * through untouched.
    *
    * Probe-after-retrain equals a probe of a FRESH [[write]] with
    * `centroids = Some(KMeans.lloyd(storedCorpus, k, iters))` over the
    * stored corpus (spec-asserted) — retrain changes WHERE the
    * quantizers come from, not what a trained index computes. Subspace
    * geometry (m, codewords-per-subspace, subvector length) comes from
    * the stored codebook, so a retrain can't drift the code layout.
    *
    * Cost shape: one k-means run (iters × map-only assignment over
    * the corpus + k·dim-scalar recompute), one corpus re-assign
    * (broadcast cents), one corpus re-encode (broadcast codebook),
    * one index rewrite — the same corpus-wide passes as [[write]],
    * which is the floor for any full retrain. Run it at maintenance
    * cadence when [[fit]]'s mean decays, not per batch. Returns the
    * new version. */
  def retrain(spark: SparkSession, name: String, k: Int = 16,
              iters: Int = 2, buckets: Int = 32): Int = {
    val p = Store.pin(spark, name)
    val corpus = p.table("vectors").select(col("neighbor_id").as("vec_id"),
      col("embedding"))
    // geometry from the stored codebook: m×nCodes rows — control-plane
    val geo = p.table("codebook")
      .agg(countDistinct(col("code_id")).as("nCodes"),
        (max(col("j")) + 1).as("m"), max(size(col("cw"))).as("sub")).head()
    val (nCodes, m, sub) =
      (geo.getLong(0).toInt, geo.getInt(1), geo.getInt(2))
    val cents = trainedCentroids(KMeans.lloyd(corpus, k, iters))
    val c = corpusSide(corpus)
    val cb = sampleCodebook(c, nCodes, m, sub)
    Store.commit(spark, name, Map(
      "cents" -> cents, "codebook" -> cb,
      "assign" -> nearestCentroid(c, broadcast(cents)),
      "codes" -> pqEncode(c, broadcast(cb))),
      buckets,
      // a retrain re-fits quantizers and re-encodes, but the stored
      // vectors (and metadata) pass through UNTOUCHED — carry them so
      // the rewrite never pays a corpus-sized vector copy
      carry = p.carry("vectors", "meta"))
  }

  /** Maintenance thresholds for [[maintain]]: retrain fires when any
    * band is crossed. Defaults encode the SCALING.md guidance — a cell
    * holding over a quarter of the corpus starves probe selectivity,
    * half the cells sitting empty wastes probe budget, and a
    * corpus-weighted mean fit below the floor means ADC scoring
    * quality has drifted (the e19b decay signal). */
  final case class MaintainPolicy(
      maxCellShare: Double = 0.25,
      maxEmptyFrac: Double = 0.5,
      minMeanFit: Double = 0.5,
      k: Int = 16, iters: Int = 2, buckets: Int = 32)

  /** Auto-maintenance — [[stats]] (occupancy skew) + [[fit]] (quantizer
    * tightness) composed into the retrain DECISION, with the decision
    * recorded in a replay-safe ledger (the [[graft.operators.Scheduler
    * .runDue]] pattern: the examined index VERSION is the unit of
    * work). Each index version gets AT MOST one decision: a second
    * `maintain` call on the same version is a no-op returning the
    * recorded row, so a host timer may tick as often as it likes
    * without double-retraining; a version created BY a retrain is a
    * fresh occurrence and gets its own (normally healthy) row on the
    * next tick. Signals are control-plane sized (nCentroids rows);
    * the retrain itself is [[retrain]]'s corpus passes — exactly the
    * cost this policy exists to spend only when the bands say so.
    * Returns the one decision row: (index, version, action,
    * new_version, max_cell_share, empty_frac, mean_fit, reasons). */
  def maintain(spark: SparkSession, name: String, ledgerDir: String,
               policy: MaintainPolicy = MaintainPolicy()): DataFrame = {
    import spark.implicits._
    import graft.sources.SnapshotStore
    val v = Store.pin(spark, name).version
    val prior = SnapshotStore.read(spark, ledgerDir).map(
      _.filter(col("index") === name && col("version") === v))
    prior.filter(_.limit(1).count() > 0) match {
      case Some(row) => row // this version already decided — replay-safe
      case None =>
        // CLAIM the version before examining it (r17 — the
        // knnGraphLedgered claim-then-build pattern, scoped to the
        // harm that matters here): two occurrences ticking the same
        // version concurrently could BOTH cross a band and retrain —
        // two corpus-sized rebuilds and two new versions. Exactly one
        // wins the atomic claim and proceeds; a loser whose winner
        // has not yet merged its row fails FAST with the claim named
        // (the winner's row lands when its examination — possibly a
        // retrain — completes; the next tick then replays it). A
        // winner that DIES mid-examination leaves the claim visible
        // with no row: operator removes `_claim_<token>` and the next
        // tick re-examines — crash recovery is operator-visible, not
        // a silent second retrain. (Unlike the graph ledger the
        // decision here is not claim-time computable — new_version
        // exists only after the retrain — so the claim cannot carry
        // the payload for self-healing.)
        val token = "maintain_" + name.getBytes("UTF-8")
          .map("%02x".format(_)).mkString + "_v" + v
        if (!SnapshotStore.tryClaim(ledgerDir, token, "examining")) {
          throw new IllegalStateException(
            s"AnnIndex.maintain: version $v of '$name' is claimed by " +
              s"a concurrent occurrence whose decision row has not " +
              s"landed in '$ledgerDir' — re-tick after it completes, " +
              s"or remove _claim_$token if that occurrence died.")
        }
        val occ = stats(spark, name)
          .agg(max(col("share")).as("mx"),
            (sum(when(col("n_vectors") === 0, 1L).otherwise(0L))
              .cast("double") / count(lit(1))).as("empty"))
          .head()
        val (maxShare, emptyFrac) = (occ.getDouble(0), occ.getDouble(1))
        val fitRows = fit(spark, name)
          .agg((sum(col("mean_fit") * col("n_vectors")) /
            sum(col("n_vectors"))).as("wf")).head()
        // an index with no stored vectors has no fit signal — treat as
        // tight rather than NPE/retraining an empty corpus
        val meanFit = if (fitRows.isNullAt(0)) 1.0 else fitRows.getDouble(0)
        val reasons = Seq(
          if (maxShare > policy.maxCellShare)
            Some(f"cell_share ${maxShare}%.4f > ${policy.maxCellShare}%.2f")
          else None,
          if (emptyFrac > policy.maxEmptyFrac)
            Some(f"empty_frac ${emptyFrac}%.4f > ${policy.maxEmptyFrac}%.2f")
          else None,
          if (meanFit < policy.minMeanFit)
            Some(f"mean_fit ${meanFit}%.4f < ${policy.minMeanFit}%.2f")
          else None).flatten
        val newV = if (reasons.nonEmpty)
          retrain(spark, name, policy.k, policy.iters, policy.buckets)
        else v
        val action = if (reasons.nonEmpty) "retrained" else "healthy"
        val row = Seq((name, v, action, newV, maxShare, emptyFrac,
          meanFit, reasons.mkString("; ")))
          .toDF("index", "version", "action", "new_version",
            "max_cell_share", "empty_frac", "mean_fit", "reasons")
        SnapshotStore.mergeInto(row, ledgerDir, Seq("index", "version"))
        row
    }
  }

  /** IVF-PQ top-k against the current index version — same pipeline,
    * ranking, and output schema as [[Pq.ivfPqTopK]], but every
    * corpus-sized input is a bucketed index scan: candidates join
    * `_assign` on its bucket key, ADC scores `_codes` on its bucket
    * key, and only |Q| x shortlist rows of `_vectors` are fetched. */
  def topK(spark: SparkSession, name: String, queries: DataFrame, k: Int,
           nProbe: Int = 4, shortlist: Int = 100): DataFrame =
    probe(spark, name, queries, k, nProbe, shortlist, filterKeys = Nil)

  /** Coarse-quantizer FIT report — [[stats]]' companion and the other
    * half of the retrain signal (occupancy says whether cells are
    * BALANCED; this says whether they are TIGHT): per occupied cell,
    * the exact-decimal mean cosine between each stored vector and its
    * assigned centroid. A cell whose mean fit decays as batches MERGE
    * in under the frozen quantizers is drifting away from its
    * centroid — ADC scoring quality degrades silently until a
    * retrain (e4) re-centers it; this report is the maintenance-
    * cadence number that says when. One bucketed-assign ⋈ vectors
    * join + a broadcast cents attach + a partial-aggregating per-cell
    * rollup — a maintenance-time scan, never on the probe path. */
  def fit(spark: SparkSession, name: String): DataFrame = {
    val p = Store.pin(spark, name)
    val cents = broadcast(p.table("cents"))
    p.table("assign")
      .join(storedCorpus(p.table("vectors")), "neighbor_id")
      .join(cents, "cent_id")
      .withColumn("csim", centSim(col("ce"), col("cn")))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vectors"),
        // §6 quantizer on the mean quotient (Quantize scaladoc)
        graft.functions.Quantize.qdp(
          sum(col("csim").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") / count(lit(1)), 6).as("mean_fit"))
  }

  /** Cell-occupancy report over the persisted index — the ANN twin of
    * `Skew.keyShareReport` (g30) and the planning input behind nProbe
    * and retrain decisions: per centroid, vectors assigned and the
    * corpus share. A skewed report means probes pay full cost on hot
    * cells while empty cells waste probe budget — the signal to
    * retrain the coarse quantizer (e4) or raise nCentroids (the
    * √|V| sizing SCALING.md measures). Cells with ZERO occupancy
    * still report (left join from the cents member) — an empty cell
    * IS the finding. One partial-aggregating count over the assign
    * member (bucketed on cent_id — the count never re-shuffles
    * corpus-sized data), output nCentroids-sized; the share is a
    * single IEEE division of exact longs, rounded 6 dp. */
  def stats(spark: SparkSession, name: String): DataFrame = {
    val p = Store.pin(spark, name)
    val occ = p.table("assign")
      .groupBy("cent_id").agg(count(lit(1)).as("n_vectors"))
    val tot = occ.agg(sum(col("n_vectors")).as("__tot"))
    p.table("cents").select("cent_id")
      .join(occ, Seq("cent_id"), "left")
      .na.fill(0L, Seq("n_vectors"))
      .crossJoin(broadcast(tot))
      .select(col("cent_id"), col("n_vectors"),
        // §6 quantizer (Quantize scaladoc): engine-identical at the
        // half boundary, unlike round(double, n)
        graft.functions.Quantize.qdp(
          col("n_vectors").cast("double") / col("__tot").cast("double"), 6)
          .as("share"))
  }

  /** [[topK]] restricted to corpus vectors sharing the query's
    * `filterKeys` metadata — filtered ANN search at the INDEX level
    * (the e11 brute-force leg's persisted twin): the index must have
    * been written with `metaCols` covering `filterKeys`, and the
    * equality filter lands on the CANDIDATE set (probed cells ⋈ meta),
    * BEFORE ADC scoring — so the shortlist holds only admissible
    * neighbors and the top-k can never underfill by post-filtering,
    * the failure mode of filter-after-search. Costs one extra
    * bucketed-meta join on the candidate sliver; everything
    * corpus-sized stays a bucketed scan. */
  def topKFiltered(spark: SparkSession, name: String, queries: DataFrame,
                   filterKeys: Seq[String], k: Int,
                   nProbe: Int = 4, shortlist: Int = 100): DataFrame = {
    require(filterKeys.nonEmpty, "topKFiltered needs at least one filter key")
    probe(spark, name, queries, k, nProbe, shortlist, filterKeys)
  }

  private def probe(spark: SparkSession, name: String, queries: DataFrame,
                    k: Int, nProbe: Int, shortlist: Int,
                    filterKeys: Seq[String]): DataFrame = {
    // pin ONE version up front and read every table at it — the probe
    // can never resolve a torn snapshot from a concurrent commit
    val p = Store.pin(spark, name)
    if (filterKeys.nonEmpty)
      require(p.has("meta"),
        s"index $name has no metadata member; write it with metaCols")
    val cents = broadcast(p.table("cents"))
    val cb = broadcast(p.table("codebook"))
    val q = querySide(queries,
      filterKeys.map(fk => col(fk).as(s"__q_$fk")))
    val qtab = adcTable(q, cb)
    val rawCand = probeCells(q, cents, nProbe)
      .join(p.table("assign"), "cent_id")
      .select("query_id", "neighbor_id")
    // metadata filter BEFORE ADC: join the bucketed meta member on the
    // candidate sliver, then keep rows matching the query's own values
    // (broadcast — the query batch is probe-sized). Inner equality:
    // NULL metadata never matches, like the brute leg's equi-join.
    val cand =
      if (filterKeys.isEmpty) rawCand
      else filterKeys.foldLeft(
        rawCand
          .join(p.table("meta"), "neighbor_id")
          .join(broadcast(q.select(col("query_id") +:
            filterKeys.map(fk => col(s"__q_$fk")): _*)), "query_id")) {
        (df, fk) => df.filter(col(fk) === col(s"__q_$fk"))
      }.select("query_id", "neighbor_id")
    val adc = adcScore(cand, p.table("codes"), qtab)
    rerank(shortlisted(adc, "adc", shortlist), q,
      storedCorpus(p.table("vectors")), k)
  }

  /** The stored `vectors` member in the working corpus form
    * (neighbor_id, ce, cn): the double cast is exact and cn is the
    * stored norm. */
  private def storedCorpus(vectors: DataFrame): DataFrame =
    vectors.select(col("neighbor_id"),
      Vectors.asDouble(col("embedding")).as("ce"), col("cn"))
}

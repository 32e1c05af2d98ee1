package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with a held-out evaluation corpus (the overlap rule used
  * to scrub eval leakage from web-scale training sets — n-gram overlap
  * in the C4/GPT-3 style, Raffel et al. 2020 §2.3; Brown et al. 2020
  * appendix C).
  *
  * Scale: the eval side is benchmarks — tiny versus the corpus — so its
  * distinct shingle set is broadcast; the training side is then a
  * map-only explode + broadcast-hash-join + one per-doc aggregation.
  * The corpus is never shuffled by shingle against itself (that's the
  * dedup family's job); cost is O(corpus tokens) + O(eval shingles).
  */
object Decontaminate {

  /** One (doc_id, s) row per shared shingle — the stateless probe
    * shared by the batch aggregation below and the streaming leg
    * ([[graft.streaming.CurationStream.contamFlagStream]]): the eval
    * side broadcasts, the doc side is a map-only explode + join. */
  def shingleHits(docs: DataFrame, eval: DataFrame,
                  id: Column, text: Column, evalText: Column,
                  n: Int = 5): DataFrame = {
    val evalShingles = broadcast(
      eval.select(explode(TextDedup.shingles(evalText, n)).as("s")).distinct())
    docs.select(id.as("doc_id"), explode(TextDedup.shingles(text, n)).as("s"))
      .join(evalShingles, "s")
  }

  /** (doc_id, n_shared) for every training doc sharing ≥1 n-gram with
    * the eval corpus; clean docs don't appear. `n_shared` counts
    * distinct shared shingles (shingle sets are distinct per doc). */
  def contaminatedDocs(train: DataFrame, eval: DataFrame,
                       id: Column, text: Column, n: Int = 5): DataFrame =
    shingleHits(train, eval, id, text, text, n)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))

  /** Graded contamination: per training doc, the FRACTION of its
    * distinct word n-grams present in the eval corpus — the
    * severity-scored form of [[contaminatedDocs]]'s boolean flag (the
    * WMT/GPT-3 "dirtiness" measure that separates a quoted sentence
    * from a wholesale copy, so the scrub threshold becomes a policy
    * knob instead of any-overlap). Same broadcast-probe plan: map-only
    * explode, broadcast eval set, LEFT join so clean shingles still
    * count in the denominator, one per-doc aggregation. Docs too short
    * to have any n-gram emit no row. */
  def overlapFractions(train: DataFrame, eval: DataFrame,
                       id: Column, text: Column, n: Int = 5): DataFrame = {
    val evalShingles = broadcast(
      eval.select(explode(TextDedup.shingles(text, n)).as("s")).distinct()
        .withColumn("__hit", lit(1L)))
    train.select(id.as("doc_id"), explode(TextDedup.shingles(text, n)).as("s"))
      .join(evalShingles, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_shared"))
      .withColumn("overlap_frac",
        // §6 quantizer (Quantize scaladoc): engine-identical at the
        // half boundary, unlike round(double, n)
        graft.functions.Quantize.qdp(
          col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** The decontaminated corpus: training docs minus contaminated ones
    * (one left_anti on the flagged id set; `idName` is the train-side
    * id column). */
  def applyFilter(train: DataFrame, eval: DataFrame,
                  idName: String, text: Column, n: Int = 5): DataFrame =
    train.join(
      contaminatedDocs(train, eval, col(idName), text, n)
        .select(col("doc_id").as(idName)),
      Seq(idName), "left_anti")

  // bloom positions come from per-bit-seeded xxhash64 — the positions
  // are INTERNAL only (the exact verify join makes the output exact,
  // so no external engine ever reproduces them), which frees them from
  // the md5 discipline the oracle-visible hashes follow: xxhash64 is
  // codegen'd and an order of magnitude cheaper than an md5 per
  // corpus shingle (profiled: the md5 probe dominated t6b's runtime)
  private val MaxBloomHashes = 5

  /** Eval-side leakage report — the REVERSE direction of
    * [[contaminatedDocs]] (that flags which TRAINING docs to scrub;
    * this tells the benchmark owner which EVAL items are already
    * compromised and how broadly): per eval doc, the number of
    * distinct training docs sharing any word n-gram with it and the
    * number of distinct shared n-grams. An eval item leaked into
    * thousands of training docs is dead for measurement even after a
    * scrub — memorization pressure came from everywhere (the GPT-3
    * appendix-C reporting direction).
    *
    * Same broadcast-probe plan as the forward leg, keeping the eval id
    * on the broadcast side: corpus-sized work stays one map-only
    * explode + broadcast join; the double distinct-count aggregates
    * (hits-sized, not corpus-sized) rows. */
  def evalLeakage(train: DataFrame, eval: DataFrame,
                  trainId: Column, evalId: Column, text: Column,
                  n: Int = 5): DataFrame = {
    val es = broadcast(eval.select(evalId.as("eval_id"),
      explode(TextDedup.shingles(text, n)).as("s")).distinct())
    train.select(trainId.as("train_id"),
        explode(TextDedup.shingles(text, n)).as("s"))
      .join(es, "s")
      .groupBy("eval_id")
      .agg(count_distinct(col("train_id")).as("n_train_docs"),
        count_distinct(col("s")).as("n_shared_shingles"))
  }

  /** [[contaminatedDocs]] for LARGE eval corpora — identical output,
    * bloom-pre-filtered plan.
    *
    * [[shingleHits]] broadcasts the eval shingle set raw, which stops
    * working once "eval" is every benchmark suite at once (hundreds of
    * millions of shingles — gigabytes per executor). Here the eval set
    * is summarized as a Bloom bitset of `bits` bits (`bits/8` bytes —
    * 128 KiB at the 2^20 default — as a broadcast (word, mask) table,
    * built with one map-side-combined aggregation over eval shingles).
    * Training shingles probe the bitset map-only — one broadcast-hash
    * lookup per probe bit, chained, so a shingle survives only if all
    * `hashes` bits are set and the corpus NEVER explodes or shuffles
    * during filtering (the earlier posexplode + groupBy("doc_id","s")
    * formulation paid a corpus-shingle-sized shuffle just to AND the
    * bits; measured 1.7s vs t6's 0.3s at sf0.1 for it). Survivors
    * (true hits + the Bloom false-positive rate ~(1-e^{-kn/m})^k of
    * |train shingles|) are then verified with an EXACT join against
    * the eval shingle set — so false positives are eliminated and the
    * output is bit-identical to [[contaminatedDocs]], but the
    * eval-side join now sees only the pre-filtered sliver instead of
    * every training shingle. Cost: O(train tokens) map work + one
    * keyed join of the candidate sliver; the full corpus never
    * shuffles.
    */
  def bloomContaminatedDocs(train: DataFrame, eval: DataFrame,
                            id: Column, text: Column, n: Int = 5,
                            bits: Int = 1 << 20, hashes: Int = 3): DataFrame = {
    require(hashes >= 1 && hashes <= MaxBloomHashes, s"1..$MaxBloomHashes hashes")
    require(bits >= 64 && (bits & (bits - 1)) == 0, "bits must be a power of two >= 64")
    def position(s: Column, i: Int): Column =
      pmod(xxhash64(lit(i), s), lit(bits.toLong))
    def word(p: Column): Column = floor(p / 64).cast("long")
    // single-bit mask for a bound column named p: 1L << (p % 64). The
    // SQL form because only it takes a COLUMN shift amount (the Scala
    // functions overload is literal-only)
    val maskOfP = expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")

    // read twice (bloom build + exact verify) — cached; the caller
    // owns its lifetime (graft.Caching)
    val evalSh = graft.Caching.persisted(
      eval.select(explode(TextDedup.shingles(text, n)).as("s")).distinct())
    // built once and cached (it feeds one broadcast per probe bit);
    // bounded by bits/64 rows regardless of eval size
    val bloom = graft.Caching.persisted(evalSh
      .select(explode(array((0 until hashes).map(i =>
        position(col("s"), i)): _*)).as("p"))
      .select(word(col("p")).as("word"), maskOfP.as("m"))
      .groupBy("word").agg(expr("bit_or(m)").as("mask")))

    // probe all `hashes` bits with one broadcast-hash lookup each —
    // an absent word means bit unset, so the inner join itself prunes;
    // the train side never explodes (each probe evaluates its own
    // seeded xxhash64 on the shingle and adds columns) and NOTHING
    // shuffles until the exact verify sees the surviving sliver
    val probe0 = train
      .select(id.as("doc_id"), explode(TextDedup.shingles(text, n)).as("s"))
    val candidates = (0 until hashes).foldLeft(probe0) { (probe, i) =>
      val p = position(col("s"), i)
      probe
        .withColumn("p", p)
        .withColumn(s"__m$i", maskOfP)
        .withColumn(s"__w$i", word(col("p")))
        .drop("p")
        .join(broadcast(bloom.select(col("word").as(s"__w$i"),
          col("mask").as(s"__mask$i"))), Seq(s"__w$i"))
        .filter((col(s"__mask$i").bitwiseAND(col(s"__m$i"))) =!= 0)
    }.select("doc_id", "s")

    candidates.join(evalSh, "s") // exact verify: Bloom FPs die here
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }
}

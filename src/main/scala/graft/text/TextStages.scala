package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{Hashing, WordShingles}
import graft.functions.Quantize.qdp

/** The text-statistics stages, each defined once; [[TextAnalysis]],
  * [[Dsir]], [[NaiveBayes]], [[Search]], the dedup shingles and the
  * streaming twins compose them. Where hand copies differed only in
  * plan shape, the benchmarked one (BM25's postings) was kept; where
  * the oracle pins different arithmetic per key (t13's decimal mean),
  * that key keeps its own.
  */
private[graft] object TextStages {

  /** (key…, term, n): one explode of the `terms` array, one
    * map-side-combined count per distinct (key…, term). `keys` are
    * aliased columns; none counts corpus-wide. */
  def termCounts(df: DataFrame, keys: Seq[Column], terms: Column, n: String,
                 term: String = "token"): DataFrame = {
    val exploded = df.select(keys :+ explode(terms).as(term): _*)
    exploded.groupBy(exploded.columns.head, exploded.columns.toIndexedSeq.tail: _*)
      .agg(count(lit(1)).as(n))
  }

  /** Adjacent "w1 w2" bigrams of a token array, in order, not distinct;
    * empty below two tokens. */
  def bigrams(tk: Column): Column =
    when(size(tk) >= 2,
      zip_with(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))

  /** The corpus bigram model on (doc_id, bigram, tf) rows: `c2` the
    * bigram's count, `c1` its left word `w1`'s count as a context, `w2`
    * its right word. */
  def bigramModel(tf: DataFrame): DataFrame = {
    val c2 = tf.groupBy("bigram").agg(sum(col("tf")).as("c2"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    tf.join(c2, "bigram").join(c2.groupBy("w1").agg(sum(col("c2")).as("c1")), "w1")
  }

  /** Per-doc (doc_id, n, mean_surprisal) of (doc_id, tf, surp) rows:
    * tf·surp summed as DECIMAL(28,12), divided in double, §6-quantized. */
  def meanSurprisal(scored: DataFrame, n: String): DataFrame =
    scored.groupBy("doc_id").agg(
      sum(col("tf")).cast("long").as(n),
      qdp(sum((col("tf") * col("surp")).cast(DecimalType(28, 12))).cast(DoubleType)
        / sum(col("tf")), 6).as("mean_surprisal"))

  /** A term's bucket on the fixed hashed grid. */
  def bucketOf(term: Column, buckets: Int): Column = Hashing.h32(term) % buckets

  /** (key…, bucket, c, n): hashed term counts densified over
    * [0, buckets) per key group, `n` the total mass of all groups as a
    * one-row scalar subquery. Grouped counts persist (the group list,
    * the dense join and the total read them; the caller owns the
    * cache). */
  def gridCounts(df: DataFrame, keys: Seq[Column], terms: Column,
                 buckets: Int): DataFrame = {
    val exploded = df.select(keys :+ explode(terms).as("token"): _*)
    val groups = exploded.columns.init.toSeq
    val sparse = exploded
      .select(groups.map(col) :+ bucketOf(col("token"), buckets).as("bucket"): _*)
      .groupBy((groups :+ "bucket").map(col): _*).agg(count(lit(1)).as("c"))
    val counts = if (groups.isEmpty) sparse else graft.Caching.persisted(sparse)
    val grid = df.sparkSession.range(buckets).select(col("id").as("bucket"))
    (if (groups.isEmpty) grid
      else counts.select(groups.map(col): _*).distinct().crossJoin(broadcast(grid)))
      .join(counts, groups :+ "bucket", "left").na.fill(0L, Seq("c"))
      .withColumn("n", counts.agg(coalesce(sum("c"), lit(0L))).scalar())
  }

  /** Add-one probability (c + 1) / (n + b) over `b` outcomes. */
  def addOne(c: Column, n: Column, b: Column): Column = (c + lit(1.0)) / (n + b)

  /** [[addOne]]'s ln, 9-dp (absorbing engines' libm ulp differences). */
  def addOneLogp(c: Column, n: Column, b: Column): Column = round(log(addOne(c, n, b)), 9)

  /** (key…, n_tokens, kl_bits): KL(p ‖ q) in bits per key group, `n`
    * the group's token mass. Terms p·log2(p/q) round to 9 dp and sum as
    * DECIMAL(38,9) (order-independent); the total rounds to 6 dp in
    * decimal space, then casts (decimals round half away from zero in
    * Spark and DuckDB alike; a half-boundary double does not). */
  def klBits(dense: DataFrame, keys: Seq[String], p: Column, q: Column,
             n: Column): DataFrame =
    dense.withColumn("term", round(p * log2(p / q), 9).cast(DecimalType(38, 9)))
      .groupBy(keys.map(col): _*)
      .agg(max(n).as("n_tokens"), round(sum(col("term")), 6).cast(DoubleType).as("kl_bits"))

  /** Distinct word `n`-gram shingles of the lowercased text: the
    * codegen'd [[graft.functions.WordShingles]] kernel. */
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-local synthetic corpus generator for the scaling experiment
  * (SCALING.md): the driver's testdata is read-only and capped at
  * sf0.1, so the only way to MEASURE the repo's 100 TB claims beyond
  * plan shape is to generate larger corpora of the same shape and
  * bench the headline scale stories at several sizes.
  *
  * Tables mimic the driver testdata's observed shape (TESTDATA.md;
  * sf0.1 = 5,000 docs / 2,000 vectors) so every `SparkEntry.queries`
  * entry runs unchanged against a generated dir:
  *
  *  - `documents`  (doc_id, text, lang, source, n_chars): word-salad
  *    text over a ~40-word vocabulary (including the Bm25Queries
  *    terms), 5 langs with an en-heavy mix, 20 sources, and ~1/17 of
  *    docs being 2-word-mutated near-dups of their predecessor — so
  *    the dedup family has real work at every size.
  *  - `embeddings` (vec_id, embedding FLOAT[64], label): 16 cluster
  *    centers + per-vector noise, so ANN probes have real structure.
  *  - `skew_fact` (key, rid, amount) / `skew_dim` (key, attr): a
  *    deliberately hot-keyed fact (~60% of rows on key 0, remainder
  *    over 1k keys) for the salted-vs-plain agg/join story.
  *  - `events` (event_id, ts, user_id, event_type, value, props):
  *    the driver testdata's event-log shape for the event-analytics
  *    curves; growth adds users at constant per-user activity.
  *
  * Everything is a DETERMINISTIC function of the row id via `hash` —
  * no rand(), no timestamps — so any size regenerates bit-identically
  * and re-runs are comparable.
  *
  * Usage: `runMain graft.tools.ScaleGen <outRoot> <mult...>` writes
  * `<outRoot>/x<mult>/{documents,embeddings,skew_fact,skew_dim}.parquet`
  * with sizes (5000, 2000, 200000) × mult.
  */
object ScaleGen {

  // the Bm25Queries terms (spark window agg customer query scan vector
  // stream) must appear so e8c probes score real hits at every size
  val Vocab: Seq[String] = Seq(
    "spark", "window", "agg", "customer", "query", "scan", "vector",
    "stream", "batch", "part", "line", "column", "order", "small",
    "sort", "fast", "value", "hash", "slow", "group", "table", "key",
    "filter", "join", "the", "a", "index", "merge", "shuffle",
    "broadcast", "parquet", "schema", "row", "plan", "cache", "skew",
    "salt", "bucket", "probe", "token")

  val BaseDocs = 5000L
  val BaseVecs = 2000L
  val BaseFact = 200000L
  val BaseEvents = 100000L
  val BaseUsers = 1500L

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val langs = array(Seq("en", "en", "en", "fr", "de", "es", "zh").map(lit): _*)
    spark.range(0L, n, 1L, 32).select(col("id").as("doc_id"))
      // ~1/17 of docs copy their predecessor's content (near-dup pair)
      .withColumn("cid",
        when(col("doc_id") % 17 === 0 && col("doc_id") > 0, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("len", pmod(hash(col("cid") * 7 + 1), lit(80)) + lit(40))
      // Heaps-law-ish lexical structure: ~60% common words from the
      // fixed vocabulary (these produce the VIRAL shingles whose df
      // grows with corpus size) and ~40% rare content words from a
      // 50k-type space (these keep most shingles rare at any size —
      // the document-frequency distribution natural text actually
      // has). An all-common word salad makes EVERY shingle's df grow
      // linearly with the corpus, which no crawl corpus does, and
      // falsely kills any df-capped candidate generation.
      .withColumn("words", transform(sequence(lit(0), col("len") - 1),
        i => when(pmod(hash(col("cid"), i, lit(9)), lit(10)) < 6,
          element_at(vocab,
            pmod(hash(col("cid"), i), lit(Vocab.size)).cast("int") + 1))
          .otherwise(concat(lit("w"),
            pmod(hash(col("cid"), i, lit(11)), lit(50000))))))
      // near-dups mutate 2 deterministic positions so jaccard < 1
      .withColumn("words",
        when(col("cid") =!= col("doc_id"),
          zip_with(col("words"), sequence(lit(0), col("len") - 1),
            (w, i) => when(
              i === pmod(hash(col("doc_id"), lit(1)), col("len")) ||
              i === pmod(hash(col("doc_id"), lit(2)), col("len")),
              concat(lit("mut"), pmod(hash(col("doc_id"), i), lit(7))))
              .otherwise(w)))
          .otherwise(col("words")))
      .withColumn("text", array_join(col("words"), " "))
      .withColumn("lang", element_at(langs,
        pmod(hash(col("doc_id") + 13), lit(7)).cast("int") + 1))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, m: Long): DataFrame =
    spark.range(0L, m, 1L, 32).select(col("id").as("vec_id"))
      .withColumn("label", pmod(hash(col("vec_id") * 31 + 7), lit(16)).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        ((pmod(hash(col("label"), d), lit(2000)) - 1000).cast("double") / 1000.0
          + (pmod(hash(col("vec_id"), d, lit(1)), lit(400)) - 200)
            .cast("double") / 1000.0).cast("float")))
      .select("vec_id", "embedding", "label")

  /** Event log mimicking the driver testdata's `events` shape (5 event
    * types, ~67 events/user over a 30-day span): growth adds USERS at
    * constant per-user activity — the realistic fan-in model, so the
    * event-analytics curves (g17/g32/g18/g31) measure corpus growth,
    * not per-user timeline growth. Uniform hash-drawn types/times give
    * every funnel step real survivors at any size. */
  def events(spark: SparkSession, n: Long, users: Long): DataFrame = {
    val types = array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*)
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    spark.range(0L, n, 1L, 32).select(col("id").as("event_id"))
      .withColumn("user_id",
        pmod(hash(col("event_id") * 13 + 3), lit(users)).cast("long"))
      .withColumn("event_type", element_at(types,
        pmod(hash(col("event_id"), lit(5)), lit(5)).cast("int") + 1))
      .withColumn("ts", timestamp_micros(lit(baseUs) +
        pmod(hash(col("event_id"), lit(7)), lit(2592000)).cast("long") * 1000000L +
        pmod(hash(col("event_id"), lit(8)), lit(1000000)).cast("long")))
      .withColumn("value",
        pmod(hash(col("event_id"), lit(9)), lit(10000)).cast("double") / 100.0)
      .withColumn("props",
        concat(lit("{\"p\":"), pmod(col("event_id"), lit(7)), lit("}")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** ~60% of rows land on key 0; the rest spread over 1k keys. */
  def skewFact(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, 32)
      .withColumn("key",
        when(pmod(hash(col("id") + 5), lit(100)) < 60, lit(0L))
          .otherwise(pmod(hash(col("id") * 3 + 1), lit(1000)).cast("long")))
      .withColumn("amount",
        pmod(hash(col("id"), lit(2)), lit(10000)).cast("double") / 100.0)
      .select(col("key"), col("id").as("rid"), col("amount"))

  def skewDim(spark: SparkSession): DataFrame =
    spark.range(0L, 1000L, 1L, 4)
      .select(col("id").as("key"),
        concat(lit("attr"), pmod(col("id"), lit(7))).as("attr"))

  def writeAll(spark: SparkSession, root: String, mult: Int): Unit = {
    val dir = s"$root/x$mult"
    documents(spark, BaseDocs * mult).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, BaseVecs * mult).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    skewFact(spark, BaseFact * mult).repartition(16)
      .write.mode("overwrite").parquet(s"$dir/skew_fact.parquet")
    skewDim(spark).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/skew_dim.parquet")
    events(spark, BaseEvents * mult, BaseUsers * mult).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_scale")
    val mults = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 5, 10)
    val spark = graft.GraftSession.local(graft.GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    mults.foreach { m =>
      writeAll(spark, root, m)
      println(s"[scalegen] wrote $root/x$m (docs=${BaseDocs * m}, " +
        s"vecs=${BaseVecs * m}, fact=${BaseFact * m}, " +
        s"events=${BaseEvents * m})")
    }
    spark.stop()
  }
}

package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ann.AnnIndex
import graft.dedup.{Banding, TextDedup}
import graft.sources.{BucketedStore, Tables}
import graft.text.Search
import graft.tools.ScaleGen

/** What a workload runs against: `inputDir` holds the parquet tables
  * the program reads. */
final case class Ctx(spark: SparkSession, seed: Long, runDir: String,
                     inputDir: String)

trait Workload {
  def name: String
  /** Generates the inputs, when the workload has generated ones; part of
    * set-up, and the session's first Spark jobs. */
  def prepare(c: Ctx): Map[String, Double] = Map.empty
  /** Untimed ops before the measured section; part of set-up. */
  def warmUp(c: Ctx, h: Harness): Unit = ()
  /** One pass of measured ops. */
  def pass(c: Ctx, h: Harness): Unit
  /** Self-contained ops a traced run replays untraced, traced and
    * untraced again, to measure the tracing overhead; a few seconds' worth,
    * so that the three replays fit a traced run's time limit. */
  def replay(c: Ctx, h: Harness): Unit
}

object Workload {
  val All: Seq[Workload] = Seq(BiSf01, LlmX1)

  def apply(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name"))
}

/** The analyst traffic over the fixed sf0.1 tables: every eighth of the
  * 81 bronze, silver, gold/semantic-model, `st*`, `m*` and
  * `p1_medallion` keys in name order, plus the MERGE writes beside the
  * reads, in a fixed order. One untimed pass over the same keys warms
  * the JIT and the codegen cache first, so the measured passes see a
  * warm session, as `graft.Bench`'s minimum over passes does. The
  * measured pass still warms as it goes (its first ops run about 1.2×
  * their median, its last about 0.86×), so a seeded order would move
  * each key's time with its place; see perfbench/README.md. */
object BiSf01 extends Workload {
  val name = "bi_sf01"
  private val Family = "^(b|s|g|st|m)\\d|^p1_".r
  val Writes = Seq("p1_medallion", "b5_merge_upsert", "g3_conditional_upsert")

  /** All 81 keys of the families. */
  def family: Seq[String] =
    SparkEntry.queries.keys.filter(k => Family.findPrefixOf(k).nonEmpty).toSeq.sorted

  def keys: Seq[String] =
    (family.zipWithIndex.collect { case (k, i) if i % 8 == 0 => k } ++ Writes).distinct

  def familyOf(key: String): String = "^[a-z]+".r.findFirstIn(key).get

  override def warmUp(c: Ctx, h: Harness): Unit = pass(c, h)

  def pass(c: Ctx, h: Harness): Unit = run(c, h, keys)

  /** The first six reads in name order. */
  def replay(c: Ctx, h: Harness): Unit = run(c, h, keys.filterNot(Writes.contains).take(6))

  private def run(c: Ctx, h: Harness, ks: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    ks.foreach { k =>
      h.frame(k, "query", familyOf(k), k,
        check = if (oracle.contains(k)) "oracle" else "rows") {
        SparkEntry.queries(k)(c.spark, c.inputDir)
      }
    }
  }
}

/** The seeded corpus of the LLM-data workload: ScaleGen's documents
  * and embeddings generators at the sf0.1 shape (5,000 docs, 2,000
  * vectors), over one of [[Corpus.Windows]] id windows the seed picks,
  * renumbered from 0 so the keys' id-range splits apply. */
object Corpus {
  val Docs: Long = ScaleGen.BaseDocs
  val Vecs: Long = ScaleGen.BaseVecs
  val Windows = 4

  def window(seed: Long): Long = Math.floorMod(seed, Windows.toLong)

  def generate(c: Ctx): Map[String, Double] = {
    val s = c.spark
    val w = window(c.seed)
    ScaleGen.documents(s, (w + 1) * Docs)
      .filter(col("doc_id") >= w * Docs).withColumn("doc_id", col("doc_id") - w * Docs)
      .repartition(8).write.parquet(s"${c.inputDir}/documents.parquet")
    ScaleGen.embeddings(s, (w + 1) * Vecs)
      .filter(col("vec_id") >= w * Vecs).withColumn("vec_id", col("vec_id") - w * Vecs)
      .repartition(8).write.parquet(s"${c.inputDir}/embeddings.parquet")
    Map("window" -> w.toDouble, "docs" -> Docs.toDouble, "vectors" -> Vecs.toDouble)
  }
}

/** The LLM-data traffic over the seeded corpus, in one fresh driver:
  * the curation batch jobs, then the index lifecycle. */
object LlmX1 extends Workload {
  val name = "llm_x1"

  override def prepare(c: Ctx): Map[String, Double] = Corpus.generate(c)

  def pass(c: Ctx, h: Harness): Unit = {
    Curation.run(c, h)
    IndexLifecycle.run(c, h)
  }

  /** The LSH dedup pipeline. */
  def replay(c: Ctx, h: Harness): Unit = Curation.run(c, h, Curation.Pipelines.takeRight(1))
}

/** The batch part: three curation and dedup pipelines, each timed as one
  * call of the library function it wraps. */
object Curation {
  /** key -> per-call metric it feeds. */
  val Pipelines: Seq[(String, String)] = Seq(
    "c1_curate" -> "LlmCuration.run_s",
    "d2b_ngram_jaccard_capped" -> "dedup.ngram_pairs_s",
    "d3b_tuned_lsh" -> "dedup.operating_report_s")

  def run(c: Ctx, h: Harness, pipelines: Seq[(String, String)] = Pipelines): Unit =
    pipelines.foreach { case (k, call) =>
      h.frame(k, "pipeline", call, k)(SparkEntry.queries(k)(c.spark, c.inputDir))
    }
}

/** The index part, writes beside reads on one store: an ANN index
  * (e6's build and MERGE, e11b's filtered probe, e6c's delete) and a
  * BM25 index (e8b, e8d) rebuilt from their public calls, steady-state
  * probes of both between the MERGE and the deletes, and d8b's bucketed
  * dedup reband. Every call is timed; each sequence's probe is checked
  * against its key's oracle, and every steady-state probe against that
  * checked output. */
object IndexLifecycle {
  val Probes = 9
  private val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "kw1" -> Seq("spark", "window", "agg"),
    "kw2" -> Seq("customer", "query", "scan"),
    "kw3" -> Seq("vector", "stream"))
  val CommitKinds = Set("ann.write", "ann.update", "ann.delete",
    "text.bm25_write", "text.bm25_update", "text.bm25_delete",
    "dedup.write", "dedup.reband")
  val SteadyProbe = "steady"
  val Ann = "pb_ann"
  val Bm25 = "pb_bm25"
  val Dedup = "pb_d8b"

  /** Runs after every commit (the traced run counts store members). */
  var onCommit: String => Unit = _ => ()

  private def commit(h: Harness, kind: String, store: String)(body: => Any): Unit = {
    h.call(s"$store:$kind", kind, store)(body)
    onCommit(store)
  }

  def run(c: Ctx, h: Harness): Unit = {
    val s = c.spark
    AnnIndex.drop(s, Ann)
    Search.dropIndex(s, Bm25)
    TextDedup.dropDedupIndexBucketed(s, Dedup)
    val v = Tables.load(s, c.inputDir, "embeddings")
    val docs = Tables.load(s, c.inputDir, "documents")
    val q = v.filter(col("vec_id") < 10)
    def topK() =
      AnnIndex.topK(s, Ann, q, k = 5).withColumnRenamed("rank", "rnk")
    def topKFiltered() =
      AnnIndex.topKFiltered(s, Ann, q, Seq("label"), k = 5).withColumnRenamed("rank", "rnk")
    def bm25() = Search.probeIndex(s, Bm25, Bm25Queries, k = 5)

    commit(h, "ann.write", Ann)(AnnIndex.write(v.filter(col("vec_id") >= 110), Ann,
      buckets = 8, metaCols = Seq("label")))
    commit(h, "ann.update", Ann)(AnnIndex.update(
      v.filter(col("vec_id") >= 10 && col("vec_id") < 110), Ann, buckets = 8))
    val e6 = h.frame("e6_ann_index", "ann.probe", Ann, "e6_ann_index")(topK())
    val e11b = h.frame("e11b_filtered_ann", "ann.probe", Ann, "e11b_filtered_ann")(
      topKFiltered())

    commit(h, "text.bm25_write", Bm25)(Search.writeIndex(
      docs.filter(col("doc_id") >= 110), col("doc_id"), col("text"), Bm25, buckets = 8))
    commit(h, "text.bm25_update", Bm25)(Search.updateIndex(
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 110), col("doc_id"),
      col("text"), Bm25, buckets = 8))
    val e8b = h.frame("e8b_bm25_indexed", "text.bm25_probe", Bm25, "e8b_bm25_indexed")(bm25())

    val steady: Seq[(String, String, () => DataFrame, Seq[String])] = Seq(
      ("ann.probe", Ann, () => topK(), e6),
      ("ann.probe", Ann, () => topKFiltered(), e11b),
      ("text.bm25_probe", Bm25, () => bm25(), e8b)).map { case (kind, store, f, out) =>
        (kind, store, f, scala.util.Try(Harness.canonical(s.read.parquet(out).collect()))
          .getOrElse(Seq("<unreadable checked output>")))
      }
    (0 until Probes).foreach { i =>
      val (kind, store, f, expected) = steady(i % steady.size)
      h.probe(s"$store:$SteadyProbe", kind, SteadyProbe, expected)(f())
    }

    commit(h, "ann.delete", Ann)(AnnIndex.delete(
      v.filter(col("vec_id") >= 10 && col("vec_id") % 9 === 0).select("vec_id"),
      Ann, buckets = 8))
    h.frame("e6c_ann_delete", "ann.probe", Ann, "e6c_ann_delete")(topK())
    commit(h, "text.bm25_delete", Bm25)(Search.deleteFromIndex(
      docs.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0).select("doc_id"),
      Bm25, buckets = 8))
    h.frame("e8d_bm25_delete", "text.bm25_probe", Bm25, "e8d_bm25_delete")(bm25())

    d8bReband(c, docs, h)
  }

  /** d8b's retune scenario from its public calls: build the even-id
    * corpus's bucketed dedup index, reset it to the tuned recall plan,
    * probe with the odd-id batch, reband to the candidate budget, probe
    * again, and emit the key's one-row decision frame. */
  private def d8bReband(c: Ctx, docs: DataFrame, h: Harness): Unit = {
    val s = c.spark
    import s.implicits._
    val n = Dedup
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val plan = Banding.tune(0.1, maxK = 16)
    def pairs(): Long = TextDedup.minHashLshPairsAgainstBucketedIndex(
      s, n, batch, col("doc_id"), col("text"), 0.1).count()
    commit(h, "dedup.write", n)(
      TextDedup.writeDedupIndexBucketed(corpus, col("doc_id"), col("text"), n, buckets = 8))
    commit(h, "dedup.reband", n)(
      TextDedup.rebandDedupIndexBucketed(s, n, plan.bands, plan.rowsPerBand, buckets = 8))
    var before = -1L
    h.call(s"$n:probe", "dedup.probe", n) { before = pairs() }
    var result: (Banding.Choice, Option[Int]) = null
    commit(h, "dedup.reband", n) {
      result = TextDedup.rebandToBudget(s, n, 0.1,
        Seq(("default", 4, 4), ("tuned", plan.bands, plan.rowsPerBand)),
        maxCandidatesPerPair = 10.0, buckets = 8)
    }
    var after = before
    if (result != null && result._2.nonEmpty)
      h.call(s"$n:probe", "dedup.probe", n) { after = pairs() }
    h.frame("d8b_retune_maintain", "dedup.report", n, "d8b_retune_maintain") {
      val (outcome, newV) = result
      val vAfter = TextDedup.currentBucketedVersion(s, n).get
      val (afterB, afterR) = TextDedup.committedPlan(s, n, vAfter)
      val (outName, op) = outcome match {
        case Banding.Chosen(o) => ("chosen", Some(o))
        case Banding.NoPairs => ("no_pairs", None)
        case Banding.OverBudget => ("over_budget", None)
      }
      Seq((plan.bands, plan.rowsPerBand, outName,
        op.map(_.config), op.map(_.bands), op.map(_.rowsPerBand),
        newV.nonEmpty, afterB, afterR, before, after))
        .toDF("committed_bands", "committed_rows", "outcome",
          "chosen_config", "chosen_bands", "chosen_rows",
          "rebanded", "plan_after_bands", "plan_after_rows",
          "pairs_before", "pairs_after")
    }
  }

  /** (rewritten member tables, carried member views) of `store`'s
    * current version. */
  def members(s: SparkSession, store: String): (Int, Int) =
    BucketedStore.currentVersion(s, store) match {
      case None => (0, 0)
      case Some(v) =>
        val rows = s.catalog.listTables().collect()
          .filter(t => t.name.startsWith(store + "_") && t.name.endsWith(s"_v$v"))
        (rows.count(_.tableType != "VIEW"), rows.count(_.tableType == "VIEW"))
    }
}

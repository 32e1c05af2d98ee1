package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.sources.BucketedStore
import graft.text.Search

/** Persisted BM25 inverted index ([[Search.writeIndex]]/
  * [[Search.updateIndex]]/[[Search.probeIndex]]) — the lexical twin of
  * AnnIndexSpec: probe == in-memory pipeline, exact stats maintenance
  * across updates and re-ingests, exchange-free bucketed probe plan. */
class SearchIndexSpec extends SparkSpec {

  private lazy val docs = table("documents")
  private val Q = Seq("q1" -> Seq("spark", "window", "agg"),
    "q2" -> Seq("customer", "query"))

  override def afterAll(): Unit = {
    try { Search.dropIndex(spark, "bix"); Search.dropIndex(spark, "bre") }
    finally super.afterAll()
  }

  test("delete subtracts a doc set exactly: probe equals a fresh build of survivors") {
    Search.dropIndex(spark, "bdel"); Search.dropIndex(spark, "bfre")
    try {
      val dels = docs.filter(col("doc_id") >= 10 && col("doc_id") % 7 === 0)
        .select("doc_id")
      Search.writeIndex(docs.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "bdel", buckets = 2)
      Search.updateIndex(docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), "bdel", buckets = 2)
      assert(Search.deleteFromIndex(dels, "bdel", buckets = 2) == 2)
      Search.writeIndex(
        docs.filter(col("doc_id") >= 10 && col("doc_id") % 7 =!= 0),
        col("doc_id"), col("text"), "bfre", buckets = 2)
      val got = Search.probeIndex(spark, "bdel", Q, k = 5)
        .collect().map(_.toString).sorted
      val fresh = Search.probeIndex(spark, "bfre", Q, k = 5)
        .collect().map(_.toString).sorted
      assert(got.sameElements(fresh),
        "delete must score identically to a fresh build of the survivors")
      // member-table state matches the fresh build bit for bit
      Seq("termstats", "stats").foreach { t =>
        val a = spark.table(s"bdel_$t").collect().map(_.toString).sorted
        val b = spark.table(s"bfre_$t").collect().map(_.toString).sorted
        assert(a.sameElements(b), s"$t diverged from the fresh build")
      }
      // the deleted ids are really gone from the data plane
      assert(spark.table("bdel_postings")
        .join(dels, Seq("doc_id")).count() == 0)
    } finally {
      Search.dropIndex(spark, "bdel"); Search.dropIndex(spark, "bfre")
    }
  }

  test("filtered probe: all-admitting == plain; mixed fields never cross") {
    import spark.implicits._
    Search.dropIndex(spark, "bflt")
    try {
      // lang derives from doc_id so update/delete coherence is checkable
      val base = docs.withColumn("lang",
        concat(lit("l"), col("doc_id") % 3))
      Search.writeIndex(base.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "bflt", buckets = 2, metaCols = Seq("lang"))
      Search.updateIndex(base.filter(col("doc_id") >= 10 && col("doc_id") < 110),
        col("doc_id"), col("text"), "bflt", buckets = 2)
      // 1) a filter value covering EVERY doc: identical to the plain
      // probe (global stats — the filter only gates matches)
      val allL = base.withColumn("lang", lit("all"))
      Search.dropIndex(spark, "ball")
      Search.writeIndex(allL.filter(col("doc_id") >= 10), col("doc_id"),
        col("text"), "ball", buckets = 2, metaCols = Seq("lang"))
      val qAll = Q.map { case (q, ts) => (q, ts, "all") }
        .toDF("query_id", "terms", "lang")
      val filt = Search.probeIndexFiltered(spark, "ball", qAll,
        Seq("lang"), k = 5).collect().map(_.toString).sorted
      val plain = Search.probeIndex(spark, "ball", Q, k = 5)
        .collect().map(_.toString).sorted
      assert(filt.sameElements(plain),
        "an all-admitting filter must not change scores or ranking")
      // 2) per-query langs: every hit's doc has the query's lang; a
      // delete also leaves the meta member (no resurfacing)
      Search.deleteFromIndex(
        base.filter(col("doc_id") % 11 === 0).select("doc_id"),
        "bflt", buckets = 2)
      val q2 = Q.zipWithIndex.map { case ((q, ts), i) => (q, ts, s"l$i") }
        .toDF("query_id", "terms", "lang")
      val hits = Search.probeIndexFiltered(spark, "bflt", q2, Seq("lang"), k = 5)
      val crossed = hits
        .join(base.select(col("doc_id"), col("lang").as("dlang")), "doc_id")
        .join(q2.select(col("query_id"), col("lang").as("qlang")), "query_id")
        .filter(col("dlang") =!= col("qlang")).count()
      assert(crossed === 0L, "a hit crossed its query's field filter")
      assert(hits.filter(col("doc_id") % 11 === 0).count() === 0L,
        "a deleted id resurfaced through the meta member")
      // probing a meta-less index with a filter fails fast
      Search.dropIndex(spark, "bnometa")
      Search.writeIndex(base.filter(col("doc_id") >= 110), col("doc_id"),
        col("text"), "bnometa", buckets = 2)
      intercept[IllegalArgumentException] {
        Search.probeIndexFiltered(spark, "bnometa", q2, Seq("lang"), k = 5)
      }
    } finally {
      Search.dropIndex(spark, "bflt"); Search.dropIndex(spark, "ball")
      Search.dropIndex(spark, "bnometa")
    }
  }

  test("deleting the full corpus is refused — that lifecycle end is dropIndex") {
    import spark.implicits._
    Search.dropIndex(spark, "bempty")
    try {
      val base = Seq((1L, "apple banana"), (2L, "cherry")).toDF("doc_id", "text")
      Search.writeIndex(base, col("doc_id"), col("text"), "bempty", buckets = 2)
      // committing n_docs=0 would make a later probe's avgdl NULL —
      // refuse, and leave the index exactly as it was
      intercept[IllegalArgumentException] {
        Search.deleteFromIndex(Seq(1L, 2L).toDF("doc_id"), "bempty", buckets = 2)
      }
      assert(BucketedStore.currentVersion(spark, "bempty").contains(0),
        "a refused delete must not commit a version")
      // ...and a partial delete on the same index still works
      assert(Search.deleteFromIndex(Seq(1L).toDF("doc_id"), "bempty",
        buckets = 2) == 1)
      val st = spark.table("bempty_stats").collect()(0)
      assert(st.getLong(0) == 1L, s"survivor count wrong: $st")
    } finally Search.dropIndex(spark, "bempty")
  }

  test("probe after write+update equals the in-memory bm25TopK exactly") {
    Search.dropIndex(spark, "bix")
    assert(Search.writeIndex(docs.filter(col("doc_id") >= 110),
      col("doc_id"), col("text"), "bix", buckets = 4) == 0)
    assert(Search.updateIndex(
      docs.filter(col("doc_id") >= 10 && col("doc_id") < 110),
      col("doc_id"), col("text"), "bix", buckets = 4) == 1)
    val probe = Search.probeIndex(spark, "bix", Q, k = 5)
      .collect().map(_.toString).sorted
    val direct = Search.bm25TopK(docs.filter(col("doc_id") >= 10),
      col("doc_id"), col("text"), Q, k = 5)
      .collect().map(_.toString).sorted
    assert(probe.sameElements(direct),
      "persistence must change where stages run, not what they compute")
    // the probe reads every member at the pinned committed version
    assert(BucketedStore.currentVersion(spark, "bix").contains(1))
    val plan = Search.probeIndex(spark, "bix", Q, k = 5)
      .queryExecution.analyzed.toString
    Seq("postings", "doclen", "termstats", "stats").foreach { t =>
      assert(plan.contains(s"bix_${t}_v1"),
        s"probe does not read bix_${t}_v1:\n$plan")
    }
  }

  test("re-ingest subtracts old contributions: stats stay exact") {
    import spark.implicits._
    Search.dropIndex(spark, "bre")
    val base = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry durian")).toDF("doc_id", "text")
    Search.writeIndex(base, col("doc_id"), col("text"), "bre", buckets = 2)
    // doc 3 re-ingested WITHOUT cherry/durian; doc 4 is new
    val batch = Seq((3L, "banana fig"), (4L, "apple fig"))
      .toDF("doc_id", "text")
    Search.updateIndex(batch, col("doc_id"), col("text"), "bre", buckets = 2)
    val finalCorpus = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "banana fig"), (4L, "apple fig")).toDF("doc_id", "text")
    val qs = Seq("q" -> Seq("apple", "banana", "cherry", "durian", "fig"))
    val probe = Search.probeIndex(spark, "bre", qs, k = 4)
      .collect().map(_.toString).sorted
    val fresh = Search.bm25TopK(finalCorpus, col("doc_id"), col("text"),
      qs, k = 4).collect().map(_.toString).sorted
    assert(probe.sameElements(fresh),
      "update must score identically to a fresh build of the final corpus")
    // durian left the corpus entirely -> its dfn row is gone; cherry
    // lost doc 3 -> dfn back to 1
    val ts = spark.table("bre_termstats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!ts.contains("durian"))
    assert(ts("cherry") == 1L && ts("banana") == 3L && ts("fig") == 2L)
    // corpus stats: 4 docs, total length 3+2+2+2 = 9
    val st = spark.table("bre_stats").collect()(0)
    assert(st.getLong(0) == 4L && st.getLong(1) == 9L)
  }

  test("re-ingest with token-less text removes the doc's old contributions") {
    import spark.implicits._
    Search.dropIndex(spark, "bre")
    val base = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry durian")).toDF("doc_id", "text")
    Search.writeIndex(base, col("doc_id"), col("text"), "bre", buckets = 2)
    // doc 3 re-ingested with whitespace-only text: zero tokens, zero
    // postings — its old postings/stats must STILL be subtracted
    val batch = Seq((3L, "   ")).toDF("doc_id", "text")
    Search.updateIndex(batch, col("doc_id"), col("text"), "bre", buckets = 2)
    val qs = Seq("q" -> Seq("apple", "banana", "cherry", "durian"))
    val probe = Search.probeIndex(spark, "bre", qs, k = 4)
      .collect().map(_.toString).sorted
    // fresh build of the final corpus: doc 3 is token-less -> absent
    val fresh = Search.bm25TopK(
      Seq((1L, "apple banana apple"), (2L, "banana cherry"), (3L, " "))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), qs, k = 4)
      .collect().map(_.toString).sorted
    assert(probe.sameElements(fresh),
      "token-less re-ingest must score like a fresh build without the doc")
    val ts = spark.table("bre_termstats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!ts.contains("durian") && ts("cherry") == 1L,
      s"doc 3's old postings still counted: $ts")
    val st = spark.table("bre_stats").collect()(0)
    assert(st.getLong(0) == 2L && st.getLong(1) == 5L,
      s"corpus stats kept doc 3: $st")
  }

  test("streaming probe: streamed queries equal the batch probe, restart-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // reuses the bix index built by the first test (suite order)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-snap").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bm25-ckpt").toString
    val in = MemoryStream[(String, Seq[String])]
    in.addData(Q.take(1).map { case (q, ts) => (q, ts.toSeq) })
    def start() = graft.streaming.SearchStream.run(
      in.toDF().toDF("query_id", "terms"), "bix", dir, ckpt, k = 5)
    val s1 = start()
    try s1.processAllAvailable() finally s1.stop()
    // restart from the checkpoint with the remaining queries
    in.addData(Q.drop(1).map { case (q, ts) => (q, ts.toSeq) })
    val s2 = start()
    try s2.processAllAvailable() finally s2.stop()
    val got = graft.sources.SnapshotStore.read(spark, dir).get
      .select("query_id", "rank", "doc_id", "score")
      .collect().map(_.toString).sorted
    val batch = Search.probeIndex(spark, "bix", Q, k = 5)
      .collect().map(_.toString).sorted
    assert(got.sameElements(batch),
      "streamed probes across a restart must equal one batch probe")
    // re-submit q1 with a narrower term list: its result set SHRINKS,
    // and the group-replace merge must not leave stale tail ranks
    val Qn = Seq("q1" -> Seq("spark"))
    in.addData(Qn.map { case (q, ts) => (q, ts.toSeq) })
    val s3 = start()
    try s3.processAllAvailable() finally s3.stop()
    val reGot = graft.sources.SnapshotStore.read(spark, dir).get
      .filter(col("query_id") === "q1")
      .select("query_id", "rank", "doc_id", "score")
      .collect().map(_.toString).sorted
    val reBatch = Search.probeIndex(spark, "bix", Qn, k = 5)
      .collect().map(_.toString).sorted
    assert(reGot.sameElements(reBatch),
      "re-submitted query left stale ranks behind")
    // re-submit q1 with a term absent from the corpus: ZERO hits — its
    // old rows must STILL be cleared (the delete-key set comes from the
    // incoming batch's query_ids, not from the probe results, which
    // contribute no rows for an emptied group)
    in.addData(Seq(("q1", Seq("zzzabsentterm"))))
    val s4 = start()
    try s4.processAllAvailable() finally s4.stop()
    assert(graft.sources.SnapshotStore.read(spark, dir).get
      .filter(col("query_id") === "q1").count() === 0L,
      "zero-hit re-submission left stale rows behind")
  }

  test("probe plan: bucketed index scans feed their joins with no Exchange") {
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val probe = Search.probeIndex(spark, "bix", Q, k = 5)
      def feedsDirectly(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case j if j.children.length > 1 => false // join boundary
        case _ => p.children.exists(feedsDirectly)
      }
      val plan = probe.queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.size >= 3, "expected postings + doclen + termstats bucketed scans")
      val shuffled = plan.collect { case e: Exchange if feedsDirectly(e.child) => e }
      assert(shuffled.isEmpty, s"index side got re-shuffled:\n${shuffled.mkString("\n")}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }
}

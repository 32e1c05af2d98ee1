package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.ann.{AnnIndex, KMeans, Pq}
import graft.sources.BucketedStore

class AnnIndexSpec extends SparkSpec {

  private lazy val v = table("embeddings")
  private lazy val queries = v.filter(col("vec_id") < 10)
  private lazy val corpus = v.filter(col("vec_id") >= 10)

  // shared cleanup (handles orphaned warehouse dirs from crashed JVMs
  // and derives the warehouse path from the session conf)
  private def dropIndex(name: String): Unit = AnnIndex.drop(spark, name)

  override def afterAll(): Unit = {
    try { dropIndex("aix"); dropIndex("aup") } finally super.afterAll()
  }

  test("maintain: healthy no-op, drift-triggered retrain, replay-safe ledger") {
    import graft.ann.AnnIndex.MaintainPolicy
    import graft.sources.SnapshotStore
    dropIndex("amnt")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-maint").toString
    try {
      AnnIndex.write(corpus, "amnt", buckets = 4)
      // healthy index under open bands: decision recorded, NO retrain
      val open = MaintainPolicy(maxCellShare = 1.0, maxEmptyFrac = 1.0,
        minMeanFit = -1.0, k = 8, buckets = 4)
      val r1 = AnnIndex.maintain(spark, "amnt", dir, open).collect()(0)
      assert(r1.getAs[String]("action") == "healthy" &&
        r1.getAs[Int]("new_version") == 0)
      assert(BucketedStore.currentVersion(spark, "amnt").contains(0))
      // replay: the same version is already decided — no second row,
      // no retrain, the recorded row comes back
      val r2 = AnnIndex.maintain(spark, "amnt", dir, open).collect()(0)
      assert(r2.getAs[String]("action") == "healthy")
      assert(SnapshotStore.read(spark, dir).get.count() == 1)
      assert(BucketedStore.currentVersion(spark, "amnt").contains(0))

      // a +2.0-drifted batch MERGEd under the frozen quantizers (the
      // e19b decay story) — a fit band it can't meet fires the retrain
      val drifted = corpus.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x + lit(2.0f)).cast("float"))
          .as("embedding"), col("label"))
      AnnIndex.update(drifted, "amnt", buckets = 4) // -> v1
      val strict = open.copy(minMeanFit = 2.0) // cosine fit is always < 2
      val r3 = AnnIndex.maintain(spark, "amnt", dir, strict).collect()(0)
      assert(r3.getAs[String]("action") == "retrained" &&
        r3.getAs[Int]("version") == 1 && r3.getAs[Int]("new_version") == 2)
      assert(r3.getAs[String]("reasons").contains("mean_fit"))
      assert(BucketedStore.currentVersion(spark, "amnt").contains(2))

      // the fresh version is its own occurrence: next tick records a
      // new (healthy) decision, and the re-centered quantizer's fit
      // beats the drifted one's
      val r4 = AnnIndex.maintain(spark, "amnt", dir, open).collect()(0)
      assert(r4.getAs[String]("action") == "healthy" &&
        r4.getAs[Int]("version") == 2)
      assert(r4.getAs[Double]("mean_fit") > r3.getAs[Double]("mean_fit"),
        "retrain must re-center: post-retrain fit should beat the drifted fit")
      assert(SnapshotStore.read(spark, dir).get.count() == 3)
    } finally dropIndex("amnt")
  }

  test("maintain: a concurrent claim on the version fails fast, never retrains") {
    import graft.ann.AnnIndex.MaintainPolicy
    import graft.sources.SnapshotStore
    dropIndex("amcl")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-maint-claim").toString
    try {
      AnnIndex.write(corpus, "amcl", buckets = 4)
      // another occurrence claimed v0 and its row has not landed
      val token = "maintain_" + "amcl".getBytes("UTF-8")
        .map("%02x".format(_)).mkString + "_v0"
      assert(SnapshotStore.tryClaim(dir, token, "examining"))
      // bands that would RETRAIN if examined — the loser must not
      val strict = MaintainPolicy(maxCellShare = 1.0, maxEmptyFrac = 1.0,
        minMeanFit = 2.0, k = 8, buckets = 4)
      val e = intercept[IllegalStateException] {
        AnnIndex.maintain(spark, "amcl", dir, strict)
      }
      assert(e.getMessage.contains(token))
      assert(BucketedStore.currentVersion(spark, "amcl").contains(0),
        "the losing occurrence must not have retrained")
      assert(SnapshotStore.read(spark, dir).isEmpty, "and wrote no row")
    } finally dropIndex("amcl")
  }

  test("filtered probe: exact vs unfiltered on uniform labels, strict on mixed") {
    import spark.implicits._
    dropIndex("afx"); dropIndex("afu")
    try {
      // 1) every row shares one label -> the filter admits everything
      // and the filtered probe must equal the plain probe BIT FOR BIT
      val uni = v.withColumn("label", lit(7))
      AnnIndex.write(uni.filter(col("vec_id") >= 110), "afu", buckets = 4,
        metaCols = Seq("label"))
      AnnIndex.update(uni.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        "afu", buckets = 4)
      val plain = AnnIndex.topK(spark, "afu", uni.filter(col("vec_id") < 10),
        k = 5).collect().map(_.toString).sorted
      val filt = AnnIndex.topKFiltered(spark, "afu",
        uni.filter(col("vec_id") < 10), Seq("label"), k = 5)
        .collect().map(_.toString).sorted
      assert(filt.sameElements(plain),
        "an all-admitting filter must not change the probe result")
      // 2) real labels: every hit's label equals its query's label,
      // and delete keeps the meta member coherent
      AnnIndex.write(v.filter(col("vec_id") >= 110), "afx", buckets = 4,
        metaCols = Seq("label"))
      AnnIndex.update(v.filter(col("vec_id") >= 10 && col("vec_id") < 110),
        "afx", buckets = 4)
      AnnIndex.delete(v.filter(col("vec_id") % 13 === 0).select("vec_id"),
        "afx", buckets = 4)
      val hits = AnnIndex.topKFiltered(spark, "afx", queries, Seq("label"), k = 5)
      val lab = v.select(col("vec_id"), col("label"))
      val crossed = hits
        .join(lab.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "qlab"), "query_id")
        .join(lab.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlab"), "neighbor_id")
        .filter(col("qlab") =!= col("nlab")).count()
      assert(crossed === 0L, "a hit crossed its query's label filter")
      assert(hits.join(v.filter(col("vec_id") % 13 === 0)
          .select(col("vec_id").as("neighbor_id")), "neighbor_id")
        .count() === 0L, "a deleted id resurfaced through the meta member")
      // probing with a filter key the index never stored fails fast
      intercept[IllegalArgumentException] {
        AnnIndex.drop(spark, "afn")
        AnnIndex.write(v.filter(col("vec_id") >= 110), "afn", buckets = 4)
        AnnIndex.topKFiltered(spark, "afn", queries, Seq("label"), k = 5)
      }
    } finally { dropIndex("afx"); dropIndex("afu"); dropIndex("afn") }
  }

  test("streaming probe: streamed queries equal the batch topK, restart-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    dropIndex("asx")
    AnnIndex.write(corpus, "asx", buckets = 4)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-ann-snap").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-ckpt").toString
      val qVecs = queries.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val in = MemoryStream[(Long, Seq[Float])]
      in.addData(qVecs.take(5).toSeq)
      def start() = graft.streaming.AnnStream.run(
        in.toDF().toDF("vec_id", "embedding"), "asx", dir, ckpt, k = 5)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // restart from the checkpoint with the remaining queries
      in.addData(qVecs.drop(5).toSeq)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = graft.sources.SnapshotStore.read(spark, dir).get
        .select("query_id", "rank", "neighbor_id", "sim")
        .collect().map(_.toString).sorted
      val batch = AnnIndex.topK(spark, "asx", queries, k = 5)
        .collect().map(_.toString).sorted
      assert(got.sameElements(batch),
        "streamed probes across a restart must equal one batch probe")
    } finally dropIndex("asx")
  }

  test("stats: occupancy covers the corpus, empty cells report zero") {
    dropIndex("ast")
    try {
      AnnIndex.write(corpus.filter(col("vec_id") >= 110), "ast", buckets = 4)
      AnnIndex.update(corpus.filter(col("vec_id") < 110), "ast", buckets = 4)
      val rows = AnnIndex.stats(spark, "ast").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // one row per centroid, occupancies sum to the indexed corpus,
      // shares sum to ~1 (each share is independently rounded 6 dp)
      assert(rows.length === 16, "one row per centroid")
      assert(rows.map(_._2).sum === corpus.count(), "occupancy covers corpus")
      assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "shares sum to 1")
      assert(rows.forall(r => r._2 >= 0 && r._3 >= 0.0))
      // deleting every vector of one cell leaves the cell reporting 0,
      // not vanishing from the report (an empty cell IS the finding)
      val cell = rows.maxBy(_._2)._1
      val v1 = spark.table("ast_assign")
        .filter(col("cent_id") === cell).select("neighbor_id")
      AnnIndex.delete(v1, "ast", buckets = 4)
      val after = AnnIndex.stats(spark, "ast").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(after.size === 16, "empty cells still report")
      assert(after(cell) === 0L, "emptied cell reports zero occupancy")
      // fit report: occupied cells only, occupancies agree with stats,
      // and every mean fit is a valid cosine with the cell's own
      // centroid pulling it positive on this clustered corpus
      val fit = AnnIndex.fit(spark, "ast").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(!fit.exists(_._1 == cell), "emptied cell has no fit row")
      fit.foreach { case (cid, n, mf) =>
        assert(after(cid) === n, s"fit/stats occupancy disagree for $cid")
        assert(mf > 0.0 && mf <= 1.0, s"cell $cid mean fit $mf out of range")
      }
    } finally dropIndex("ast")
  }

  test("probing a written index equals the direct Pq pipeline exactly") {
    dropIndex("aix")
    assert(AnnIndex.write(corpus, "aix", buckets = 4) == 0)
    val got = AnnIndex.topK(spark, "aix", queries, k = 5)
      .collect().map(_.toString).sorted
    val direct = Pq.ivfPqTopK(queries, corpus, k = 5)
      .collect().map(_.toString).sorted
    assert(got.sameElements(direct),
      "persistence must change where stages run, not what they compute")
  }

  test("trained quantizer: index probe equals Pq's trained overload, assign member equals KMeans.assign") {
    dropIndex("atq")
    val lloyd = Caching.persisted(KMeans.lloyd(corpus, k = 8, iters = 2))
    try {
      AnnIndex.write(corpus, "atq", m = 4, nCodes = 16, dim = 64,
        buckets = 4, centroids = Some(lloyd))
      val got = AnnIndex.topK(spark, "atq", queries, k = 5, nProbe = 2,
        shortlist = 100).collect().map(_.toString).sorted
      val direct = Pq.ivfPqTopK(queries, corpus, k = 5, centroids = lloyd,
        nProbe = 2, m = 4, nCodes = 16, shortlist = 100, dim = 64)
        .collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(direct),
        "a trained index must probe exactly like the trained Pq pipeline")
      def pairs(df: org.apache.spark.sql.DataFrame): Array[String] =
        df.select(col("neighbor_id").cast("long"), col("cent_id").cast("long"))
          .collect().map(_.toString).sorted
      val stored = pairs(AnnIndex.Store.pin(spark, "atq").table("assign"))
      val served = pairs(KMeans.assign(corpus, lloyd)
        .withColumnRenamed("vec_id", "neighbor_id"))
      assert(stored.length == corpus.count() && stored.sameElements(served),
        "the index's assignment must be KMeans.assign's")
    } finally { lloyd.unpersist(); dropIndex("atq") }
  }

  test("probe plan: bucketed index scans feed their joins with no Exchange") {
    // force shuffle joins so the assertion is about bucketing (same
    // pattern as DedupIndexSpec: a broadcast of the tiny test-sized
    // side would trivially have no exchange)
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val probe = AnnIndex.topK(spark, "aix", queries, k = 5)
      def feedsDirectly(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case j if j.children.length > 1 => false // join boundary
        case _ => p.children.exists(feedsDirectly)
      }
      val plan = probe.queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.size >= 3, "expected assign + codes + vectors bucketed scans")
      val shuffled = plan.collect { case e: Exchange if feedsDirectly(e.child) => e }
      assert(shuffled.isEmpty, s"index side got re-shuffled:\n${shuffled.mkString("\n")}")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("delete: probe equals an index that never contained the deleted ids") {
    dropIndex("adel"); dropIndex("aref")
    try {
      val base = corpus.filter(col("vec_id") >= 110)
      val batch = corpus.filter(col("vec_id") < 110)
      val dels = batch.filter(col("vec_id") % 3 === 0).select("vec_id")
      AnnIndex.write(base, "adel", buckets = 4)
      AnnIndex.update(batch, "adel", buckets = 4)
      assert(AnnIndex.delete(dels, "adel", buckets = 4) == 2)
      // reference: SAME base write (same frozen quantizer samples),
      // update batch minus the deleted set — the index state a delete
      // must be indistinguishable from
      AnnIndex.write(base, "aref", buckets = 4)
      AnnIndex.update(batch.join(dels, Seq("vec_id"), "left_anti"),
        "aref", buckets = 4)
      val got = AnnIndex.topK(spark, "adel", queries, k = 5)
        .collect().map(_.toString).sorted
      val ref = AnnIndex.topK(spark, "aref", queries, k = 5)
        .collect().map(_.toString).sorted
      assert(got.sameElements(ref),
        "delete must probe like an index that never held those ids")
      // data-plane rows really gone; quantizers untouched
      assert(spark.table("adel_vectors")
        .join(dels.withColumnRenamed("vec_id", "neighbor_id"),
          Seq("neighbor_id")).count() == 0)
      assert(spark.table("adel_cents").collect().map(_.toString).sorted
        .sameElements(spark.table("aref_cents").collect().map(_.toString).sorted))
    } finally { dropIndex("adel"); dropIndex("aref") }
  }

  test("retrain: equals a fresh trained build, atomically versioned, fit improves on drift") {
    import graft.ann.KMeans
    dropIndex("art"); dropIndex("artref"); dropIndex("artm")
    try {
      // 1) retrain == a FRESH write with trained centroids over the
      // same corpus (the e3b/e5b relationship, persisted): quantizer
      // provenance changes, the trained computation doesn't
      AnnIndex.write(corpus, "art", buckets = 4)
      assert(AnnIndex.retrain(spark, "art", k = 8, iters = 2, buckets = 4) == 1)
      AnnIndex.write(corpus, "artref", buckets = 4,
        centroids = Some(KMeans.lloyd(corpus, k = 8, iters = 2)))
      val got = AnnIndex.topK(spark, "art", queries, k = 5, nProbe = 2)
        .collect().map(_.toString).sorted
      val ref = AnnIndex.topK(spark, "artref", queries, k = 5, nProbe = 2)
        .collect().map(_.toString).sorted
      assert(got.sameElements(ref),
        "retrain must probe like a fresh trained build")
      // version bump behind the atomic ptr: v0 retained for in-flight
      // readers, the probe pins every table at v1
      assert(BucketedStore.currentVersion(spark, "art").contains(1))
      assert(spark.catalog.tableExists("art_assign_v0"),
        "prior version dropped — in-flight readers would be torn")
      val plan = AnnIndex.topK(spark, "art", queries, k = 5)
        .queryExecution.analyzed.toString
      Seq("cents", "codebook", "assign", "codes", "vectors").foreach { t =>
        assert(plan.contains(s"art_${t}_v1"), s"probe not pinned to art_${t}_v1")
      }
      // the retrained coarse quantizer is the k-means one (8 cells),
      // not the 16-sample build quantizer
      assert(spark.table("art_cents_v1").count() === 8L)

      // 2) the maintenance story e19b signals: a drifted batch MERGEd
      // under frozen quantizers decays the corpus-weighted mean fit;
      // retrain re-centers and must improve it
      AnnIndex.write(corpus, "artm", buckets = 4, metaCols = Seq("label"))
      val drifted = corpus.select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x + lit(2.0f)).cast("float"))
          .as("embedding"),
        col("label"))
      AnnIndex.update(drifted, "artm", buckets = 4)
      def weightedFit(name: String): Double = {
        val rows = AnnIndex.fit(spark, name).collect()
          .map(r => (r.getLong(1), r.getDouble(2)))
        rows.map { case (n, f) => n * f }.sum / rows.map(_._1).sum
      }
      val before = weightedFit("artm")
      AnnIndex.retrain(spark, "artm", k = 8, iters = 2, buckets = 4)
      val after = weightedFit("artm")
      assert(after > before,
        s"retrain must improve corpus-weighted mean fit: $before -> $after")
      // 3) the metadata member passes through a retrain untouched —
      // the filtered probe still admits only same-label neighbors
      val hits = AnnIndex.topKFiltered(spark, "artm", queries,
        Seq("label"), k = 5)
      val lab = v.select(col("vec_id"), col("label"))
      val crossed = hits
        .join(lab.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "qlab"), "query_id")
        .join(lab.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlab"), "neighbor_id")
        .filter(col("qlab") =!= col("nlab")).count()
      assert(crossed === 0L, "a hit crossed its label filter after retrain")
    } finally { dropIndex("art"); dropIndex("artref"); dropIndex("artm") }
  }

  test("update: batch joins the index under frozen quantizers, versions advance") {
    dropIndex("aup")
    val base = corpus.filter(col("vec_id") >= 110)
    val batch = corpus.filter(col("vec_id") < 110)
    assert(AnnIndex.write(base, "aup", buckets = 4) == 0)
    assert(AnnIndex.update(batch, "aup", buckets = 4) == 1)
    // all rows present exactly once
    assert(spark.table("aup_assign").count() == corpus.count())
    assert(spark.table("aup_vectors").select("neighbor_id").distinct().count()
      == corpus.count())
    // a query identical to a batch vector must find it at sim 1.0:
    // the updated rows are really probed, not just stored
    val probeVec = batch.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"))
    val probeId = probeVec.collect()(0).getLong(0)
    val got = AnnIndex.topK(spark, "aup",
      probeVec.select(col("vec_id").as("vec_id"), col("embedding")), k = 1)
      .collect()(0)
    assert(got.getLong(2) == probeId && got.getDouble(3) == 1.0,
      s"expected self-match at sim 1.0, got $got")
    // old version retained for in-flight readers, v-2 dropped
    assert(spark.catalog.tableExists("aup_assign_v0"))
    // the single atomic pointer resolves the committed version, and
    // the probe reads every table AT that pinned version (no mixed
    // resolution through per-table views)
    assert(BucketedStore.currentVersion(spark, "aup").contains(1))
    val probePlan = AnnIndex.topK(spark, "aup", probeVec, k = 1)
      .queryExecution.analyzed.toString
    Seq("assign", "codes", "vectors").foreach { t =>
      assert(probePlan.contains(s"aup_${t}_v1"),
        s"probe does not read aup_${t}_v1:\n$probePlan")
    }

    // re-ingest: updating an EXISTING id with a different vector must
    // REPLACE its index rows (upsert, not append) and be what's probed
    val donor = base.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    import spark.implicits._
    val reIngest = Seq((probeId, donor)).toDF("vec_id", "embedding")
    assert(AnnIndex.update(reIngest, "aup", buckets = 4) == 2)
    assert(spark.table("aup_vectors")
      .filter(col("neighbor_id") === probeId).count() == 1)
    val got2 = AnnIndex.topK(spark, "aup",
      reIngest.select(col("vec_id"), col("embedding")), k = 1).collect()(0)
    // the replaced vector now matches its donor's content at sim 1.0
    // (winner is the smaller of the two identical-vector ids)
    assert(got2.getDouble(3) == 1.0, s"expected sim 1.0 after re-ingest: $got2")
  }
}

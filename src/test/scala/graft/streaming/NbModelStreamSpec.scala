package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.NaiveBayes

/** NbModelStream: additive sufficient statistics make streamed NB
  * training bit-identical to the batch fit — two-batch equality,
  * restart replay safety, compaction, and the full
  * maintain → serve loop with ClassifyStream. */
class NbModelStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private val batch1 = Seq(
    (1L, "a", "x x y"), (2L, "a", "x"), (3L, "b", "z z"))
  private val batch2 = Seq(
    (4L, "b", "z w"), (5L, "a", "y y"))
  private def union: DataFrame =
    (batch1 ++ batch2).toDF("doc_id", "label", "text")

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("two streamed batches == one batch fit; restart is replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val (tokDir, docDir, ckpt) =
      (tmp("graft-nbm-tok"), tmp("graft-nbm-doc"), tmp("graft-nbm-ckpt"))
    def start(in: MemoryStream[(Long, String, String)]) =
      NbModelStream.run(in.toDF().toDF("doc_id", "label", "text"),
        col("text"), col("label"), tokDir, docDir, ckpt)
    val in = MemoryStream[(Long, String, String)]
    in.addData(batch1)
    val q1 = start(in)
    try q1.processAllAvailable() finally q1.stop()
    // restart from the checkpoint, feed the second batch
    in.addData(batch2)
    val q2 = start(in)
    try q2.processAllAvailable() finally q2.stop()
    val streamed = NbModelStream.readModel(spark, tokDir).get
    val batch = NaiveBayes.model(union, col("text"), col("label"))
    assert(sortedRows(streamed) === sortedRows(batch),
      "folded registers must reproduce the batch model bit for bit")
    assert(sortedRows(NbModelStream.readCounts(spark, tokDir).get) ===
      sortedRows(batch.filter(col("c") > 0).select("label", "token", "c")),
      "folded register counts must be the batch model's counts")
    assert(sortedRows(NbModelStream.readPriors(spark, docDir).get) ===
      sortedRows(NaiveBayes.priors(union, col("label"))))
  }

  test("refresh: ledger-gated republish — bootstrap, fresh, growth, new label") {
    implicit val sqlCtx = spark.sqlContext
    val dirs = Seq("tok", "doc", "mdl", "pri", "led").map(s => tmp(s"graft-nbr-$s"))
    val Seq(tokDir, docDir, mdlDir, priDir, ledDir) = dirs
    def start(in: MemoryStream[(Long, String, String)]) =
      NbModelStream.run(in.toDF().toDF("doc_id", "label", "text"),
        col("text"), col("label"), tokDir, docDir, tmp("graft-nbr-ck"))
    def feed(in: MemoryStream[(Long, String, String)],
             rows: Seq[(Long, String, String)]): Unit = {
      in.addData(rows); val q = start(in)
      try q.processAllAvailable() finally q.stop()
    }
    val pol = NbModelStream.RefreshPolicy(minGrowthFrac = 0.5)
    val in = MemoryStream[(Long, String, String)]
    feed(in, batch1) // token mass 6
    // bootstrap: no published model yet -> publish, ledger row v
    val r1 = NbModelStream.refresh(spark, tokDir, docDir, mdlDir, priDir,
      ledDir, pol).collect().head
    assert(r1.getAs[String]("action") === "published")
    assert(r1.getAs[String]("reasons").contains("bootstrap"))
    // published artifact == the live register fold
    assert(sortedRows(graft.sources.SnapshotStore.read(spark, mdlDir).get) ===
      sortedRows(NbModelStream.readModel(spark, tokDir).get))
    // same register version again -> the recorded row, no new publish
    val v0 = graft.sources.SnapshotStore.currentVersion(mdlDir).get
    val r1b = NbModelStream.refresh(spark, tokDir, docDir, mdlDir, priDir,
      ledDir, pol).collect().head
    assert(r1b.getAs[String]("action") === "published" &&
      graft.sources.SnapshotStore.currentVersion(mdlDir).get === v0,
      "replayed decision must not publish again")
    // +1 token on known labels = 17% growth < 50% -> fresh
    feed(in, Seq((7L, "a", "x")))
    val r2 = NbModelStream.refresh(spark, tokDir, docDir, mdlDir, priDir,
      ledDir, pol).collect().head
    assert(r2.getAs[String]("action") === "fresh")
    assert(graft.sources.SnapshotStore.currentVersion(mdlDir).get === v0)
    // a label unseen at publish time fires regardless of growth
    feed(in, Seq((8L, "cnew", "q")))
    val r3 = NbModelStream.refresh(spark, tokDir, docDir, mdlDir, priDir,
      ledDir, NbModelStream.RefreshPolicy(minGrowthFrac = 100.0))
      .collect().head
    assert(r3.getAs[String]("action") === "published")
    assert(r3.getAs[String]("reasons").contains("new_labels"))
    assert(graft.sources.SnapshotStore.currentVersion(mdlDir).get === v0 + 1)
    // the republished artifact serves: its label set includes cnew
    val served = graft.sources.SnapshotStore.read(spark, mdlDir).get
    assert(served.select("label").distinct().count() === 3)
  }

  test("compaction preserves the model; maintained model serves ClassifyStream") {
    implicit val sqlCtx = spark.sqlContext
    val (tokDir, docDir, ckpt) =
      (tmp("graft-nbm2-tok"), tmp("graft-nbm2-doc"), tmp("graft-nbm2-ckpt"))
    def start(in: MemoryStream[(Long, String, String)]) =
      NbModelStream.run(in.toDF().toDF("doc_id", "label", "text"),
        col("text"), col("label"), tokDir, docDir, ckpt)
    val in = MemoryStream[(Long, String, String)]
    in.addData(batch1)
    val q1 = start(in)
    try q1.processAllAvailable() finally q1.stop()
    NbModelStream.compact(spark, tokDir, docDir)
    in.addData(batch2)
    val q2 = start(in)
    try q2.processAllAvailable() finally q2.stop()
    NbModelStream.compact(spark, tokDir, docDir)
    val m = NbModelStream.readModel(spark, tokDir).get
    assert(sortedRows(m) ===
      sortedRows(NaiveBayes.model(union, col("text"), col("label"))),
      "compaction must not change the folded statistics")
    // the register stores stay bounded: base row per group + the
    // newest batch's keyed rows
    val tokState = graft.sources.SnapshotStore.read(spark, tokDir).get
    assert(tokState.select("batch_id").distinct().count() <= 2)
    // serve the maintained model: routing equals a batch-trained model
    val pri = NbModelStream.readPriors(spark, docDir).get
    val docs = Seq((9L, "x y"), (10L, "z z")).toDF("doc_id", "text")
    val served = ClassifyStream.routeBatch(docs, m, pri, minMargin = 0.0)
      .select("doc_id", "route").as[(Long, String)].collect().toMap
    assert(served === Map(9L -> "a", 10L -> "b"))
  }
}

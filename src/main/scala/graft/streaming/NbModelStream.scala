package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.sources.SnapshotStore
import graft.text.{NaiveBayes, TextAnalysis, TextStages}

/** Streaming classifier-model maintenance — the retrain half of the
  * [[ClassifyStream]] loop: labeled documents (human review verdicts,
  * upstream source labels) arrive on a stream and fold into the NB
  * model's sufficient statistics, so "retrain" is a vocabulary-sized
  * read, never a corpus re-scan.
  *
  * This works because multinomial NB's sufficient statistics are
  * ADDITIVE: the model is a pure function of (label, token)
  * occurrence counts and per-label doc counts, and counts of
  * disjoint batches sum. So the state is two register stores
  * maintained exactly like [[RollupStream]]'s: per-micro-batch
  * partial counts MERGEd keyed (batch_id, group) — a replayed batch
  * overwrites its own rows instead of re-adding them, which is what
  * makes additive state exactly-once over at-least-once foreachBatch
  * delivery. [[readModel]]/[[readPriors]] fold the registers and
  * hand the result to [[graft.text.NaiveBayes.modelFromCounts]] /
  * `priorsFromCounts` — bit-identical to a batch fit on the union of
  * everything ever streamed (spec-asserted). [[compact]] bounds
  * state at ~|V|·|labels| + |labels| rows regardless of batch count
  * (RollupStream's newest-batch-stays-keyed rule, same single-writer
  * discipline: compact only while the query is stopped).
  *
  * Serving picks the new model up the same way every frozen-artifact
  * stream here does (AnnStream's contract): materialize
  * readModel/readPriors, persist, restart [[ClassifyStream]] on the
  * new frames. Nothing in this loop ever re-reads trained history —
  * at 100 TB of accumulated labels the ingest cost stays O(batch)
  * and the retrain cost O(|V|·|labels|).
  */
object NbModelStream {

  /** Start folding the labeled stream into count registers:
    * (label, token) occurrence counts at `tokDir`, per-label doc
    * counts at `docDir`. */
  def run(stream: DataFrame, text: Column, label: Column,
          tokDir: String, docDir: String,
          checkpointDir: String): StreamingQuery =
    stream.select(label.cast("string").as("label"), text.as("__text"))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // guard on the raw batch (limit-1 scan); the batch feeds TWO
        // register writes — persist so the source plan runs once
        if (!batch.isEmpty) {
          val b = batch.persist()
          try {
            SnapshotStore.mergeInto(
              TextStages.termCounts(b, Seq(col("label")),
                  TextAnalysis.tokens(col("__text")), "c")
                .withColumn("batch_id", lit(id)),
              tokDir, Seq("batch_id", "label", "token"))
            SnapshotStore.mergeInto(
              b.groupBy("label").agg(count(lit(1)).as("n_docs"))
                .withColumn("batch_id", lit(id)),
              docDir, Seq("batch_id", "label")): Unit
          } finally { b.unpersist(): Unit }
        }
      }
      .start()

  /** Fold the token registers to (label, token, c). None before the
    * first batch. */
  def readCounts(spark: SparkSession, tokDir: String): Option[DataFrame] =
    SnapshotStore.read(spark, tokDir).map(_
      .groupBy("label", "token").agg(sum("c").as("c")))

  /** The current dense model — [[graft.text.NaiveBayes.model]] of
    * everything streamed so far, from registers alone. `minDf`
    * passes through to the vocabulary cut (the open-vocab valve —
    * cutting at READ time keeps the registers lossless, so the
    * threshold can change without re-ingesting anything). */
  def readModel(spark: SparkSession, tokDir: String,
                minDf: Long = 1L): Option[DataFrame] =
    readCounts(spark, tokDir).map(c => NaiveBayes.modelFromCounts(c, minDf))

  /** The current priors from the doc-count registers. */
  def readPriors(spark: SparkSession, docDir: String): Option[DataFrame] =
    SnapshotStore.read(spark, docDir).map(s =>
      NaiveBayes.priorsFromCounts(
        s.groupBy("label").agg(sum("n_docs").as("n_docs"))))

  /** Refresh thresholds for [[refresh]]: republish when the register
    * mass grew by at least `minGrowthFrac` since the last published
    * model, or when a label unseen at publish time appeared. `minDf`
    * passes through to the vocabulary cut. */
  final case class RefreshPolicy(minGrowthFrac: Double = 0.1,
                                 minDf: Long = 1L)

  /** Materialize the current model + priors into versioned stores —
    * the frozen artifact a [[ClassifyStream]] restart serves. Returns
    * the committed (model store, priors store) versions. */
  def publish(spark: SparkSession, tokDir: String, docDir: String,
              modelDir: String, priorsDir: String,
              minDf: Long = 1L): (Int, Int) = {
    val m = readModel(spark, tokDir, minDf).getOrElse(
      throw new IllegalStateException(s"no token registers at $tokDir"))
    val p = readPriors(spark, docDir).getOrElse(
      throw new IllegalStateException(s"no doc registers at $docDir"))
    (SnapshotStore.commit(m, modelDir), SnapshotStore.commit(p, priorsDir))
  }

  /** The serve-side refresh DECISION — [[graft.ann.AnnIndex.maintain]]'s
    * ledger pattern on the classifier loop: the unit of work is the
    * token-register store's current VERSION, so each register state is
    * decided at most once (a host timer may tick at any cadence), and
    * the decision signals are register-sized aggregates (total token
    * mass and label set vs the last published row), never a corpus
    * pass. Fires [[publish]] when the mass grew ≥ `minGrowthFrac`
    * since the last publish or a new label appeared; bootstraps by
    * publishing. Every decision MERGEs into `ledgerDir` keyed
    * (store, version) — replay-safe, and the published model version
    * is recorded so serving can roll back by reading an older model
    * store version. */
  def refresh(spark: SparkSession, tokDir: String, docDir: String,
              modelDir: String, priorsDir: String, ledgerDir: String,
              policy: RefreshPolicy = RefreshPolicy()): DataFrame = {
    import spark.implicits._
    val v = SnapshotStore.currentVersion(tokDir).getOrElse(
      throw new IllegalStateException(s"no token registers at $tokDir"))
    val ledger = SnapshotStore.read(spark, ledgerDir)
    val prior = ledger.map(_.filter(col("store") === tokDir &&
      col("version") === v))
    prior.filter(_.limit(1).count() > 0) match {
      case Some(row) => row // this register version already decided
      case None =>
        val cur = readCounts(spark, tokDir).get
          .agg(sum("c").cast("long").as("mass"),
            countDistinct(col("label")).as("labels")).head()
        val (mass, labels) = (cur.getLong(0), cur.getLong(1))
        val last = ledger.flatMap(_
          .filter(col("store") === tokDir && col("action") =!= "fresh")
          .orderBy(col("version").desc).limit(1)
          .collect().headOption)
        val (m0, l0) = last.map(r => (r.getAs[Long]("mass"),
          r.getAs[Long]("labels"))).getOrElse((0L, 0L))
        val grown = m0 == 0L ||
          (mass - m0).toDouble / m0 >= policy.minGrowthFrac
        val reasons = Seq(
          if (m0 == 0L) Some("bootstrap") else None,
          if (m0 > 0L && grown)
            Some(f"mass_growth ${(mass - m0).toDouble / m0}%.4f >= ${policy.minGrowthFrac}%.2f")
          else None,
          if (labels > l0 && m0 > 0L) Some(s"new_labels $l0 -> $labels")
          else None).flatten
        val fire = reasons.nonEmpty
        val mv = if (fire)
          publish(spark, tokDir, docDir, modelDir, priorsDir,
            policy.minDf)._1
        else -1
        val action = if (fire) "published" else "fresh"
        val row = Seq((tokDir, v, action, mv, mass, labels,
          reasons.mkString("; ")))
          .toDF("store", "version", "action", "model_version",
            "mass", "labels", "reasons")
        SnapshotStore.mergeInto(row, ledgerDir, Seq("store", "version"))
        row
    }
  }

  /** Fold every no-longer-replayable batch's registers into one base
    * row per group (batch_id = -1) in BOTH stores — RollupStream's
    * compaction rule verbatim (the newest batch stays keyed so a
    * crash-window replay overwrites instead of double-counting).
    * Run only while the query is stopped (single-writer). */
  def compact(spark: SparkSession, tokDir: String, docDir: String): Unit = {
    def one(dir: String, groupCols: Seq[String], sumCol: String): Unit =
      SnapshotStore.read(spark, dir).foreach { s =>
        val maxId = s.agg(max(col("batch_id"))).first().getLong(0)
        val base = s.filter(col("batch_id") < maxId)
          .groupBy(groupCols.map(col): _*).agg(sum(sumCol).as(sumCol))
          .withColumn("batch_id", lit(-1L))
        SnapshotStore.commit(
          base.unionByName(s.filter(col("batch_id") === maxId)), dir): Unit
      }
    one(tokDir, Seq("label", "token"), "c")
    one(docDir, Seq("label"), "n_docs")
  }
}

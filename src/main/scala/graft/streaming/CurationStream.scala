package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.TextDedup
import graft.sources.SnapshotStore

/** Streaming curation: flag documents arriving on a stream that are
  * near-dup candidates of an EXISTING corpus — the streaming leg of
  * the incremental-batch `d8` shape ([[TextDedup.minHashLshPairsBetween]]).
  *
  * The corpus side is a static [[TextDedup.bandIndex]] frame of the
  * corpus, built once and persisted by the caller. The stream side is
  * map-only per micro-batch:
  * shingle → signature → explode bands; the stream-static inner join
  * is stateless, so no watermark is needed and state never grows —
  * at 100 TB of corpus the only per-batch cost is O(batch × bands)
  * probes of the index.
  *
  * Output: one row per (band, bsig) hit — a doc similar to several
  * corpus docs (or matching on several bands) appears several times.
  * Exact-verify and dedup belong to the batch that CONSUMES the flags
  * (candidate flagging is the streaming-time decision; fetching corpus
  * text for jaccard verification inside the stream would turn a probe
  * into a scan).
  */
object CurationStream {

  /** End-to-end streaming curation — [[graft.LlmCuration]] for a
    * document stream: quality + language gate (map-only), exact
    * content dedup with watermark-bounded state, near-dup flagging
    * against the static corpus band index, then a MERGE sink into a
    * versioned [[SnapshotStore]] keyed on doc_id (exactly-once per
    * batch via the checkpoint). Needs a `ts` event-time column for the
    * dedup watermark. Near-dup verification is a flag column
    * (`n_band_hits`), not a drop: at stream time a candidate hit is
    * cheap but exact verification needs corpus text — the downstream
    * batch decides, with the flag narrowing its work.
    *
    * State posture: the ONLY stateful op is the keyed dedup, bounded
    * by the watermark; gates and the band probe are stateless, so
    * total state is O(docs inside the watermark window).
    */
  def run(stream: DataFrame, id: Column, text: Column,
          corpusIndex: DataFrame, targetDir: String, checkpointDir: String,
          minQuality: Double = 0.5, lang: Option[String] = Some("en"),
          watermark: String = "1 hour", ts: Column = col("ts")): StreamingQuery = {
    val kept = graft.LlmCuration.qualityGate(
      stream.select(id.as("doc_id"), text.as("text"), ts.as("ts")),
      minQuality, lang)
    // the band-hit count is an aggregation, which would be a SECOND
    // stateful op on the stream; in the sink body the micro-batch is a
    // plain frame, so the probe + count run stateless per batch
    dedupAndMerge(kept, watermark, targetDir, checkpointDir) { b =>
      b.join(nearDupFlagStream(b, col("doc_id"), col("text"), corpusIndex)
          .groupBy("doc_id").agg(count(lit(1)).as("n_band_hits")),
        Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_band_hits"))
    }
  }

  /** The curation streams' shared tail: watermark-bounded exact content
    * dedup of `kept` (doc_id, text, ts) — the one stateful op — then a
    * [[MicroBatchSink]] that MERGEs `route(batch)` into the versioned
    * [[SnapshotStore]] at `targetDir` keyed on doc_id. */
  private[streaming] def dedupAndMerge(kept: DataFrame, watermark: String,
                                       targetDir: String,
                                       checkpointDir: String)
                                      (route: DataFrame => DataFrame)
      : StreamingQuery =
    MicroBatchSink.run(kept
        .withColumn("__h", md5(col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("__h")
        .drop("__h"), checkpointDir) { (b, _) =>
      SnapshotStore.mergeInto(route(b), targetDir, Seq("doc_id")): Unit
    }

  /** Contamination hits of `stream` docs against a static eval corpus:
    * (doc_id, s) per shared word n-gram — the streaming leg of
    * [[graft.dedup.Decontaminate]]. The eval shingle set broadcasts
    * (benchmarks are tiny); the stream side is a map-only explode +
    * broadcast join per micro-batch, stateless like the near-dup
    * probe. Aggregation to per-doc counts belongs to the consumer
    * (streaming groupBy would need a watermark the flags don't). */
  def contamFlagStream(stream: DataFrame, id: Column, text: Column,
                       evalCorpus: DataFrame, evalText: Column,
                       n: Int = 5): DataFrame =
    graft.dedup.Decontaminate.shingleHits(stream, evalCorpus, id, text, evalText, n)

  /** Candidate near-dup hits of `stream` docs against the corpus band
    * index: (doc_id, band, bsig, corpus_doc_id). */
  def nearDupFlagStream(stream: DataFrame, id: Column, text: Column,
                        corpusIndex: DataFrame): DataFrame =
    TextDedup.bandIndex(stream, id, text)
      .join(
        corpusIndex.select(col("doc_id").as("corpus_doc_id"),
          col("band"), col("bsig")),
        Seq("band", "bsig"))
      .select(col("doc_id"), col("band"), col("bsig"), col("corpus_doc_id"))
}

package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The hashed-grid and KL stages on the sf0.01 corpus, where no oracle
  * key reads them directly. */
class TextStagesSpec extends SparkSpec {
  override def sfDir: String = new java.io.File(SparkSpec.SfDir).getParent + "/sf0.01"

  test("unigramProfile is the full grid of the corpus' tokens; klDrift to it is 0") {
    val B = 512
    val docs = table("documents")
    val tokens = docs.select("text").collect().iterator
      .map(r => Option(r.getString(0)).fold(0L)(
        _.toLowerCase.split("\\s+").count(_.nonEmpty).toLong))
      .sum
    assert(tokens > 0)
    val ref = TextAnalysis.unigramProfile(docs, col("text"), buckets = B).persist()
    try {
      val prof = ref.collect()
      assert(prof.map(_.getAs[Long]("bucket")).sorted.toSeq == (0L until B))
      assert(prof.map(_.getAs[Long]("n")).toSet == Set(tokens))
      assert(prof.map(_.getAs[Long]("c")).sum == tokens)
      val kl = TextAnalysis.klDrift(docs, col("text"), ref, buckets = B).collect()
      assert(kl.map(r => (r.getAs[Long]("n_tokens"), r.getAs[Double]("kl_bits"))).toSeq ==
        Seq((tokens, 0.0)))
    } finally ref.unpersist()
  }
}

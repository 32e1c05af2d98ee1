package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave for the checks. */
  private def zRef(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits) {
      z |= ((x >>> i) & 1L) << (2 * i)
      z |= ((y >>> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zValue matches the reference interleave on a 16x16 grid") {
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zValue(Seq(col("x"), col("y")), bitsPer = 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == zRef(x, y, 4), s"($x,$y)") }
    // the interleave is a bijection on the grid
    assert(got.map(_._3).distinct.length == 256)
  }

  test("zValue ignores bits above bitsPer and stays inside codegen") {
    // inputs derive from range(1) so nothing constant-folds away and
    // the physical plan shows the real codegen stage
    val df = spark.range(1)
      .select((col("id") + 0x10003L).as("x"), (col("id") + 0x10001L).as("y"))
      .select(Layout.zValue(Seq(col("x"), col("y")), bitsPer = 16).as("z"))
    // bit 16 of both inputs is dropped: same z as (3, 1)
    assert(df.as[Long].head() == zRef(3L, 1L, 16))
    // the `*(n)` operator prefix marks whole-stage-codegen membership
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen:\n$plan")
  }

  test("clusterByZ: disjoint z-ranges per partition, bounded per-dim spans") {
    // 64x64 uniform grid into 16 range partitions: every partition must
    // own a disjoint z-range (that's what makes file stats disjoint),
    // and per-partition x/y min-max spans must be well under the global
    // 64 — the multi-dim locality single-column sorting can't give
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val clustered = Layout.clusterByZ(pts, Seq(col("x"), col("y")),
      numPartitions = 16, bitsPer = 6)
    val stats = clustered
      .select(col("x"), col("y"),
        Layout.zValue(Seq(col("x"), col("y")), bitsPer = 6).as("z"),
        spark_partition_id().as("pid"))
      .groupBy("pid")
      .agg(min("z").as("zlo"), max("z").as("zhi"),
        (max("x") - min("x")).as("xspan"), (max("y") - min("y")).as("yspan"),
        count(lit(1)).as("n"))
      .collect()
    assert(stats.length == 16)
    val byZ = stats.sortBy(_.getAs[Long]("zlo"))
    byZ.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("zhi") < b.getAs[Long]("zlo"),
        "partitions must hold disjoint z-ranges")
    }
    // a contiguous z-range of ~256 of 4096 grid cells is a union of
    // aligned quads: both spans stay near sqrt(cells) — far below 63
    // (a row-major sort would give yspan 63 in every partition)
    val xa = stats.map(_.getAs[Long]("xspan")).sum / 16.0
    val ya = stats.map(_.getAs[Long]("yspan")).sum / 16.0
    assert(xa <= 32 && ya <= 32, s"avg spans ($xa, $ya) not local")
  }

  test("denseIds: contiguous 0..n-1 in total order, stable under repartition") {
    import spark.implicits._
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (2L, "b"), (4L, "d"))
      .toDF("k", "s")
    val out = Layout.denseIds(df, col("s"), col("k"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out === Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    // input partitioning must not change the assignment
    val re = Layout.denseIds(df.repartition(7), col("s"), col("k"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(re === out)
    // real corpus: ids are a permutation of 0..n-1 and follow the order
    val docs = table("documents").select(col("doc_id"), col("text"))
    val ids = Layout.denseIds(docs, md5(col("text")), col("doc_id"))
    val n = docs.count()
    assert(ids.agg(min("dense_id"), max("dense_id"),
      countDistinct("dense_id")).collect()(0).toSeq === Seq(0L, n - 1, n))
    val misordered = ids.select(md5(col("text")).as("h"), col("doc_id"), col("dense_id"))
      .as[(String, Long, Long)].collect().sortBy(t => (t._1, t._2))
      .zipWithIndex.filter { case ((_, _, d), i) => d != i }
    assert(misordered.isEmpty, s"ids off order: ${misordered.take(3).mkString}")
  }

  test("graft_bit_spread registers and matches the expression") {
    val got = spark.sql("SELECT graft_bit_spread(CAST(5 AS BIGINT), 2, 4) AS z")
      .as[Long].head()
    assert(got == 0x11L) // 0b101 -> 0b10001
  }
}

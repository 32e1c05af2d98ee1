package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

class GraftSessionSpec extends SparkSpec {

  test("a factory session resolves the graft functions and rewrites naive-latest") {
    val s = GraftSession.local(4)
    assert(s eq spark, "the factory hands back the running graft session")
    val unresolved = GraftFunctions.all.map(_._1.funcName)
      .filterNot(s.catalog.functionExists)
    assert(unresolved.isEmpty, s"unresolved: $unresolved")
    val naive = s.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"), col("l_quantity"))))
      .filter(col("rn") === 1)
    val plan = naive.queryExecution.optimizedPlan
    assert(plan.collect { case a: Aggregate => a }.nonEmpty, plan.toString)
    assert(plan.collect { case w: LWindow => w }.isEmpty, plan.toString)
    assert(naive.count() > 0)
  }

  test("factory confs are the set the benchmark harness prints") {
    // perfbench's detail line at local[4], less its per-run warehouse dir
    val harness = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    // the context's conf holds what the factory built the session with;
    // the session's runtime conf may carry other specs' restored values
    val built = spark.sparkContext.getConf.getAll.toMap
      .filter { case (k, _) => k.startsWith("spark.sql.") } - "spark.sql.warehouse.dir"
    assert(built == harness)
    harness.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
  }

  test("a running session without the graft extensions is refused") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a plain session over the shared context: no graft functions
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne spark)
      val e = intercept[IllegalStateException](GraftSession.local(4))
      assert(e.getMessage.contains("without graft.GraftExtensions"), e.getMessage)
      assert(e.getMessage.contains("graft_dot"), e.getMessage)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}

package graft.tools

/** Dev-only plan auditor (not part of the driver contract): prints the
  * formatted physical plan of each SparkEntry query for shuffle /
  * pushdown / broadcast review.
  * Usage: runMain graft.tools.Explain <sfDir> [queryKey...]
  * on `local[SPARK_GRAFT_CPUS]` (default 32), the session Bench builds.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 1) args.toSeq.tail
               else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.local(graft.GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    for (k <- keys) {
      println(s"\n================ $k ================")
      try graft.SparkEntry.queries(k)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}

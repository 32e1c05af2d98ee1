package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only per-query JOB-LEVEL profiler (not part of the driver
  * contract): how many Spark jobs / stages / tasks does one invocation
  * of each query launch, and how much of the wall time is task compute
  * vs orchestration (action latency, driver work, commit protocol)?
  *
  * The bench's per-query seconds say WHICH queries are expensive; this
  * says WHY — a query whose wall time is 5 s but whose summed task
  * time is 1 s on 32 cores is bound by sequential actions and
  * driver-side protocol, not by data compute, and the optimization
  * lever is fewer/overlapped actions (guide §2.6), not faster
  * expressions.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> [queryKey...]
  * on `local[SPARK_GRAFT_CPUS]` (default 32), the session Bench builds.
  * Each key runs twice (warmup + measured; caches cleared before each
  * run like the bench) and prints:
  *   key  wall_s  jobs  stages  tasks  task_time_s
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.toSeq.tail
               else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.local(graft.GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskNanos = new AtomicLong
    // SPARK_GRAFT_JOBS=1: per-job lines (start-relative ms, duration,
    // deepest callsite) — where a 60-job query actually spends its wall
    val verbose = sys.env.get("SPARK_GRAFT_JOBS").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val t00 = new AtomicLong(System.nanoTime())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobStart.put(j.jobId, (System.nanoTime(), site)): Unit
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (verbose) {
          Option(jobStart.get(e.jobId)).foreach { case (t0, site) =>
            println(f"  [job ${e.jobId}%4d] +${(t0 - t00.get) / 1e6}%7.0fms ${(System.nanoTime() - t0) / 1e6}%7.1fms  $site")
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          taskNanos.addAndGet(t.taskInfo.duration * 1000000L): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    println(f"${"key"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%8s")
    for (k <- keys) {
      // warmup (codegen/JIT), caches cleared like a bench pass
      spark.catalog.clearCache()
      try graft.SparkEntry.queries(k)(spark, dir).count()
      catch { case e: Throwable => println(s"[jobprofile] $k warmup failed: $e") }
      spark.catalog.clearCache()
      System.gc()
      // settle the (async) listener queue so counts attribute to the
      // measured run — listenerBus is private, a short sleep suffices
      // for a dev tool
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0)
      t00.set(System.nanoTime())
      val t0 = System.nanoTime()
      // SPARK_GRAFT_PLANONLY=1: time ONLY analysis+optimization+
      // physical planning (no execution) — splits driver planning cost
      // out of the wall number
      try {
        val df = graft.SparkEntry.queries(k)(spark, dir)
        if (sys.env.get("SPARK_GRAFT_PLANONLY").contains("1"))
          df.queryExecution.executedPlan.toString: Unit
        else df.count(): Unit
      }
      catch { case e: Throwable => println(s"[jobprofile] $k failed: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"$k%-28s $wall%8.2f ${jobs.get}%5d ${stages.get}%7d ${tasks.get}%6d ${taskNanos.get / 1e9}%8.2f")
    }
    spark.stop()
  }
}

package graft.perfbench

/** Per-layer metrics of a traced run. Every traced run reports every
  * metric; a layer the workload does not exercise reads 0. Counts and
  * times are per pass of the measured section; per-call times are
  * medians over the calls. */
object Layers {
  private val MiB = 1024.0 * 1024.0

  val PerCall: Seq[String] = Curation.Pipelines.map(_._2) ++ Seq(
    "ann.write_s", "ann.update_s", "ann.delete_s", "ann.probe_s",
    "text.bm25_write_s", "text.bm25_update_s", "text.bm25_delete_s", "text.bm25_probe_s",
    "dedup.reband_s")

  val Families: Seq[String] = Seq("b", "s", "g", "st", "m", "p")

  def compute(wl: Workload, h: Harness, t: Tracer, measuredNs: Long,
              passes: Int, cores: Int, gcS: Double, stored: StoreProbe,
              inputBytes: Long): Map[String, Double] = {
    val spans = t.allSpans
    val opSpans = spans.filter(_.layer == "op")
    t.attributeExecutions(opSpans)
    val total = new SparkCounters
    h.records.foreach(r => total.add(t.countersOf(r.spanId)))
    val n = passes.toDouble
    def phaseS(p: String) = h.records.map(_.phaseNs.getOrElse(p, 0L)).sum / 1e9 / n

    // op time with no job running: op span minus the union of its jobs
    val phaseOwner = spans.filter(_.layer == "phase").map(s => s.id -> s.parent).toMap
    val jobsByOp = spans.filter(_.layer == "spark")
      .groupBy(j => phaseOwner.getOrElse(j.parent, 0L))
    val gapNs = opSpans.map { o =>
      val jobs = jobsByOp.getOrElse(o.id, Nil)
      val asChild = Span(o.id, 0L, o.name, "op", o.start, o.end)
      Tracer.selfNs(asChild +: jobs.map(_.copy(parent = o.id)))(o.id)
    }.sum

    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.pct(xs, 0.5)
    val perCall = PerCall.map { m =>
      val secs = Curation.Pipelines.find(_._2 == m) match {
        case Some((key, _)) => h.records.filter(_.name == key).map(_.seconds)
        case None => h.records.filter(_.kind == m.stripSuffix("_s")).map(_.seconds)
      }
      m -> median(secs.toSeq)
    }
    val families = Families.map { f =>
      s"family.${f}_s" -> (if (wl == BiSf01)
        h.records.filter(_.family == f).map(_.seconds).sum / n else 0.0)
    }
    val wallS = measuredNs / 1e9
    Map(
      "plans.final_plan_s" -> phaseS("plan"),
      "plans.planning_s" -> total.planningMs / 1e3 / n,
      "plans.executions" -> total.executions / n,
      "driver.build_s" -> phaseS("build"),
      "driver.gap_s" -> gapNs / 1e9 / n,
      "spark.jobs" -> total.jobs / n,
      "spark.stages" -> total.stages / n,
      "spark.tasks" -> total.tasks / n,
      "spark.task_s" -> total.taskMs / 1e3 / n,
      "spark.core_util" -> total.taskMs / 1e3 / (wallS * cores),
      "spark.shuffle_write_mb" -> total.shuffleWriteBytes / MiB / n,
      "spark.shuffle_read_mb" -> total.shuffleReadBytes / MiB / n,
      "spark.spill_mb" -> total.spillBytes / MiB / n,
      "caching.stored_mb_peak" -> stored.peakCachedBytes / MiB,
      "sources.written_mb" -> stored.writtenBytes / MiB / n,
      "sources.files_written" -> stored.filesWritten / n,
      "sources.members_rewritten" -> stored.membersRewritten / n,
      "sources.members_carried" -> stored.membersCarried / n,
      "sources.write_amp" -> stored.writtenBytes.toDouble / n / inputBytes,
      "jvm.gc_s" -> gcS / n) ++ perCall ++ families
  }
}

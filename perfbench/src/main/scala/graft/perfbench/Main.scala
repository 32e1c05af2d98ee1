package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, max, md5}

import graft.{GraftExtensions, SparkEntry}

/** One benchmark run of one workload in this JVM; see perfbench/README.md.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <runDir> <inputDir>
  * <launchEpochNs>`. `inputDir` is read for bi_sf01; llm_x1 generates its
  * corpus under `<runDir>/inputs`. After the workload's untimed warm-up,
  * passes over its ops repeat until `seconds` have elapsed, at least once.
  * A traced run then replays the workload's replay ops untraced, traced
  * and untraced, for `trace.overhead_frac`. Writes
  * `<runDir>/report.json` (metrics, ops, oracle SQL of the checked keys)
  * and, traced, `<runDir>/spans.jsonl`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, runDir, inputArg, launchS) = args
    val launchNs = launchS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workload(wlName)
    val generated = wlName != BiSf01.name
    val inputDir = if (generated) s"$runDir/inputs" else inputArg

    // the session graft.Bench builds, plus a fresh warehouse per run
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val c = Ctx(spark, seedS.toLong, runDir, inputDir)
    val inputs = wl.prepare(c)
    val w0 = Clock.now()
    wl.warmUp(c, new Harness(spark, s"$runDir/warmup", None, 0L))
    val warmUpS = (Clock.now() - w0) / 1e9
    spark.catalog.clearCache()
    System.gc()

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(Tracer.attach(spark, _))
    val canary = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (traced) canary += canaryRep(spark, cores)
    val stored = new StoreProbe(spark, runDir, tracer.nonEmpty)
    IndexLifecycle.onCommit = store => stored.afterCommit(store)

    val rootId = tracer.map(_.newId()).getOrElse(0L)
    val h = new Harness(spark, s"$runDir/out", tracer, rootId)
    h.afterOp = () => stored.afterOp()
    val gc0 = gcMs()
    val (passWalls, t0, t1) = measure(spark, c, wl, h, seconds)
    val gcS = (gcMs() - gc0) / 1e3
    val setupS = (t0 - launchNs) / 1e9
    val rssMb = vmHwmKb() / 1024.0

    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> median(passWalls),
      "op_p50_s" -> pct(h.records.map(_.seconds).toSeq, 0.5),
      "op_p90_s" -> pct(h.records.map(_.seconds).toSeq, 0.9),
      "peak_rss_mb" -> rssMb)
    metrics ++= workloadMetrics(wl, h, inputs, stored.inputBytes(inputDir),
      stored.storeBytes())

    val perLayer = tracer.map { t =>
      canary += canaryRep(spark, cores)
      Tracer.detach(spark, t)
      val layers = Layers.compute(wl, h, t, t1 - t0, passWalls.size, cores, gcS,
        stored, stored.inputBytes(inputDir))
      t.record(Span(rootId, 0L, wl.name, "workload", t0, t1))
      writeSpans(s"$runDir/spans.jsonl", t)
      IndexLifecycle.onCommit = _ => ()
      // the workload's replay ops untraced, traced and untraced again, on
      // the same build, seed and session; the untraced runs bracket the
      // traced one, so that the JIT warming between them cancels
      def replay(tracer: Option[Tracer]): Double = {
        spark.catalog.clearCache()
        tracer.foreach(Tracer.attach(spark, _))
        val r = new Harness(spark, s"$runDir/replay", tracer, tracer.map(_.newId()).getOrElse(0L))
        wl.replay(c, r)
        tracer.foreach(Tracer.detach(spark, _))
        r.records.map(_.seconds).sum
      }
      val before = replay(None)
      val tracedS = replay(Some(new Tracer))
      val overhead = tracedS / ((before + replay(None)) / 2) - 1
      canary += canaryRep(spark, cores)
      val kernels = Kernels.run(spark, inputDir)
      layers ++ kernels ++ Map("trace.overhead_frac" -> overhead,
        "host.canary_s" -> median(canary.toSeq))
    }.getOrElse(Map.empty[String, Double])

    val oracleKeys = h.records.map(_.oracleKey).filter(_ != null).toSet
    val report = Json.obj(
      "workload" -> wl.name, "seed" -> seedS.toLong, "cores" -> cores,
      "passes" -> passWalls.size, "warm_up_s" -> warmUpS, "input_dir" -> inputDir,
      "inputs" -> inputs,
      "confs" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sortBy(_._1).toMap,
      "metrics" -> metrics.toMap,
      "per_layer" -> perLayer,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => oracleKeys(k) },
      "ops" -> h.records.map { r =>
        Json.obj("seq" -> r.seq, "name" -> r.name, "kind" -> r.kind,
          "family" -> r.family, "pass" -> r.pass, "seconds" -> r.seconds,
          "check" -> r.check, "oracle_key" -> r.oracleKey, "out" -> r.out,
          "error" -> r.error)
      }.toSeq)
    Files.writeString(Paths.get(s"$runDir/report.json"), report.text)
    spark.stop()
  }

  /** Passes over the workload until `seconds` have elapsed, at least one.
    * Caches are cleared before each pass so every pass starts from the
    * same state. */
  def measure(spark: SparkSession, c: Ctx, wl: Workload, h: Harness,
              seconds: Double): (Seq[Double], Long, Long) = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.now()
    while (walls.isEmpty || (Clock.now() - t0) / 1e9 < seconds) {
      spark.catalog.clearCache()
      h.pass = walls.size
      val p0 = Clock.now()
      wl.pass(c, h)
      walls += (Clock.now() - p0) / 1e9
    }
    (walls.toSeq, t0, Clock.now())
  }

  /** The LLM workload's own end-to-end numbers (printed; see README). */
  def workloadMetrics(wl: Workload, h: Harness, inputs: Map[String, Double],
                      inputBytes: Long, storeBytes: Long): Map[String, Double] =
    if (wl != LlmX1) Map.empty
    else {
      val curation = h.records.filter(_.kind == "pipeline")
      val commits = h.records.filter(r => IndexLifecycle.CommitKinds(r.kind)).map(_.seconds).toSeq
      val probes = h.records.filter(_.family == IndexLifecycle.SteadyProbe).map(_.seconds).toSeq
      Map("docs_per_s" -> inputs("docs") * curation.size / curation.map(_.seconds).sum,
        "commit_p50_s" -> pct(commits, 0.5),
        "probe_p50_s" -> pct(probes, 0.5),
        "probe_p90_s" -> pct(probes, 0.9),
        "store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes)
    }

  /** graft.Bench's fixed host canary: an md5 scan independent of graft. */
  def canaryRep(spark: SparkSession, cores: Int): Double = {
    System.gc()
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, cores)
      .select(md5(col("id").cast("string")).as("h")).agg(max("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val spans = t.allSpans
    val self = Tracer.selfNs(spans)
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> self(s.id) / 1e9).text
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Bytes the run's stores hold, and (traced) what each op wrote. */
final class StoreProbe(spark: SparkSession, runDir: String, traced: Boolean) {
  private val roots = Seq(s"$runDir/warehouse", s"$runDir/tmp").map(new File(_))
  var peakCachedBytes = 0L
  var writtenBytes = 0L
  var filesWritten = 0L
  var membersRewritten = 0L
  var membersCarried = 0L
  private var lastScanMs = System.currentTimeMillis()

  private def files(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(files)
    else if (f.isFile) Iterator(f) else Iterator.empty

  def storeBytes(): Long = roots.iterator.flatMap(files).map(_.length).sum

  def inputBytes(dir: String): Long = files(new File(dir)).map(_.length).sum

  /** Traced only: cache held by the block manager, and the files written
    * into the stores since the previous op ended. */
  def afterOp(): Unit = if (traced) {
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakCachedBytes = math.max(peakCachedBytes, cached)
    val now = System.currentTimeMillis()
    roots.iterator.flatMap(files).filter(_.lastModified >= lastScanMs).foreach { f =>
      writtenBytes += f.length; filesWritten += 1
    }
    lastScanMs = now
  }

  def afterCommit(store: String): Unit = if (traced) {
    val (rewritten, carried) = IndexLifecycle.members(spark, store)
    membersRewritten += rewritten
    membersCarried += carried
  }
}

/** The graft_* SQL kernels, each timed in isolation over a cached input
  * column of the workload's corpus: rows per core-second of task time,
  * over 8 reps after an untimed one. Task time is counted in whole
  * milliseconds, so the vectors are copied [[VecCopies]] times: without
  * the copies `graft_dot` took about 10 ms of task time in all. */
object Kernels {
  val VecCopies = 16

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("text", "split(lower(text), ' ') AS toks",
        "graft_h32_array(graft_word_shingles(text, 3)) AS h").cache()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .crossJoin(spark.range(VecCopies))
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS e").cache()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val t = new Tracer
    Tracer.attach(spark, t)
    val reps = 8
    def timed(df: org.apache.spark.sql.DataFrame, n: Long, expression: String): Double = {
      // a new frame per rep: collecting one frame again would reuse its
      // shuffle output and skip the stage that runs the kernel
      def query() = df.select(expr(s"sum(hash($expression))"))
      query().collect() // JIT and codegen, untimed
      val id = t.newId()
      t.enterPhase(spark.sparkContext, id, id)
      (0 until reps).foreach(_ => query().collect())
      t.exitPhase(spark.sparkContext)
      org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
      n * reps / (t.countersOf(id).taskMs / 1e3)
    }
    val out = Map(
      "functions.word_shingles_rows_per_core_s" ->
        timed(docs, nDocs, "graft_word_shingles(text, 3)"),
      "functions.minhash_sig_rows_per_core_s" ->
        timed(docs, nDocs, "graft_minhash_sig(h)"),
      "functions.simhash64_rows_per_core_s" ->
        timed(docs, nDocs, "graft_simhash64(toks)"),
      "functions.lsh_bucket_rows_per_core_s" ->
        timed(vecs, nVecs, "graft_lsh_bucket(e, 8)"),
      "functions.dot_rows_per_core_s" ->
        timed(vecs, nVecs, "graft_dot(e, e)"))
    Tracer.detach(spark, t)
    docs.unpersist(); vecs.unpersist()
    out
  }
}

/** Minimal JSON rendering for the report. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Raw(text) => text
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}

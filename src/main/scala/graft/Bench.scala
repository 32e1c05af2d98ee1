package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, md5}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Times are steady-state: each query runs twice untimed (JVM/JIT +
  * Janino codegen warmup — one-time costs a long-running engine never
  * repays; one pass measurably wasn't enough, see the warmup comment
  * below), then min over three timed passes. A fixed CANARY job — a
  * code-independent 32-way md5 scan — is timed INTERLEAVED through
  * every pass (one rep per ~20 queries + one at each pass end, ~39
  * reps per run since r16), so a round-over-round delta can be
  * attributed: if the canary moved with the queries, the host moved,
  * not the code (measured r2: the same binary's total drifted
  * 36s→70s over a day of host contention while per-query plans were
  * unchanged). r15 postmortem: a SINGLE end-of-pass rep min-of-3'd
  * was too noisy to adjudicate — same-HEAD benches read 0.312 vs
  * 0.390 (25%), flipping the round verdict between 0.88x and 1.14x
  * on identical raw totals. The published reference is now the
  * MEDIAN over all interleaved reps (`canary_med`) with its
  * IQR/median spread (`canary_spread`) beside it; `canary_min` /
  * `canary_sec` keep the old end-of-pass estimator for history.
  *
  * r6 postmortem (the fleet-wide ~1.13x drift on untouched queries
  * while the canary ran FASTER): Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`) defaults to 100 entries,
  * and the suite generates far more distinct codegen sources than
  * that PER PASS — so by r6's 130 queries every pass re-compiled
  * ~everything through Janino, churning JIT code cache and metaspace
  * for all 5 passes. The canary's one tiny early-compiled plan
  * doesn't see it, which is exactly the observed signature (queries
  * drift together; canary doesn't; drift grows with query count:
  * 118 -> 130 queries between r5 and r6). Fix: [[GraftSession]] raises
  * the cache so a pass's classes are compiled once and reused by
  * every later pass.
  *
  * Per-query MEDIANS of the timed passes are recorded alongside mins
  * in the durable BENCH_FULL.json (medians are robust to the one-off
  * fast/slow outliers that made the d2b/d2 cost ratio unverifiable
  * from mins alone in r6), plus the d2b/d2 median ratio as a
  * first-class field — the committed <=1.5x target, now measurable
  * from the official artifact.
  *
  * `SPARK_GRAFT_QUERIES` (comma-separated names) restricts the run —
  * the standalone-profiling mode the bench-artifact discipline calls
  * for when a full-run number looks off.
  *
  * d2b/d2 (r8 verdict, restated r17 per r16 verdict #5): every run
  * re-profiles the pair standalone (3 timed passes over only those
  * two queries) and stamps `d2b_over_d2_pair_min/med` as the
  * CANONICAL ratio next to the fleet trend numbers — the 1.5-2.1
  * band is adjudicated on the pair profile alone, because map-order
  * fleet attribution puts the fleet estimator structurally above it
  * (measured r16: fleet 2.03-2.47, pair 1.63-1.92 on the same runs).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val onlyQ: Option[Set[String]] = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = onlyQ match {
      case Some(qs) => SparkEntry.queries.filter { case (n, _) => qs(n) }
      case None => SparkEntry.queries
    }
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, cpus)
        .select(md5(col("id").cast("string")).as("h"))
        .agg(max("h")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def onceOf(qs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]): Map[String, Double] =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        name -> (System.nanoTime() - t0) / 1e9
      }
    def once(): Map[String, Double] = onceOf(queries)
    // CANARY-INTERLEAVED pass (r15 verdict #1): one end-of-pass canary
    // per pass sampled the host at ONE instant of a ~60 s pass, and
    // min-of-3 of that noisy scalar flipped same-HEAD normalized
    // verdicts by 25% (r15: driver 0.312 vs builder 0.390 on identical
    // raw totals; r14's own passes spanned 0.351-0.813). A rep every
    // ~20 queries (fixed name order, so positions are stable across
    // rounds) + one at pass end gives ~13 samples per pass / ~39 per
    // run; the MEDIAN of those is the normalization reference and the
    // IQR/median spread is published so a §12 reader can see whether
    // the reference itself is trustworthy this run. ~0.4 s per rep ≈
    // +5 s per pass — the price of an adjudicable bench.
    // Each rep is GC'd first: a mid-pass sample otherwise inherits
    // the just-finished query's allocation debt (measured: reps after
    // the heavy d-family block read 0.74-1.05 s against a 0.30 s
    // median — in-JVM state, not host noise, the same effect the r7
    // note fixed for the end-of-pass rep), and the canary exists to
    // measure the HOST. Each rep is then min-of-2 back-to-back runs:
    // a 0.3 s job doubles under one scheduler preemption, so a
    // single-shot sample conflates "host is slow" with "this instant
    // was preempted" — the min keeps sustained slowness (both runs
    // slow) and drops one-shot spikes. ~39 reps ≈ +30 s per run, the
    // price of an adjudicable normalization reference.
    // Queries keep the MAP iteration order every round before r16
    // used: per-query numbers include shared-cache materialization
    // (two queries whose operators persist the same frame split its
    // cost by whoever runs first), so the ORDER is part of each key's
    // round-over-round comparability — a sorted-order experiment at
    // r16 moved c1_curate 0.36→1.77 s and e8_bm25 1.27→0.81 s on a
    // 0.98x-raw-total fleet, pure attribution shuffle. Canary rep
    // positions follow the same order; their spacing, not their
    // location, is what the estimator needs.
    // Returns (per-query seconds, interleaved canary samples, legacy
    // end-of-pass shot). ADVICE r16: the r16 build fed the END-OF-PASS
    // rep through the same GC'd min-of-2 as the mid-pass samples, which
    // made canary_min a LOWER-biased estimator than the r1-r15
    // single-post-GC shot it claims continuity with — cross-era
    // canary_min comparisons were no longer like-for-like (measured:
    // r15→r16-close host read 0.78x under min-vs-min but 0.90x under
    // the mixed estimators the close used). Restored: the FIRST shot
    // after the end-of-pass GC is the legacy value (byte-identical
    // protocol to r1-r15), and it doubles as the first arm of the
    // interleaved sample's min-of-2 — zero added cost, both estimator
    // series stay internally consistent.
    def interleavedPass(): (Map[String, Double], Seq[Double], Double) = {
      val names = queries.toSeq
      val cs = scala.collection.mutable.ArrayBuffer[Double]()
      def rep(): Unit = { System.gc(); cs += math.min(canary(), canary()) }
      val qt = names.zipWithIndex.map { case ((name, fn), i) =>
        if (i % 20 == 0) rep()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
      // end-of-pass: GC + single shot = the r1-r15 legacy estimator;
      // min with a second shot = this pass's last interleaved sample
      System.gc()
      val legacy = canary()
      cs += math.min(legacy, canary())
      (qt, cs.toSeq, legacy)
    }
    // TWO untimed warmup passes: r4 measured the first TIMED canary at
    // 7x the others (3.08s vs 0.44s) — one pass leaves JIT/codegen
    // warmup bleeding into the first timed pass, which polluted
    // early-benched queries (x1's 2.4x r4 "regression" was exactly
    // this; see BENCH notes). The second pass costs ~1 bench-total but
    // makes all three timed canaries commensurate, so round-over-round
    // deltas are attributable.
    once(); canary()
    once(); canary()
    // two extra canary-only warmups: the canary path itself JITs later
    // than the queries (it first runs after a full query pass), and r5's
    // official run still showed the first TIMED canary at 1.5x the
    // other two (1.136 vs 0.727/0.737) — which poisons the canary-min
    // host-noise reference. ~1s total cost.
    canary(); canary(): Unit
    // drop operator-internal .cache() data so timed passes recompute
    // everything — only JIT/codegen warmth carries over, not results.
    // A full GC between passes keeps warmup garbage from being
    // collected mid-pass inside someone's timing window.
    // Three interleaved timed passes, per-query min: single-JVM runs
    // jitter by whole seconds (GC, compile threads) and min-of-n is
    // the standard steady-state estimator.
    // PASS ABSORBER (r14 verdict #4): each timed pass opens with
    // clearCache + full GC, and whichever query runs FIRST after that
    // pays the warm-back (post-GC allocator state, re-opening the sf
    // dir's parquet footers) — measured as p1_medallion reading
    // 1.9 s standalone vs 2.8 s as the first fleet row. A dedicated
    // untimed job OUTSIDE the keys map absorbs it so no reported
    // number carries pass-start noise: one small parquet read off the
    // same sf dir (footer/page-cache warm) + one tiny compute job.
    def absorber(): Unit = {
      try spark.read.parquet(s"$sfDir/region.parquet").count(): Unit
      catch { case _: Throwable => () }
      spark.range(0L, 1000000L, 1L, cpus)
        .select(md5(col("id").cast("string")).as("h"))
        .agg(max("h")).collect(): Unit
    }
    val passes = Seq.fill(3) {
      spark.catalog.clearCache()
      System.gc()
      absorber()
      interleavedPass()
    }
    val byQuery = passes.map(_._1).flatten.groupMap(_._1)(_._2)
    val results = byQuery.view.mapValues(_.min).toMap
    // median of the 3 timed passes (robust companion to the min)
    val medians = byQuery.view.mapValues { ts =>
      val s = ts.sorted; s(s.length / 2)
    }.toMap
    // the interleaved canary estimators: median is the §12
    // normalization reference; min stays published for continuity
    // with the r1-r15 history; spread = IQR/median tells the reader
    // how trustworthy THIS run's reference is (target < 0.10)
    val samples = passes.flatMap(_._2)
    val sorted = samples.sorted
    def pct(q: Double): Double =
      sorted((q * (sorted.length - 1)).round.toInt)
    val canaryMed = pct(0.5)
    val canarySpread =
      if (canaryMed > 0) (pct(0.75) - pct(0.25)) / canaryMed else 0.0
    // per-pass end-of-pass single shots: the pre-r16 protocol's 3
    // values, like-for-like with r1-r15 artifacts (ADVICE r16 — see
    // interleavedPass; the r16 artifacts' canary_min alone is the
    // min-of-2-biased exception in the series)
    val canaries = passes.map(_._3)
    // ms precision + short field set: the driver captures a bounded
    // tail of stdout, and r3's full-precision doubles (~18 chars each
    // over 64 queries) pushed the line past the window, truncating 8
    // queries and the total. total/canary also repeat AFTER the query
    // map so they survive truncation from either end. The per-query
    // MEDIAN map goes only to the durable file (below), keeping the
    // stdout line within the driver's window.
    def f3(v: Double): String = f"$v%.3f"
    def qmap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val cs = canaries.map(f3).mkString("[", ",", "]")
    // the d2b/d2 ratio, reported BOTH ways for trend-tracking; its r7
    // measured band is 1.5-2.1 (either estimator flickers ~±20% on a
    // jittery host at these 1-2s magnitudes — SURVEY §12 treats only
    // a sustained reading above 2.5 as a regression signal)
    def d2RatioOf(res: Map[String, Double],
                  med: Map[String, Double]): Option[(Double, Double)] = for {
      bMin <- res.get("d2b_ngram_jaccard_capped")
      aMin <- res.get("d2_ngram_jaccard") if aMin > 0
      bMed <- med.get("d2b_ngram_jaccard_capped")
      aMed <- med.get("d2_ngram_jaccard") if aMed > 0
    } yield (bMin / aMin, bMed / aMed)
    val fullD2 = d2RatioOf(results, medians)
    // CANONICAL PAIR PROFILE (r16 verdict #5, superseding the r8
    // band-triggered form): the fleet estimator under map-order +
    // interleaved reps measured 2.03-2.47 across the four r16
    // same-day runs while the pair-only re-profile read 1.63-1.92 —
    // inside the committed 1.5-2.1 band — every single time.
    // Fleet-position cache-attribution effects are STRUCTURAL in map
    // order (two queries persisting the same frame split its cost by
    // whoever runs first), so the fleet numbers stay published for
    // trend but the PAIR profile is now the canonical quoted number,
    // runs on EVERY bench, and the 1.5-2.1 band is adjudicated on it
    // alone. (Same methodology over just the two queries: one
    // re-warmup, min/median over 3 timed passes, caches cleared + GC
    // between — fleet-position effects removed by construction.)
    val pairD2: Option[(Double, Double)] = fullD2.flatMap { _ =>
      val pq = SparkEntry.queries.filter { case (n, _) =>
        n == "d2_ngram_jaccard" || n == "d2b_ngram_jaccard_capped" }
      spark.catalog.clearCache(); onceOf(pq): Unit // pair re-warmup
      val pp = Seq.fill(3) {
        spark.catalog.clearCache(); System.gc(); onceOf(pq)
      }
      val by = pp.flatten.groupMap(_._1)(_._2)
      d2RatioOf(by.view.mapValues(_.min).toMap,
        by.view.mapValues { ts => val s = ts.sorted; s(s.length / 2) }.toMap)
    }
    val d2Ratio = fullD2.map { case (rMin, rMed) =>
      s""","d2b_over_d2_min":${f3(rMin)},"d2b_over_d2_med":${f3(rMed)}""" +
        pairD2.map { case (pMin, pMed) =>
          s""","d2b_over_d2_pair_min":${f3(pMin)},"d2b_over_d2_pair_med":${f3(pMed)}"""
        }.getOrElse("")
    }.getOrElse("")
    val core = s""""metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","canary_sec":$cs,"canary_min":${f3(canaries.min)},"canary_med":${f3(canaryMed)},"canary_spread":${f3(canarySpread)},"canary_n":${samples.length}$d2Ratio,"methodology":"2 warmup passes + 2 canary-only warmups; min over 3 timed passes, caches cleared + full GC between; codegen class cache 4096; canary = fixed ${cpus}-way md5 scan INTERLEAVED every 20 queries + at each pass end (~39 GCd min-of-2 reps): canary_med is the SS12 normalization reference, canary_spread its IQR/median (tiered gate: <=0.10 full trust, <=0.35 adjudicate at a 1.4x floor, else defer to pair protocol); canary_min/canary_sec = single post-GC end-of-pass shots, like-for-like with r1-r15 (the r16 artifacts alone fed these through min-of-2 - discount r16 cross-era canary_min deltas); medians of the same passes in queries_med (BENCH_FULL.json)""""
    val json = s"""{$core,"queries":${qmap(results)},"total":${f3(total)},"canary":${f3(canaryMed)}}"""
    println(json)
    // ALSO persist the complete record to a committed file: the driver
    // keeps only a bounded stdout tail, which in r5 truncated 36 of 118
    // per-query numbers out of the official artifact. The file is the
    // durable copy (incl. per-query medians); stdout stays the driver
    // contract.
    val full = s"""{$core,"queries":${qmap(results)},"queries_med":${qmap(medians)},"canary_samples":${samples.map(f3).mkString("[", ",", "]")},"total":${f3(total)},"canary":${f3(canaryMed)}}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // PLUS a round-stamped copy that is never overwritten: BENCH_FULL
    // .json alone loses round N-1's per-query medians the moment round
    // N runs, and the driver's BENCH_rNN.json keeps only a truncated
    // stdout tail (r6 lost 60 of 130 per-query numbers that way). The
    // round number is inferred as max(committed BENCH_rNN.json) + 1 —
    // the driver commits its artifact at each round boundary, so at
    // bench time the highest committed round is the PREVIOUS one.
    val round = try {
      val dir = java.nio.file.Paths.get(out).toAbsolutePath.getParent
      val rx = "BENCH_r(\\d+)\\.json".r
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(dir)
      val rs = try listing.iterator().asScala
        .flatMap(p => rx.findFirstMatchIn(p.getFileName.toString)
          .map(_.group(1).toInt)).toSeq
      finally listing.close()
      if (rs.isEmpty) None else Some(rs.max + 1)
    } catch { case _: Throwable => None }
    val targets = out +: round.toSeq.map(r =>
      out.replace("BENCH_FULL", f"BENCH_FULL_r$r%02d"))
    targets.foreach { t =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(t),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $t: $e") }
    }
    spark.stop()
  }
}

package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ann.Knn
import graft.text.TextAnalysis

class TextDedupSpec extends SparkSpec {
  test("shingles: distinct word 3-grams, empty under 3 tokens") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "x  y\tz").toDF("text")
      .select(TextDedup.shingles(col("text")).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) === Seq("a b c", "b c d"))
    assert(rows(1) === Seq.empty)
    assert(rows(2) === Seq("x y z")) // whitespace runs collapse
  }

  test("exact dedup metrics: synthetic dupes counted") {
    val docs = table("documents")
    val doubled = docs.unionByName(docs.limit(10))
    val m = TextDedup.exactDupMetrics(doubled, col("text")).collect()(0)
    assert(m.getAs[Long]("n_docs") === docs.count() + 10)
    assert(m.getAs[Long]("n_dupes") === 10)
  }

  test("doc-freq-capped Jaccard: subset with exact scores; generous cap = equal") {
    val docs = table("documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairSet(TextDedup.ngramJaccardPairs(
      docs, col("doc_id"), col("text"), 0.05))
    val capped = pairSet(TextDedup.ngramJaccardPairs(
      docs, col("doc_id"), col("text"), 0.05, maxDocFreq = Some(3)))
    // capped candidates are a subset, and surviving scores are exact
    assert(capped.subsetOf(full))
    val generous = pairSet(TextDedup.ngramJaccardPairs(
      docs, col("doc_id"), col("text"), 0.05, maxDocFreq = Some(1000000)))
    assert(generous == full)
  }

  test("operators cache at the session's default cache storage level") {
    import org.apache.spark.storage.StorageLevel
    val key = "spark.sql.defaultCacheStorageLevel"
    val prior = spark.conf.getOption(key)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set(key, "DISK_ONLY")
    try {
      TextDedup.minHashLshPairs(table("documents").limit(200), col("doc_id"),
        col("text"), 0.1).count()
      val levels = spark.sparkContext.getPersistentRDDs
        .collect { case (id, rdd) if !before(id) => rdd.getStorageLevel }
      assert(levels.nonEmpty, "the pair generator registered no cache entry")
      assert(levels.forall(_ == StorageLevel.DISK_ONLY),
        s"cache levels must follow the session conf: $levels")
      // streaming frames cannot be cached: both forms pass them through
      val stream = spark.readStream.format("rate").load()
      Seq(graft.Caching.persisted(stream), graft.Caching.staged(stream))
        .foreach { df =>
          assert(df.isStreaming && (df eq stream))
          assert(df.storageLevel === StorageLevel.NONE)
        }
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.catalog.clearCache()
    }
  }

  test("verbatim overlap: shared long run detected, boilerplate capped") {
    import spark.implicits._
    val run = ("the quick brown fox jumps over the lazy dog again and " * 3).take(90)
    val boiler = "COMMON HEADER LINE THAT EVERY SINGLE DOCUMENT STARTS WITH VERBATIM " * 2
    val docs = Seq(
      (1L, "prefix one " + run + " suffix alpha"),
      (2L, "totally different lead-in text " + run + " and another tail"),
      (3L, "unrelated content with nothing shared at all beyond this sentence"),
      // 4..9: boilerplate-only docs — their shared windows exceed the
      // df cap and must generate NO pairs
      (4L, boiler), (5L, boiler), (6L, boiler), (7L, boiler), (8L, boiler),
      (9L, boiler)).toDF("doc_id", "text")
    val pairs = TextDedup.verbatimOverlapPairs(docs, col("doc_id"), col("text"),
        window = 40, stride = 20, maxDocFreq = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 90-char shared run >= 40 + 2*19: guaranteed detection at any phase
    assert(pairs.contains((1L, 2L)), pairs.toString)
    // no pair may touch the unrelated doc, and the capped boilerplate
    // family must not pair at all
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
  }

  test("verbatimScrub keeps first occurrences, cuts later ones, merges runs") {
    import spark.implicits._
    // doc 1 owns the run (first in (doc_id, off) order); doc 2 repeats
    // it verbatim and must lose the covered windows; doc 3 untouched;
    // doc 4 is an exact copy of doc 3 — every window cut
    val run = ("the quick brown fox jumps over the lazy dog again and " * 3).take(100)
    val solo = "unrelated content with nothing shared at all beyond this sentence plus padding to clear the window size"
    val docs = Seq(
      (1L, "prefix one " + run + " suffix alpha"),
      (2L, "totally different lead-in text " + run + " and another tail"),
      (3L, solo),
      (4L, solo)).toDF("doc_id", "text")
    val out = TextDedup.verbatimScrub(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // owners untouched
    assert(out(1L)._2 === 0L && out(1L)._1 === "prefix one " + run + " suffix alpha")
    assert(out(3L)._2 === 0L && out(3L)._1 === solo)
    // doc 2: one merged interval cut from inside the run; the lead-in
    // survives and the cut is at least window-sized
    assert(out(2L)._2 >= 40L, out(2L).toString)
    assert(out(2L)._1.startsWith("totally different lead-in text "))
    assert(out(2L)._1.length === ("totally different lead-in text " + run +
      " and another tail").length - out(2L)._2.toInt)
    // doc 4: windows at 0,20,40,60 (len >= 100) merge to one cut [0,
    // last+40); only the sub-stride tail past the last window survives
    assert(out(4L)._2 >= solo.length - 60L, out(4L).toString)
    assert(solo.endsWith(out(4L)._1))
    // idempotence-ish sanity: scrubbing the scrubbed corpus cuts nothing
    val again = TextDedup.verbatimScrub(
      out.toSeq.map { case (id, (txt, _)) => (id, txt) }.toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(again.agg(sum(col("n_cut"))).head().getLong(0) === 0L)
  }

  test("LSH pairs are a subset of blocked-exact pairs at the same threshold") {
    val docs = table("documents")
    val exact = TextDedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minHashLshPairs(docs, col("doc_id"), col("text"), 0.1)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty) // the synthetic corpus has real near-dups
  }

  test("incremental LSH pairs = the cross-parity slice of the self-join") {
    val docs = table("documents")
    val self = TextDedup.minHashLshPairs(docs, col("doc_id"), col("text"), 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = self.collect {
      case (a, b, j) if a % 2 == 0 && b % 2 == 1 => (a, b, j)
      case (a, b, j) if a % 2 == 1 && b % 2 == 0 => (b, a, j)
    }
    val incr = TextDedup.minHashLshPairsBetween(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == expected)
    assert(incr.nonEmpty)
  }

  test("simhash: near-identical docs have close fingerprints") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " extra"
    val fps = Seq((1L, a), (2L, b), (3L, "completely different words entirely unrelated content"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.simHashPairs(fps, col("doc_id"), col("text"), maxDist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1 && p._2 == 2)) // near-dup found
    val d12 = pairs.find(p => p._1 == 1 && p._2 == 2).get._3
    pairs.filter(p => p._2 == 3 || p._1 == 3).foreach(p => assert(p._3 > d12))
  }
}

class KnnSpec extends SparkSpec {
  test("brute-force top-k: self-similarity is 1, ranks ordered") {
    val v = table("embeddings")
    val out = Knn.bruteForceTopK(v.limit(3), v, k = 3).cache()
    // each query's own vector is in the corpus -> rank 1, sim 1.0
    val self = out.filter(col("query_id") === col("neighbor_id"))
    assert(self.count() === 3)
    self.collect().foreach { r =>
      assert(r.getAs[Int]("rank") === 1)
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9)
    }
    assert(out.count() === 9)
  }

  test("LSH top-k finds a large fraction of exact neighbors") {
    val v = table("embeddings")
    val q = v.filter(col("vec_id") < 5)
    val c = v.filter(col("vec_id") >= 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 planes x 4 tables: per-pair recall 1-(1-p^2)^4 (~0.9 even at
    // sim 0.5) — coarse buckets + the OR-construction give stable
    // recall at this corpus size
    val exact = pairs(Knn.bruteForceTopK(q, c, 5))
    val approx = pairs(Knn.lshTopK(q, c, 5, planes = 2, tables = 4))
    assert(approx.nonEmpty)
    // every approx hit is a real candidate of the query
    assert(approx.forall(p => p._1 < 5 && p._2 >= 5))
    // recall sanity: at least half of the exact pairs found
    assert(exact.intersect(approx).size * 2 >= exact.size)
  }

  test("embedding near-dup: bucketed plan (no nested-loop), subset of exact, high-sim recall") {
    val v = table("embeddings")
    val lsh = Knn.embeddingNearDupPairs(v, minSim = 0.4)
    // the shipped plan must be a pure equi-join pipeline — the whole
    // point of the multi-table LSH re-ship
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val approx = pairs(lsh)
    val exact = pairs(Knn.embeddingNearDupPairsExact(v, minSim = 0.4))
    // candidates verified exactly -> reported scores identical to exact
    assert(approx.subsetOf(exact))
    assert(approx.nonEmpty)
    // OR-construction recall: near-identical pairs (sim >= 0.95) nearly
    // always collide in at least one of the 4 tables
    val hot = exact.filter(_._3 >= 0.95)
    if (hot.nonEmpty)
      assert(approx.count(hot.contains) * 2 >= hot.size,
        s"high-sim recall too low: ${approx.count(hot.contains)}/${hot.size}")
  }

  test("range search: every candidate pair above the threshold, exact sims") {
    import graft.ann.Knn
    val v = table("embeddings")
    val q = v.filter(col("vec_id") < 10)
    val c = v.filter(col("vec_id") >= 10)
    // threshold -1 admits every candidate: range search == the full
    // LSH candidate set, so the thresholded run must equal filtering it
    val all = Knn.lshRangeSearch(q, c, minSim = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val thr = Knn.lshRangeSearch(q, c, minSim = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(thr == all.filter(_._2 >= 0.2), "threshold must be a pure filter")
    assert(thr.nonEmpty && thr.values.forall(_ >= 0.2))
    // sims are the exact rounded cosines (match the brute-force score)
    val brute = Knn.bruteForceTopK(q, c, k = c.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    all.foreach { case (pair, sim) => assert(brute(pair) == sim, s"$pair") }
  }

  test("unigramSurprisal: hand-computed corpus-model surprisal") {
    import spark.implicits._
    // corpus counts: x=2, y=2, z=1, N=5; surp(x)=surp(y)=-log2(2/5),
    // surp(z)=-log2(1/5); doc1 all at 1.321928, doc2 mean of the two
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sx = math.round(-math.log(2.0 / 5) / math.log(2) * 1e6) / 1e6
    val sz = math.round(-math.log(1.0 / 5) / math.log(2) * 1e6) / 1e6
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - sx) < 1e-6, got(1L).toString)
    assert(got(2L)._1 == 2L &&
      math.abs(got(2L)._2 - math.round((sx + sz) / 2 * 1e6) / 1e6) < 1e-6,
      got(2L).toString)
    // a doc of corpus-rare tokens scores strictly higher than a doc of
    // corpus-common ones (the filter's discriminating direction)
    val mix = Seq((1L, "common common common common"), (2L, "rare"),
      (3L, "common common")).toDF("doc_id", "text")
    val s = TextAnalysis.unigramSurprisal(mix, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(2L) > s(1L))
  }

  test("tfIdfTopTerm: distinctive term wins; common term scores zero idf") {
    import spark.implicits._
    import graft.text.TextAnalysis
    // "shared" appears in every doc (idf = ln(3/3) = 0); "rare" only in
    // doc 1 (idf = ln(3) ~ 1.0986), twice -> score ~ 2.1972
    val docs = Seq(
      (1L, "shared rare rare shared"),
      (2L, "shared common common"),
      (3L, "shared common here")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerm(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getDouble(3))).toMap
    assert(got(1L)._2 == "rare", got(1L).toString)
    assert(math.abs(got(1L)._3 - 2 * math.round(math.log(3.0) * 1e6) / 1e6) < 1e-9)
    assert(got(1L)._1 == 2L) // distinct terms in doc 1
    // doc 3: "here" (df=1) beats "common" (df=2) and "shared" (idf 0)
    assert(got(3L)._2 == "here", got(3L).toString)
    // all-common doc: top score can be 0 (every term everywhere) but a
    // winner still emerges deterministically by token order
    val common = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"))
      .toDF("doc_id", "text")
    val c = TextAnalysis.tfIdfTopTerm(common, col("doc_id"), col("text"))
      .collect().map(r => (r.getString(2), r.getDouble(3)))
    assert(c.forall { case (term, s) => term == "x" && s == 0.0 })
  }

  test("semantic dedup: within-cluster subset of exact pairs, exact sims") {
    import graft.ann.{KMeans, Knn}
    val v = table("embeddings")
    val cents = KMeans.lloyd(v, k = 8, iters = 2)
    val pairs = Knn.semanticDedupPairs(v, cents, minSim = 0.2)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(pairs.nonEmpty)
    // every pair's sim is the exact rounded cosine, above the threshold
    val exact = Knn.embeddingNearDupPairsExact(v, minSim = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (p, s) =>
      assert(s >= 0.2 && exact(p) == s, s"$p -> $s")
    }
    // blocking = the coarse quantizer: both sides of a pair share a
    // cluster (recall trades at cluster boundaries, as published)
    assert(pairs.keySet.subsetOf(exact.keySet))
    // deterministic under repartition (trained centroids + rounded argmax)
    val again = Knn.semanticDedupPairs(v.repartition(13), cents, minSim = 0.2)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(again == pairs)
  }

  test("IVF top-k: buckets bound candidates, decent recall vs exact") {
    val v = table("embeddings")
    val q = v.filter(col("vec_id") < 5)
    val c = v.filter(col("vec_id") >= 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Knn.bruteForceTopK(q, c, 5))
    val ivf = Knn.ivfTopK(q, c, 5, nCentroids = 8, nProbe = 3)
    val approx = pairs(ivf)
    // every query returns at most k ranked candidates from the corpus
    assert(approx.nonEmpty && approx.forall(p => p._1 < 5 && p._2 >= 5))
    val ranks = ivf.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(ranks.forall(_ <= 5))
    // probing 3 of 8 buckets: expect at least a third of exact pairs
    assert(exact.intersect(approx).size * 3 >= exact.size)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import graft.text.TextAnalysis

  test("bpeTrain replays hand-computed merges, including an a==b run") {
    import spark.implicits._
    // word counts: "loot" x3, "tool" x2, "lot" x1. Round 1 pairs:
    // lo:3+1=4, oo:3+2=5, ot:3+1=4, to:2, ol:2 -> merge (o,o) n=5.
    // Round 2 over {l,oo,t}: l-oo:3, oo-t:3, t-oo:2, oo-l:2, l-o:1,
    // o-t:1 -> tie l-oo vs oo-t broken by sym asc: (l,oo) n=3.
    // Round 3: loo-t:3, t-oo:2, oo-l:2, ... -> (loo,t) n=3.
    val df = Seq((1L, "loot tool loot lot"), (2L, "loot tool"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(df, col("text"), rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq((1, "o", "o", 5L), (2, "l", "oo", 3L),
      (3, "loo", "t", 3L)))
    // round 1's winner agrees with the round-zero pair stats (t15)
    val top0 = TextAnalysis.bpePairStats(df, col("text"), 1).head()
    assert(top0.getString(0) === "oo" && top0.getLong(1) === 5L)
  }

  test("bpeTrain stops early when no pairs remain") {
    import spark.implicits._
    // single-char words only: zero mergeable pairs in round 1
    val df = Seq((1L, "a b a c")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(df, col("text"), rounds = 4).count() === 0L)
    // two-char word exhausts after one merge
    val df2 = Seq((1L, "ab ab a")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(df2, col("text"), rounds = 4).collect()
    assert(m2.length === 1)
    assert(m2(0).getString(1) === "a" && m2(0).getString(2) === "b")
  }

  test("scrubPii redacts and counts emails and phone numbers") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to jo.doe+x@mail.example.org or call 555-123-4567 now"),
      (2L, "no pii here, just 12345 and words"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(df, col("text")).orderBy("doc_id")
      .select("n_emails", "n_phones", "scrubbed").collect()
    assert(out(0).getLong(0) == 1 && out(0).getLong(1) == 1)
    assert(out(0).getString(2) == "write to [EMAIL] or call [PHONE] now")
    assert(out(1).getLong(0) == 0 && out(1).getLong(1) == 0)
    assert(out(1).getString(2).contains("12345"))
  }

  test("langId picks the profile with most stopword hits") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat and it is fine"),
      (2L, "el gato en la casa y los perros"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) === "en")
    assert(m(2L) === "es")
    assert(m(3L) === "und")
  }

  test("repetition features: hand-computed duplicate fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b"),        // 2 distinct of 4 toks; 2-grams: ab,ba,ab -> 2/3; 3-grams: aba,bab -> 2/2
      (2L, "x y z"),          // no repetition at all
      (3L, "w"),              // too short for any n-gram
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(df, col("text"))
      .select("doc_id", "dup_token_frac", "dup_2gram_frac", "dup_3gram_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((1.0 - 2.0 / 4.0, 1.0 - 2.0 / 3.0, 0.0)))
    assert(out(2L) == ((0.0, 0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0, 0.0)))
  }

  test("token entropy: hand-computed bits; bounded by log2(n_tokens)") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b b"),     // p = (.5, .5) -> 1 bit
      (2L, "a b c d"),     // uniform over 4 -> 2 bits
      (3L, "a a a a"),     // single token -> 0 bits
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(df, col("doc_id"), col("text"))
      .select("doc_id", "token_entropy")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 1.0, 2L -> 2.0, 3L -> 0.0, 4L -> 0.0))
    // on real docs: 0 <= H <= log2(token count), every doc present
    val docs = table("documents")
    val h = TextAnalysis.tokenEntropy(docs, col("doc_id"), col("text"))
    assert(h.count() == docs.count())
    val viol = h.withColumn("cap", log2(size(TextAnalysis.tokens(col("text"))) + 1))
      .filter(col("token_entropy") < 0 || col("token_entropy") > col("cap") + 1e-6)
    assert(viol.count() == 0)
  }

  test("quantileBins: quartiles partition evenly, ties fall to the lower bin") {
    import spark.implicits._
    // 1..8: quartile boundaries 2.75 / 4.5 / 6.25 -> two values per bin
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val out = TextAnalysis.quantileBins(df, col("v"), 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out === Map(
      0 -> ((2L, 1.0, 2.0)), 1 -> ((2L, 3.0, 4.0)),
      2 -> ((2L, 5.0, 6.0)), 3 -> ((2L, 7.0, 8.0))))
    // median of (1,2,2,4) is exactly 2.0: the tied 2s land in bin 0
    val tied = Seq(1.0, 2.0, 2.0, 4.0).toDF("v")
    val bins = TextAnalysis.quantileBins(tied, col("v"), 2).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bins === Map(0 -> 3L, 1 -> 1L))
  }

  test("quality features bounded and consistent") {
    val q = TextAnalysis.qualityFeatures(table("documents"), col("text"))
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() === 0)
    assert(q.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() === 0)
  }

  test("token counts: bpe-ish >= whitespace tokens") {
    val c = TextAnalysis.tokenCounts(table("documents"), col("text"))
    assert(c.filter(col("bpe_tokens") < col("ws_tokens")).count() === 0)
  }

  test("fingerprints invariant to case and punctuation") {
    import spark.implicits._
    val df = Seq((1L, "Hello, World!"), (2L, "hello   world")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(df, col("text"))
      .select("md5_fp", "rolling_fp").distinct()
    assert(fp.count() === 1)
  }
}

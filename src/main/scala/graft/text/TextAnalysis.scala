package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.RollingHash64
import graft.functions.Quantize.qdp

/** Text-analysis operators for training-data curation: tokenization,
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All map-only column expressions — at 100 TB these run at scan speed
  * with zero shuffles. Heuristics follow the standard curation recipes
  * (stopword-profile language ID, punctuation/stopword-ratio quality
  * scores a la C4/Gopher rules).
  */
object TextAnalysis {

  /** Lowercased whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** [[tokens]] restricted to words the BPE bracket-wrapped symbol
    * representation can carry: tokens containing `[` or `]` are
    * excluded (the delimiters of the wrapped form — a symbol holding
    * one would break the `][` split and the literal replace needles of
    * every later merge round). Both [[bpeTrain]] and [[bpeEncode]] use
    * this same word list, so train and encode stay bit-identical. */
  def bpeWords(text: Column): Column =
    filter(tokens(text), t => !t.contains("[") && !t.contains("]"))

  // --- language ID ---------------------------------------------------

  /** Stopword profiles; tiebreak = declaration order (alphabetical). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "von", "zu", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "los", "en", "un", "que"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  def langScores(toks: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isInCollection(words)))
    }

  /** Argmax over profile hit counts; 'und' when no profile hits.
    * Explicit when-chain: language L wins if its score is >= every other
    * and > 0; chain order (alphabetical) is the tiebreak. */
  def langId(text: Column): Column = argmaxName(langScores(tokens(text)), "und")

  /** The name whose score is >= every other's and > 0, declaration
    * order breaking ties; `none` when no score is positive. */
  private def argmaxName(scores: Seq[(String, Column)], none: String): Column =
    scores.map { case (name, s) =>
      val geAll = scores.filter(_._1 != name).map { case (_, o) => s >= o }.reduce(_ && _)
      (name, geAll && s > 0)
    }.foldRight(lit(none)) { case ((name, cond), els) => when(cond, lit(name)).otherwise(els) }

  // --- quality scoring ------------------------------------------------

  /** C4-style quality features + a composite score in [0,1].
    * Single IEEE divisions; formula evaluated in a fixed order so an
    * oracle reproduces it bit-exactly. */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val enStops = LangProfiles.find(_._1 == "en").get._2
    df.withColumn("n_chars_chk", length(text).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("punct_ratio",
        regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast(DoubleType) /
          greatest(length(text), lit(1)).cast(DoubleType))
      .withColumn("stop_ratio",
        size(filter(toks, t => t.isInCollection(enStops))).cast(DoubleType) /
          greatest(size(toks), lit(1)).cast(DoubleType))
      // §6 quantizer, not round(double, n): the score feeds gate
      // verdicts downstream, so the 6-dp cut must be engine-identical
      // at the half boundary (Quantize scaladoc)
      .withColumn("quality_score", qdp(
        lit(0.4) * least(lit(1.0), col("n_tokens").cast(DoubleType) / 100.0) +
          lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * col("stop_ratio"), 6))
  }

  /** The Gopher rule set's required stop words (Rae et al. 2021,
    * App. A1.1): a doc must contain at least 2 DISTINCT members. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher quality-rule gate (Rae et al. 2021, Appendix A1.1
    * — the document-filter recipe MassiveText shipped and most crawl
    * pipelines since reuse), complementing [[qualityFeatures]]'s soft
    * score with hard drop rules. Per doc, the seven signals and their
    * verdicts:
    *
    *   - `word_count`: n_words in [minWords, maxWords] (paper: 50..100k)
    *   - `word_length`: mean word length in [3, 10] chars
    *   - `symbol_ratio`: '#' count / n_words <= 0.1 AND "..." count /
    *     n_words <= 0.1 (non-overlapping regex count, both engines)
    *   - `bullet_lines`: fraction of lines starting with a bullet
    *     ("• ", "- ", "* ") <= 0.9
    *   - `ellipsis_lines`: fraction of lines ending with "..." or "…"
    *     <= 0.3
    *   - `alpha_words`: fraction of words containing >= 1 alphabetic
    *     char >= 0.8
    *   - `stop_words`: >= 2 distinct members of [[GopherStops]]
    *
    * `keep` = all seven hold; `reasons` = ';'-joined failed rule names
    * in the fixed order above (b3's DQ-reason contract). Verdicts
    * compare UNROUNDED doubles; the emitted ratio columns are rounded
    * to 6 dp for display only. Entirely map-only column expressions —
    * at 100 TB this is a scan-speed gate with zero shuffles, the same
    * posture as [[qualityFeatures]]. Every division is a single IEEE
    * op on an exact integer numerator/denominator, so any engine
    * replays the verdicts bit-for-bit. */
  def gopherRules(df: DataFrame, id: Column, text: Column,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val words = tokens(text)
    val lines = split(text, "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val dWords = greatest(nWords, lit(1L)).cast(DoubleType)
    val dLines = greatest(nLines, lit(1L)).cast(DoubleType)
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      .cast(DoubleType) / dWords
    val hashRatio = regexp_count(text, lit("#")).cast(DoubleType) / dWords
    val dotsRatio = regexp_count(text, lit("\\.\\.\\.")).cast(DoubleType) / dWords
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("• ") || l.startsWith("- ") || l.startsWith("* ")))
      .cast(DoubleType) / dLines
    val ellLineFrac = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast(DoubleType) / dLines
    val alphaFrac = size(filter(words, w => w.rlike("[a-z]")))
      .cast(DoubleType) / dWords
    val nStops = size(array_intersect(
      array_distinct(words), array(GopherStops.map(lit): _*))).cast("long")

    val checks: Seq[(String, Column)] = Seq(
      "word_count" -> (nWords >= minWords && nWords <= maxWords),
      "word_length" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio" -> (hashRatio <= 0.1 && dotsRatio <= 0.1),
      "bullet_lines" -> (bulletFrac <= 0.9),
      "ellipsis_lines" -> (ellLineFrac <= 0.3),
      "alpha_words" -> (alphaFrac >= 0.8),
      "stop_words" -> (nStops >= 2L))

    df.select(id.as("doc_id"),
      nWords.as("n_words"),
      // §6 quantizer on the display ratios (verdicts compare the
      // UNROUNDED doubles; see the scaladoc)
      qdp(meanLen, 6).as("mean_word_len"),
      qdp(hashRatio, 6).as("hash_ratio"),
      qdp(dotsRatio, 6).as("dots_ratio"),
      qdp(bulletFrac, 6).as("bullet_line_frac"),
      qdp(ellLineFrac, 6).as("ellipsis_line_frac"),
      qdp(alphaFrac, 6).as("alpha_word_frac"),
      nStops.as("n_stop_types"),
      checks.map(_._2).reduce(_ && _).as("keep"),
      concat_ws(";", checks.map { case (name, ok) =>
        when(!ok, lit(name)).otherwise(lit(null))
      }: _*).as("reasons"))
  }

  // --- token counting ---------------------------------------------------

  /** Whitespace tokens + a BPE-ish regex segmentation count
    * (letter runs / single digits / single symbols). */
  def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("ws_tokens", size(tokens(text)).cast("long"))
      .withColumn("bpe_tokens",
        regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long"))

  // --- corpus vocabulary ------------------------------------------------

  /** Corpus-wide top-k token frequencies — the frequency table a
    * tokenizer-training (BPE/unigram) pipeline starts from. One
    * explode + map-side-combined count, then a bounded top-k
    * (TakeOrderedAndProject: each partition keeps k rows, never a
    * global sort); ties break on the token string so the cut is
    * deterministic. `n_docs` counts distinct docs via the distinct
    * token set per doc — no second shuffle, one aggregation pass over
    * (token, is_first_in_doc) rows. */
  def vocab(df: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    TextStages.termCounts(df, Seq(id.as("doc_id")), tokens(text), "in_doc")
      .groupBy("token")
      .agg(sum(col("in_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Bounded-state heavy hitters over the corpus token stream — the
    * 100 TB leg of [[vocab]]: Misra–Gries (1982) in its mergeable form
    * ([[graft.functions.MisraGries]]), so each map partition holds at
    * most k counters and ships at most k rows where the exact form
    * shuffles the full vocabulary. Summary CONTENT depends on merge
    * order (rows-only at the driver), so every row carries its own
    * deterministic evidence joined against the exact counts: MG
    * guarantees `0 <= exact - est <= floor(N/(k+1))` regardless of
    * partitioning — the `within_bound` column must be universally
    * true, and any token with exact count above that bound must
    * appear. The exact leg is the invariant; production uses the
    * summary alone. */
  def heavyHitters(df: DataFrame, text: Column, k: Int): DataFrame = {
    val toks = df.select(explode(tokens(text)).as("token"))
    val summary = toks
      .agg(ColumnBridge.column(graft.functions.MisraGries(
        ColumnBridge.expression(col("token")), k).toAggregateExpression())
        .as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("token"), col("e.est").as("est"))
    val exact = TextStages.termCounts(df, Nil, tokens(text), "exact")
    val total = toks.agg(count(lit(1)).as("n_total"))
    summary.join(exact, "token").crossJoin(broadcast(total))
      .withColumn("bound", floor(col("n_total") / lit(k + 1)))
      .withColumn("within_bound",
        col("est") <= col("exact") && col("exact") - col("est") <= col("bound"))
  }

  /** BPE merge-pair statistics — the inner-loop input of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016 "Neural Machine
    * Translation of Rare Words with Subword Units"): the frequency of
    * every adjacent symbol pair across the corpus, symbols = characters
    * at merge round zero. The pair explode runs over the DISTINCT word
    * list weighted by word frequency — the standard BPE formulation
    * that makes the count O(|vocab| · word_len) instead of
    * O(|corpus tokens| · word_len); at 100 TB the word-count shuffle is
    * the only corpus-sized stage (map-side combined) and everything
    * after is vocabulary-sized. Output: the k most frequent pairs —
    * the next-merge candidates — under (count desc, pair asc), a
    * bounded per-partition heap (TakeOrderedAndProject), never a
    * global sort. */
  def bpePairStats(df: DataFrame, text: Column, k: Int): DataFrame = {
    val words = TextStages.termCounts(df, Nil, tokens(text), "wn", "word")
    // adjacent char pairs of one word: substr(i, 2) for i in 1..len-1
    // (1-based); single-char words have no pairs
    val pairList = transform(
      sequence(lit(1), length(col("word")) - 1),
      i => col("word").substr(i, lit(2)))
    words.filter(length(col("word")) > 1)
      .select(explode(pairList).as("pair"), col("wn"))
      .groupBy("pair").agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Multi-round BPE training — the loop [[bpePairStats]] (t15) is
    * round zero of (Sennrich et al. 2016): each round counts adjacent
    * symbol-pair frequencies over the weighted DISTINCT word list,
    * picks the most frequent pair (ties by (count desc, pair asc)),
    * merges it everywhere, and repeats. Output: the merge table —
    * (round, sym_a, sym_b, n), the artifact a BPE tokenizer ships.
    *
    * Words are carried as bracket-wrapped symbol strings
    * (`[t][h][e]` → after merging (t,h) → `[th][e]`): a merge is then
    * ONE literal string `replace` of `[a][b]` with `[ab]`, and because
    * every symbol is individually delimited, adjacent matches share no
    * boundary characters — left-to-right non-overlapping replace
    * semantics IS greedy BPE merge application, including the
    * a == b run case (`[a][a][a]` → `[aa][a]`). The representation is
    * only sound when symbols never contain the delimiters themselves,
    * so [[bpeWords]] ENFORCES it: whitespace tokens containing `[` or
    * `]` are excluded from the word list (a merged symbol containing a
    * bracket would desynchronize both the `][` split and later replace
    * needles, silently corrupting every subsequent round). With that
    * invariant held, false matches are impossible and an external SQL
    * engine replays the merge bit-for-bit with its own `replace`.
    *
    * Scale shape: the corpus-sized stage is the one word-count shuffle
    * (map-side combined), cached once; every round after is
    * vocabulary-sized — pair explode bounded by |vocab|·word_len,
    * partial-aggregated counts, top-1 via a bounded heap
    * (TakeOrderedAndProject), and a ONE-row collect per round
    * (control-plane, like the k-means trainer's centroid pull). */
  def bpeTrain(df: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val spark = df.sparkSession
    val words0 = graft.Caching.persisted(
      TextStages.termCounts(df, Nil, bpeWords(text), "wn", "word")
        .select(regexp_replace(col("word"), "(.)", "[$1]").as("wr"), col("wn")))
    var cur = words0
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = split(col("wr").substr(lit(2), length(col("wr")) - 2), "\\]\\[")
      val top = cur
        .select(col("wn"), syms.as("sy"))
        .filter(size(col("sy")) > 1)
        .select(col("wn"), explode(transform(
          sequence(lit(1), size(col("sy")) - 1),
          i => struct(element_at(col("sy"), i).as("a"),
            element_at(col("sy"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        cur = cur.withColumn("wr",
          replace(col("wr"), lit(s"[$a][$b]"), lit(s"[$a$b]")))
        r += 1
      }
    }
    words0.unpersist()
    import spark.implicits._
    merges.result().toDF("round", "sym_a", "sym_b", "n")
  }

  /** Tokenize the corpus with a TRAINED BPE merge table — the
    * consumption leg of [[bpeTrain]] (what "a tokenizer ships" is
    * for): per document, every word is split to characters and the
    * merge table applied in training order, giving the token count a
    * model would actually see. The per-doc compression ratio
    * (chars → BPE tokens) is the budget number sequence packing (t7)
    * and context chunking (t9) consume once a real tokenizer replaces
    * their whitespace proxy.
    *
    * Mechanics: training runs first ([[bpeTrain]] — its one-row-per-
    * round collects are the only control-plane work); the learned
    * merges (a `rounds`-row local table) then fold into ONE chained
    * literal-replace expression over bracket-wrapped words, exactly
    * the representation training used, so encode and train agree
    * bit-for-bit (incl. greedy left-to-right a==b runs). Encoding is
    * MAP-ONLY: no join, no shuffle — each doc computes its counts from
    * its own tokens via higher-order functions.
    *
    * Output per doc: n_words, n_chars (symbols before any merge =
    * summed word lengths), n_bpe_tokens (symbols after all merges;
    * equals n_chars when the merge table is empty). All three counts
    * range over [[bpeWords]] — the same bracket-safe word list
    * training used. */
  /** Chained literal-replace expression applying a trained merge table
    * (a local [[bpeTrain]] result) to one bracket-wrapped word, in
    * training order — the shared encode kernel of [[bpeEncode]] and
    * [[bpeChunkStats]]. */
  private def mergeReplay(merges: Array[org.apache.spark.sql.Row])
                         (w: Column): Column =
    merges.foldLeft(regexp_replace(w, "(.)", "[$1]")) { (c, m) =>
      val (a, b) = (m.getString(1), m.getString(2))
      replace(c, lit(s"[$a][$b]"), lit(s"[$a$b]"))
    }

  /** Symbols in a bracket-wrapped word = number of `[` delimiters. */
  private def wrSymCount(wr: Column): Column =
    (length(wr) - length(replace(wr, lit("["), lit("")))).cast("long")

  def bpeEncode(df: DataFrame, id: Column, text: Column,
                rounds: Int): DataFrame = {
    val merges = bpeTrain(df, text, rounds).collect()
    val encodeWord = mergeReplay(merges) _
    val symCount = wrSymCount _
    val tk = bpeWords(text)
    df.select(id.as("doc_id"),
      size(tk).cast("long").as("n_words"),
      aggregate(tk, lit(0L), (acc, w) => acc + length(w).cast("long"))
        .as("n_chars"),
      aggregate(tk, lit(0L), (acc, w) => acc + symCount(encodeWord(w)))
        .as("n_bpe_tokens"))
  }

  /** Context-window chunking under a BPE TOKEN budget — [[bpeEncode]]
    * wired into the chunker the way t9's whitespace proxy promised:
    * chunk boundaries fall where the running BPE token total crosses
    * `budget`, so every chunk costs what the model actually pays, not
    * a whitespace approximation. Same contiguous greedy-fill semantics
    * as [[Packing.packIntoBins]] (chunk = floor(tokens_before/budget)
    * over words in document order): a jumbo word can overshoot its
    * chunk's boundary, and the next chunk starts at the next word.
    *
    * Shapes: training first ([[bpeTrain]], one-row-per-round collects);
    * then per-word costs are a map-only merge replay, and the ONE wide
    * op is a window partitioned BY DOCUMENT — each partition sorts only
    * its own doc's words (massively parallel at corpus scale, the same
    * posture as t7's per-bucket window). Docs with no BPE-eligible
    * words emit no row.
    *
    * Output per doc: n_chunks, n_bpe_tokens (= [[bpeEncode]]'s count),
    * max_chunk_bpe_tokens (the fullest chunk — capacity-planning's
    * number). */
  def bpeChunkStats(df: DataFrame, id: Column, text: Column,
                    rounds: Int, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val merges = bpeTrain(df, text, rounds).collect()
    val words = df
      .select(id.as("doc_id"), posexplode(bpeWords(text)).as(Seq("pos", "word")))
      .withColumn("cost", wrSymCount(mergeReplay(merges)(col("word"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    words
      .withColumn("chunk_id",
        floor(coalesce(sum(col("cost")).over(w), lit(0L)) / budget))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sum(col("cost")).as("chunk_bpe"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_bpe")).as("n_bpe_tokens"),
        max(col("chunk_bpe")).as("max_chunk_bpe_tokens"))
  }

  /** Bigram-LM mean surprisal — the next order up from
    * [[unigramSurprisal]] (t13)'s quality proxy, the cheapest
    * CONDITIONAL language model (KenLM-lineage filters start here):
    * per-doc mean of -log2 P(w2|w1) with P estimated from the corpus
    * itself, P(w2|w1) = c(w1 w2) / c(w1 ·), c(w1 ·) the count of w1 as
    * a bigram left context (so each context's conditionals sum to 1
    * exactly). Flags "word salad" that unigram stats miss — plausible
    * tokens in implausible orders.
    *
    * Shapes: doc-bigram explode (map-only) → two keyed counts (bigram,
    * then left-context — both vocabulary²-bounded, far below corpus
    * size) → joins back on the same keys → one decimal-exact per-doc
    * mean. Docs with fewer than 2 tokens have no bigrams and emit no
    * row.
    *
    * Lifecycle: the returned frame is lazy, so the persisted tf
    * intermediate cannot be unpersisted here — the CALLER owns its
    * lifecycle (the [[graft.Caching]] contract). A long-lived session
    * that calls this repeatedly should unpersist it or
    * `spark.catalog.clearCache()` after its terminal action; otherwise
    * the cached blocks linger until LRU eviction. */
  def bigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    // persisted: tf feeds the model branch (c2 -> c1) AND the scoring
    // join, and column pruning specializes each branch's exchange so
    // ReuseExchange can't dedupe them — un-persisted, the tokenize +
    // bigram explode + (doc, bigram) shuffle runs once per branch
    val tf = graft.Caching.persisted(TextStages.termCounts(
      df.select(id.as("doc_id"), tokens(text).as("tk")),
      Seq(col("doc_id")), TextStages.bigrams(col("tk")), "tf", "bigram"))
    // surp is NOT pre-rounded — see unigramSurprisal's determinism
    // note (an intermediate round amplifies engine log2 ulp
    // disagreements; the DECIMAL cast is the quantizer)
    TextStages.meanSurprisal(TextStages.bigramModel(tf)
      .withColumn("surp",
        -log2(col("c2").cast(DoubleType) / col("c1").cast(DoubleType))),
      "n_bigrams")
  }

  /** Jelinek–Mercer interpolated bigram surprisal — [[bigramSurprisal]]
    * (t16)'s conditional model smoothed with [[unigramSurprisal]]
    * (t13)'s unigram model (Jelinek & Mercer 1980; the interpolation
    * rung of the KenLM lineage below Kneser–Ney):
    * `surp = −log2(λ·P(w2|w1) + (1−λ)·P(w2))` with
    * `P(w2|w1) = c(w1 w2)/c(w1 ·)` and `P(w2) = ctf(w2)/N`. The
    * unigram floor keeps rare contexts from reading as certainty — a
    * singleton context's only continuation scores P = 1 (surprisal
    * exactly 0) under t16 no matter how improbable the words, while
    * the interpolated score stays strictly positive and
    * frequency-sensitive; that is the quality-filter failure mode
    * this rung exists to fix.
    *
    * Determinism: the probabilities are exact-count IEEE quotients,
    * the λ-mix two multiplies and one add in the exact written order
    * (the oracle embeds the SAME complement literal Scala computes,
    * via an exact decimal-string cast), surprisal NOT pre-rounded
    * (unigramSurprisal's note), per-doc sums DECIMAL(28,12), one
    * final 6-dp round.
    *
    * Shapes: t16's bigram counts + t13's unigram counts (two feature
    * streams over the corpus — the documented stats role split), all
    * model frames vocabulary-bounded, the corpus total a ONE-ROW
    * broadcast product. Docs with fewer than 2 tokens emit no row.
    *
    * Lifecycle: the persisted uni/tf intermediates follow
    * [[bigramSurprisal]]'s caller-owns contract — unpersist them or
    * `spark.catalog.clearCache()` after the terminal action in a
    * long-lived session. */
  def interpolatedSurprisal(df: DataFrame, id: Column, text: Column,
                            lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val base = df.select(id.as("doc_id"), tokens(text).as("tk"))
    // persisted: vocabulary-sized, and read by BOTH the total agg and
    // the scoring join — un-persisted each re-runs the corpus explode
    val uni = graft.Caching.persisted(
      TextStages.termCounts(base, Nil, col("tk"), "ctf", "w2"))
    val total = uni.agg(sum(col("ctf")).as("n_total"))
    // persisted for bigramSurprisal's reason: the c2 -> c1 model
    // branch and the scoring join prune tf differently, so the
    // (doc, bigram) shuffle would execute once per branch
    val tf = graft.Caching.persisted(TextStages.termCounts(base,
      Seq(col("doc_id")), TextStages.bigrams(col("tk")), "tf", "bigram"))
    val scored = TextStages.bigramModel(tf).join(uni, "w2")
      .crossJoin(broadcast(total))
      .withColumn("surp", -log2(
        lit(lambda) *
          (col("c2").cast(DoubleType) / col("c1").cast(DoubleType)) +
        lit(1.0 - lambda) *
          (col("ctf").cast(DoubleType) / col("n_total").cast(DoubleType))))
    TextStages.meanSurprisal(scored, "n_bigrams")
  }

  /** Per-source distribution-drift audit — the feed monitor a corpus
    * ops team runs every ingest cycle (is src X still the same kind
    * of text we mixed for, or did the crawler start pulling spam?):
    * for each source, the KL divergence (bits) of its hashed-unigram
    * distribution from the REST of the corpus — the leave-one-out
    * baseline, so a big source can't mask its own drift by dominating
    * the reference. Distributions live on [[Dsir]]'s fixed hashed
    * grid (`buckets` outcomes, add-one smoothing → both sides proper
    * distributions, KL ≥ 0), so the model side is corpus-size-free.
    *
    * Determinism: each of the `buckets` KL terms p·log2(p/q) rounds
    * to 9 dp and sums as DECIMAL(38,9) (order-independent — the x12
    * recipe; the term count is FIXED at `buckets`), one final 6-dp
    * round.
    *
    * Scale shape: ONE corpus pass to (source, bucket) counts
    * ([[TextStages.gridCounts]]: persisted, sources×buckets rows),
    * densified against the constant grid per source, the corpus total
    * a one-row scalar subquery; side totals and the per-bucket counts
    * are window sums partitioned by source and by bucket. Output per
    * source: n_tokens, kl_bits. */
  def sourceDrift(df: DataFrame, text: Column, source: Column,
                  buckets: Int = graft.text.Dsir.DefaultBuckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dense = TextStages.gridCounts(df, Seq(source.as("source")), tokens(text), buckets)
      .withColumn("n_s", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("c_all", sum(col("c")).over(Window.partitionBy(col("bucket"))))
    val b = lit(buckets.toDouble)
    TextStages.klBits(dense, Seq("source"),
      TextStages.addOne(col("c"), col("n_s"), b),
      TextStages.addOne(col("c_all") - col("c"), col("n") - col("n_s"), b),
      col("n_s"))
  }

  /** Dense hashed-unigram profile of one corpus on the fixed grid —
    * (bucket, c, n) with every bucket in [0, buckets) present and `n`
    * the total token mass: the frozen REFERENCE side of [[klDrift]]
    * (fit it once on the healthy corpus, persist/store it, compare
    * every new batch against it). `buckets` rows regardless of corpus
    * size — the DSIR broadcastability property: this IS one side of
    * [[Dsir.model]]'s dense counts. */
  def unigramProfile(df: DataFrame, text: Column,
                     buckets: Int = graft.text.Dsir.DefaultBuckets): DataFrame =
    TextStages.gridCounts(df, Nil, tokens(text), buckets)

  /** KL(docs ‖ reference) in bits over the shared hashed grid — the
    * one-number drift answer [[sourceDrift]] gives per source,
    * against an EXPLICIT frozen [[unigramProfile]] instead of the
    * leave-one-out corpus (the serving form:
    * [[graft.streaming.DriftStream]] runs it per micro-batch).
    * Add-one smoothing on both sides → proper distributions, KL ≥ 0;
    * same determinism recipe as sourceDrift (per-term 9-dp round +
    * DECIMAL(38,9) sum, one final 6-dp round). Output: ONE row
    * (n_tokens, kl_bits). */
  def klDrift(docs: DataFrame, text: Column, ref: DataFrame,
              buckets: Int = graft.text.Dsir.DefaultBuckets): DataFrame = {
    val b = lit(buckets.toDouble)
    TextStages.klBits(
      unigramProfile(docs, text, buckets).join(
        ref.select(col("bucket"), col("c").as("c_ref"), col("n").as("n_ref")),
        "bucket"),
      Nil,
      TextStages.addOne(col("c"), col("n"), b),
      TextStages.addOne(col("c_ref"), col("n_ref"), b),
      col("n"))
  }

  /** Per-document top TF-IDF term — the "most distinctive term" signal
    * used for topic tagging / cluster labeling in curation pipelines
    * (tf-idf per Salton & Buckley 1988). tf = in-doc occurrences,
    * idf = ln(N / df) over the corpus itself, both rounded to 6 dp
    * before the per-doc argmax so the winner is engine-reproducible
    * (ties break on the token string).
    *
    * Scale shape: explode → map-side-combined (doc, token) counts (one
    * shuffle) → token-keyed df join (second shuffle, vocabulary-sized)
    * → per-doc min_by argmax (partial-aggregating, one row per doc per
    * partition crosses the wire). The corpus size N attaches via a
    * ONE-ROW broadcast cross join — a |rows| × O(1) constant product
    * (the same exemption class as the IVF corpus × constant-centroids
    * pass), not a nested-loop stage; no windows, no driver round-trip.
    * Docs with no tokens have no terms and drop out, mirroring the SQL
    * formulation. The tf frame feeds both the df aggregation and the
    * scoring join, so it persists ([[graft.Caching]]; the caller owns
    * its lifetime). */
  def tfIdfTopTerm(df: DataFrame, id: Column, text: Column): DataFrame = {
    val total = df.agg(count(lit(1)).as("n_corpus"))
    val tf = graft.Caching.persisted(
      TextStages.termCounts(df, Seq(id.as("doc_id")), tokens(text), "tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfn"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(total))
      // outer §6 quantizer on the tf·idf product (the inner 6-dp idf
      // round pins the transcendental log — unchanged)
      .withColumn("score", qdp(col("tf") * round(
        log(col("n_corpus").cast(DoubleType) / col("dfn").cast(DoubleType)), 6), 6))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        min_by(col("token"), struct((-col("score")).as("s"), col("token")))
          .as("top_term"),
        max(col("score")).as("top_tfidf"))
  }

  /** Per-document mean unigram surprisal — the language-model quality
    * proxy of the CCNet/C4 lineage (Wenzek et al. 2020 filter on LM
    * perplexity; a corpus-unigram model is its cheapest form): docs
    * whose tokens are improbable under the corpus distribution score
    * high (gibberish, boilerplate codes), formulaic docs score low.
    * mean_surprisal = Σ tf(doc,t) · −log2(ctf(t)/N) / n_tokens, the
    * weighted sum decimal-exact with ONE final 6 dp round.
    *
    * Determinism note (found by the r8 sf0.1 second-dataset sweep):
    * the per-term surprisal is deliberately NOT pre-rounded. Engines'
    * log2 may disagree by an ulp (~1e-16); an intermediate 6 dp round
    * AMPLIFIES that to a full 1e-6 whenever a value sits on a
    * rounding boundary (two docs flipped at sf0.1). Quantization
    * happens only in the DECIMAL(28,12) cast — 1e6× finer — so a
    * boundary flip needs the per-doc MEAN itself within ~1e-12 of a
    * 6 dp edge.
    *
    * Scale shape mirrors [[tfIdfTopTerm]]: one (doc, token) count
    * shuffle (persisted — it feeds both the corpus
    * counts and the scoring join), a vocabulary-keyed join, the
    * corpus-total attached by a one-row broadcast product, and a
    * per-doc decimal aggregation. Docs with no tokens drop out. */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tf = graft.Caching.persisted(
      TextStages.termCounts(df, Seq(id.as("doc_id")), tokens(text), "tf"))
    val corpus = tf.groupBy("token").agg(sum(col("tf")).as("ctf"))
    val total = corpus.agg(sum(col("ctf")).as("n_total"))
    tf.join(corpus, "token")
      .crossJoin(broadcast(total))
      .withColumn("surp", -log2(
        col("ctf").cast(DoubleType) / col("n_total").cast(DoubleType)))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        // §6 quantizer on the decimal-exact mean (Quantize scaladoc)
        qdp((sum((col("tf") * col("surp")).cast(DecimalType(28, 12)))
          / sum(col("tf"))).cast(DoubleType), 6).as("mean_surprisal"))
  }

  // --- repetition signals ----------------------------------------------

  /** Gopher-style intra-document repetition signals (Rae et al. 2021
    * §A1.1: repeated n-grams mark low-quality/boilerplate docs):
    * duplicate fraction of tokens, 2-grams and 3-grams —
    * `1 - distinct/total`, 0 when the doc is too short to have any.
    * Map-only; the distinct counts reuse the codegen'd
    * [[graft.functions.WordShingles]] kernel (distinct by construction)
    * so no per-row sort or HOF appears in the plan. Raw IEEE quotients
    * (no rounding) — deterministic across engines. */
  def repetitionFeatures(df: DataFrame, text: Column): DataFrame = {
    val n = size(tokens(text))
    def frac(distinct: Column, total: Column, minTok: Int): Column =
      when(n >= minTok,
        lit(1.0) - distinct.cast(DoubleType) / total.cast(DoubleType))
        .otherwise(lit(0.0))
    df.withColumn("dup_token_frac",
        frac(size(array_distinct(tokens(text))), n, 1))
      .withColumn("dup_2gram_frac",
        frac(size(TextStages.shingles(text, 2)), n - 1, 2))
      .withColumn("dup_3gram_frac",
        frac(size(TextStages.shingles(text, 3)), n - 2, 3))
  }

  /** Per-document token-distribution Shannon entropy (bits):
    * -Σ (n_t/N) log2(n_t/N) over each doc's distinct tokens — the
    * repetitiveness signal [[repetitionFeatures]]' duplicate fractions
    * approximate: spam/boilerplate concentrates mass on few tokens
    * (entropy → 0), natural prose approaches log2(N). Empty docs → 0.
    *
    * Shape: explode → count shuffle keyed (doc_id, token) with
    * map-side combine → per-doc window total (second doc_id shuffle;
    * the closing aggregation reuses that partitioning). Cross-engine
    * determinism: each token's term is rounded to 7 dp (coarse enough
    * that a last-ulp log2 divergence between engines cannot flip the
    * rounding) and summed as DECIMAL(28,12) — order-independent — and
    * the EXACT decimal sum is cast to double with NO further rounding:
    * a second rounding would manufacture true decimal half-points
    * (7-dp terms sum to an exact 7-dp decimal), where Spark's
    * string-decimal HALF_UP and an engine rounding the binary double
    * disagree. Casting the same exact decimal is bit-identical
    * everywhere.
    *
    * Output: (all input columns kept) + token_entropy. */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val entropy = TextStages.termCounts(df, Seq(id.as("doc_id")), tokens(text), "n_t")
      .withColumn("n_doc", sum(col("n_t")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .withColumn("p", col("n_t").cast(DoubleType) / col("n_doc"))
      .withColumn("term", round(-col("p") * log2(col("p")), 7))
      .groupBy("doc_id")
      .agg(sum(col("term").cast("decimal(28,12)")).cast(DoubleType)
        .as("token_entropy"))
    df.withColumn("doc_id", id)
      .join(entropy, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("token_entropy"))
  }

  // --- curriculum binning -----------------------------------------------

  /** Quantile (curriculum) bins over a score column: boundaries at the
    * 1/nBins … (nBins-1)/nBins quantiles (rounded to 4 dp so engines
    * agree), each row assigned the count of boundaries strictly below
    * its value (ties fall to the LOWER bin), summarized per bin. The
    * data-mixing step that carves a corpus into quality tiers for
    * curriculum schedules / tiered sampling rates.
    *
    * Scale shape: one exact-percentile aggregation to a single row
    * (sort-free Greenwald–Khanna-style percentile agg in Spark),
    * broadcast as a |rows| × O(1) constant product, then a map-only
    * bin assignment + one keyed count. At 100 TB swap the boundary
    * pass to `approx_percentile` — the bin-assignment contract is
    * unchanged; the oracle pins the exact path at test scale. The
    * single projected value column feeds both the boundary pass and
    * the bin pass, so it persists (one column/row — cheap; the caller
    * owns its lifetime, [[graft.Caching]]). */
  def quantileBins(df: DataFrame, value: Column, nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val ps = (1 until nBins).map(_.toDouble / nBins).toArray
    quantileBin(graft.Caching.persisted(df.select(value.as("v"))), col("v"), ps, "bin")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min(col("v")).as("min_score"), max(col("v")).as("max_score"))
  }

  /** `df` + `bin`: the count of `value`'s exact `ps` percentiles
    * strictly below it (ties fall to the lower bin). The boundaries
    * take the §6 quantizer at 4 dp (they feed the bin verdicts) and
    * attach as a one-row broadcast. */
  private def quantileBin(df: DataFrame, value: Column, ps: Array[Double],
                          bin: String): DataFrame =
    df.crossJoin(broadcast(df.agg(
        transform(percentile(value, lit(ps)), b => qdp(b, 4)).as("bounds"))))
      .withColumn(bin, size(filter(col("bounds"), b => value > b)))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3: score
    * every document under a reference LM, split the corpus into
    * head/middle/tail TERCILES, train preferentially on the head) —
    * the canonical curriculum carve, here under the corpus-unigram
    * surprisal model [[unigramSurprisal]] already provides (the
    * cheapest member of the CCNet model family; swap the scorer, keep
    * the carve). Tercile boundaries are exact percentiles rounded to
    * 4 dp (t14's engine-agreement posture; `approx_percentile` is the
    * 100 TB swap), bucket = strictly-above-bound count (0 → head =
    * LOWEST surprisal = most natural text). Per bucket: doc count,
    * token mass (what a mixture actually budgets), min/max surprisal.
    *
    * Scale: the surprisal model's two keyed shuffles + one one-row
    * boundary broadcast + map-only bucketing + a 3-key count. The
    * per-doc surprisal frame feeds BOTH the tercile-bounds aggregation
    * and the bucketing pass — un-persisted, column pruning would
    * specialize each branch's plan and re-execute the whole
    * corpus-sized surprisal subtree twice (the r11 single-pass-audit
    * class; this was the bench's worst variance surface), so it
    * persists. The persisted frame is doc-count-sized (4
    * columns/doc), not corpus-text-sized; the caller owns its lifetime
    * ([[graft.Caching]]). */
  def perplexityBuckets(df: DataFrame, id: Column, text: Column): DataFrame = {
    quantileBin(graft.Caching.persisted(unigramSurprisal(df, id, text)),
        col("mean_surprisal"), Array(1.0 / 3, 2.0 / 3), "nb")
      .withColumn("bucket",
        when(col("nb") === 0, "head")
          .when(col("nb") === 1, "middle").otherwise(lit("tail")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("mean_surprisal")).as("min_surprisal"),
        max(col("mean_surprisal")).as("max_surprisal"))
  }

  // --- charset / normalization audit -----------------------------------

  /** Encoding-health audit — the pre-tokenization screen a web-scale
    * corpus runs before any text op (mojibake, control bytes, and
    * whitespace damage are the classic crawl pathologies): per doc,
    * counts of non-ASCII chars, control chars (tab/newline/CR exempt),
    * U+FFFD replacement chars (the decoder's "this was mojibake"
    * marker), multi-space runs, and whether the doc is already in
    * [[normalized]] form. Map-only column expressions; character
    * classes are spelled as explicit ranges (no `\s`/`\p{...}`) so the
    * Java-regex and RE2 engines agree symbol for symbol. */
  def charsetAudit(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      length(text).cast("long").as("n_chars"),
      regexp_count(text, lit("[^\\x00-\\x7f]")).cast("long").as("n_non_ascii"),
      regexp_count(text, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"))
        .cast("long").as("n_control"),
      regexp_count(text, lit("�")).cast("long").as("n_replacement"),
      regexp_count(text, lit("  +")).cast("long").as("n_multi_space"),
      (text === normalized(text)).as("is_normalized"))

  /** Sentence segmentation stats — the sentence-level quality signals
    * next to [[gopherRules]]' word/line rules (C4 drops lines without
    * terminal punctuation; sentence counts and lengths are the
    * standard readability/structure cues): sentences = nonempty
    * segments after splitting on terminal-punctuation runs followed by
    * whitespace (`[.!?]+\s+` — split-ahead, no lookbehind, so Java
    * regex and RE2 read it identically; the final sentence keeps its
    * trailing punctuation, which never changes a word count). Per doc:
    * sentence count, total/max/mean words per sentence (mean = one
    * IEEE division of exact integers, 6-dp). Map-only column
    * expressions — scan speed at 100 TB. */
  def sentenceStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val sents = filter(split(text, "[.!?]+\\s+"), s => s =!= "")
    val wordsPer = transform(sents, s0 =>
      size(filter(split(s0, "\\s+"), w => w =!= "")))
    val total = aggregate(wordsPer, lit(0L), (a, x) => a + x)
    df.select(id.as("doc_id"),
      size(sents).cast("long").as("n_sentences"),
      total.as("n_sentence_words"),
      coalesce(array_max(wordsPer), lit(0)).cast("long")
        .as("max_sentence_words"),
      // §6 quantizer on the mean quotient (Quantize scaladoc)
      qdp(total.cast(DoubleType) /
        greatest(size(sents), lit(1)).cast(DoubleType), 6)
        .as("mean_sentence_words"))
  }

  /** Readability — the LIX index (Björnsson 1968, "Läsbarhetsindex"):
    * `words/sentences + 100 * longwords/words`, long word = more than
    * 6 characters. LIX is the readability measure that needs NO
    * syllable model (Flesch/Kincaid do), so it is exactly computable
    * from the same splits both engines already agree on — sentence
    * segmentation as [[sentenceStats]] (`[.!?]+\s+` split-ahead),
    * words = whitespace tokens, long-word length counted on the raw
    * token (trailing punctuation included; a documented simplification
    * that is engine-identical and shifts LIX by well under one band).
    * Per doc: word/sentence/long-word counts and the 6-dp LIX score
    * (both divisions IEEE-evaluated in the formula's written order).
    * Map-only column expressions — a scan-speed quality gate that
    * pairs with [[gopherRules]]' hard filters: corpora are routinely
    * binned by readability band (LIX <25 very easy … >55 very hard)
    * when building curriculum mixes. */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val sents = filter(split(text, "[.!?]+\\s+"), s => s =!= "")
    val words = filter(split(text, "\\s+"), w => w =!= "")
    val nw = size(words).cast("long")
    val ns = size(sents).cast("long")
    val nl = size(filter(words, w => length(w) > 6)).cast("long")
    df.select(id.as("doc_id"),
      nw.as("n_words"), ns.as("n_sentences"), nl.as("n_long_words"),
      // §6 quantizer on the two-quotient LIX formula (Quantize
      // scaladoc); divisions stay in the written order
      qdp(nw.cast(DoubleType) /
          greatest(ns, lit(1L)).cast(DoubleType) +
        lit(100.0) * nl.cast(DoubleType) /
          greatest(nw, lit(1L)).cast(DoubleType), 6).as("lix"))
  }

  /** Script classes for [[scriptMixAudit]]: name → regex char class,
    * declaration order = the dominant-script tiebreak. Explicit
    * `\x{...}` ranges so Java regex and RE2 read them identically. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04ff}]",
    "greek" -> "[\\x{0370}-\\x{03ff}]",
    "han" -> "[\\x{4e00}-\\x{9fff}]")

  /** Script-mix audit — the homoglyph/obfuscation screen next to
    * [[charsetAudit]]'s encoding health (a crawl's "pаypal" with a
    * Cyrillic а passes every charset check and is exactly how spam and
    * phishing text defeats naive filters; mixed-script WORDS are the
    * signal, mixed-script documents are often legitimate): per doc,
    * character counts per script class, the count of tokens mixing ≥2
    * scripts (Unicode UTS-39's confusable-detection cue, reduced to
    * the map-only form), and the dominant script (argmax char count,
    * declaration-order tiebreak, 'none' when no class hits). All
    * map-only codegen'd regexes — a scan-speed gate at 100 TB. */
  def scriptMixAudit(df: DataFrame, id: Column, text: Column): DataFrame = {
    val names = ScriptClasses.map(_._1)
    val counts = ScriptClasses.map { case (nm, re) =>
      regexp_count(text, lit(re)).cast("long").as(s"n_$nm") }
    def nScripts(w: Column): Column =
      ScriptClasses.map { case (_, re) => w.rlike(re).cast("int") }
        .reduce(_ + _)
    val mixed = size(filter(tokens(text), w => nScripts(w) >= 2))
      .cast("long").as("n_mixed_words")
    df.select((id.as("doc_id") +: counts) :+ mixed: _*)
      .withColumn("dominant_script", argmaxName(names.map(nm => nm -> col(s"n_$nm")), "none"))
  }

  /** Charset/normalization FIXER — the apply leg of [[charsetAudit]]
    * (the audit finds encoding damage; this is the map-only repair a
    * pipeline actually runs next): drop U+FFFD replacement characters
    * (they mark already-lost bytes — there is nothing to restore),
    * strip the same control-character class the audit counts, collapse
    * whitespace runs to single spaces and trim, then NFC-compose
    * (combining sequences → precomposed forms, via the codegen'd
    * [[graft.functions.NfcNormalize]] kernel — Spark has no built-in;
    * DuckDB's nfc_normalize is the oracle twin). Idempotent by
    * construction (property-tested): no step reintroduces what an
    * earlier step removes, and NFC output is NFC. */
  def fixText(text: Column): Column =
    ColumnBridge.column(graft.functions.NfcNormalize(ColumnBridge.expression(
      trim(regexp_replace(regexp_replace(regexp_replace(text,
        lit("�"), lit("")),
        lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"), lit("")),
        lit("\\s+"), lit(" "))))))

  // --- PII scrubbing ----------------------------------------------------

  /** Conservative PII patterns (emails, NNN-NNN-NNNN phones). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Redact emails/phones and count what was found — the curation
    * "scrub" step. Map-only; the testdata corpus contains no PII-like
    * strings so this is spec-tested rather than oracle-checked. */
  def scrubPii(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails", regexp_count(text, lit(EmailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(text, lit(PhoneRe)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"))

  /** Range-validated IPv4 (each octet 0-255; the naive `\d{1,3}` form
    * counts `999.999.999.999`). Spelled without backreferences so Java
    * regex and RE2 agree. */
  val IpRe: String = {
    val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    s"\\b$octet(?:\\.$octet){3}\\b"
  }

  /** 16-digit card-shaped runs in 4-4-4-4 grouping with optional
    * space/dash separators — the CANDIDATE shape; validity is Luhn's
    * ([[luhnValid]]), which no regex can express. */
  val CardRe: String = "\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b"

  /** Luhn checksum (ISO/IEC 7812) over a candidate's digits — the
    * check that separates a real card number from 16 arbitrary digits:
    * from the RIGHT, double every second digit (subtracting 9 when it
    * exceeds 9) and the total must divide by 10. Pure higher-order
    * column functions (codegen'd; no UDF). */
  def luhnValid(cand: Column): Column = {
    val ds = reverse(regexp_replace(cand, "[^0-9]", ""))
    val total = aggregate(sequence(lit(1), length(ds)), lit(0),
      (acc, i) => {
        val d = ds.substr(i, lit(1)).cast("int")
        acc + when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    total % 10 === 0
  }

  /** [[scrubPii]] with the breadth a crawl scrub actually needs:
    * emails, phones, range-valid IPv4s, and Luhn-VALID 16-digit card
    * numbers. `n_cards` counts only candidates passing [[luhnValid]]
    * (a 16-digit order id is not PII); the scrub itself redacts EVERY
    * card-shaped candidate — conservative over-redaction is the
    * standard call, and it keeps the replace a plain regex. Replace
    * order (emails → phones → ips → cards) is part of the contract:
    * the earlier patterns cannot match inside a later one's span
    * (digit runs have no internal word boundaries), so the order is
    * observationally stable. Map-only, zero shuffles. */
  def scrubPiiExtended(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails", regexp_count(text, lit(EmailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(text, lit(PhoneRe)).cast("long"))
      .withColumn("n_ips", regexp_count(text, lit(IpRe)).cast("long"))
      .withColumn("n_cards",
        size(filter(regexp_extract_all(text, lit(CardRe), lit(0)),
          luhnValid(_))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"), IpRe, "[IP]"),
          CardRe, "[CARD]"))

  /** Intra-document duplicate-LINE removal — the APPLY leg of the t8
    * repetition audit and the C4 recipe's document-level rule (Raffel
    * et al. 2020 drop repeated lines; boilerplate headers/footers
    * surviving HTML extraction are the usual victims): keep each
    * distinct line's FIRST occurrence, in order (`array_distinct`
    * preserves first-occurrence order), drop the rest. Map-only —
    * split, distinct, rejoin are all column expressions; at 100 TB
    * this runs at scan speed with zero shuffles.
    *
    * Output per doc: n_lines, n_kept, md5 of the rejoined text (the
    * full scrubbed text is the operator's product; the digest keeps
    * the driver row compact). */
  def dedupLines(df: DataFrame, id: Column, text: Column): DataFrame = {
    val ls = split(text, "\n")
    val kept = array_distinct(ls)
    df.select(id.as("doc_id"),
      size(ls).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      md5(array_join(kept, "\n")).as("dedup_md5"))
  }

  // --- fingerprinting ---------------------------------------------------

  /** Normalized text: lowercase, non-alphanumerics collapsed to single
    * spaces, trimmed. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Content fingerprints: md5 of normalized text + polynomial rolling
    * hash over normalized tokens (order-sensitive; single-pass
    * [[graft.functions.RollingHash64]] kernel, spec-checked equal to
    * the aggregate-fold formulation). */
  def fingerprints(df: DataFrame, text: Column): DataFrame = {
    val norm = normalized(text)
    df.withColumn("md5_fp", md5(norm))
      .withColumn("rolling_fp", ColumnBridge.column(RollingHash64(
        ColumnBridge.expression(filter(split(norm, " "), t => t =!= "")))))
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * statistics, quality scoring, language-ID heuristics, fingerprinting.
  *
  * All operators are pure `Column` expression trees (whole-stage codegen, no
  * UDFs) so they vectorize over the parquet scan and scale linearly: no
  * shuffle except the final aggregation where one exists, and every
  * aggregation is partial+final (map-side combine). At 100 TB the scan
  * dominates; nothing here adds a second pass over the data.
  */
object TextAnalysis {

  /** Tokenization used across the engine: lowercase, split on runs of
    * non-alphabetic characters, drop empties. Deliberately regex-minimal so
    * the DuckDB oracle (`regexp_split_to_array`) has identical semantics.
    * Since r16 the implementation is the codegen'd byte-scan
    * [[graft.functions.AsciiTokens]] (guide §4: no regex engine in the
    * per-row hot path of ~40 queries) — the token stream is PROVABLY the
    * one `filter(split(lower(text), "[^a-z]+"), _ != "")` produces (same
    * `Lower` code path, a-z byte runs of the lowercased string ≡ the regex
    * split's non-empty segments; equality property-pinned in
    * TokenShingleParitySpec against the original tree). */
  def tokens(text: Column): Column =
    graft.functions.functions.ascii_tokens(text)

  /** Top-k tokens by frequency, ties broken by token ascending.
    * Scale: explode + groupBy(token) hash-agg with map-side combine; the
    * token key space is bounded by vocabulary, so the shuffle is tiny
    * relative to the scan. Top-k is a TakeOrdered (no global sort). */
  def topTokens(docs: DataFrame, textCol: String = "text", k: Int = 20): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** Exact heavy hitters: every token whose frequency exceeds `support`
    * (a fraction of ALL token occurrences), with counts and shares —
    * the vocabulary skew report behind tokenizer/stopword decisions.
    *
    * Scale: one explode + hash-agg with map-side combine (same shape as
    * [[topTokens]]), then a broadcast of the 1-row total for the share
    * filter. Unlike a top-k, the output size is data-driven but bounded by
    * 1/support rows (at most ⌊1/s⌋ items can each exceed share s), so even
    * support=0.001 caps the result at 1000 rows regardless of corpus size.
    * The sketch sibling is [[frequentItemsApprox]]. */
  def heavyHitters(docs: DataFrame, support: Double = 0.005,
                   textCol: String = "text"): DataFrame = {
    require(support > 0 && support < 1, "support must be in (0, 1)")
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    // total occurrences = Σ cnt over the vocab-sized counts frame — NOT a
    // second corpus scan; at 100 TB re-tokenizing the text column to count
    // it would double the dominant cost of the query
    val total = counts.agg(sum(col("cnt")).as("__total"))
    counts.crossJoin(broadcast(total))
      .where(col("cnt") > col("__total") * support)
      .select(col("token"), col("cnt"),
        (col("cnt").cast("double") / col("__total")).as("share"))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  /** Sketch tier of [[heavyHitters]]: single-pass frequent-items via
    * Spark's `stat.freqItems` (Karp/Shenker/Papadimitriou counter sketch).
    * Returns a SUPERSET of the items above `support` — the algorithm's
    * guarantee is no false negatives; false positives are expected and
    * callers filter with one exact count pass over just the candidate set
    * (bounded by 1/support items) when they need precision. No oracle by
    * design (sketch internals are engine-specific); the superset guarantee
    * vs [[heavyHitters]] is property-tested. */
  def frequentItemsApprox(docs: DataFrame, support: Double = 0.005,
                          textCol: String = "text"): DataFrame = {
    require(support > 0 && support < 1, "support must be in (0, 1)")
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    toks.stat.freqItems(Seq("token"), support)
      .select(explode(col("token_freqItems")).as("token"))
      .orderBy("token")
  }

  /** Per-language corpus stats: doc count, mean char length, distinct
    * sources. The mean is computed as exact integer sum ÷ count (one double
    * division at the end) so the result is bit-deterministic under any
    * partitioning — double summation would be order-sensitive. */
  def textStats(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
      count_distinct(col("source")).as("n_sources")
    ).orderBy("lang")

  /** Per-document token counts: whitespace tokens plus a BPE-ish sub-token
    * count (alpha runs, digit runs, and isolated symbols counted separately —
    * a cheap proxy for byte-pair-encoded token counts). Pure expressions. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), tokens(col(textCol)).as("toks"),
        size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+', 0)")).cast("bigint").as("n_bpeish_tokens"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("bigint").as("n_distinct_tokens"),
        col("n_bpeish_tokens"))
      .orderBy("doc_id")

  /** Common English stopwords that appear in the synthetic corpus; used for
    * stopword-ratio quality signals. */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** Per-document quality signals: char/token counts, mean token length,
    * stopword ratio, alpha ratio, plus a composite [0,1] score. All
    * arithmetic is per-row (no aggregation) so results are bit-deterministic
    * and the whole thing is one codegen stage over the scan.
    *
    * [[qualityScore]] is the PRESENTATION face (id-sorted, the oracle
    * contract); every internal consumer that aggregates, windows, or
    * re-sorts downstream goes through [[qualitySignals]] instead — the
    * same frame WITHOUT the global sort. The sf10 sweep measured the
    * difference the hard way: `quality_deciles_approx` inherited this
    * sort through its scoring input and paid a full range-exchange TWICE
    * (cuts pass + assignment pass), 164× wall on 100× data; unsorted
    * signals restore the declared map-only + sketch shape. */
  def qualitySignals(docs: DataFrame, textCol: String = "text",
                     keepCols: Seq[String] = Nil): DataFrame = {
    // tokenize once into an attribute (see langId note on re-inlining)
    val docsT = docs.select(
      (Seq(col("doc_id"), col(textCol), tokens(col(textCol)).as("toks")) ++ keepCols.map(col)): _*)
    val t = col("toks")
    val nTok = size(t).cast("bigint")
    val nChars = length(col(textCol)).cast("bigint")
    val nAlpha = length(regexp_replace(col(textCol), "[^a-z]", "")).cast("bigint")
    val sw = typedLit(stopwords)
    val nStop = size(filter(t, tk => array_contains(sw, tk))).cast("bigint")
    // greatest(..., 1) denominators keep empty docs total (score 0, no NaN)
    val meanTokLen = nAlpha.cast("double") / greatest(nTok, lit(1L))
    val stopRatio = nStop.cast("double") / greatest(nTok, lit(1L))
    val alphaRatio = nAlpha.cast("double") / greatest(nChars, lit(1L))
    // Composite: reward in-range token counts and healthy stopword presence.
    val score =
      when(nTok >= 5 && nTok <= 1000, lit(0.4)).otherwise(lit(0.0)) +
      when(meanTokLen >= 2.0 && meanTokLen <= 12.0, lit(0.3)).otherwise(lit(0.0)) +
      when(stopRatio >= 0.01 && stopRatio <= 0.6, lit(0.3)).otherwise(lit(0.0))
    docsT.select((Seq(col("doc_id")) ++ keepCols.map(col) ++ Seq(nTok.as("n_tokens"),
      nChars.as("n_chars"), meanTokLen.as("mean_token_len"), stopRatio.as("stopword_ratio"),
      alphaRatio.as("alpha_ratio"), score.as("quality_score"))): _*)
  }

  /** Id-sorted [[qualitySignals]] — the declared-query / oracle face. */
  def qualityScore(docs: DataFrame, textCol: String = "text",
                   keepCols: Seq[String] = Nil): DataFrame =
    qualitySignals(docs, textCol, keepCols).orderBy("doc_id")

  /** The 100 TB tier of the quality-decile lift table: bucket scores by
    * approx-quantile cut-points instead of a global ntile sort. ONE sketch
    * pass (`percentile_approx`, mergeable GK partials) yields the nBuckets-1
    * interior cut-points — a driver-bounded collect of nBuckets-1 doubles,
    * corpus-size-independent — then assignment is a map-only CASE over the
    * scan and the lift table is one ordinary partial+final aggregate. No
    * global sort anywhere, so the plan survives a 1000-executor corpus
    * where the exact tier's single-partition ntile window cannot.
    *
    * Semantics vs the exact tier: buckets are SCORE INTERVALS (bucket 1 =
    * highest scores). Value-based assignment never splits tied scores
    * across buckets — on heavily-tied score distributions populations are
    * only approximately equal (and buckets whose interval collapses onto a
    * duplicated cut-point come out empty) while ntile forces exact equality
    * by splitting ties arbitrarily by doc_id. On continuous scores the two
    * tiers agree up to sketch rank error — property-tested in
    * TextAnalysisSpec; no oracle by design (sketch-specific cut-points). */
  def qualityDecilesApprox(docs: DataFrame, textCol: String = "text",
                           nBuckets: Int = 10, accuracy: Int = 10000): DataFrame =
    scoreDecilesApprox(
      qualitySignals(docs, textCol)
        .select(col("doc_id"), col("n_chars"), col("quality_score")),
      scoreCol = "quality_score", charsCol = "n_chars",
      nBuckets = nBuckets, accuracy = accuracy)

  /** Generic core of [[qualityDecilesApprox]]: lift table over any scored
    * frame. Exposed separately so the cut-point mechanism is property-
    * testable on continuous scores (where it must agree with exact ntile)
    * independent of the discrete composite quality score. */
  def scoreDecilesApprox(scored: DataFrame, scoreCol: String, charsCol: String,
                         nBuckets: Int = 10, accuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    graft.functions.SessionTuning.ensureActiveSession()
    // descending thresholds t_1 >= ... >= t_{n-1}: t_i = quantile(1 - i/n)
    val ps = (1 until nBuckets).map(i => 1.0 - i.toDouble / nBuckets)
    // percentile_approx over ZERO rows returns a NULL cuts array — mirror
    // weightedQuantileBinned's empty-input path and return an empty lift
    // table (same schema) instead of NPE-ing on the null Seq.
    val cutsRow = scored.agg(percentile_approx(col(scoreCol),
        typedLit(ps), lit(accuracy)).as("cuts"))
      .head()
    val cuts: Seq[Double] =
      if (cutsRow.isNullAt(0)) null else cutsRow.getSeq[Double](0)
    if (cuts == null)
      return scored.where(lit(false))
        .select(lit(0).as("decile"), lit(0L).as("n_docs"),
          lit(0.0).as("mean_chars"),
          col(scoreCol).as("min_score"), col(scoreCol).as("max_score"))
    val decile = cuts.zipWithIndex.reverse.foldLeft(lit(nBuckets)) {
      case (acc, (t, i)) =>
        when(col(scoreCol) >= lit(t), lit(i + 1)).otherwise(acc)
    }
    scored.withColumn("decile", decile)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col(charsCol).cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("mean_chars"),
        min(col(scoreCol)).as("min_score"),
        max(col(scoreCol)).as("max_score"))
      .orderBy("decile")
  }

  /** Top-k documents per group by [[qualityScore]] (ties broken by doc_id
    * ascending) — the "best exemplars per language/source" curation query.
    * Scale: the score is a map-only stage; ranking is one window over
    * `partitionBy(groupCol)` carrying only (group, doc_id, score) — slim
    * rows, and per-group state is a running top-k rank, spill-safe. */
  def topQualityDocs(docs: DataFrame, groupCol: String, k: Int = 3,
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = qualitySignals(docs, textCol, keepCols = Seq(groupCol))
      .select(col(groupCol), col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(groupCol).orderBy(col("quality_score").desc, col("doc_id").asc)
    q.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col("doc_id"), col("quality_score"))
      .orderBy(groupCol, "rnk")
  }

  /** Aggregate tier of [[topQualityDocs]]: identical output (group, rnk,
    * doc_id, quality_score; ord desc, doc_id asc on ties), but computed
    * with the bounded-heap [[graft.functions.TopKAgg]] instead of a window
    * sort. The window formulation shuffles and sorts EVERY row of every
    * group; the aggregate's map-side partial keeps ≤ k pairs per group per
    * task, so the exchange carries ≤ k·|groups| pairs — the 100 TB path
    * for "top N per group". */
  def topQualityDocsAgg(docs: DataFrame, groupCol: String, k: Int = 3,
                        textCol: String = "text"): DataFrame = {
    val q = qualitySignals(docs, textCol, keepCols = Seq(groupCol))
      .select(col(groupCol), col("doc_id"), col("quality_score"))
    q.groupBy(col(groupCol))
      .agg(graft.functions.TopKAgg.top_k_by(
        col("quality_score"), col("doc_id"), k).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rnk"),
        col("p.id").as("doc_id"), col("p.ord").as("quality_score"))
      .orderBy(groupCol, "rnk")
  }

  /** Tiny per-language marker lexicons for the language-ID heuristic. The
    * real-world version would use character n-gram profiles; the heuristic
    * shape (per-language evidence scores → argmax) is the same. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"),
    "zh" -> Seq("de", "shi", "le", "zai", "he")
  )

  /** Heuristic language ID: per-language marker-token hit ratio → argmax
    * (ties broken by language code ascending, 'und' when no evidence).
    * One pass, pure expressions; scales as a map-only stage. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // Tokenize once into an attribute: the per-language scores each reference
    // the token array, and an inlined tokens() expression would re-run the
    // regex split per language.
    val toksDf = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val t = col("toks")
    val nLangs = langMarkers.size
    // argmax via descending sort of (score, tie, lang) structs; `tie` encodes
    // the INVERSE alphabetical index, so equal scores resolve to the
    // alphabetically-first language (matching the oracle's asc CASE chain).
    val scored = langMarkers.toSeq.sortBy(_._1).zipWithIndex.map { case ((lg, markers), idx) =>
      val m = typedLit(markers)
      val score = size(filter(t, tk => array_contains(m, tk))).cast("double") /
        greatest(size(t), lit(1))
      struct(score.as("score"), lit(nLangs - 1 - idx).as("tie"), lit(lg).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    toksDf.select(col("doc_id"),
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und")).as("pred_lang"),
      best.getField("score").as("lang_score"))
      .orderBy("doc_id")
  }

  /** Confusion matrix of [[langId]] predictions against a labeled language
    * column — the classifier audit (which languages bleed into which) run
    * before trusting language filters on a new corpus. One langId pass +
    * an id-keyed join back to the labels + a tiny |langs|² hash-agg. */
  def langIdConfusion(docs: DataFrame, labelCol: String = "lang",
                      textCol: String = "text"): DataFrame =
    langId(docs, textCol)
      .join(docs.select(col("doc_id"), col(labelCol).as("label")), Seq("doc_id"))
      .groupBy(col("label"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "pred_lang")

  /** Context-window chunking: split each document's token stream into
    * windows of `chunkTokens` tokens advancing by `chunkTokens - overlap`
    * (the standard overlapping-chunk shape for LLM context packing), as
    * (doc_id, chunk_idx, chunk_text, n_tokens) rows.
    *
    * Pure expressions — `sequence` of window starts → `transform`/`slice` →
    * posexplode; map-only row expansion, no UDF, no shuffle. The final
    * (possibly short) window always reaches the last token; empty docs yield
    * zero chunks. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 50, overlap: Int = 10,
                textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val toksDf = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val nTok = size(col("toks"))
    // window starts 1, 1+stride, …; the upper bound nTok-overlap guarantees
    // the last window contributes at least one NEW token beyond the overlap
    val starts = sequence(lit(1), greatest(nTok - lit(overlap), lit(1)), lit(stride))
    toksDf.where(nTok > 0)
      .select(col("doc_id"),
        posexplode(transform(starts, s => slice(col("toks"), s, lit(chunkTokens)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        array_join(col("col"), " ").as("chunk_text"),
        size(col("col")).cast("bigint").as("n_tokens"))
  }

  /** PII-ish scrubbing: redact email addresses and URLs, report per-doc hit
    * counts. Regexes are deliberately written in the common subset of Java
    * regex (Spark) and RE2 (DuckDB) so the operator is oracle-checkable.
    * Map-only; at 100 TB this is a pure scan stage. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^ \\t\\n]+"

  def scrubText(docs: DataFrame, textCol: String = "text"): DataFrame =
    // regexp_count with lit() patterns, NOT expr(): a pattern embedded in a
    // SQL string literal would have its backslash escapes re-processed by
    // the SQL parser ('\.' silently becomes '.').
    docs.select(col("doc_id"),
      regexp_count(col(textCol), lit(emailRe)).cast("bigint").as("n_emails"),
      regexp_count(col(textCol), lit(urlRe)).cast("bigint").as("n_urls"),
      regexp_replace(regexp_replace(col(textCol), emailRe, "<EMAIL>"),
        urlRe, "<URL>").as("clean_text"))
      .orderBy("doc_id")

  /** Space-joined token n-grams as an array column; fewer than `n` tokens
    * yields an empty array.
    *
    * Shape matters here: `n` shifted copies of the token array are zipped
    * elementwise (entry i of the zip holds tokens i..i+n-1), so `toks`
    * appears only in ARGUMENT position — evaluated a constant number of
    * times per row. The obvious alternative, `transform(starts, s =>
    * slice(toks, s, n))`, captures `toks` in the lambda body; after
    * CollapseProject inlines the token expression there, tokenization
    * re-runs once per window — measured 15× slower on bigrams. */
  def tokenNgrams(toks: Column, n: Int): Column =
    if (n == 1) toks
    else {
      val winLen = greatest(size(toks) - lit(n - 1), lit(0))
      val shifted = (0 until n).map(i => slice(toks, lit(i + 1), winLen).as(s"g$i"))
      transform(arrays_zip(shifted: _*),
        st => concat_ws(" ", (0 until n).map(i => st.getField(s"g$i")): _*))
    }

  /** Within-document repetition signals (the Gopher-paper quality filters,
    * token-n-gram form): per document, the share of n-gram occurrences taken
    * by the single most frequent n-gram (`top_ngram_frac`) and the share
    * belonging to n-grams occurring more than once (`dup_ngram_frac`).
    * High values flag boilerplate/spam for corpus filtering.
    *
    * Shape: explode n-grams → hash-agg on (doc_id, ngram) → hash-agg on
    * doc_id — both aggregations map-side-combined, key space bounded by the
    * corpus's n-gram vocabulary, so the shuffles stay small relative to the
    * scan. Fractions are exact-integer max/sums with ONE final double
    * division (bit-deterministic under any partitioning). Docs with fewer
    * than `n` tokens have no n-grams and are absent from the output. */
  def repetition(docs: DataFrame, n: Int = 2, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), explode(tokenNgrams(tokens(col(textCol)), n)).as("ngram"))
      .groupBy("doc_id", "ngram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_ngrams"),
        (max(col("cnt")).cast("double") / sum(col("cnt")).cast("double")).as("top_ngram_frac"),
        (sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).cast("double")
          / sum(col("cnt")).cast("double")).as("dup_ngram_frac"))
      .orderBy("doc_id")

  /** Corpus-level top-k token n-grams by occurrence count, ties broken by
    * n-gram ascending. Same scale shape as [[topTokens]]: the shuffle key is
    * the n-gram vocabulary, top-k is a TakeOrdered (no global sort). */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 20, textCol: String = "text"): DataFrame =
    docs.select(explode(tokenNgrams(tokens(col(textCol)), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)

  /** Per-document top-k terms by TF-IDF:
    * `tfidf = (cnt/doc_total) * ln(n_docs/doc_freq)`, ties broken by token
    * ascending. `n_docs` is the corpus size (all documents).
    *
    * Scale shape: ONE explode + hash-agg on (doc_id, token); per-token
    * document frequency and per-doc totals are windows OVER that aggregate
    * (slim (doc_id, token, cnt) rows — sort-based, spill-safe on stopword
    * tokens), not separate branches, because a branch re-running the
    * tokenize+explode subtree would rescan the corpus: column pruning makes
    * each branch's aggregate subtree differ, so exchange reuse cannot fire.
    * The corpus count is a column-pruned metadata-cheap second scan. The
    * dtot window and the ranking window share the doc_id exchange. All
    * counts are exact integers; the double arithmetic is one fixed tree
    * rounded to 9 decimals, so results are engine-stable. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val scored = tf
      .withColumn("dfc", count(lit(1)).over(Window.partitionBy("token")))
      .withColumn("dtot", sum(col("cnt")).over(Window.partitionBy("doc_id")))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("dtot").cast("double")) *
          log(col("n_docs").cast("double") / col("dfc").cast("double")), 9))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Text normalization for downstream dedup/tokenization: collapse
    * whitespace runs to a single space, trim, lowercase. The whitespace
    * class is written explicitly (`[ \t\n\r\f]`) because Java's `\s` and
    * RE2's `\s` disagree on vertical tab — the explicit class keeps the
    * operator oracle-checkable. Map-only scan stage. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = lower(trim(regexp_replace(col(textCol), "[ \\t\\n\\r\\f]+", " ")))
    docs.select(col("doc_id"), norm.as("norm_text"),
        length(col(textCol)).cast("bigint").as("n_chars_raw"),
        length(norm).cast("bigint").as("n_chars_norm"))
      .orderBy("doc_id")
  }

  /** Inverted index over the token vocabulary: per token, the number of
    * documents containing it, its total occurrence count, and the first
    * `sampleK` doc_ids (ascending) as a space-joined posting sample.
    *
    * Scale shape: explode + hash-agg to distinct (token, doc_id, tf) rows,
    * then ONE sort-based window per token computes rank + per-token totals
    * on those slim rows — a hot token (stopword present in every document)
    * sorts and spills, it does NOT build an unbounded in-memory array; the
    * `collect_list` only ever sees the ≤ sampleK surviving rows per token. */
  def invertedIndex(docs: DataFrame, sampleK: Int = 10, textCol: String = "text"): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    import org.apache.spark.sql.expressions.Window
    val post = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tfc"))
    val byTok = Window.partitionBy("token")
    post
      .withColumn("rn", row_number().over(byTok.orderBy("doc_id")))
      .withColumn("ndocs", count(lit(1)).over(byTok))
      .withColumn("nocc", sum(col("tfc")).over(byTok))
      .where(col("rn") <= sampleK)
      .groupBy("token").agg(
        max(col("ndocs")).as("n_docs"),
        max(col("nocc")).as("n_occurrences"),
        array_join(transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), " ")
          .as("sample_docs"))
      .orderBy("token")
  }

  /** Top-k token bigrams by pointwise mutual information,
    * `pmi = ln((c_ab/B) / ((c_a/U)(c_b/U)))` with a minimum-count floor to
    * kill noise pairs; ties broken by bigram ascending.
    *
    * Two scans by construction (unigram and bigram explodes are different
    * generators); both aggregations are vocabulary-bounded hash-aggs with
    * map-side combine, and the unigram side joins back on the bigram's
    * words. Exact integer counts; one fixed double tree rounded to 9. */
  def pmiTopBigrams(docs: DataFrame, k: Int = 20, minCount: Long = 5,
                    textCol: String = "text"): DataFrame = {
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val uTot = uni.select(sum(col("wc")).as("u_tot"))
    val bi = docs.select(explode(tokenNgrams(tokens(col(textCol)), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("bc"))
    val bTot = bi.select(sum(col("bc")).as("b_tot"))
    bi.where(col("bc") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("wc").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("wc").as("c2")), Seq("w2"))
      .crossJoin(broadcast(uTot)).crossJoin(broadcast(bTot))
      .withColumn("pmi", round(log(
        (col("bc").cast("double") * col("u_tot").cast("double") * col("u_tot").cast("double")) /
        (col("b_tot").cast("double") * col("c1").cast("double") * col("c2").cast("double"))), 9))
      .orderBy(col("pmi").desc, col("bg").asc).limit(k)
      .select(col("bg").as("bigram"), col("bc").as("cnt"), col("pmi"))
  }

  /** Per-domain URL statistics: extract URLs (same pattern as
    * [[scrubText]]), reduce each to its host, count occurrences and
    * distinct documents per domain — the "which sites feed this corpus"
    * audit behind domain-level weighting and blocklists. Explode + two
    * vocabulary-bounded hash-aggs; patterns passed as `lit` columns so
    * their escapes survive (see scrubText note). */
  def domainStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(urlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([^/ \\t\\n]+)", 1).as("domain"))
      .groupBy("domain").agg(
        count(lit(1)).as("n_urls"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy("domain")

  /** Out-of-vocabulary rate per document against the corpus's own top-k
    * token vocabulary — the "how well would a k-token tokenizer cover this
    * corpus" signal (high OOV docs are candidates for exclusion or vocab
    * growth).
    *
    * Two passes by construction: the vocabulary is a global top-k that must
    * exist before per-token membership is testable. The vocab (k rows) is
    * BROADCAST, so the second pass is a map-side join over the exploded
    * tokens — no shuffle of token rows; the only exchanges are the
    * vocab-bounded count and the final per-doc agg. Docs with zero tokens
    * produce no row. */
  def oovRate(docs: DataFrame, vocabK: Int = 100, textCol: String = "text"): DataFrame = {
    val vocab = topTokens(docs, textCol, vocabK).select(col("token"), lit(1).as("in_vocab"))
    val oov = sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
    docs.select(col("doc_id"), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        oov.as("n_oov"),
        (oov.cast("double") / count(lit(1)).cast("double")).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Deterministic document fingerprint: polynomial rolling hash over the
    * token stream, `acc = (acc*131 + 31*len(tok) + ascii(tok[0])) mod 1e9+7`.
    * Pure integer arithmetic (no overflow: acc < 2^30, *131 + 2^14 < 2^38),
    * sequential left fold — reproducible in any engine, used for cheap
    * exact-dup detection and content addressing. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val code = (tk: Column) => lit(31L) * length(tk) + ascii(tk)
    val fp = aggregate(tokens(col(textCol)), lit(0L),
      (acc, tk) => pmod(acc * lit(131L) + code(tk), lit(1000000007L)))
    docs.select(col("doc_id"), fp.as("fingerprint")).orderBy("doc_id")
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, adapted
    * to this tokenizer): per document, the raw signals plus a boolean per
    * rule and the conjunctive verdict. Rules: token count in
    * [minTokens, maxTokens]; mean word length in [minMeanWordLen,
    * maxMeanWordLen]; at least `minStopwordHits` stopword occurrences; and
    * distinct-token ratio ≥ `minDistinctRatio` (the within-doc repetition
    * proxy — the corpus has no lines, so Gopher's duplicate-line rules map
    * to token-level repetition here).
    *
    * Map-only: one codegen stage over the scan, no shuffle, no UDFs — each
    * signal is exact-integer arithmetic with one IEEE division, so the
    * boolean edges are bit-deterministic and oracle-checkable. */
  def gopherFilter(docs: DataFrame, textCol: String = "text",
                   minTokens: Int = 40, maxTokens: Int = 100000,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   minStopwordHits: Int = 2, minDistinctRatio: Double = 0.375): DataFrame = {
    val docsT = docs.select(col("doc_id"), col(textCol), tokens(col(textCol)).as("toks"))
    val t = col("toks")
    val nTok = size(t).cast("bigint")
    val nAlpha = length(regexp_replace(col(textCol), "[^a-z]", "")).cast("bigint")
    val meanWordLen = nAlpha.cast("double") / greatest(nTok, lit(1L))
    val sw = typedLit(stopwords)
    val nStop = size(filter(t, tk => array_contains(sw, tk))).cast("bigint")
    val distinctRatio = size(array_distinct(t)).cast("double") / greatest(nTok, lit(1L))
    val fWc = nTok >= minTokens && nTok <= maxTokens
    val fMwl = meanWordLen >= minMeanWordLen && meanWordLen <= maxMeanWordLen
    val fSw = nStop >= minStopwordHits
    val fDr = distinctRatio >= minDistinctRatio
    docsT.select(col("doc_id"), nTok.as("n_tokens"), meanWordLen.as("mean_word_len"),
        nStop.as("n_stopword_hits"), distinctRatio.as("distinct_ratio"),
        fWc.as("pass_word_count"), fMwl.as("pass_mean_word_len"),
        fSw.as("pass_stopwords"), fDr.as("pass_distinct_ratio"),
        (fWc && fMwl && fSw && fDr).as("gopher_pass"))
      .orderBy("doc_id")
  }

  /** Per-document fluency score from a corpus-trained bigram language model
    * with add-one smoothing — the in-engine stand-in for the
    * perplexity-filter stage of a training-data pipeline (KenLM-style
    * scoring, n=2): each doc's score is the mean over its bigram occurrences
    * of `ln((c(w1 w2) + 1) / (c(w1) + V))`, where the counts come from the
    * corpus itself and V is the unigram vocabulary size.
    *
    * Scale + determinism shape: ONE explode produces the doc-tagged bigram
    * occurrences; corpus bigram counts are a vocab-bounded hash-agg OVER
    * that same frame (map-side combine); unigram counts and V ride a second
    * vocab-bounded agg of the token stream. Each log term is rounded to 9 dp
    * and summed as `decimal(28,9)` — order-independent under any
    * partitioning, so the per-doc mean is bit-deterministic and
    * oracle-checkable. Docs with < 2 tokens yield n_bigrams = 0 and a null
    * score. */
  def bigramLmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col(textCol)).as("toks"))
    val occ = toks.select(col("doc_id"), explode(tokenNgrams(col("toks"), 2)).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val bgCounts = occ.groupBy("bigram").agg(count(lit(1)).as("cb"))
    // persist the vocab-bounded unigram table (r16): the vocab-size scalar
    // below is a DataFrame-BUILD-time action, and without the persist it
    // re-ran the whole tokenize+explode+unigram-agg pipeline once for the
    // count and AGAIN for the w1 scoring join. The cache is |vocab|-sized
    // (two columns), the scalar's head() materializes it, and the scoring
    // join reads it back — one corpus tokenize pass for the unigram side
    // instead of two. (A crossJoin(broadcast(1-row count)) variant was
    // measured SLOWER here — it re-plans the full unigram subtree into the
    // count branch, 14 → 20 exchanges — and was rejected; guide §1.)
    // Intra-query persist, session-owned like the dedup banding caches.
    val uni = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabSize = uni.agg(count(lit(1))).head().getLong(0)
    val term = round(log((col("cb") + lit(1L)).cast("double") /
      (col("cu") + lit(vocabSize)).cast("double")), 9)
    val scored = occ
      .join(bgCounts, Seq("bigram"))
      .join(uni.withColumnRenamed("token", "w1"), Seq("w1"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        (sum(term.cast("decimal(28,9)")).cast("double") / count(lit(1))).as("avg_logprob"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance-resampling data selection (Xie, Santurkar, Ma,
    * Liang 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by the log likelihood ratio of a
    * TARGET token distribution (the data you want more of — an eval suite,
    * a high-quality slice) against the PROPOSAL distribution (the raw
    * pool), then keep the top-k. Features here are the top-`maxVocab`
    * proposal unigrams (count desc, token asc — the paper's hashed n-gram
    * buckets swapped for an explicit vocab so the scoring is exactly
    * reproducible by any engine); both distributions are add-one smoothed
    * over that shared vocab, so an unseen-in-target token contributes a
    * finite negative vote. A doc's score is the SUM over its vocab-token
    * occurrences of `ln p_tgt(t) − ln p_prop(t)` — the DSIR importance
    * log-weight (length bias is the method's, documented, not a bug).
    * Docs with zero vocab-token occurrences have no likelihood-ratio
    * evidence and are not eligible for selection.
    *
    * Scale + determinism shape (the [[bigramLmScore]] discipline): ONE
    * corpus token explode; vocab and target counts are vocab-bounded
    * hash-aggs; the vocab frame and the 1-row totals broadcast to the
    * scoring join; each log term rounds at 9 dp and sums as
    * `decimal(28,9)` — order-independent, so the selection is
    * bit-deterministic and oracle-checkable. Top-k is a TakeOrdered,
    * never a global sort. */
  def dsirSelect(docs: DataFrame, isTarget: Column, k: Int = 100,
                 maxVocab: Int = 1000,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val occ = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    val prop = occ.groupBy("token").agg(count(lit(1)).as("cp"))
    val vocab = prop.orderBy(col("cp").desc, col("token")).limit(maxVocab)
    val tgtCounts = docs.where(isTarget)
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("ct"))
    val vt = vocab.join(tgtCounts, Seq("token"), "left")
      .na.fill(0L, Seq("ct"))
    // smoothing totals over the SHARED vocab feature space: one 1-row
    // aggregate broadcast to the scoring pass (the bm25/Q22 scalar pattern)
    val stats = vt.agg(count(lit(1)).as("v"),
      sum(col("cp")).as("tp"), sum(col("ct")).as("tt"))
    val term = round(
      log((col("ct") + lit(1L)).cast("double") / (col("tt") + col("v")).cast("double")) -
        log((col("cp") + lit(1L)).cast("double") / (col("tp") + col("v")).cast("double")), 9)
    // explicit broadcast of the vocab frame: left to size estimates Spark
    // builds on the OCCURRENCE side at fixture scale (the raw scan
    // estimates smaller than the aggregate-derived vocab), and that shape
    // inverts fatally at corpus scale — the vocab is maxVocab rows at ANY
    // corpus size, the occurrence stream never is (caught by plan audit,
    // r11)
    val scored = occ.join(broadcast(vt), Seq("token")).crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_vocab_tokens"),
        sum(term.cast("decimal(28,9)")).cast("double").as("dsir_score"))
    val top = scored.orderBy(col("dsir_score").desc, col("doc_id")).limit(k)
    // rnk over the k-row selection: single-partition window on a k-bounded
    // frame, same as every other top-k ledger here
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("dsir_score").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("dsir_score"), col("n_vocab_tokens"))
      .orderBy("rnk")
  }

  /** DSIR — the paper's ACTUAL feature space (Xie et al. 2023 §2.2): hashed
    * unigram+bigram buckets instead of [[dsirSelect]]'s explicit top-vocab
    * (which was chosen for oracle mirrorability — xxhash64-seeded features
    * are unmirrorable by declared policy). Every token and token-bigram
    * hashes into one of `nBuckets` buckets (the codegen rolling
    * xxhash64-polynomial of [[graft.functions.NgramHashes]]), the per-bucket importance weight is the same
    * smoothed log-ratio `log((ct+1)/(tt+v)) − log((cp+1)/(tp+v))` with
    * v = OCCUPIED bucket count (mirroring the vocab face's v = |vocab|
    * smoothing, so the two faces agree exactly when features coincide),
    * and each document scores the decimal-exact sum of its feature-
    * occurrence weights.
    *
    * Why this is the 100 TB face: no orderBy-limit vocab election pass
    * (one less wide shuffle), no arbitrary vocab cut — EVERY feature
    * contributes through its bucket, exactly the collision-tolerant
    * estimator the paper validates — and the weight frame is ≤ nBuckets
    * rows at ANY corpus size, explicitly broadcast to the scoring join
    * like the vocab face (same fatal-inversion guard, plan-pinned in
    * TextAnalysisSpec). Declared **omit**: hashed bucketing is not
    * SQL-mirrorable; agreement-on-separable-corpora vs the vocab face,
    * determinism, and the broadcast contract are property-tested. */
  def dsirSelectHashed(docs: DataFrame, isTarget: Column, k: Int = 100,
                       nBuckets: Int = 10000,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    // Features are HASHES from the first token pass on — never strings:
    // [[graft.functions.NgramHashes]] (the codegen rolling-hash shared
    // with the substring-dedup fast tier) emits per-token xxhash64 at
    // n=1 and rolling bigram hashes at n=2 in one whole-stage-codegen
    // pass, where the first cut built bigram STRINGS through interpreted
    // `transform`+`concat_ws` HOFs and re-hashed them (Spark HOFs don't
    // codegen — profiled at sf100 as the dominant scan cost after the
    // decimal fix). Feature identity differs from the string scheme only
    // inside the declared-omit hash internals; bucket = pmod keeps the
    // full [0, nBuckets) range on negative hashes.
    def feats(c: Column): Column = {
      val t = tokens(c)
      concat(graft.functions.functions.ngram_hashes(t, 1),
        graft.functions.functions.ngram_hashes(t, 2))
    }
    // ONE tokenize+explode serves both count passes: the target slice is a
    // subset of the proposal pool, so cp and ct fold in the same bucket
    // aggregate (count vs conditional count) — a full corpus read fewer
    // than the vocab face's separate target pass, which matters when the
    // regex tokenize IS the scan cost (profiled at sf100)
    val occT = docs.select(col(idCol).as("doc_id"), isTarget.as("__t"),
        explode(feats(col(textCol))).as("h"))
      .select(col("doc_id"), col("__t"),
        pmod(col("h"), lit(nBuckets.toLong)).as("b"))
    val occ = occT.select("doc_id", "b")
    val vb = occT.groupBy("b").agg(count(lit(1)).as("cp"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
    val stats = vb.agg(count(lit(1)).as("v"),
      sum(col("cp")).as("tp"), sum(col("ct")).as("tt"))
    // Per-bucket weight quantized to a 1e-9-scaled BIGINT, summed as plain
    // long arithmetic — NOT the vocab face's DECIMAL(28,9) sums. The scale
    // face scores EVERY feature occurrence (that is its point — no vocab
    // cut filters the stream), so the scoring aggregate's input is the
    // full unigram+bigram explode; a BigDecimal-boxed sum there is the
    // whole operator's hot path (profiled at sf100: the decimal partial
    // agg was a 17-minute straggler task). Long addition is exact and
    // commutative, so cross-partitioning bit-determinism — the property
    // the decimal bought — is preserved at 5-10x less cost; only the
    // sub-ulp rounding of each term differs from the vocab face, which
    // has no oracle contract here (declared omit, seeded hashes).
    val termScaled = rint(
      (log((col("ct") + lit(1L)).cast("double") / (col("tt") + col("v")).cast("double")) -
        log((col("cp") + lit(1L)).cast("double") / (col("tp") + col("v")).cast("double"))) * lit(1e9))
      .cast("long")
    // weights fold on the BUCKET-BOUNDED frame (two logs per bucket, not
    // per occurrence row), then the same explicit-broadcast contract as
    // the vocab face: the slim (b, w) weight table broadcasts, the
    // occurrence stream never does
    val wtab = vb.crossJoin(stats).select(col("b"), termScaled.as("w"))
    val scored = occ.join(broadcast(wtab), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_vocab_tokens"),
        (sum(col("w")).cast("double") / lit(1e9)).as("dsir_score"))
    val top = scored.orderBy(col("dsir_score").desc, col("doc_id")).limit(k)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("dsir_score").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("dsir_score"), col("n_vocab_tokens"))
      .orderBy("rnk")
  }

  /** BM25 retrieval scoring of the corpus against a FIXED query-term list
    * (Okapi BM25, Lucene idf `ln(1 + (N - df + ½)/(df + ½))`) — the lexical
    * half of a hybrid retrieval stack next to the ANN tier. Because the
    * terms are a static list, per-doc tf comes from an array `filter` per
    * term (map-only, no token explode) and the score is ONE fixed-order
    * column expression — deterministic with no decimal detour; corpus
    * stats (N, decimal-exact avgdl, per-term df) are a single 1-row agg
    * broadcast to the scoring pass. Two scans total, independent of term
    * count; docs matching no term score 0 and fall out of the top-k. */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 20,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val terms = queryTerms.distinct.sorted
    val base = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
      .where(col("dl") > 0)
    val withTf = base.select(
      col("doc_id") +: col("dl") +: terms.zipWithIndex.map { case (t, i) =>
        size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf$i")
      }: _*)
    val statCols = count(lit(1)).as("n_docs") +:
      (sum(col("dl").cast("decimal(28,6)")).cast("double") / count(lit(1))).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val lenNorm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (col(s"tf$i") * lit(k1 + 1.0)) / (col(s"tf$i") + lenNorm)
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 9).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
  }

  /** BPE tokenizer training — the standard two-phase architecture every
    * production tokenizer trainer uses (corpus statistics distributed,
    * merge loop over the word-TYPE dictionary):
    *
    *   1. ONE distributed scan aggregates the corpus to (word, count),
    *      capped at the `maxWords` most frequent types (ties broken by word
    *      ascending) — the driver state is vocabulary-bounded, never
    *      corpus-bounded, exactly like HF/SentencePiece training on a
    *      frequency dict.
    *   2. The driver runs `numMerges` BPE rounds over that dict: count
    *      adjacent symbol pairs weighted by word frequency, merge the most
    *      frequent pair (ties broken lexicographically — deterministic),
    *      rewrite the dict, repeat. Work per round is O(dict size), zero
    *      cluster jobs.
    *
    * Words are seeded as character sequences with a `</w>` end-of-word
    * marker (the classic Sennrich formulation). Returns the learned merge
    * table (rank, left, right, merged, pair_count) — the artifact a
    * tokenizer ships. Deterministic by construction; not SQL-expressible
    * (iterative), so the declared query is oracle-omitted and
    * hand-computed/property-tested in TextAnalysisSpec. */
  def bpeTrain(docs: DataFrame, numMerges: Int = 40, maxWords: Int = 50000,
               textCol: String = "text"): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val wordCounts: Array[(String, Long)] =
      docs.select(explode(tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc)
        .limit(maxWords)
        .as[(String, Long)].collect()
    // dict: symbol-sequence -> frequency; seeded as chars + end marker
    var dict: Map[Vector[String], Long] = wordCounts.map { case (w, c) =>
      (w.map(_.toString).toVector :+ "</w>") -> c
    }.toMap
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      dict.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = pairCounts.toSeq
          .maxBy { case ((a, b), n) => (n, a, b) }(
            Ordering.Tuple3(Ordering.Long, Ordering.String.reverse, Ordering.String.reverse))
        val merged = l + r
        merges += ((rank, l, r, merged, c))
        dict = dict.map { case (syms, cnt) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> cnt
        }.groupMapReduce(_._1)(_._2)(_ + _)
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy("rank")
  }

  /** Train-then-encode in one operator: [[bpeTrain]] learns the merge table,
    * the codegen [[graft.functions.BpeEncode]] expression applies it to
    * every word map-side (ranks broadcast as an expression reference —
    * vocabulary-bounded), and the corpus reduces to its top-k BPE symbols
    * by frequency (ties broken by symbol ascending). The "what does my
    * tokenizer's learned vocabulary actually look like on this corpus"
    * report. One training scan + one encode scan; the symbol key space is
    * bounded by chars + numMerges, so the final agg shuffle is tiny. */
  def bpeTopSymbols(docs: DataFrame, numMerges: Int = 40, k: Int = 20,
                    maxWords: Int = 50000, textCol: String = "text"): DataFrame = {
    val merges = bpeTrain(docs, numMerges, maxWords, textCol)
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    docs.select(explode(tokens(col(textCol))).as("w"))
      .select(explode(graft.functions.functions.bpe_encode(col("w"), merges)).as("sym"))
      .groupBy("sym").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc).limit(k)
  }
}

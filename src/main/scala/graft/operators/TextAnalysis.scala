package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (codegen'd, no UDFs), deterministic, and expressible in
  * ANSI SQL for oracle verification.
  */
object TextAnalysis {

  /** Tiny high-frequency function-word lists per language. Word-boundary
    * hits are counted per language; argmax wins (ties → lexicographic
    * language code, "und" when nothing matches).
    */
  val markerWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "la", "de", "que", "los", "es", "una", "para"))

  private def markerRegex(lang: String): String =
    markerWords(lang).mkString("\\b(", "|", ")\\b")

  /** Every marker word (distinct, sorted) as one word-boundary regex —
    * the language-agnostic "contains function words at all" signal
    * used by [[qualityFlags]]; exposed so oracles can replay it.
    */
  val allMarkersRegex: String =
    markerWords.values.flatten.toSeq.distinct.sorted.mkString("\\b(", "|", ")\\b")

  /** Per-language marker-word hit counts. */
  def langScores(text: Column): Seq[(String, Column)] =
    markerWords.keys.toSeq.sorted.map { lang =>
      lang -> regexp_count(lower(text), lit(markerRegex(lang)))
    }

  /** Heuristic language ID: argmax of marker hits, "und" if all zero.
    * Lexicographically-first language wins ties (deterministic).
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Whitespace-ish token count (runs of non-space characters). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: alphanumeric runs contribute
    * ceil(len/4) tokens (≈ 4 chars/token), plus one per non-space
    * symbol character. A cheap, deterministic stand-in for a real
    * tokenizer at data-survey scale.
    */
  def tokenCountBpeIsh(text: Column): Column = {
    val wordPieces = aggregate(
      tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
    val symbols = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    wordPieces + symbols.cast("long")
  }

  /** Quality heuristics, one struct column:
    *   n_chars, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
    *   and a composite quality_score in [0,1]:
    *     0.4·lengthOk + 0.3·(1−punctRatio) + 0.3·stopwordSignal.
    */
  def qualityStruct(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text).cast("double")
    val nTokens = size(toks).cast("double")
    val meanTokLen = when(nTokens > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / nTokens)
      .otherwise(lit(0d))
    val punct = length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", "")).cast("double")
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(lit(0d))
    val stop = regexp_count(lower(text),
      lit("\\b(the|and|of|to|is|in|a|that|it|der|die|und|le|la|et|el|de|que)\\b"))
      .cast("double")
    val stopRatio = when(nTokens > 0, stop / nTokens).otherwise(lit(0d))
    val lengthOk = when(nTokens >= 5 && nTokens <= 100000, lit(1d)).otherwise(lit(0d))
    val score = round(
      lit(0.4) * lengthOk +
        lit(0.3) * (lit(1d) - least(punctRatio * 5, lit(1d))) +
        lit(0.3) * least(stopRatio * 4, lit(1d)), 6)
    struct(
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      round(meanTokLen, 4).as("mean_token_len"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Rolling-hash document fingerprint (md5 of normalized text). */
  def fingerprint(text: Column): Column = textFingerprint(text)

  /** Training-data scrubbing: mask URLs, email addresses and long
    * digit runs (phone/SSN-ish) with stable placeholder tokens.
    * Pure regexp_replace chain — codegen'd, and reproducible in any
    * engine with global regex replace.
    */
  def scrubPii(text: Column): Column = {
    val noUrl = regexp_replace(text,
      "(https?://|www\\.)[^\\s]+", "<URL>")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "\\d{7,}", "<NUM>")
  }

  /** Token frequency table over a corpus: (token, freq), descending. */
  def tokenFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)

  /** Per-document top-`topK` terms by TF-IDF (tf × ln(N/df), N = corpus
    * size, df = documents containing the term). Output: `doc_id, rank,
    * term, tf, df, tfidf`.
    *
    * Plan shape: one shuffle to (doc, term) counts, one slim shuffle for
    * document frequencies, a term-keyed join, then a per-document
    * window (bounded by a document's distinct terms, never corpus
    * size). The 1-row corpus count broadcasts. Scores are rounded to 6
    * decimals BEFORE ranking so rank ties break on the term string
    * identically in any engine (ulp-level ln() differences cannot flip
    * an ordering).
    */
  def tfIdf(df: DataFrame, textCol: String, idCol: String,
      topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
    val tf = docs.select(col("doc_id"), explode(col("_toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("_n").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("doc_id", "rank", "term", "tf", "df", "tfidf")
  }

  /** Per-document unigram-LM surprisal — the classic corpus-level
    * quality signal (CCNet-style filtering uses LM perplexity; the
    * unigram form is its engine-exact, SQL-replicable core): with
    * corpus token probabilities p(t) = count(t)/total, a document
    * scores avg(-ln p(t)) over its tokens. Repetitive/boilerplate
    * docs score LOW (common tokens), gibberish scores HIGH (rare
    * tokens) — both tails are filter targets. Output: `doc_id,
    * n_tokens, surprisal` (rounded to 6; empty docs omitted).
    *
    * One shuffle for corpus counts (map-side combinable), a term-keyed
    * join, one per-doc aggregate. The corpus total broadcasts.
    */
  def unigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum("c").as("_tot"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c").cast("double") / col("_tot"))), 6).as("surprisal"))
  }

  /** Bigram-LM surprisal — the conditional-probability upgrade of
    * [[unigramSurprisal]]: with corpus bigram counts c(w₁w₂) and
    * continuation totals c(w₁·) = Σ_w c(w₁w), a document scores
    * avg(−ln c(w₁w₂)/c(w₁·)) over its bigrams. Formulaic text (every
    * bigram predictable from its prefix) scores near 0; incoherent
    * token soup scores high even when individual words are common —
    * the signal unigram surprisal cannot see. No smoothing needed:
    * the corpus contains the scored documents, so every document
    * bigram has count ≥ 1. Output: `doc_id, n_bigrams, surprisal`
    * (rounded to 6; documents with < 2 tokens are omitted).
    *
    * Two map-side-combinable count aggregations (bigrams; prefixes
    * derived FROM the bigram table, never a second corpus pass), then
    * bigram-keyed joins and one per-doc aggregate.
    */
  def bigramSurprisal(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bg = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .select(col("doc_id"), explode(wordShingles(col("_t"), 2)).as("b"))
    val c2 = bg.groupBy("b").agg(count(lit(1)).as("c"))
    val c1 = c2.groupBy(substring_index(col("b"), " ", 1).as("w"))
      .agg(sum("c").as("cp"))
    bg.join(c2, "b")
      .join(c1, substring_index(col("b"), " ", 1) === col("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("c").cast("double") / col("cp"))), 6).as("surprisal"))
  }

  /** CCNet-style perplexity bucketing: within each `groupCol`
    * (language, in CCNet; any stratum here) rank documents by
    * [[unigramSurprisal]] and split them into `nBuckets` equal-count
    * tiers — `head` (lowest perplexity ≈ cleanest), `middle`, `tail`
    * for the canonical 3 (CCNet §4.3; the head/middle cut is what its
    * released corpus ships as quality tiers), `b1..bN` otherwise.
    * Output: one row per scoreable document —
    * `(doc_id, groupCol, n_tokens, surprisal, bucket_ord, bucket)`.
    *
    * Bucketing is `ntile` over (surprisal, doc_id) — pure RANK
    * arithmetic, so the cross-engine gate never compares floats at a
    * bucket boundary (percentile-cutpoint bucketing would; the
    * interpolated cut is a float equality hazard). Cost shape: the
    * per-group sort is the price of exact equal-count tiers; at
    * 100 TB swap the ntile for map-side comparison against sketch
    * cutpoints ([[Sketches.quantileToleranceReport]]'s
    * approx_percentile artifact) and accept ±n/accuracy tier-size
    * slack — the filter downstream is threshold-based either way.
    */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, "need at least two buckets")
    val scored = df.select(col(idCol).as("doc_id"), col(groupCol))
      .join(unigramSurprisal(df, textCol, idCol), "doc_id")
    val w = Window.partitionBy(groupCol)
      .orderBy(col("surprisal").asc, col("doc_id").asc)
    val ord = ntile(nBuckets).over(w)
    val name =
      if (nBuckets == 3)
        when(col("bucket_ord") === 1, "head")
          .when(col("bucket_ord") === 2, "middle")
          .otherwise("tail")
      else concat(lit("b"), col("bucket_ord"))
    scored.withColumn("bucket_ord", ord)
      .withColumn("bucket", name)
      .select("doc_id", groupCol, "n_tokens", "surprisal", "bucket_ord", "bucket")
  }

  /** Benchmark decontamination: flag documents sharing any word
    * `n`-gram with a probe set (eval snippets, test questions — here
    * any one-column DataFrame of probe text). Blocked equi-join on the
    * shingle string: candidates only where an exact n-gram matches —
    * never a cross product. Output: `doc_id, n_hits, first_hit`
    * (lexicographically smallest matching shingle, for audit).
    */
  def contaminated(df: DataFrame, textCol: String, idCol: String,
      probes: DataFrame, probeTextCol: String, n: Int = 8): DataFrame = {
    // tokens staged as a materialized attribute: the shingle lambda
    // would otherwise re-tokenize per window position (measured 6×)
    val docShingles = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("_t"), n))).as("sh"))
    val probeShingles = probes
      .select(tokens(col(probeTextCol)).as("_t"))
      .select(explode(array_distinct(wordShingles(col("_t"), n))).as("sh"))
      .distinct()
    docShingles.join(probeShingles, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("sh")).as("first_hit"))
  }

  /** Bloom-filter decontamination — [[contaminated]] with the
    * candidate join replaced by a MAP-SIDE membership prescreen: the
    * probe set's n-gram hashes build one Bloom sketch (Spark's native
    * mergeable `BloomFilterAggregate`, re-exposed as
    * `graft_bloom_agg`), which collects to a driver-bounded binary
    * (`numBits/8` bytes — a metadata artifact like the BPE dict or
    * k-means centroids) and is embedded as a LITERAL in a
    * `graft_might_contain` filter. At 100 TB the shuffle for the
    * verification join then carries only bloom survivors —
    * ~(true hits + fpp·corpus grams) instead of every corpus n-gram;
    * the exact equi-join after the prescreen removes the false
    * positives, so results are IDENTICAL to [[contaminated]] (Bloom
    * filters have no false negatives). Output: `doc_id, n_hits,
    * first_hit`.
    *
    * An empty probe set yields a NULL sketch and an empty result —
    * the same answer the exact join gives.
    */
  def bloomDecontaminate(df: DataFrame, textCol: String, idCol: String,
      probes: DataFrame, probeTextCol: String, n: Int = 8,
      estimatedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val probeShingles = Caches.persist(probes
      .select(tokens(col(probeTextCol)).as("_t"))
      .select(explode(array_distinct(wordShingles(col("_t"), n))).as("sh"))
      .distinct())
    val sketch = probeShingles
      .agg(call_function("graft_bloom_agg", md5Long(col("sh")),
        lit(estimatedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (sketch == null) {
      // no probes: empty report with the contract schema
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_hits"),
          lit("").as("first_hit")).limit(0)
    }
    val docShingles = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("_t"), n))).as("sh"))
      .where(call_function("graft_might_contain", lit(sketch), md5Long(col("sh"))))
    docShingles.join(probeShingles, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("sh")).as("first_hit"))
  }

  /** Gopher-style repetition statistics — the published repetition
    * filters (Rae et al. 2021 §A1.1) measure how much of a document is
    * duplicated content: repetitive boilerplate (menus, SEO spam,
    * `batch batch batch …`) shows a high duplicate-n-gram fraction and
    * a single n-gram dominating the text. Output per document:
    * `doc_id, n_tokens, dup_word_frac, n_bigrams, dup_bigram_frac,
    * top_bigram_frac` (fractions rounded to 6; documents with no
    * tokens are omitted, with <2 tokens carry NULL bigram stats).
    *
    * Shape: explode → per-(doc, gram) counts (map-side combinable) →
    * per-doc aggregate — two shuffles on doc-bounded keys, never
    * corpus-global state, so it scales with the corpus. Deliberately
    * NOT the per-row `transform(array_distinct(...), filter(...))`
    * form, which is O(distinct·n) per document and blows up on long
    * documents.
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
    val words = toks.select(col("doc_id"), explode(col("_t")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("_nd"))
    val bigrams = toks
      .select(col("doc_id"), explode(wordShingles(col("_t"), 2)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), count(lit(1)).as("_ndb"), max("c").as("_maxb"))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1d) - col("_nd").cast("double") / col("n_tokens"), 6)
          .as("dup_word_frac"),
        col("n_bigrams"),
        round(lit(1d) - col("_ndb").cast("double") / col("n_bigrams"), 6)
          .as("dup_bigram_frac"),
        round(col("_maxb").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
  }

  /** C4/Gopher-style composite quality filter: each rule that FAILS
    * contributes its tag to a comma-joined `reasons` string (fixed
    * rule order, '' = clean); `keep` is true iff no rule fired. All
    * row-local column arithmetic — no shuffle, fully codegen'd, the
    * shape a 100 TB keep/drop pass must have.
    *
    * Rules (tags in emission order):
    *   wc    word count outside [minTokens, maxTokens]
    *   mwl   mean word length outside [2, 12]
    *   rep   distinct-word ratio below minDistinctRatio (repetition)
    *   stop  fewer than 2 function-word hits (gibberish signal)
    *   sym   non-alphanumeric, non-space chars exceed 10% of text
    */
  def qualityFlags(rawText: Column, minTokens: Int = 15, maxTokens: Int = 100000,
      minDistinctRatio: Double = 0.55): Column = {
    // NULL text folds to empty: without this, every rule comparison is
    // NULL, no `when` fires, and a NULL document silently KEEPS
    val text = coalesce(rawText, lit(""))
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val mwl = when(n > 0,
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / n)
      .otherwise(lit(0d))
    val distinctRatio = when(n > 0, size(array_distinct(toks)) / n).otherwise(lit(0d))
    val stopHits = regexp_count(lower(text), lit(allMarkersRegex))
    val symRatio = when(length(text) > 0,
      length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") / length(text))
      .otherwise(lit(0d))
    val reasons = concat_ws(",",
      when(n < minTokens || n > maxTokens, lit("wc")),
      when(mwl < 2d || mwl > 12d, lit("mwl")),
      when(distinctRatio < minDistinctRatio, lit("rep")),
      when(stopHits < 2, lit("stop")),
      when(symRatio > 0.1, lit("sym")))
    struct((reasons === "").as("keep"), reasons.as("reasons"))
  }

  /** Class-based TF-IDF (c-TF-IDF — the BERTopic cluster-labeling
    * statistic, Grootendorst 2022): scores how much a term
    * characterizes a CLASS of documents (a near-dup cluster, a source,
    * a topic) rather than one document —
    * `ctfidf(t,c) = tf_{t,c} · ln(1 + A / f_t)` with `tf_{t,c}` the
    * term's occurrences inside class c, `f_t` its corpus-wide
    * occurrences, and `A` the mean token count per class. Output: the
    * top `k` terms of every class — `groupCol, rank, term, tf,
    * ctfidf` — i.e. human-readable labels for document clusters.
    *
    * Scale shape: ONE corpus shuffle (the (class, term) count); `f_t`
    * and `A` derive from that persisted aggregate, not from re-reading
    * the corpus; the vocab join is unhinted (AQE broadcasts it while
    * vocab is small); the per-class top-k is a row_number over a
    * low-cardinality partition — Spark 4 plans a partial
    * WindowGroupLimit below the exchange, so the top-k truncates
    * map-side.
    */
  def classTfidf(df: DataFrame, textCol: String, groupCol: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Caches.persist(
      df.select(col(groupCol).as("_g"), explode(tokens(col(textCol))).as("term"))
        .groupBy("_g", "term").agg(count(lit(1)).cast("long").as("tf")))
    val ft = tf.groupBy("term").agg(sum("tf").as("ft"))
    val avgClass = tf.groupBy("_g").agg(sum("tf").as("_n"))
      .agg(avg("_n").as("A"))
    val w = Window.partitionBy("_g")
      .orderBy(col("ctfidf").desc, col("term").asc)
    tf.join(ft, Seq("term"))
      .crossJoin(broadcast(avgClass))
      .withColumn("ctfidf", col("tf") * log(lit(1d) + col("A") / col("ft")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("_g").as(groupCol), col("rank"), col("term"), col("tf"),
        round(col("ctfidf"), 6).as("ctfidf"))
  }

  /** Intra-document duplicate-sentence removal — the boilerplate
    * de-repetition pass (repeated nav bars / disclaimers / chorus
    * lines inside ONE document, vs [[graft.operators.Dedup]]'s
    * cross-document ops). Sentences split on `.`+whitespace; equality
    * is on a normalized key (lowercase, non-alphanumerics collapsed);
    * the FIRST occurrence survives, order is preserved, and the
    * cleaned text is reassembled with ". ". Output:
    * `idCol, n_sent, n_unique, text_clean`.
    *
    * Scale shape: entirely row-local column expressions — zero
    * shuffle, zero UDFs; the keep-filter is O(sentences²) per row via
    * an exists-over-prefix (sentence counts are bounded; an engine at
    * 100 TB runs this as a pure map stage). DuckDB replays it with
    * `list_filter(range(...), i -> NOT list_contains(k[1:i-1], k[i]))`.
    */
  def dedupSentences(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sents = filter(split(col(textCol), "\\.\\s+"), s => length(s) > lit(0))
    df.select(col(idCol), sents.as("_s"))
      .select(col(idCol), col("_s"),
        transform(col("_s"),
          x => trim(regexp_replace(lower(x), "[^a-z0-9]+", " "))).as("_k"))
      .select(col(idCol), col("_s"),
        filter(sequence(lit(1), size(col("_k"))), i =>
          !exists(slice(col("_k"), lit(1), i - 1),
            p => p === element_at(col("_k"), i))).as("_keep"))
      .select(col(idCol),
        size(col("_s")).as("n_sent"),
        size(col("_keep")).as("n_unique"),
        array_join(
          transform(col("_keep"), i => element_at(col("_s"), i)),
          ". ").as("text_clean"))
  }

  /** Sliding-window document chunking — the training-context-window
    * op: split each document's token stream into windows of `size`
    * tokens advancing by `stride` (overlapping when stride < size).
    * Output: `doc_id, chunk_idx, start_token (1-based), n_chunk_tokens,
    * chunk_text`. Empty documents produce no chunks; documents shorter
    * than `size` yield one short chunk; at most `stride − 1` trailing
    * tokens past the last full window are dropped (the standard
    * fixed-context convention).
    *
    * Row-local generate: `sequence` of window starts → posexplode →
    * `slice` — no shuffle, output size ≈ input·(1/stride overlap
    * factor), exactly how a context-window pass behaves at scale.
    */
  def chunk(df: DataFrame, textCol: String, idCol: String,
      size: Int = 512, stride: Int = 256): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .where(org.apache.spark.sql.functions.size(col("_t")) > 0)
    val starts = sequence(lit(1),
      greatest(org.apache.spark.sql.functions.size(col("_t")) - (size - 1), lit(1)),
      lit(stride))
    toks.select(col("doc_id"), col("_t"), posexplode(starts).as(Seq("chunk_idx", "st")))
      .select(col("doc_id"), col("chunk_idx"), col("st").as("start_token"),
        org.apache.spark.sql.functions.size(slice(col("_t"), col("st"), lit(size)))
          .as("n_chunk_tokens"),
        array_join(slice(col("_t"), col("st"), lit(size)), " ").as("chunk_text"))
  }

  /** Corpus vocabulary coverage: build the top-`vocabSize` token
    * vocabulary (by frequency, ties → lexicographic) and score each
    * document's out-of-vocabulary fraction — the classic
    * "is this text from the training distribution" signal. Output:
    * `doc_id, n_tokens, n_oov, oov_frac` (rounded to 6).
    *
    * The vocabulary is a distributed TakeOrdered (per-partition top-K
    * then merge — never a global sort materialization) and broadcasts
    * to the membership join, so the corpus-side pass is one explode +
    * one map-side-combined aggregate at any scale.
    */
  def oovStats(df: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 50): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in_vocab").isNull, lit(1))).as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Deterministic dataset split assignment (train/val/test …):
    * a 60-bit md5 of the id folds to a uniform bucket in [0, 1e6), and
    * cumulative `weights` cut the bucket range into named splits. Pure
    * column expression — the same id lands in the same split on any
    * engine, any run, any partitioning (the property random() splits
    * lack). Cuts are INTEGER bucket thresholds, so the comparison is
    * exact cross-engine (a fractional cut like 0.8+0.1 accumulates
    * float error and can flip boundary buckets between engines).
    * DuckDB mirror: `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))
    * ::BIGINT % 1000000` against the same thresholds.
    */
  def splitAssign(id: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = pmod(md5Long(id), lit(1000000L))
    var acc = 0.0
    val cuts = weights.map { case (name, wt) =>
      acc += wt / total
      (name, math.round(acc * 1000000).toLong)
    }
    cuts.init.foldRight(lit(cuts.last._1): Column) { case ((name, cut), els) =>
      when(bucket < cut, lit(name)).otherwise(els)
    }
  }

  /** Leakage-safe dataset splits: assign train/val/test at the
    * *near-dup-cluster* grain, not the document grain. A plain
    * per-document split ([[splitAssign]] on the doc id, q66) leaks
    * near-duplicates across the boundary — the eval set then contains
    * paraphrases of training documents; clustering first
    * ([[Dedup.minHashLsh]] → [[Graph.connectedComponents]], the q69
    * machinery) and hashing the CLUSTER id into the split keeps every
    * duplicate family on one side. Singleton documents are their own
    * cluster. Returns one row per split: (split, n_docs, n_clusters,
    * min_doc, max_doc, clusters_spanning_splits) — the last column is
    * the leakage count and is 0 by construction; it is computed from
    * the data (not a literal) so the cross-engine gate actually
    * re-proves it.
    *
    * Scale shape: LSH candidates and the iterative closure are
    * dup-bounded (q69's analysis); the cluster map joins back
    * UNHINTED — on a web corpus 30–50% of documents sit in some
    * near-dup pair, so `comps` is corpus-bounded and a forced
    * broadcast would OOM the driver. AQE broadcasts it when its
    * runtime size is actually small (the sf0.1 case) and shuffles
    * otherwise, same shape as [[Dedup.nearDedup]]'s anti-join. The
    * split expression is row-local; the final aggregate has |splits|
    * groups.
    */
  def leakageSafeSplit(df: DataFrame, textCol: String, idCol: String,
      weights: Seq[(String, Double)],
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minHashLsh(df, textCol, idCol,
      numHashes, bands, shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    // persisted (caller's scope): the spanning
    // aggregate and the per-split aggregate both consume it, and
    // without the cache each would replay the LSH + iterative closure
    val assigned = Caches.persist(df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
      .withColumn("split", splitAssign(col("comp"), weights)))
    val spanning = assigned.groupBy("comp")
      .agg(count_distinct(col("split")).as("_nsp"))
      .agg(sum(when(col("_nsp") > 1, 1L).otherwise(0L))
        .as("clusters_spanning_splits"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("comp")).as("n_clusters"),
        min(idCol).as("min_doc"), max(idCol).as("max_doc"))
      .crossJoin(broadcast(spanning))
  }

  /** Corpus token-coverage curve — the tokenizer-design statistic:
    * what fraction of all token OCCURRENCES the top-k vocabulary
    * types cover, at each probe size in `ks`. Read it before fixing a
    * vocab size (the knee of this curve) or interpreting OOV rates.
    * Emits `(k, n_terms, coverage)` — `n_terms` = min(k, vocab size).
    *
    * Scale shape: one explode + combinable frequency agg; the ranked
    * cumulative mass is a window over the VOCAB (never the corpus);
    * probe sizes cross in as a literal dimension. Rank ties break on
    * the token string, so the curve is deterministic cross-engine.
    */
  def coverageCurve(df: DataFrame, textCol: String,
      ks: Seq[Int] = Seq(5, 10, 20, 50)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "probe sizes must be positive")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val freq = df.select(explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__c").desc, col("__t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = freq
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__c").desc, col("__t").asc)))
      .withColumn("__cum", sum(col("__c")).over(w))
    val total = broadcast(freq.agg(sum("__c").as("__tot")))
    ranked.crossJoin(broadcast(ks.toDF("k")))
      .where(col("__rk") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_terms"), max(col("__cum")).as("__mass"))
      .crossJoin(total)
      .select(col("k"), col("n_terms"),
        round(col("__mass") / col("__tot"), 6).as("coverage"))
  }

  /** Split-hygiene audit — how contaminated an EXISTING per-document
    * split already is: count near-dup pairs whose members landed in
    * different splits under the naive [[splitAssign]] hash. The
    * before-picture that motivates [[leakageSafeSplit]], and the audit
    * to run on any split inherited from an upstream pipeline. Emits
    * one row per unordered split pair (`split_a <= split_b`):
    * `(split_a, split_b, n_pairs, leak)` — `leak` marks cross-split
    * rows; the same-split rows complete the denominator.
    *
    * Scale shape: the LSH pair pipeline unchanged; the split labels
    * are row-local hashes attached to the slim (id_a, id_b) pairs by
    * two joins against the (id, split) projection — at web scale that
    * projection is corpus-sized, so the joins are UNHINTED (AQE
    * broadcasts iff it actually fits), and the final agg has
    * |splits|² groups.
    */
  def splitContamination(df: DataFrame, textCol: String, idCol: String,
      weights: Seq[(String, Double)],
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minHashLsh(df, textCol, idCol,
      numHashes, bands, shingleSize, threshold)
    val splits = df.select(col(idCol).cast("long").as("__id"),
      splitAssign(col(idCol), weights).as("__sp"))
    pairs
      .join(splits.select(col("__id").as("id_a"), col("__sp").as("sa")), Seq("id_a"))
      .join(splits.select(col("__id").as("id_b"), col("__sp").as("sb")), Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leak", col("split_a") =!= col("split_b"))
  }

  /** Leakage-safe k-fold assignment — [[leakageSafeSplit]]'s
    * cross-validation sibling: near-dup clusters hash atomically into
    * `k` folds, so no fold's held-out set contains a paraphrase of
    * another fold's training data. Returns one row per fold:
    * `(fold, n_docs, n_clusters, clusters_spanning_folds)` — the last
    * is computed from the data and is 0 by construction.
    *
    * Scale shape: identical to [[leakageSafeSplit]] (dup-bounded LSH +
    * closure, unhinted cluster-map join, persisted assignment read by
    * both aggregates); the fold is `md5(comp) mod k`, row-local.
    */
  def leakageSafeFolds(df: DataFrame, textCol: String, idCol: String,
      k: Int,
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    require(k >= 2, "need at least two folds")
    val pairs = Dedup.minHashLsh(df, textCol, idCol,
      numHashes, bands, shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val assigned = Caches.persist(df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
      .withColumn("fold", pmod(md5Long(col("comp")), lit(k.toLong))))
    val spanning = assigned.groupBy("comp")
      .agg(count_distinct(col("fold")).as("_nf"))
      .agg(sum(when(col("_nf") > 1, 1L).otherwise(0L))
        .as("clusters_spanning_folds"))
    assigned.groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("comp")).as("n_clusters"))
      .crossJoin(broadcast(spanning))
  }

  /** Term-distribution drift between two corpus snapshots (rows where
    * `inOld` is true vs the rest): unigram probabilities on each side
    * and the `k` terms with the largest absolute probability change —
    * the monitoring signal a continuously-ingested corpus needs to
    * catch domain shift between dumps. One explode + one combinable
    * aggregate; the totals row broadcasts; top-k is TakeOrdered.
    */
  def termDrift(df: DataFrame, textCol: String, inOld: Column,
      k: Int = 20): DataFrame = {
    val counts = df
      .select(inOld.as("_old"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(sum(when(col("_old"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("_old"), 0L).otherwise(1L)).as("c_b"))
    val totals = counts.agg(sum("c_a").cast("double").as("t_a"),
      sum("c_b").cast("double").as("t_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("_drift", abs(col("c_a") / col("t_a") - col("c_b") / col("t_b")))
      .orderBy(col("_drift").desc, col("term"))
      .limit(k)
      .select(col("term"),
        round(col("c_a") / col("t_a"), 6).as("p_a"),
        round(col("c_b") / col("t_b"), 6).as("p_b"),
        round(col("_drift"), 6).as("drift"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms (Robertson/Lucene formulation:
    * idf = ln((N - df + ½)/(df + ½) + 1), tf saturation k1, length
    * normalization b) — the retrieval scorer a curation pipeline uses
    * for targeted corpus slicing. Top-`k` docs by score (ties → lower
    * id).
    *
    * Scale shape: the explode filters to query terms immediately (the
    * shuffle carries only matching (doc, term) pairs); per-term df and
    * the (N, avgdl) row are broadcast; top-k is TakeOrdered, never a
    * global sort materialization.
    */
  def bm25(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(df, textCol, idCol, queryTerms, k1, b)
      .select(col("doc_id"), round(col("_bm25"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)

  /** Unrounded BM25 score per matching document — the full ranking
    * [[bm25]] truncates and [[hybridRrf]] fuses. One row per document
    * containing ≥ 1 query term, column `_bm25`.
    */
  def bm25Scores(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("_t")).cast("double")).as("avgdl"))
    val tf = toks
      .select(col("doc_id"), size(col("_t")).cast("double").as("dl"),
        explode(col("_t")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_s",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * col("tf") * lit(k1 + 1)
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(sum("_s").as("_bm25"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.):
    * fuse a lexical BM25 ranking against `queryTerms` with a semantic
    * cosine ranking against the embedding of `queryVecId`, scoring each
    * document `Σ 1/(c + rank)` over the rankings it appears in (the
    * standard c = 60 damps rank-1 dominance). Rankings join FULL OUTER
    * on the shared id space — a doc ranked by only one signal still
    * scores. Returns top-`k`: (doc_id, bm25_rank, cos_rank, rrf).
    *
    * Scale shape: each ranking truncates to its top `depth` FIRST via
    * orderBy().limit() — a TakeOrdered (parallel per-partition top-k +
    * driver merge), never a single-partition global sort — and only the
    * ≤ depth survivors see the rank-assigning window, so the window's
    * one partition holds `depth` rows (a constant) at any corpus size.
    * The query embedding is a one-row broadcast feeding codegen'd
    * cosine arithmetic, and the fusion join runs on two depth-sized
    * (metadata-scale) inputs.
    */
  def hybridRrf(docs: DataFrame, textCol: String, idCol: String,
      emb: DataFrame, vecCol: String, embIdCol: String,
      queryTerms: Seq[String], queryVecId: Long, k: Int = 10,
      depth: Int = 100, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftExtensions.ensureRegistered(docs.sparkSession)
    val lexical = bm25Scores(docs, textCol, idCol, queryTerms)
      .orderBy(col("_bm25").desc, col("doc_id").asc).limit(depth)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("_bm25").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("bm25_rank"))
    val qv = broadcast(emb.where(col(embIdCol) === queryVecId)
      .select(col(vecCol).as("_qv")))
    val semantic = emb.where(col(embIdCol) =!= queryVecId)
      .crossJoin(qv) // one-row broadcast: a scan-shaped pass, not a blow-up
      .withColumn("_cos", call_function("graft_cosine", col(vecCol), col("_qv")))
      .select(col(embIdCol).as("doc_id"), col("_cos"))
      .orderBy(col("_cos").desc, col("doc_id").asc).limit(depth)
      .withColumn("cos_rank", row_number().over(
        Window.orderBy(col("_cos").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("cos_rank"))
    lexical.join(semantic, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("bm25_rank")), lit(0d)) +
          coalesce(lit(1.0) / (lit(c) + col("cos_rank")), lit(0d)))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Sequence packing — concat-and-chunk: documents concatenate in id
    * order and cut into fixed `seqLen`-token training sequences (the
    * GPT-style pretraining layout; a document straddling a cut
    * contributes to both sequences). Packing is per *bucket*
    * (`idCol / bucketDocs`) the way sharded pipelines pack per output
    * shard: every bucket packs independently and in parallel — the
    * running token count windows over one bucket's docs, never a
    * global single-partition cumsum. Output: one row per
    * (bucket, seq): contributing doc count and token count (= seqLen
    * except each bucket's tail sequence).
    */
  def sequencePack(df: DataFrame, textCol: String, idCol: String,
      seqLen: Int = 512, bucketDocs: Int = 100): DataFrame = {
    require(seqLen > 0 && bucketDocs > 0, "seqLen and bucketDocs must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
        (col(idCol) / lit(bucketDocs)).cast("long").as("bucket"),
        tokenCount(col(textCol)).cast("long").as("n"))
      .where(col("n") > 0)
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    val spans = toks
      .withColumn("end_cum", sum("n").over(w))
      // this doc occupies tokens [end_cum - n, end_cum) of its bucket's
      // concatenation ⇒ sequences [(end_cum - n) / L, (end_cum - 1) / L]
      .withColumn("seq", explode(sequence(
        ((col("end_cum") - col("n")) / lit(seqLen)).cast("long"),
        ((col("end_cum") - lit(1)) / lit(seqLen)).cast("long"))))
    spans.groupBy("bucket", "seq")
      .agg(count(lit(1)).as("n_docs"),
        // tail sequences hold whatever remains of the bucket's tokens
        least(lit(seqLen.toLong), max(col("end_cum")) - col("seq") * lit(seqLen))
          .as("n_tokens"))
  }

  /** PII pattern families for [[piiAudit]] — (name, regex, token).
    * The curation step every public-web corpus runs before training
    * (C4 strips lines with curse/PII markers; Dolma and RefinedWeb
    * regex-redact emails/IPs/phones). Patterns deliberately use only
    * the Java-regex ∩ RE2 common subset (no backrefs, no lookaround)
    * so the DuckDB oracle replays them verbatim.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** PII detection + redaction: per-document match counts for each
    * family in [[piiPatterns]] (counted on the ORIGINAL text, so one
    * family's replacement never hides another's count) and a scrubbed
    * text with every match replaced by its family token. Purely
    * row-local Column expressions — no shuffle, no UDF; at 100 TB this
    * is a map-only pass that pipelines into whatever filter or write
    * follows. Replacement applies families in [[piiPatterns]] order;
    * families are disjoint by construction (the phone prefix `+d-`
    * cannot re-match ssn/ipv4 digit runs, emails consume their match
    * whole).
    */
  def piiAudit(df: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (acc, (name, re, _)) =>
      acc.withColumn(s"pii_$name", regexp_count(col(textCol), lit(re)))
    }
    val scrubbed = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    counted
      .withColumn("text_scrubbed", scrubbed)
      .withColumn("pii_total",
        piiPatterns.map { case (n, _, _) => col(s"pii_$n") }
          .reduce(_ + _))
  }

  /** Multinomial Naive Bayes over hashed bag-of-words features — the
    * fastText-style quality/domain classifier a curation pipeline
    * trains ON the corpus it filters. Tokens hash to `numFeatures`
    * buckets ([[graft.functions.md5Long]] mod F, engine-replayable), so
    * the MODEL is fixed-size no matter the corpus: |labels| × F rows of
    * add-one-smoothed log-likelihoods, plus |labels| log-priors.
    * Each document is then scored against every label
    * (log-prior + Σ n_bucket · logp) and assigned the argmax (ties →
    * lexicographically smaller label). Output:
    * `doc_id, pred_label, score` (score rounded 4dp).
    *
    * Scale shape: training is two combinable aggregations (per-(label,
    * bucket) counts, per-label totals) over one explode — map-side
    * partial aggregation carries most of the weight. The dense grid
    * (distinct buckets × labels) and the priors are model-sized, so
    * their `broadcast` hints are size-safe BY CONSTRUCTION at any
    * corpus size — scoring is a map-side join against per-doc bucket
    * counts, one shuffle on doc_id, then a per-doc argmax window over
    * |labels| rows.
    */
  def naiveBayes(df: DataFrame, textCol: String, idCol: String,
      labelCol: String, numFeatures: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
      tokens(col(textCol)).as("__t"))
    val tok = docs
      .select(col("doc_id"), col("label"), explode(col("__t")).as("term"))
      .withColumn("f", pmod(md5Long(col("term")), lit(numFeatures.toLong)))
    val counts = tok.groupBy("label", "f").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("label").agg(sum("c").as("t"))
    val labels = docs.groupBy("label").agg(count(lit(1)).as("n_docs"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val priors = labels.crossJoin(broadcast(nAll))
      .select(col("label").as("m_label"),
        log(col("n_docs") / col("n_all")).as("log_prior"))
    val model = counts.select("f").distinct()
      .crossJoin(labels.select("label"))
      .join(counts, Seq("label", "f"), "left")
      .join(totals, Seq("label"))
      .select(col("label").as("m_label"), col("f"),
        log((coalesce(col("c"), lit(0L)) + lit(1d)) /
          (col("t") + lit(numFeatures))).as("logp"))
    val docF = tok.groupBy("doc_id", "f").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("m_label").asc)
    docF.join(broadcast(model), Seq("f"))
      .groupBy("doc_id", "m_label").agg(sum(col("n") * col("logp")).as("ll"))
      .join(broadcast(priors), Seq("m_label"))
      .withColumn("score", col("ll") + col("log_prior"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc_id"), col("m_label").as("pred_label"),
        round(col("score"), 4).as("score"))
  }

  /** Per-document character-class profile — the writing-system /
    * formatting audit a curation pipeline runs before language-specific
    * stages: counts and fractions of letters, digits, uppercase,
    * whitespace, and symbol/punctuation characters, plus a dominant
    * class. Mojibake, ASCII-art, minified code, and number tables all
    * announce themselves here long before a model-based classifier
    * would. Emits `(idCol, n_chars, n_letter, n_digit, n_upper,
    * n_space, n_other, letter_frac, digit_frac, upper_frac,
    * dominant)`.
    *
    * Scale shape: entirely row-local (`length` over codegen'd
    * `regexp_replace` projections) — zero shuffle, zero UDFs, stays in
    * one WholeStageCodegen span with the scan.
    */
  def charClassProfile(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def cnt(cls: String) =
      length(regexp_replace(col(textCol), cls, ""))
    val letters = cnt("[^a-zA-Z]")
    val digits = cnt("[^0-9]")
    val uppers = cnt("[^A-Z]")
    val spaces = cnt("[^ \\t\\n\\r]")
    val total = length(col(textCol))
    // fracs reference the PROJECTED n_chars, not the source text (which
    // the first select drops)
    def frac(c: Column) =
      when(col("n_chars") === 0, lit(0d))
        .otherwise(round(c.cast("double") / col("n_chars"), 6))
    df.select(col(idCol),
        total.as("n_chars"),
        letters.as("n_letter"), digits.as("n_digit"),
        uppers.as("n_upper"), spaces.as("n_space"),
        (total - letters - digits - spaces).as("n_other"))
      .withColumn("letter_frac", frac(col("n_letter")))
      .withColumn("digit_frac", frac(col("n_digit")))
      .withColumn("upper_frac", frac(col("n_upper")))
      .withColumn("dominant",
        when(col("n_chars") === 0, lit("empty"))
          .when(col("n_letter") >= greatest(col("n_digit"), col("n_space"), col("n_other")),
            lit("letter"))
          .when(col("n_digit") >= greatest(col("n_space"), col("n_other")), lit("digit"))
          .when(col("n_space") >= col("n_other"), lit("space"))
          .otherwise(lit("other")))
  }

  /** Per-document token-distribution entropy — the "how repetitive is
    * this text really" scalar: H = −Σ p·ln p over the doc's own token
    * frequencies, plus the evenness ratio H / ln(n_distinct) in [0,1]
    * (1 = every token distinct, → 0 = one token dominates). Catches
    * keyword-stuffed and template documents that pass length checks.
    * Emits `(idCol, n_tokens, n_distinct, entropy, evenness)`.
    *
    * Scale shape: explode → (doc, term) count agg → per-doc agg; two
    * combinable aggregations keyed on the doc id, no corpus-global
    * state at all.
    */
  def tokenEntropy(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(idCol, "__t").agg(count(lit(1)).as("__c"))
    tf.groupBy(idCol)
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") * log(col("__c"))).as("__clogc"))
      // H = ln N − (Σ c·ln c)/N (algebraic form of −Σ p ln p)
      .withColumn("entropy",
        round(log(col("n_tokens")) - col("__clogc") / col("n_tokens"), 6))
      .withColumn("evenness",
        when(col("n_distinct") <= 1, lit(0d))
          .otherwise(round(
            (log(col("n_tokens")) - col("__clogc") / col("n_tokens"))
              / log(col("n_distinct")), 6)))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        col("entropy"), col("evenness"))
  }

  /** Span-level surprisal — [[unigramSurprisal]] at chunk granularity:
    * score every sliding window of a document against the CORPUS
    * unigram model, so a low-quality region (boilerplate block, pasted
    * log dump) inside an otherwise-good document surfaces as a chunk
    * whose surprisal deviates from the document's own mean. The
    * span-level refinement of doc-level quality filtering: drop the
    * span, keep the document. Emits `(doc_id, chunk_idx, start_token,
    * n_tokens, surprisal, delta)` — `delta` is the chunk's surprisal
    * minus its document's mean chunk surprisal.
    *
    * Scale shape: corpus model = one explode + combinable count agg,
    * persisted (two consumers); chunks re-tokenize via [[chunk]]'s
    * row-local slices (stride controls the blow-up factor), join the
    * vocab-sized freq table (AQE broadcasts it), and aggregate per
    * chunk; the delta window partitions by doc — bounded by a doc's
    * chunk count.
    */
  def spanSurprisal(df: DataFrame, textCol: String, idCol: String,
      size: Int = 32, stride: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Caches.persist(
      df.select(explode(tokens(col(textCol))).as("__t"))
        .groupBy("__t").agg(count(lit(1)).as("__c")))
    val total = freq.agg(sum("__c").as("__tot"))
    val ctoks = chunk(df, textCol, idCol, size, stride)
      .select(col("doc_id"), col("chunk_idx"), col("start_token"),
        explode(tokens(col("chunk_text"))).as("__t"))
    val perChunk = ctoks
      .join(freq, Seq("__t"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "chunk_idx", "start_token")
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(col("__c") / col("__tot"))).as("__s"))
    val w = Window.partitionBy("doc_id")
    perChunk
      .select(col("doc_id"), col("chunk_idx"), col("start_token"),
        col("n_tokens"), round(col("__s"), 6).as("surprisal"),
        round(col("__s") - avg(col("__s")).over(w), 6).as("delta"))
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the corpus-similarity matrix a mixture designer
    * reads before weighting sources (two mirrors of the same crawl
    * show JS≈0; code vs prose shows JS→ln 2). Natural-log JS in
    * [0, ln 2]; emits `(source_a, source_b, js)` for `source_a <
    * source_b`, rounded.
    *
    * Scale shape: one corpus pass builds (source, term, p); the
    * pairwise part joins that slim distribution table WITH ITSELF ON
    * TERM — fan-out per term row is |sources|, never |vocab|², and
    * the aggregate is per-pair combinable. Terms present in only one
    * side contribute exactly 0.5·p·ln 2 each, folded in analytically
    * as 0.5·ln 2·(1 − overlap mass) per side — no full-outer join,
    * no (source × vocab) densification.
    */
  def sourceJsDivergence(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    // (source, term, count) is model-sized but its lineage is the full
    // corpus explode — persist it (caller's scope) since THREE branches read
    // it (totals, and both sides of the pair self-join via dist)
    val counts = Caches.persist(df
      .select(col(sourceCol).as("__s"), explode(tokens(col(textCol))).as("__t"))
      .groupBy("__s", "__t").agg(count(lit(1)).as("__c")))
    val totals = counts.groupBy("__s").agg(sum("__c").as("__n"))
    val dist = counts.join(broadcast(totals), Seq("__s"))
      .select(col("__s"), col("__t"), (col("__c") / col("__n")).as("__p"))
    val ln2 = math.log(2)
    val overlap = dist.as("a")
      .join(dist.as("b"),
        col("a.__t") === col("b.__t") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("source_a"), col("b.__s").as("source_b"))
      .agg(
        sum(lit(0.5) * col("a.__p")
            * log(lit(2d) * col("a.__p") / (col("a.__p") + col("b.__p")))
          + lit(0.5) * col("b.__p")
            * log(lit(2d) * col("b.__p") / (col("a.__p") + col("b.__p"))))
          .as("__overlap"),
        sum(col("a.__p")).as("__pa"), sum(col("b.__p")).as("__pb"))
    // pair scaffold: disjoint-vocabulary pairs have NO joined terms —
    // without it they'd silently drop instead of scoring ln 2
    val srcs = totals.select(col("__s"))
    val allPairs = srcs.select(col("__s").as("source_a"))
      .crossJoin(broadcast(srcs.select(col("__s").as("source_b"))))
      .where(col("source_a") < col("source_b"))
    allPairs.join(overlap, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        // +0.0: float error can leave a −1e-17 residue on identical
        // distributions, which round() keeps as IEEE −0.0
        (round(coalesce(col("__overlap"), lit(0d))
          + lit(0.5 * ln2)
            * ((lit(1d) - coalesce(col("__pa"), lit(0d)))
              + (lit(1d) - coalesce(col("__pb"), lit(0d)))),
          6) + lit(0d)).as("js"))
  }

  /** Blocklist screening — the categorized term-list filter (spam,
    * adult, gambling, …) every production curation stack runs before
    * anything model-based: per document, how many tokens hit the list,
    * which categories, and a block verdict when the hit fraction
    * clears `maxHitFrac`. Emits `(idCol, n_tokens, n_hits, hit_frac,
    * categories, blocked)`; `categories` is the sorted comma-joined
    * distinct set ('' when clean).
    *
    * Scale shape: the blocklist is a term→category dimension of at
    * most a few 10⁵ rows — broadcast BY CONSTRUCTION; the corpus
    * explodes to tokens, inner-joins the broadcast list (map-side),
    * and re-aggregates on the doc id — hits only, not all tokens,
    * travel through the shuffle. Docs with zero hits rejoin via a
    * left join from the slim (id, n_tokens) projection.
    */
  def blocklistScreen(df: DataFrame, textCol: String, idCol: String,
      blocklist: Seq[(String, String)],
      maxHitFrac: Double = 0.02): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val terms = broadcast(blocklist.toDF("__term", "__cat"))
    val docs = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).as("n_tokens"), col("__t"))
    val hits = docs
      .select(col(idCol), explode(col("__t")).as("__term"))
      .join(terms, Seq("__term"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        array_join(array_sort(collect_set(col("__cat"))), ",").as("categories"))
    docs.drop("__t")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("categories"), lit("")).as("categories"))
      .withColumn("hit_frac",
        when(col("n_tokens") === 0, lit(0d))
          .otherwise(round(col("n_hits").cast("double") / col("n_tokens"), 6)))
      .withColumn("blocked",
        col("n_hits") > 0 &&
          col("n_hits").cast("double") / col("n_tokens") > maxHitFrac)
  }

  /** Per-source data card — the one-stop datasheet row a dataset
    * release publishes per source: volume (docs, tokens, mean chars),
    * exact-duplicate rate (normalized-text fingerprints), mean quality
    * score, and the dominant language with its share. Composes the
    * row-local scoring kernels into ONE projection pass; two
    * combinable aggregates (main + language mix) derive from it.
    *
    * Scale shape: the projected base is persisted (two aggregate
    * consumers — the Catalyst double-derive lesson); both aggregates
    * shuffle only (group)- / (group, lang)-sized keys; the final join
    * is dimension × dimension.
    */
  def dataCard(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, langCol: String): DataFrame = {
    val base = Caches.persist(df.select(
      col(groupCol).as("grp"), col(langCol).as("lang"),
      textFingerprint(col(textCol)).as("fp"),
      size(tokens(col(textCol))).cast("long").as("ntok"),
      length(col(textCol)).cast("long").as("nch"),
      qualityStruct(col(textCol)).getField("quality_score").as("q")))
    val main = base.groupBy("grp").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("n_unique"),
      sum("ntok").as("sum_tokens"),
      round(avg("nch"), 4).as("avg_chars"),
      round(avg("q"), 6).as("avg_quality"))
    val langs = base.groupBy("grp", "lang")
      .agg(count(lit(1)).as("__n"))
      .groupBy("grp")
      .agg(min(struct((-col("__n")).as("nn"), col("lang"))).as("__m"),
        sum("__n").as("__tot"))
      .select(col("grp"), col("__m.lang").as("main_lang"),
        round((-col("__m.nn")).cast("double") / col("__tot"), 6)
          .as("main_lang_frac"))
    main.join(langs, "grp")
      .select(col("grp").as(groupCol), col("n_docs"), col("n_unique"),
        round(lit(1d) - col("n_unique").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        col("sum_tokens"), col("avg_chars"), col("avg_quality"),
        col("main_lang"), col("main_lang_frac"))
  }

  /** Corpus saturation / novelty-by-ingestion-order — "is the next
    * crawl still adding new text?": for each document (ids = ingestion
    * order), the fraction of its distinct n-grams FIRST seen in that
    * document (no smaller-id document contains them). Averaged over an
    * id bucket this is the marginal-novelty curve a collection effort
    * uses to decide when a source is mined out — the cross-document
    * counterpart of [[coverageCurve]]'s static vocabulary view. Emits
    * `(idCol, n_grams, n_novel, novelty)` per document with ≥1 gram.
    *
    * Scale shape: one explode + min-aggregate builds the gram →
    * first-doc table (gram-vocab-sized); the join back is gram-keyed;
    * the report is one combinable per-doc agg. Equivalent information
    * to [[Dedup.duplicateSpans]] at set grain for a fraction of its
    * cost — position reconstruction is what makes spans expensive.
    */
  def saturationReport(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val grams = Caches.persist(df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("_t"))
      .select(col("__id"),
        explode(array_distinct(wordShingles(col("_t"), n))).as("g")))
    val firstSeen = grams.groupBy("g").agg(min("__id").as("__first"))
    grams.join(firstSeen, "g")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__first") === col("__id"), lit(1))).as("n_novel"))
      .select(col("__id").as(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
  }

  /** Domain-level quality gating (the RefinedWeb/C4 "bad domain" rule
    * applied data-dependently): a SOURCE is dropped when its mean
    * document quality falls below `minSourceScore` — low-quality
    * domains are overwhelmingly low-quality throughout, so the domain
    * is the efficient unit of rejection — but an individually strong
    * document (`doc_score ≥ keepDocScore`) survives its source's
    * verdict. Emits per doc: `(idCol, groupCol, doc_score,
    * source_score, keep, reason)` with reason ∈ ok / rescued /
    * bad_source.
    *
    * Scale shape: doc scores are row-local ([[qualityStruct]]); the
    * per-source mean is one combinable aggregate whose result is a
    * sources-sized dimension — broadcast back; the verdict is
    * map-side. No payload shuffle at any corpus size.
    */
  def sourceQualityGate(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, minSourceScore: Double,
      keepDocScore: Double = 0.9): DataFrame = {
    val scored = df.select(col(idCol), col(groupCol),
      qualityStruct(col(textCol)).getField("quality_score").as("doc_score"))
    val perSource = scored.groupBy(groupCol)
      .agg(round(avg("doc_score"), 6).as("source_score"))
    scored.join(broadcast(perSource), Seq(groupCol))
      .withColumn("keep",
        col("source_score") >= minSourceScore ||
          col("doc_score") >= keepDocScore)
      .withColumn("reason",
        when(col("source_score") >= minSourceScore, lit("ok"))
          .when(col("doc_score") >= keepDocScore, lit("rescued"))
          .otherwise(lit("bad_source")))
      .select(col(idCol), col(groupCol), col("doc_score"),
        col("source_score"), col("keep"), col("reason"))
  }

  /** Dunning log-likelihood (G²) keyword saliency per group — "which
    * terms characterize this source against the rest of the corpus"
    * (Dunning 1993, the standard corpus-linguistics significance test;
    * more robust than raw TF ratios for rare terms, and distinct from
    * [[cTfIdfLabels]]'s frequency statistic). For term t in group s:
    * with a = count(t in s), g = corpus count of t, c = tokens in s,
    * N = corpus tokens, b = g−a:
    *   G² = 2·[ a·ln(a/E₁) + b·ln(b/E₂) ],  E₁ = c·g/N, E₂ = (N−c)·g/N
    * (the b-term vanishes when b = 0). Only OVER-represented terms
    * (a/c > g/N) qualify; top-`topK` per group by G² (ties → term).
    *
    * Scale shape: one explode+agg pass builds the (group, term) count
    * table — (groups × vocab)-bounded, persisted because three
    * aggregates derive from it; group totals broadcast, term totals
    * are a vocab-sized equi-join (AQE broadcasts), the grand total
    * rides a 1-row cross join. The rank window partitions on group
    * over vocab-sized input and plans a partial WindowGroupLimit.
    */
  def keywordSaliency(df: DataFrame, textCol: String, groupCol: String,
      topK: Int = 5, minCount: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = Caches.persist(
      df.select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
        .groupBy("grp", "term").agg(count(lit(1)).as("a")))
    val grpTot = tc.groupBy("grp").agg(sum("a").as("c"))
    val termTot = tc.groupBy("term").agg(sum("a").as("g"))
    val grand = tc.agg(sum("a").as("n"))
    val aD = col("a").cast("double"); val gD = col("g").cast("double")
    val cD = col("c").cast("double"); val nD = col("n").cast("double")
    val b = gD - aD
    val g2 = lit(2d) * (aD * log(aD / (cD * gD / nD)) +
      when(b > 0, b * log(b / ((nD - cD) * gD / nD))).otherwise(lit(0d)))
    val w = Window.partitionBy("grp").orderBy(col("g2").desc, col("term").asc)
    tc.join(broadcast(grpTot), "grp")
      .join(termTot, "term")
      .crossJoin(broadcast(grand))
      .where(col("g") >= minCount && aD / cD > gD / nD)
      .withColumn("g2", g2)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("grp").as(groupCol), col("rank"), col("term"),
        col("a").as("n_in"), (col("g") - col("a")).as("n_out"),
        round(col("g2"), 4).as("g2"))
  }

  /** Zipf's-law fit of the corpus term-frequency distribution: OLS of
    * ln(freq) on ln(rank) over the top-`topN` terms (rank 1 = most
    * frequent, ties → lexicographic). A healthy natural-language
    * corpus fits slope ≈ −1 with high R²; synthetic/templated text
    * shows up as a flat slope or a poor fit — a one-row corpus
    * health check. Emits `(n_terms, slope, intercept, r2)`; intercept
    * is ln-scale.
    *
    * Scale shape: one explode + map-side-combined term count, then a
    * TakeOrdered top-`topN` (per-partition top-k + driver merge, never
    * a global sort); the rank window and the 4-sum OLS fold run over
    * `topN` rows — a constant — so the fit costs one corpus pass at
    * any size.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 2, "need at least two ranked terms to fit")
    val freq = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(topN)
    val xy = freq
      .withColumn("rk", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val a = xy.agg(count(lit(1)).cast("double").as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    a.select(col("n").cast("long").as("n_terms"),
      round(covN / varXN, 6).as("slope"),
      round((col("sy") - covN / varXN * col("sx")) / col("n"), 6).as("intercept"),
      round(when(varYN > 0, covN * covN / (varXN * varYN))
        .otherwise(lit(0d)), 6).as("r2"))
  }

  /** In-engine logistic-regression quality classifier trained by
    * full-batch gradient descent: `iters` exact passes of
    * `w ← w − η·avg(x·(σ(w·x) − y))` from `w = 0` over the given
    * feature columns (an intercept is prepended). Deterministic —
    * no shuffling, no minibatching — so the DuckDB oracle replays the
    * identical trajectory as an unrolled CTE chain; each iteration is
    * ONE map-side-combinable (k+1)-sum aggregate over the corpus, and
    * the weight vector travels as collected literals (the k-means
    * staging discipline). Emits one row:
    * `(n, w_0 … w_k, accuracy)` — `w_0` the intercept, accuracy the
    * training accuracy of the final weights at the 0.5 threshold.
    *
    * Quantize the feature expressions (e.g. 4dp rounds) so both
    * engines aggregate the same grid values.
    */
  def logisticRegressionGd(df: DataFrame, features: Seq[Column],
      label: Column, eta: Double = 5.0, iters: Int = 5): DataFrame = {
    require(features.nonEmpty && iters >= 1, "need features and iterations")
    val k = features.size
    val cols = lit(1d).as("x0") +:
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x${i + 1}") }
    val fts = Caches.persist(
      df.select(cols :+ label.cast("boolean").cast("double").as("y"): _*))
    var w = Array.fill(k + 1)(0d)
    def z(weights: Array[Double]): Column =
      (0 to k).map(j => lit(weights(j)) * col(s"x$j")).reduce(_ + _)
    def sigma(zc: Column): Column = lit(1d) / (lit(1d) + exp(-zc))
    for (_ <- 1 to iters) {
      val p = sigma(z(w))
      val grads = fts.agg(
        avg((p - col("y")) * col("x0")).as("g0"),
        (1 to k).map(j => avg((p - col("y")) * col(s"x$j")).as(s"g$j")): _*)
        .collect().head
      w = Array.tabulate(k + 1)(j => w(j) - eta * grads.getDouble(j))
    }
    val p = sigma(z(w))
    val outCols =
      Seq(count(lit(1)).as("n")) ++
        (0 to k).map(j => round(lit(w(j)), 6).as(s"w_$j")) :+
        round(avg(when((p >= 0.5) === col("y").cast("boolean"), 1d)
          .otherwise(0d)), 6).as("accuracy")
    fts.agg(outCols.head, outCols.tail: _*)
  }

  /** Burrows' Delta stylometric distance between groups (the
    * authorship-attribution classic): over the corpus-wide top-
    * `vocabSize` terms, z-score each group's relative term frequency
    * against the across-group mean/std, and score each group pair by
    * the mean absolute z difference. Low Delta = same "stylistic
    * fingerprint" — in a curation pipeline, a signal that two sources
    * are the same underlying site/template farm wearing different
    * names. Emits `(source_a, source_b, n_terms, delta)` for
    * `source_a < source_b`.
    *
    * Scale shape: one corpus explode (persisted — it feeds vocabulary,
    * per-group counts AND group totals), a TakeOrdered vocabulary, and
    * then everything is (groups × vocab)-bounded: the densified
    * frequency grid, the per-term moment fold, the z table (persisted
    * — both sides of the pair join read it), and the |groups|²/2 pair
    * aggregate. Zero-variance terms drop from every pair's mean.
    */
  def burrowsDelta(df: DataFrame, textCol: String, groupCol: String,
      vocabSize: Int = 30): DataFrame = {
    val toks = Caches.persist(
      df.select(col(groupCol).as("__g"), explode(tokens(col(textCol))).as("__t")))
    val vocab = toks.groupBy("__t").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t").asc)
      .limit(vocabSize)
      .select("__t")
    val counts = toks.join(broadcast(vocab), Seq("__t"))
      .groupBy("__g", "__t").agg(count(lit(1)).as("__c"))
    val totals = toks.groupBy("__g").agg(count(lit(1)).as("__tok"))
    val fGrid = totals.crossJoin(broadcast(vocab))
      .join(counts, Seq("__g", "__t"), "left")
      .withColumn("__f",
        coalesce(col("__c"), lit(0L)).cast("double") / col("__tok"))
    val stats = fGrid.groupBy("__t").agg(
      avg("__f").as("__mu"),
      count(lit(1)).cast("double").as("__s"),
      sum(col("__f") * col("__f")).as("__sf2"))
      .withColumn("__sigma",
        sqrt(col("__sf2") / col("__s") - col("__mu") * col("__mu")))
    val z = Caches.persist(
      fGrid.join(broadcast(stats), Seq("__t"))
        .where(col("__sigma") > 0)
        .select(col("__g"), col("__t"),
          ((col("__f") - col("__mu")) / col("__sigma")).as("__z")))
    z.as("a")
      .join(z.as("b"), col("a.__t") === col("b.__t") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("source_a"), col("b.__g").as("source_b"))
      .agg(count(lit(1)).as("n_terms"),
        round(avg(abs(col("a.__z") - col("b.__z"))), 6).as("delta"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty): score(d) = Σ_t∈q ln(1 + tf_td/(μ·p_t)) +
    * |q|·ln(μ/(dl_d + μ)), the rank-equivalent decomposition of
    * Σ ln((tf + μ·p_t)/(dl + μ)) that touches only MATCHING (doc,
    * term) pairs plus a row-local length term — the standard LM
    * alternative to [[bm25]]. `p_t` is the corpus unigram probability
    * cf_t/|C|. Top-`k` docs (ties → lower id).
    *
    * Scale shape: corpus stats (cf per query term, total token count)
    * are one filtered explode + agg, broadcast back; every doc gets
    * the row-local length prior, matching docs add their sparse term
    * contributions via a left join against the (query-term-bounded)
    * tf table; top-k is TakeOrdered.
    */
  def dirichletQl(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], mu: Double = 2000d, k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("_t"))
    val totalToks = toks.agg(
      sum(size(col("_t"))).cast("double").as("n_corpus_tokens"))
    val tf = toks
      .select(col("doc_id"), explode(col("_t")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    val matchScore = tf.join(broadcast(cf), "term")
      .crossJoin(broadcast(totalToks))
      .withColumn("_m",
        log(lit(1d) + col("tf")
          / (lit(mu) * col("cf") / col("n_corpus_tokens"))))
      .groupBy("doc_id").agg(sum("_m").as("_match"))
    toks.select(col("doc_id"), size(col("_t")).cast("double").as("dl"))
      .join(matchScore, Seq("doc_id"), "left")
      .withColumn("_score",
        coalesce(col("_match"), lit(0d))
          + lit(queryTerms.distinct.size.toDouble)
          * log(lit(mu) / (col("dl") + lit(mu))))
      .orderBy(col("_score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), round(col("_score"), 4).as("ql_score"))
  }

  /** Flesch reading-ease per document — the classic curation signal a
    * children's-corpus / plain-language filter thresholds on. Fully
    * deterministic surrogates: words = non-space runs, sentences =
    * `[.!?]+` runs (min 1), syllables = per-word `[aeiouy]+` group
    * count (min 1 per word). Score
    *   206.835 − 1.015·(W/S) − 84.6·(Syll/W)
    * is three integer-ratio terms combined left-to-right — the same
    * IEEE ops in any engine — then floor-rounded at 4dp (never
    * `round()`, whose half-handling differs across engines on doubles).
    * Bands cut on the rounded score. Emits `(idCol, n_words,
    * n_sentences, n_syllables, flesch, band)`.
    *
    * Scale shape: row-local (regexp counts + one array fold inside
    * whole-stage codegen); no shuffle at all.
    */
  /** Marginal-novelty rate per document — the data-pruning score "how
    * much does this doc add that the corpus prefix hasn't seen": in
    * `idCol` order, the fraction of a doc's distinct n-grams whose
    * FIRST corpus occurrence is in that doc. Near-zero = fully
    * redundant with earlier data (prune first); the doc-grain
    * attribution [[heapsFit]]'s corpus curve aggregates away. Output:
    * `(idCol, n_grams, n_new, novelty_rate)`.
    *
    * Scale shape: one (doc, gram) distinct, one gram-grain min
    * aggregate, one gram-keyed join back, one doc-grain combinable
    * aggregate.
    */
  def noveltyRate(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = Caches.persist(df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"),
        explode(array_distinct(wordShingles(col("__t"), n))).as("__g")))
    val firsts = grams.groupBy("__g").agg(min("__id").as("__first"))
    grams.join(firsts, Seq("__g"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__first") === col("__id"), lit(1))).as("n_new"))
      .withColumn("novelty_rate",
        round(col("n_new").cast("double") / col("n_grams"), 4))
  }

  /** Code-switching (intra-document language-mix) audit — documents
    * whose CHUNKS disagree on language are multilingual or boilerplate
    * collages, which single-label [[langId]] silently mislabels: the
    * text splits into fixed `chunkTokens`-token chunks, each chunk is
    * language-identified, and the doc reports its chunk count, distinct
    * chunk languages and majority-language share. Output:
    * `(idCol, doc_lang, n_chunks, n_langs, majority_share)`.
    *
    * Scale shape: row-local chunking (array slices re-joined) + one
    * explode bounded by chunks-per-doc, one doc-grain aggregate.
    */
  def codeSwitching(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    // tokens materialized to an attribute before the chunk lambda: the
    // lambda's slice captures it per chunk, and an attribute capture is
    // an O(1) slot read where an inline tokens(text) would re-tokenize
    // the document once per chunk
    val toks = col("__tk")
    val chunks = transform(
      sequence(lit(0), ((size(toks) - 1) / chunkTokens).cast("int")),
      i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens))))
    val perChunk = df
      .select(col(idCol), langId(col(textCol)).as("doc_lang"),
        tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("doc_lang"), explode(chunks).as("__chunk"))
      .where(length(col("__chunk")) > 0)
      .select(col(idCol), col("doc_lang"), langId(col("__chunk")).as("__cl"))
    val counts = perChunk
      .groupBy(col(idCol), col("doc_lang"), col("__cl"))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col(idCol), col("doc_lang"))
      .agg(sum("__c").as("n_chunks"), count(lit(1)).as("n_langs"),
        max("__c").as("__m"))
      .select(col(idCol), col("doc_lang"), col("n_chunks"), col("n_langs"),
        round(col("__m").cast("double") / col("n_chunks"), 4)
          .as("majority_share"))
  }

  /** Feature-hashing (hashing-trick) collision audit — before fixing a
    * hashed feature width, measure what it destroys: distinct n-gram
    * types hash into `buckets` via md5, and the report is the
    * count-of-counts histogram of bucket load plus the summary
    * (types, used buckets, collision rate = 1 − used/types) carried on
    * every row. Emits `(load, n_buckets, n_types, buckets_used,
    * collision_rate)`.
    *
    * Scale shape: explode → distinct type set (the only corpus-grain
    * shuffle), one bucket count, one count-of-counts roll-up, a 1-row
    * summary crossed in.
    */
  def featureHashAudit(df: DataFrame, textCol: String, n: Int,
      buckets: Int): DataFrame = {
    val types = df
      .select(tokens(col(textCol)).as("__t"))
      .select(explode(wordShingles(col("__t"), n)).as("t"))
      .distinct()
    // the bucket-load relation feeds BOTH the histogram and the
    // summary — persist or the corpus explode+distinct runs twice
    val load = Caches.persist(types
      .select(pmod(graft.functions.md5Long(col("t")), lit(buckets.toLong))
        .as("b"))
      .groupBy("b").agg(count(lit(1)).as("load")))
    val hist = load.groupBy("load").agg(count(lit(1)).as("n_buckets"))
    val summary = load.agg(sum("load").as("n_types"),
      count(lit(1)).as("buckets_used"))
    hist.crossJoin(broadcast(summary))
      .select(col("load"), col("n_buckets"), col("n_types"),
        col("buckets_used"),
        round(lit(1d) - col("buckets_used").cast("double") / col("n_types"),
          6).as("collision_rate"))
  }

  /** Unseen-vocabulary estimate — Good-Turing unseen mass and the
    * Chao1 richness estimator over n-gram types: V₁/N (the probability
    * the NEXT n-gram is novel) and V + V₁²/(2·V₂) (how many types
    * exist including unseen ones) — the "is this corpus big enough"
    * numbers for tokenizer and dedup planning. All counts integer, so
    * both engines reach the two final divisions bit-identically. One
    * row: `(n_tokens, vocab, v1, v2, unseen_mass, chao1)`.
    *
    * Scale shape: one type-count shuffle, one count-of-counts
    * aggregate, a 1-row fold.
    */
  def unseenVocabEstimate(df: DataFrame, textCol: String,
      n: Int): DataFrame = {
    val freq = df
      .select(tokens(col(textCol)).as("__t"))
      .select(explode(wordShingles(col("__t"), n)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("__f"))
    freq.agg(sum("__f").as("n_tokens"), count(lit(1)).as("vocab"),
        count(when(col("__f") === 1, lit(1))).as("v1"),
        count(when(col("__f") === 2, lit(1))).as("v2"))
      .select(col("n_tokens"), col("vocab"), col("v1"), col("v2"),
        round(col("v1").cast("double") / col("n_tokens"), 6)
          .as("unseen_mass"),
        round(col("vocab")
          + when(col("v2") > 0,
              col("v1").cast("double") * col("v1") / (lit(2L) * col("v2")))
            .otherwise(col("v1") * (col("v1") - 1) / 2d), 2).as("chao1"))
  }

  /** Heaps'-law vocabulary-growth fit — the "how fast does vocabulary
    * grow with corpus size" audit (V ≈ k·N^β, β ≈ 0.5 for natural
    * language; a β near 1 flags synthetic/ID-heavy text) that sizes
    * tokenizer vocabularies. Docs are ordered by `idCol`; at each doc
    * the cumulative token count N and cumulative distinct vocabulary V
    * (terms whose FIRST occurrence is at or before the doc) give one
    * (ln N, ln V) point, and the same 5-sum OLS as [[zipfFit]] fits
    * ln V = ln k + β·ln N. Emits one row:
    * `(n_docs, total_tokens, vocab, beta, k, r2)`.
    *
    * Scale shape: per-doc token counts are row-local; first
    * occurrences are one term-keyed min-aggregate (the only
    * corpus-grain shuffle); both running sums use the bucketed prefix
    * decomposition (per-bucket partials + a bucket-count-sized window
    * for offsets, the q101 discipline) — no global single-partition
    * cumsum. The cumulative counts are integers, so each point's
    * ln() inputs are engine-exact; only the 5-sum OLS fold is float
    * (6dp rounding absorbs sum-order ulps, as in [[zipfFit]]).
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
      bucketSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = df.select(col(idCol).as("__id"),
      size(tokens(col(textCol))).cast("long").as("__nt"))
    val firsts = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(min("__id").as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("__nv"))
    val base = perDoc.join(firsts, Seq("__id"), "left")
      .select(col("__id"), col("__nt"), coalesce(col("__nv"), lit(0L)).as("__nv"))
      .withColumn("__b", expr(s"__id div $bucketSize"))
    val inBucket = Window.partitionBy("__b").orderBy("__id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val partial = base
      .withColumn("__ct", sum("__nt").over(inBucket))
      .withColumn("__cv", sum("__nv").over(inBucket))
    val offsets = base.groupBy("__b")
      .agg(sum("__nt").as("__bt"), sum("__nv").as("__bv"))
    val offW = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    val withOff = offsets
      .withColumn("__ot", coalesce(sum("__bt").over(offW), lit(0L)))
      .withColumn("__ov", coalesce(sum("__bv").over(offW), lit(0L)))
      .select("__b", "__ot", "__ov")
    val pts = partial.join(withOff, Seq("__b"))
      .select((col("__ct") + col("__ot")).as("__N"), (col("__cv") + col("__ov")).as("__V"))
      .where(col("__N") > 0 && col("__V") > 0)
      .select(log(col("__N").cast("double")).as("x"),
        log(col("__V").cast("double")).as("y"),
        col("__N"), col("__V"))
    val a = pts.agg(count(lit(1)).as("n"),
      max("__N").as("total_tokens"), max("__V").as("vocab"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy") - col("sx") * col("sy")
    val varXN = nD * col("sxx") - col("sx") * col("sx")
    val varYN = nD * col("syy") - col("sy") * col("sy")
    a.select(col("n").as("n_docs"), col("total_tokens"), col("vocab"),
      round(covN / varXN, 6).as("beta"),
      round(exp((col("sy") - covN / varXN * col("sx")) / nD), 6).as("k"),
      round(when(varYN > 0, covN * covN / (varXN * varYN))
        .otherwise(lit(0d)), 6).as("r2"))
  }

  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, "\\s+"), w => length(w) > lit(0))
    val base = df.select(col(idCol),
      size(words).cast("long").as("n_words"),
      greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long")
        .as("n_sentences"),
      aggregate(words, lit(0L), (acc, w) =>
        acc + greatest(regexp_count(lower(w), lit("[aeiouy]+")), lit(1))
          .cast("long")).as("n_syllables"))
    val score = floor((lit(206.835)
        - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
        - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
      * 1e4 + 0.5) / 1e4
    base.withColumn("flesch",
        when(col("n_words") > 0, score).otherwise(lit(null).cast("double")))
      .withColumn("band",
        when(col("flesch").isNull, lit("empty"))
          .when(col("flesch") >= 90, lit("very_easy"))
          .when(col("flesch") >= 70, lit("easy"))
          .when(col("flesch") >= 50, lit("medium"))
          .when(col("flesch") >= 30, lit("hard"))
          .otherwise(lit("very_hard")))
  }

  /** Stupid-backoff bigram language-model score per document (Brants
    * et al., EMNLP 2007 — the count-based LM Google built for exactly
    * this regime: web-scale corpora where smoothing-free backoff with
    * a fixed penalty `α` matches Kneser–Ney at a fraction of the
    * cost). The model trains on the `trainFilter` slice and scores
    * EVERY document — the held-out shape a perplexity-based quality
    * filter (CCNet-style) actually runs, and the reason the backoff
    * and OOV paths are live rather than trivially unreachable.
    *
    * Per token position: the first token scores `u(w)`, later tokens
    * score `C₂(prev,w)/C₁(prev)` when the bigram was seen, else
    * `α·u(w)`, where `u(w) = C₁(w)/T` for in-vocabulary tokens and
    * `α/T` for OOV (T = train token count). Per doc:
    * `avg_logp = mean ln(score)` and `pseudo_ppl = e^(−avg_logp)`.
    * Each position's log is quantized to integer MICROS
    * (`⌊x·10⁶+0.5⌋`) before summing, so the per-doc sum is int64 —
    * exact under any partition order and engine (the float-sum
    * footgun this repo keeps re-learning). Emits `(idCol, n_tokens,
    * n_oov, n_backoff, avg_logp, pseudo_ppl)`; `avg_logp` 6dp,
    * `pseudo_ppl` 4dp.
    *
    * Scale shape: unigram/bigram models are vocabulary-bounded
    * aggregates of the train slice; scoring is one posexplode (the
    * corpus token stream — the irreducible data size) plus three
    * equi-joins against the model tables (AQE broadcasts them while
    * they fit; co-keyed shuffle joins above that) and ONE combinable
    * per-doc aggregation. No windows, no driver state.
    */
  def backoffLmScore(df: DataFrame, textCol: String, idCol: String,
      trainFilter: Column, alpha: Double = 0.4): DataFrame =
    scoredLmPositions(df, textCol, idCol, trainFilter, alpha)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("__oov").as("n_oov"),
        sum("__backoff").as("n_backoff"),
        sum("__lnq").as("__s"))
      .select(col(idCol), col("n_tokens"), col("n_oov"), col("n_backoff"),
        // stay ON the micro grid: s/n is IEEE-exact division of
        // identical integers (same double in any engine), so
        // floor(s/n + ½)/10⁶ is bit-identical — unlike round(·, 6),
        // which diverges across engines when s/n lands exactly on a
        // half-micro (expected ~1 doc per 500 at corpus token counts)
        (floor(col("__s").cast("double") / col("n_tokens") + 0.5) / 1e6)
          .as("avg_logp"),
        round(exp(-floor(col("__s").cast("double") / col("n_tokens") + 0.5)
          / 1e6), 4).as("pseudo_ppl"))

  /** The per-position scored token stream both LM reports aggregate:
    * `(idCol, __lnq, __oov, __backoff)` with `__lnq` the
    * integer-micro-quantized ln of the stupid-backoff score (see
    * [[backoffLmScore]] for the model).
    */
  private def scoredLmPositions(df: DataFrame, textCol: String,
      idCol: String, trainFilter: Column, alpha: Double): DataFrame = {
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) > 0)
    val train = base.where(trainFilter)
    val uni = train
      .select(explode(col("__toks")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c1"))
    val tot = uni.agg(sum("__c1").as("__T"))
    val bi = train
      .select(col("__toks"), posexplode(col("__toks")))
      .where(col("pos") >= 1)
      .select(element_at(col("__toks"), col("pos")).as("__prev"),
        col("col").as("__cur"))
      .groupBy("__prev", "__cur").agg(count(lit(1)).as("__c2"))
    val pos = base
      .select(col(idCol), col("__toks"), posexplode(col("__toks")))
      .select(col(idCol),
        when(col("pos") >= 1, element_at(col("__toks"), col("pos")))
          .as("__prev"),
        col("col").as("__cur"))
    val joined = pos
      .join(uni.select(col("__w").as("__cur"), col("__c1").as("__ccur")),
        Seq("__cur"), "left")
      .join(uni.select(col("__w").as("__prev"), col("__c1").as("__cprev")),
        Seq("__prev"), "left")
      .join(bi, Seq("__prev", "__cur"), "left")
      .crossJoin(broadcast(tot))
    val u = when(col("__ccur").isNull, lit(alpha) / col("__T"))
      .otherwise(col("__ccur").cast("double") / col("__T"))
    val score = when(col("__prev").isNull, u)
      .when(col("__c2").isNotNull,
        col("__c2").cast("double") / col("__cprev"))
      .otherwise(lit(alpha) * u)
    joined
      .select(col(idCol),
        floor(log(score) * 1e6 + 0.5).cast("long").as("__lnq"),
        col("__ccur").isNull.cast("long").as("__oov"),
        (col("__prev").isNotNull && col("__c2").isNull)
          .cast("long").as("__backoff"))
  }

  /** Min-k% probability memorization probe (Shi et al. 2023, the
    * membership-inference detector "Detecting Pretraining Data from
    * Large Language Models" — the governance question a training-data
    * store gets asked about eval sets and copyrighted text): a
    * document the model has effectively memorized has NO very-
    * improbable tokens, so score each doc by the mean log-probability
    * of its bottom k% positions under the [[backoffLmScore]] model —
    * high (close to 0) min-k scores flag suspicious familiarity.
    * `n_bottom = max(1, ⌊n·k/100⌋)` positions (integer arithmetic);
    * the per-doc sort runs over the row-local collected micro-ln
    * array (bounded by doc length), and the mean stays on the micro
    * grid. Emits `(idCol, n_tokens, n_bottom, mink_avg_logp)`.
    *
    * Scale shape: shares the scored-position stage (vocabulary-
    * bounded model joins + one posexplode); adds one combinable
    * per-doc collect whose payload is the doc's own token count —
    * the same row-local-sort class as the chunking/dup-span ops.
    */
  def minKProbScore(df: DataFrame, textCol: String, idCol: String,
      trainFilter: Column, alpha: Double = 0.4,
      kPct: Int = 20): DataFrame = {
    require(kPct >= 1 && kPct <= 100, "kPct in [1, 100]")
    scoredLmPositions(df, textCol, idCol, trainFilter, alpha)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(col("__lnq"))).as("__sorted"))
      .withColumn("n_bottom",
        greatest(lit(1L), expr(s"n_tokens * $kPct div 100")))
      .select(col(idCol), col("n_tokens"), col("n_bottom"),
        (floor(
          aggregate(slice(col("__sorted"), lit(1), col("n_bottom").cast("int")),
            lit(0L), (acc, v) => acc + v).cast("double")
            / col("n_bottom") + 0.5) / 1e6).as("mink_avg_logp"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are maximal token runs between stopwords (gaps-and-islands over
    * the per-doc token stream; stopset = [[markerWords]], the corpus's
    * own function words), scored by Σ over member words of
    * deg(w)/freq(w), where freq counts phrase memberships and deg sums
    * the lengths of the phrases each membership sits in — co-occurring
    * words inherit their phrases' mass, so multi-word domain terms
    * outrank bare frequent words. Top-`topK` by score.
    *
    * Determinism: deg/freq are exact integers; each word score
    * quantizes to a 1e-6 integer grid before the ≤`maxPhraseLen`-term
    * phrase sum (integer — order-free), and ranking orders by the
    * integer score with a phrase-text tie-break. The rank window's
    * `row_number ≤ k` plans a map-side WindowGroupLimit. Output:
    * `rank, phrase, n_occurrences, score`.
    */
  def rakeKeyphrases(df: DataFrame, textCol: String, idCol: String,
      topK: Int = 15, maxPhraseLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = markerWords.values.flatten.toSeq.distinct.sorted
    val tok = df.select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__i", "__w")))
      .withColumn("__stop", col("__w").isInCollection(stops))
    val wSeq = Window.partitionBy("__id").orderBy("__i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phrases = Caches.persist(
      tok.withColumn("__grp",
          sum(when(col("__stop"), 1L).otherwise(0L)).over(wSeq))
        .filter(!col("__stop"))
        .groupBy("__id", "__grp")
        .agg(transform(array_sort(collect_list(struct(col("__i"),
          col("__w")))), e => e("__w")).as("__ws"))
        .filter(size(col("__ws")) <= maxPhraseLen)
        .select(array_join(col("__ws"), " ").as("phrase"), col("__ws")))
    val words = phrases
      .select(explode(col("__ws")).as("w"), size(col("__ws")).as("__len"))
      .groupBy("w")
      .agg(count(lit(1)).as("__freq"), sum("__len").as("__deg"))
      .select(col("w"),
        floor(col("__deg").cast("double") / col("__freq") * 1e6 + 0.5)
          .cast("long").as("__ws6"))
    val dp = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    val scored = dp
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(words, Seq("w"))
      .groupBy("phrase", "n_occurrences")
      .agg(sum("__ws6").as("__p6"))
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__p6").desc, col("phrase").asc)))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("phrase"), col("n_occurrences"),
        (col("__p6").cast("double") / 1e6).as("score"))
      .orderBy("rank")
  }

  /** Tokenizer fertility / compression audit per group (typically the
    * language column): how many subword tokens the BPE-ish tokenizer
    * spends per word, character, and byte. The standard multilingual
    * token-budget report — high fertility languages are under-served by
    * the tokenizer and overpay their token budget.
    *
    * One row-local projection + one combinable aggregate; ratios are
    * ratios of exact integer sums, emitted on the 1e-6 floor grid.
    * Emits `(groupCol, n_docs, sum_words, sum_bpe_tokens, sum_chars,
    * sum_bytes, fertility, chars_per_token, bytes_per_token)`.
    */
  def fertilityReport(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val t = col(textCol)
    def grid6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    df.select(col(groupCol),
        size(tokens(t)).cast("long").as("__w"),
        tokenCountBpeIsh(t).as("__b"),
        length(t).cast("long").as("__c"),
        octet_length(t).cast("long").as("__o"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__w").as("sum_words"),
        sum("__b").as("sum_bpe_tokens"),
        sum("__c").as("sum_chars"),
        sum("__o").as("sum_bytes"))
      .select(col(groupCol), col("n_docs"), col("sum_words"),
        col("sum_bpe_tokens"), col("sum_chars"), col("sum_bytes"),
        grid6(col("sum_bpe_tokens").cast("double") / col("sum_words"))
          .as("fertility"),
        grid6(col("sum_chars").cast("double") / col("sum_bpe_tokens"))
          .as("chars_per_token"),
        grid6(col("sum_bytes").cast("double") / col("sum_bpe_tokens"))
          .as("bytes_per_token"))
  }

  /** Good–Turing frequency re-estimation over the corpus word
    * `n`-gram histogram (Gale & Sampson's Turing estimator, unsmoothed
    * tail):
    * for each observed count r ≤ `maxR`, r* = (r+1)·N_{r+1}/N_r, and
    * the probability mass GT assigns to the whole count class,
    * p_mass = N_r·r⋆/N. Row r = 0 carries the unseen-event mass
    * N_1/N (the LM-smoothing companion of the Chao1 unseen-vocabulary
    * estimate, which predicts unseen SPECIES instead).
    *
    * Everything derives from integer token counts: one explode+count,
    * one count-of-counts aggregate (frequency-of-frequencies is tiny),
    * a self-join on r+1, double ratios on the 1e-6/1e-8 floor grids.
    * Emits `(r, n_r, r_star, p_mass)` ordered by r.
    */
  def goodTuring(df: DataFrame, textCol: String,
      n: Int = 2, maxR: Int = 10): DataFrame = {
    // stage the token array below the shingle transform: lambda bodies
    // get no CSE, so an inlined tokens() would re-split the text once
    // per shingle position (the r4 generator-sibling lesson)
    val counts = df.select(tokens(col(textCol)).as("__t"))
      .select(explode(wordShingles(col("__t"), n)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("r"))
    val freqOfFreq = Caches.persist(
      counts.groupBy("r").agg(count(lit(1)).as("n_r")))
    val total = counts.agg(sum("r").as("__N"))
    val nextF = freqOfFreq.select((col("r") - 1).as("r"),
      col("n_r").as("__n_next"))
    val seen = freqOfFreq.filter(col("r") <= maxR)
      .join(nextF, Seq("r"), "left")
      .na.fill(0L, Seq("__n_next"))
      .crossJoin(total)
      .select(col("r"), col("n_r"),
        when(col("__n_next") > 0,
          floor((col("r") + 1).cast("double") * col("__n_next")
            / col("n_r") * 1e6 + 0.5) / 1e6).as("r_star"),
        when(col("__n_next") > 0,
          floor((col("r") + 1).cast("double") * col("__n_next")
            / col("__N") * 1e8 + 0.5) / 1e8).as("p_mass"))
    val unseen = freqOfFreq.filter(col("r") === 1)
      .crossJoin(total)
      .select(lit(0L).as("r"), lit(0L).as("n_r"),
        lit(null).cast("double").as("r_star"),
        (floor(col("n_r").cast("double") / col("__N") * 1e8 + 0.5) / 1e8)
          .as("p_mass"))
    unseen.unionByName(seen).orderBy("r")
  }

  /** Distinctive-term analysis: log-odds ratio with an informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words")
    * of each source's usage of the corpus-wide top-`topV` terms vs the
    * REST of the corpus. The standard corpus-comparison statistic —
    * unlike raw TF-IDF it is variance-stabilized, so rare-but-noisy
    * terms don't dominate.
    *
    *   δ_iw = ln[(y_iw + α_w)/(n_i + α_0 − y_iw − α_w)]
    *        − ln[(y_jw + α_w)/(n_j + α_0 − y_jw − α_w)]
    *   σ²   ≈ 1/(y_iw + α_w) + 1/(y_jw + α_w),  z = δ/σ
    *
    * with α_w = α_0·y_w/N (prior proportional to corpus usage) and j =
    * all other sources pooled. A dense source×term scaffold keeps
    * zero-usage cells present (the q147 lesson: an inner join silently
    * drops exactly the most distinctive absences).
    *
    * Counts are exact integers; each ln argument is rounded to the 1e-6
    * grid BEFORE the log (the PMI pattern — engines' libm may differ at
    * ulp scale) and δ/z land on the 1e-4 floor grid. Emits
    * `(source, term, y_iw, delta, z)`.
    */
  def logOddsTerms(df: DataFrame, textCol: String, groupCol: String,
      topV: Int = 50, alpha0: Double = 100.0): DataFrame = {
    val docTok = Caches.persist(
      df.select(col(groupCol).as("src"),
          explode(tokens(col(textCol))).as("w"))
        .groupBy("src", "w").agg(count(lit(1)).as("y_iw")))
    val corpus = docTok.groupBy("w").agg(sum("y_iw").as("y_w"))
    val top = corpus.orderBy(col("y_w").desc, col("w").asc).limit(topV)
    val totals = docTok.groupBy("src").agg(sum("y_iw").as("n_i"))
    val grandN = docTok.agg(sum("y_iw").as("__N"))
    // dense scaffold: every (source, top term) cell, zero-filled
    val cells = totals.crossJoin(broadcast(top))
      .join(docTok, Seq("src", "w"), "left")
      .na.fill(0L, Seq("y_iw"))
      .crossJoin(grandN)
    def grid6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    def grid4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4
    val aw = lit(alpha0) * col("y_w") / col("__N")
    val yj = col("y_w") - col("y_iw")
    val nj = col("__N") - col("n_i")
    val d1 = log(grid6((col("y_iw") + aw)
      / (col("n_i") + lit(alpha0) - col("y_iw") - aw)))
    val d2 = log(grid6((yj + aw) / (nj + lit(alpha0) - yj - aw)))
    val varApprox = lit(1d) / (col("y_iw") + aw) + lit(1d) / (yj + aw)
    cells.select(col("src").as(groupCol), col("w").as("term"),
        col("y_iw"),
        grid4(d1 - d2).as("delta"),
        grid4((d1 - d2) / sqrt(varApprox)).as("z"))
      .orderBy(groupCol, "term")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): a weighted
    * PageRank over the word co-occurrence graph — words that co-occur
    * within a `window`-token span are linked, edge weight = corpus
    * co-occurrence count, and a word's importance is its stationary
    * visit rate. The graph-centrality alternative to q160's TF-IDF
    * saliency (TextRank surfaces CONNECTOR terms; saliency surfaces
    * distinctive ones). Output: the `topK` words,
    * `(pos, word, rank)` (rank on the 1e-6 grid, ties broken by word).
    *
    * Determinism: weights and strengths are exact integers; each
    * rank·w/strength contribution quantizes to a 1e-12-grid long
    * before its in-neighbor sum, so iteration results are
    * order-independent, bit-identical doubles in any engine.
    *
    * Scale shape: the pair enumeration is `window` shifted equi-joins
    * on (doc, position) — NEVER a per-doc quadratic join; everything
    * downstream is vocabulary-grain (co-occurrence grid, per-round
    * weighted-contribution agg), the q84 PageRank class. Contribution
    * longs bound |in-strength·rank·1e12| — fine to ~10⁶-neighbor hubs
    * with O(1) ranks.
    */
  def textRank(df: DataFrame, textCol: String, idCol: String,
      iters: Int = 3, damping: Double = 0.85, window: Int = 2,
      minLen: Int = 3, topK: Int = 20): DataFrame = {
    require(iters >= 1 && window >= 1 && topK >= 1,
      "iters, window, topK must be >= 1")
    val ft = filter(tokens(col(textCol)), w => length(w) >= minLen)
    val toks = df.select(col(idCol).as("__doc"),
      posexplode(ft).as(Seq("__r", "__w")))
    val base = toks.select(col("__doc"), col("__r"), col("__w"))
    val shifted = (1 to window).map(d =>
        base.select(col("__doc"), (col("__r") + d).as("__r"),
          col("__w").as("__w2")))
      .reduce(_ union _)
    val pairs = base.join(shifted, Seq("__doc", "__r"))
      .where(col("__w") =!= col("__w2"))
    val und = pairs.select(least(col("__w"), col("__w2")).as("wa"),
        greatest(col("__w"), col("__w2")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("__wt"))
    val sym = Caches.persist(
      und.select(col("wa").as("src"), col("wb").as("dst"), col("__wt"))
        .union(und.select(col("wb").as("src"), col("wa").as("dst"),
          col("__wt"))))
    val strength = sym.groupBy("src").agg(sum("__wt").as("__s"))
    // eager checkpoint of the loop-invariant strength-weighted edge
    // grid (vocab-pair-bounded), pre-partitioned on the round-join
    // key: rounds no longer re-analyze the corpus tokenize/window
    // lineage, and the edge-sized side never re-shuffles (the rank
    // vector, checkpointed with the same hash partitioning, aligns)
    val symS = sym.join(strength, "src")
      .repartition(col("src"))
      .localCheckpoint(true)
    val nodes = symS.select(col("src").as("id")).distinct()
      .localCheckpoint(true)
    var ranks = nodes.withColumn("rank", lit(1.0)).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = symS
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          floor(col("rank") * col("__wt") / col("__s") * 1e12 + 0.5)
            .cast("long").as("__c12"))
        .groupBy("dst").agg(sum("__c12").as("__s12"))
      val prev = ranks
      ranks = nodes
        .join(contribs, nodes("id") === contribs("dst"), "left")
        .select(col("id"),
          (lit(1 - damping) + lit(damping) *
            (coalesce(col("__s12"), lit(0L)).cast("double") / 1e12))
            .as("rank"))
        .localCheckpoint(true)
      Caches.unpersistCheckpoint(prev)
    }
    Caches.unpersistCheckpoint(symS)
    Caches.unpersistCheckpoint(nodes)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank").desc, col("id").asc)
    ranks.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("__rn").as("pos"), col("id").as("word"),
        (floor(col("rank") * 1e6 + 0.5) / 1e6).as("rank"))
      .orderBy("pos")
  }

  /** Interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995;
    * Chen & Goodman 1998) — the LM-smoothing gold standard next to
    * q316's stupid backoff and q337's Good–Turing:
    * P(w|v) = max(c(vw)−d, 0)/c(v) + d·N₁₊(v·)/c(v) · N₁₊(·w)/N₁₊(··),
    * where the continuation counts N₁₊ ask "in how many CONTEXTS does
    * w appear" rather than "how often" (the 'San Francisco' fix). All
    * counts are exact integers and the default discount d = 0.75 is
    * dyadic, so the probability algebra is identical double work in
    * any engine. Output: the `topK` bigrams by count (ties broken
    * lexicographically),
    * `pos, v, w, c_vw, c_v, p_disc, lambda, p_cont, p_kn` (1e-6 grids).
    *
    * Scale shape: one bigram-grid aggregate (shifted equi-join, never
    * per-doc quadratic), two grid-grain reductions for the context
    * marginals, one broadcast 1-row total, one map-side top-k window.
    */
  def kneserNeyBigrams(df: DataFrame, textCol: String, idCol: String,
      discount: Double = 0.75, topK: Int = 20): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0, 1)")
    val base = df.select(col(idCol).as("__doc"),
      posexplode(tokens(col(textCol))).as(Seq("__p", "__w")))
    val nxt = base.select(col("__doc"), (col("__p") + 1).as("__p"),
      col("__w").as("__wn"))
    // at joined position p: __wn is the token from p−1 (the CONTEXT v),
    // __w is the token at p (the continuation w)
    val c2 = Caches.persist(
      base.join(nxt, Seq("__doc", "__p"))
        .select(col("__wn").as("__v"), col("__w").as("__w"))
        .groupBy("__v", "__w").agg(count(lit(1)).as("__cvw")))
    val cv = c2.groupBy("__v")
      .agg(sum("__cvw").as("__cv"), count(lit(1)).as("__n1v"))
    val cw = c2.groupBy("__w").agg(count(lit(1)).as("__n1w"))
    val nb = c2.agg(count(lit(1)).as("__nb"))
    val joined = c2.join(cv, Seq("__v")).join(cw, Seq("__w"))
      .crossJoin(broadcast(nb))
    val pDisc = greatest(col("__cvw").cast("double") - discount, lit(0d)) /
      col("__cv")
    val lam = lit(discount) * col("__n1v") / col("__cv")
    val pCont = col("__n1w").cast("double") / col("__nb")
    val pKn = pDisc + lam * pCont
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__cvw").desc, col("__v").asc, col("__w").asc)
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    joined
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("__rn").as("pos"), col("__v").as("v"),
        col("__w").as("w"), col("__cvw").as("c_vw"),
        col("__cv").as("c_v"), g6(pDisc).as("p_disc"),
        g6(lam).as("lambda"), g6(pCont).as("p_cont"),
        g6(pKn).as("p_kn"))
      .orderBy("pos")
  }

  /** Greedy maximum-coverage document selection (the classic
    * (1−1/e)-approximate submodular subset pick: "which k documents
    * together cover the most distinct n-gram shingles?" — the
    * data-subset-selection primitive behind facility-location corpus
    * pruning, and the constructive complement of q158's coverage
    * CURVE, which only measures a given order). Each of `rounds`
    * rounds scores every document by its count of still-uncovered
    * shingles (pure integer), picks the argmax (ties to the smaller
    * id), and removes its shingles. Output per round:
    * `round, doc_id, gain, covered_total`.
    *
    * Scale shape: one (doc, shingle) distinct grid up front; each
    * round is one semi-join + count aggregate over that grid, a 1-row
    * argmax broadcast, and an anti-join shrink of the uncovered set.
    * `rounds` is a compile-time constant.
    */
  def coverageSelect(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, rounds: Int = 5): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      "rounds in [1, 16] (the oracle unrolls the same count)")
    val pairs = Caches.persist(df
      .select(col(idCol).as("__doc"), tokens(col(textCol)).as("__t"))
      .select(col("__doc"),
        explode(wordShingles(col("__t"), shingleSize)).as("__sh"))
      .distinct())
    // Gains are counted against the COVERED set (shingles of the ≤
    // rounds docs picked so far — document-bounded, so broadcastable at
    // any corpus scale) instead of materializing + re-joining the
    // corpus-sized `uncovered` complement every round: count(sh ∉
    // covered) ≡ count(sh ∈ uncovered), and the per-round plan becomes
    // one broadcast anti-join + map-side count over the persisted grid
    // — the old shape shuffled BOTH the full (doc, shingle) grid and
    // the near-corpus-sized uncovered set each round, then eagerly
    // checkpointed the shrunk complement.
    var picks: DataFrame = null
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val gains =
        if (picks == null) pairs.groupBy("__doc").agg(count(lit(1)).as("__g"))
        else {
          val covered = pairs
            .join(broadcast(picks), Seq("__doc"), "left_semi")
            .select("__sh").distinct()
          pairs.join(broadcast(covered), Seq("__sh"), "left_anti")
            .groupBy("__doc").agg(count(lit(1)).as("__g"))
        }
      val pick = gains.agg(
        max(struct(col("__g"), (-col("__doc")).as("__nd"))).as("__best"))
        .select((-col("__best.__nd")).as("__doc"),
          col("__best.__g").as("gain"), lit(r).as("round"))
        .localCheckpoint(true)
      val row = pick.select(col("round"), col("__doc").as("doc_id"),
        col("gain"))
      out = if (out == null) row else out.unionByName(row)
      val newPick = pick.select("__doc")
      picks = if (picks == null) newPick else picks.unionByName(newPick)
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy("round")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    out.where(col("doc_id").isNotNull)
      .withColumn("covered_total", sum("gain").over(w))
      .orderBy("round")
  }

}

package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants follow the same scale discipline:
  *   - per-row signatures are computed map-side (narrow, codegen'd
  *     column expressions — no UDFs);
  *   - candidate generation is an equi-join / groupBy on a signature
  *     (hash-partitioned shuffle, never an all-pairs product);
  *   - only candidate pairs (a tiny fraction of n²) pay a verification
  *     predicate.
  *
  * Hashes are md5-derived ([[graft.functions.md5Long]]) so results are
  * deterministic and reproducible across engines.
  *
  * Signature caches must outlive plan construction (several plan
  * branches read them), so the operators cannot unpersist before
  * returning: they persist into the caller's [[graft.Caches]] scope,
  * which the caller closes once the returned plans are consumed.
  */
object Dedup {

  /** 64-bucket counting sketch of a token array, 8-bit lanes packed
    * into 8 longs (bucket = murmur3 mod 64, low lane first). Counts
    * are exact for sets of ≤255 tokens (a lane can't saturate when the
    * whole set fits one lane's range); [[setSimilarityJoin]] disables
    * the derived L1 filter above that. One pass per output long over
    * the array — O(8·|set|) per row, map-side only.
    */
  private[operators] def packedCountSketch(sh: Column): Column =
    array((0 until 8).map { j =>
      aggregate(sh, lit(0L), (acc, t) => {
        val b = pmod(hash(t), lit(64))
        acc + when(b >= j * 8 && b < (j + 1) * 8,
          call_function("shiftleft", lit(1L),
            ((b - lit(j * 8)) * 8).cast("int")))
          .otherwise(lit(0L))
      })
    }: _*)

  /** CPU-heavy signature derivation parallelizes poorly when the input
    * is a single small file (one parquet split ⇒ one task): spread it
    * across the cluster first. A no-op at scale, where inputs already
    * have ≥ parallelism splits.
    */
  private[operators] def parallelize(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, want / 2)) df.repartition(want) else df
  }

  /** Exact deduplication on a canonical fingerprint of `textCol`:
    * keeps the row with the smallest `idCol` per fingerprint group.
    * One hash-aggregate shuffle; survivors are recovered with a
    * self-semi-join on (fingerprint, id) rather than a window over all
    * rows, so the heavy payload columns don't transit the shuffle twice.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.withColumn("__fp", textFingerprint(col(textCol)))
    val keep = withFp.groupBy("__fp").agg(min(col(idCol)).as(idCol))
    withFp.join(keep, Seq("__fp", idCol), "left_semi").drop("__fp")
  }

  /** Split-document stitching detection: doc A's LAST `k` tokens equal
    * doc B's FIRST `k` tokens — the seam a chunking/sharding pipeline
    * leaves when one source document was split across records (the
    * fragments are NOT near-duplicates of each other, so the LSH family
    * never sees them; this is the complementary boundary check).
    *
    * One equi-join on the seam string (tail side ⨝ head side) — no
    * pair scan; candidates are exact matches by construction, so there
    * is no verify stage. Self-seams (a doc whose own head equals its
    * tail) are excluded. Output: `a_id, b_id, seam` ordered.
    */
  def stitchingPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
    val heads = toks.select(col("__id").as("b_id"),
      array_join(slice(col("__t"), 1, k), " ").as("seam"))
    val tails = toks.select(col("__id").as("a_id"),
      array_join(slice(col("__t"), -k, k), " ").as("seam"))
    tails.join(heads, Seq("seam"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("seam"))
      .orderBy("a_id", "b_id")
  }

  /** Incremental-ingest dedup — the per-dump pattern corpus pipelines
    * use (dedup each new crawl against everything already ingested,
    * never re-shuffling the historical corpus): keep the rows of
    * `newDocs` that are (a) novel within the batch (smallest id per
    * fingerprint wins, as [[exact]]) and (b) absent from `seenFps`,
    * a one-column DataFrame of historical fingerprints
    * ([[graft.functions.textFingerprint]] values — store this slim
    * sidecar at ingest time; it is the only state the next dump
    * needs). Both checks are fingerprint-keyed anti/semi joins — the
    * historical side ships only fingerprints, never payloads.
    */
  def ingestNovel(newDocs: DataFrame, textCol: String, idCol: String,
      seenFps: DataFrame): DataFrame = {
    val fpCol = seenFps.columns.head
    val withFp = newDocs.withColumn("__fp", textFingerprint(col(textCol)))
    val inBatch = withFp.join(
      withFp.groupBy("__fp").agg(min(col(idCol)).as(idCol)),
      Seq("__fp", idCol), "left_semi")
    inBatch.join(
        seenFps.select(col(fpCol).as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** MinHash signature sidecar for incremental NEAR-dedup: one row per
    * doc with the banded-LSH signature and the 60-bit hashed shingle
    * set — everything [[ingestNovelNear]] needs to match future dumps
    * against this corpus without re-reading its text. The near-dup
    * analogue of [[ingestNovel]]'s fingerprint sidecar (shingle hashes
    * are ~token-count longs per doc vs the text's full bytes).
    */
  def nearSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, shingleSize: Int = 3): DataFrame =
    parallelize(df)
      .select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(wordShingles(col("toks"), shingleSize)).as("shingles"))
      .select(col("id"), col("shingles"),
        transform(col("shingles"), e => md5Base28(e)).as("bases"))
      .select(col("id"),
        minHashSignatureFromBases(col("bases"), numHashes).as("sig"),
        hashedSet(col("shingles")).as("shash"))
      .where(size(col("shash")) > 0)

  /** Band-bucket keys for a signature table — the join key of every
    * banded-LSH collision stage, shared by the batch pipeline and the
    * incremental ingest.
    */
  private def bandKeys(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          array_join(
            transform(
              slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
              h => h.cast("string")),
            "_").as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))

  /** Incremental NEAR-dedup ingest — the per-dump gate of a continuous
    * crawl pipeline: drop new documents that near-duplicate (a) any
    * document in the historical [[nearSignatures]] sidecar or (b) a
    * smaller-id document of the same batch (pairwise greedy keep-min,
    * matching [[ingestNovel]]'s batch rule). Returns the surviving
    * novel rows of `newDocs`; append their [[nearSignatures]] to the
    * sidecar for the next dump.
    *
    * Scale shape: the history's TEXT is never read — only its slim
    * signature sidecar. Both directions are banded equi-joins
    * (new×history and new×new) with candidates verified by exact
    * Jaccard over the hashed shingle sets; survivors subtract via
    * id-keyed anti-joins. Per dump, cost scales with the dump's
    * size × collision rate, not with corpus history size.
    */
  def ingestNovelNear(newDocs: DataFrame, textCol: String, idCol: String,
      historySigs: DataFrame,
      numHashes: Int = 16, bands: Int = 4, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    val newSigs = Caches.persist(
      nearSignatures(newDocs, textCol, idCol, numHashes, shingleSize))
    val hist = Caches.persist(historySigs)
    def verified(cands: DataFrame, right: DataFrame): DataFrame =
      cands
        .join(newSigs.select(col("id").as("id_n"), col("shash").as("sh_n")), "id_n")
        .join(right.select(col("id").as("id_o"), col("shash").as("sh_o")), "id_o")
        .select(col("id_n"), col("id_o"),
          size(array_intersect(col("sh_n"), col("sh_o"))).cast("double").as("inter"),
          (size(col("sh_n")) + size(col("sh_o"))).cast("double").as("tot"))
        .where(col("tot") - col("inter") > 0 &&
          col("inter") / (col("tot") - col("inter")) >= threshold)
    val newBands = bandKeys(newSigs, bands, rpb)
    val histBands = bandKeys(hist, bands, rpb)
    // (a) collides with history — any direction
    val histHits = verified(
      newBands.as("n")
        .join(histBands.as("h"),
          col("n.band") === col("h.band") && col("n.bucket") === col("h.bucket"))
        .select(col("n.id").as("id_n"), col("h.id").as("id_o")).distinct(),
      hist).select(col("id_n").as("id")).distinct()
    // (b) dominated within the batch: a SMALLER new id near-dups it
    val batchHits = verified(
      newBands.as("a")
        .join(newBands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") > col("b.id"))
        .select(col("a.id").as("id_n"), col("b.id").as("id_o")).distinct(),
      newSigs).select(col("id_n").as("id")).distinct()
    newDocs
      .join(histHits.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .join(batchHits.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Per-group duplicate statistics for exact dedup (group size ≥ 2). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(textFingerprint(col(textCol)).as("fingerprint"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(col(idCol)).as("keep_id"),
        sort_array(collect_list(col(idCol))).as("member_ids"))
      .where(col("n_dups") >= 2)

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * Signature: `numHashes` md5-salted min-hashes over word
    * `shingleSize`-grams. Banding: `bands` bands of `numHashes/bands`
    * rows; two docs are candidates iff they agree on all rows of at
    * least one band. Each candidate pair is then verified with exact
    * shingle-set Jaccard ≥ `threshold`.
    *
    * Scale: the only shuffles are (a) the groupBy-free explode+join on
    * (band, bandHash) — i.e. an equi-join on the LSH bucket key — and
    * (b) the final pair dedup. Bucket skew (a degenerate shingle set
    * shared by millions of docs — boilerplate) is the known hazard:
    * a bucket of n docs yields n² candidate pairs on ONE reducer.
    * By default (`saltHotBuckets = -1`) the operator PROFILES the
    * banded key distribution ([[Skew.keySkewProfile]] over the slim
    * cached signature table) and routes the candidate self-join through
    * [[Skew.saltedJoin]] automatically when a hot bucket is found,
    * spreading each bucket's pair generation across many reducers (the
    * banded table is slim — id + two key columns — so the ×salt
    * replication of the build side is cheap). Pass a positive value to
    * force that salt factor, or 0 to never salt; callers can also
    * pre-filter boilerplate or raise `bands`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, one row per pair.
    */
  def minHashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      saltHotBuckets: Int = -1): DataFrame =
    lshScoredCandidates(df, textCol, idCol, numHashes, bands, shingleSize,
      saltHotBuckets)
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** The LSH candidate pipeline shared by [[minHashLsh]] and
    * [[contrastivePairs]]: banded signature collisions, deduped,
    * scored with exact Jaccard over hashed shingle sets — UNfiltered,
    * one row per candidate pair.
    */
  private def lshScoredCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      saltHotBuckets: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // Staged projections, not one nested expression: each stage's
    // output is a materialized attribute, so the token/shingle arrays
    // are computed once per row (expression trees referenced from
    // lambda bodies are re-evaluated per reference — Catalyst's
    // subexpression elimination cannot reach into them).
    val docs = Caches.persist(parallelize(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(wordShingles(col("toks"), shingleSize)).as("shingles"))
      // one md5 pass per shingle; the k-member family is arithmetic
      .select(col("id"), col("shingles"),
        transform(col("shingles"), e => md5Base28(e)).as("bases"))
      .select(col("id"), size(col("shingles")).as("n_sh"),
        minHashSignatureFromBases(col("bases"), numHashes).as("sig"),
        // verification operates on 60-bit hashed shingle sets: set ops
        // over longs, not strings (identical Jaccard up to md5 collision)
        hashedSet(col("shingles")).as("shash")))
      // signature table is consumed by three plan branches (two banded
      // sides + verification); persist it — it's the small derived
      // table (ids + k longs + hashed set), never the corpus text.
      // The emptiness filter applies ABOVE the cache boundary, so it
      // cannot be pushed down into (and re-derive) the projection chain.
      .where(col("n_sh") > 0)

    // band key = (band index, joined band slice of the signature);
    // candidate pairs travel as bare (id_a, id_b) — no array payloads
    // through the join or the dedup
    val banded = docs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          array_join(
            transform(
              slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
              h => h.cast("string")),
            "_").as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))

    // auto mode: profile the banded keys and salt only when a genuinely
    // hot bucket exists — n² pair generation on one reducer starts to
    // matter once a bucket holds tens of documents. ONE job (count per
    // bucket → max/avg in the same action) over the persisted signature
    // derivation, so the probe costs a single slim aggregate.
    val salt =
      if (saltHotBuckets >= 0) saltHotBuckets
      else {
        val st = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .agg(max(col("n")), avg(col("n"))).head()
        val hot = !st.isNullAt(0) && st.getLong(0) >= 32 &&
          st.getLong(0) > 10.0 * st.getDouble(1)
        if (hot) 16 else 0
      }

    val pairsRaw =
      if (salt > 0)
        Skew.saltedJoin(
            banded,
            banded.select(col("id").as("__id_b"), col("band"), col("bucket")),
            Seq("band", "bucket"), scatterCol = "id", salt = salt)
          .where(col("id") < col("__id_b"))
          .select(col("id").as("id_a"), col("__id_b").as("id_b"))
      else
        banded.as("a")
          .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val candidates = // a pair may collide in several bands
      Telemetry.mark(pairsRaw.distinct(), "lsh_candidates")

    val sets = docs.select(col("id"), col("shash"))
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("shash", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("shash", "sh_b"), "id_b")
      // intersect once per pair (projection stage), then pure arithmetic
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).cast("double").as("n_a"),
        size(col("sh_b")).cast("double").as("n_b"))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("inter") === 0, lit(0d))
          .otherwise(col("inter") / (col("n_a") + col("n_b") - col("inter"))))
      // set sizes ride along for asymmetric kernels (containment); the
      // set-valued columns do NOT — pairs stay slim past this point
      .select("id_a", "id_b", "jaccard", "inter", "n_a", "n_b")
  }

  /** Contrastive training-pair mining from the LSH pipeline: every
    * banded collision becomes a labeled pair — `positive` when the
    * verified Jaccard clears `threshold` (a genuine near-dup, the
    * anchor/positive of a retrieval-training pair), `hard_negative`
    * below it (surface-similar enough to share an LSH bucket yet not a
    * duplicate — exactly the hard negatives contrastive training
    * wants; random negatives are trivially separable). Output:
    * `id_a, id_b, jaccard, label` with `id_a < id_b`.
    *
    * Scale shape: identical to [[minHashLsh]] (same banded equi-join,
    * same pre-deduped candidates); the label is a row-local CASE.
    */
  def contrastivePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      saltHotBuckets: Int = -1): DataFrame =
    lshScoredCandidates(df, textCol, idCol, numHashes, bands, shingleSize,
      saltHotBuckets)
      .withColumn("label",
        when(col("jaccard") >= threshold, lit("positive"))
          .otherwise(lit("hard_negative")))
      .select("id_a", "id_b", "jaccard", "label")

  /** Asymmetric containment near-dup pairs from the LSH pipeline:
    * containment C(a→b) = |sh_a ∩ sh_b| / |sh_a| — the signal Jaccard
    * misses when a SMALL document is quoted inside a much larger one
    * (their Jaccard is tiny, but the quote's containment is ~1). The
    * classic use: find docs that embed a known license text, boilerplate
    * block, or another doc wholesale. Emits one row per candidate pair
    * with both directions' scores and the max, filtered on the max:
    * `id_a, id_b, jaccard, cont_a, cont_b, containment`.
    *
    * Scale shape: identical to [[minHashLsh]] — same banded equi-join
    * and pre-deduped slim candidates; set sizes ride out of the
    * verification projection as two ints, the asymmetric scores are
    * row-local arithmetic. Note LSH recall is tuned to JACCARD — a
    * high-containment/low-Jaccard pair only collides when the small
    * side dominates some band; production containment search hashes
    * the small side's shingles only (the `maxDocFreq`-guarded
    * [[winnowingOverlap]] is that variant).
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      saltHotBuckets: Int = -1): DataFrame = {
    lshScoredCandidates(df, textCol, idCol, numHashes, bands,
      shingleSize, saltHotBuckets)
      .withColumn("cont_a", when(col("n_a") === 0, lit(0d))
        .otherwise(col("inter") / col("n_a")))
      .withColumn("cont_b", when(col("n_b") === 0, lit(0d))
        .otherwise(col("inter") / col("n_b")))
      .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "jaccard", "cont_a", "cont_b", "containment")
  }

  /** LSH quality report — recall of the banded MinHash pipeline
    * against brute-force ground truth on a BOUNDED sample: the number
    * every LSH deployment must publish before its parameters
    * (numHashes, bands) are trusted at corpus scale. Because
    * [[minHashLsh]] verifies candidates with exact Jaccard, its
    * precision is 1 by construction — the failure mode is MISSED pairs
    * (no band collision), which only a quadratic check can count.
    * Returns ONE row: `(n_docs, n_pairs_checked, n_true_pairs,
    * n_found, recall, n_candidates, candidate_frac)` —
    * `candidate_frac` is the pruning ratio (candidates / all pairs),
    * the cost side of the recall trade.
    *
    * Scale shape: the O(n²) truth join restricts to whatever bounded
    * `df` the caller samples (the standard eval protocol — measure on
    * 10⁴ docs, deploy on 10¹⁰); the LSH side is the production
    * pipeline unchanged. Both consume the persisted shingle-set
    * derivation once.
    */
  def lshRecallReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val scored = Caches.persist(lshScoredCandidates(df, textCol, idCol,
      numHashes, bands, shingleSize, saltHotBuckets = 0))
    val sets = Caches.persist(parallelize(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(wordShingles(col("toks"), shingleSize)).as("shingles"))
      .select(col("id"), hashedSet(col("shingles")).as("shash"))
      .where(size(col("shash")) > 0))
    val truth = sets.as("a")
      .join(sets.as("b"), col("a.id") < col("b.id"))
      .select(
        size(array_intersect(col("a.shash"), col("b.shash"))).cast("double").as("inter"),
        size(col("a.shash")).cast("double").as("na"),
        size(col("b.shash")).cast("double").as("nb"))
      .where(col("na") + col("nb") - col("inter") > 0 &&
        col("inter") / (col("na") + col("nb") - col("inter")) >= threshold)
      .agg(count(lit(1)).as("n_true_pairs"))
    val nDocs = sets.agg(count(lit(1)).as("n_docs"))
    val found = scored.where(col("jaccard") >= threshold)
      .agg(count(lit(1)).as("n_found"))
    val cands = scored.agg(count(lit(1)).as("n_candidates"))
    nDocs.crossJoin(truth).crossJoin(found).crossJoin(cands)
      .select(col("n_docs"),
        (col("n_docs") * (col("n_docs") - 1) / 2).cast("long").as("n_pairs_checked"),
        col("n_true_pairs"), col("n_found"),
        when(col("n_true_pairs") === 0, lit(1d))
          .otherwise(round(col("n_found") / col("n_true_pairs"), 6)).as("recall"),
        col("n_candidates"),
        when(col("n_docs") <= 1, lit(0d))
          .otherwise(round(col("n_candidates")
            / (col("n_docs") * (col("n_docs") - 1) / 2), 6)).as("candidate_frac"))
  }

  /** Per-group exact-duplicate rate — the dedup impact report a
    * curation run publishes per source/dump/language before anyone
    * decides which sources are worth near-dedup compute: `(groupCol,
    * n_docs, n_unique, dup_rate)` with dup_rate = 1 − unique/n over
    * md5 fingerprints of normalized text. ONE aggregation (count +
    * exact count-distinct per group); fingerprints are 32-char
    * strings, never the text, through the shuffle.
    */
  def dupRateByGroup(df: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    df.select(col(groupCol), textFingerprint(col(textCol)).as("__fp"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__fp")).as("n_unique"))
      .withColumn("dup_rate",
        round(lit(1d) - col("n_unique") / col("n_docs"), 6))

  /** SimHash fingerprints (per doc). Exact-fingerprint groups are
    * near-certain duplicates; Hamming-ball search over the fingerprints
    * finds near-duplicates (see [[simHashNearPairs]]).
    */
  def simHashFingerprints(
      df: DataFrame, textCol: String, idCol: String, bits: Int = 24): DataFrame =
    parallelize(df).select(
        col(idCol).as("id"),
        // explicit projection boundary: element hashes computed once,
        // then folded — not re-derived per bit
        hashedSet(tokens(col(textCol))).as("h"))
      .select(col("id"), simHashOfHashes(col("h"), bits).as("simhash"))

  /** Near-duplicate pairs by SimHash: block on fingerprint chunks
    * (pigeonhole: two fingerprints within Hamming distance d must agree
    * on at least one of d+1 chunks), verify with bit_count(xor) ≤ maxHamming.
    */
  def simHashNearPairs(
      df: DataFrame, textCol: String, idCol: String,
      bits: Int = 24, maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val chunkBits = math.max(1, bits / chunks)
    val fps = simHashFingerprints(df, textCol, idCol, bits)
    val blocked = fps.select(
      col("id"), col("simhash"),
      explode(array((0 until chunks).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftright(col("simhash"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.chunk"), col("bk.key"))
    val a = blocked.as("a"); val b = blocked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard near-dup pairs within explicit blocking keys
    * (e.g. language, length bucket): candidate pairs come from an
    * equi-join on the block columns, then exact Jaccard ≥ threshold.
    * Use when a cheap natural blocking key exists; otherwise prefer
    * [[minHashLsh]].
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCols: Seq[String],
      shingleSize: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val docs = Caches.persist(parallelize(df)
      .select((col(idCol).as("id") +: blockCols.map(col)) :+
        tokens(col(textCol)).as("toks"): _*)
      .select((col("id") +: blockCols.map(col)) :+
        hashedSet(wordShingles(col("toks"), shingleSize)).as("shash"): _*))
      // persisted: consumed by both self-join sides; the emptiness
      // filter stays above the cache so no pushdown re-derivation
      .where(size(col("shash")) > 0)
    val a = docs.as("a"); val b = docs.as("b")
    val blockPred = blockCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    // id-order guard pinned ahead of the set-intersection kernel (a
    // trailing WHERE on jaccard gets pushed into the join condition
    // FIRST, running array_intersect on both id orders — see semDedup)
    val inter = size(array_intersect(col("a.shash"), col("b.shash"))).cast("double")
    val tot = (size(col("a.shash")) + size(col("b.shash"))).cast("double")
    val jac = when(tot - inter === 0, lit(0d)).otherwise(inter / (tot - inter))
    a.join(b, blockPred && col("a.id") < col("b.id") && jac >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), jac.as("jaccard"))
  }

  /** EXACT Jaccard-threshold self-join by prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08) — the exact-result counterpart to [[minHashLsh]]: every
    * pair of documents whose shingle-SET Jaccard is ≥ `threshold` is
    * returned with NO false negatives (LSH trades recall for speed;
    * this trades a rarest-shingle candidate join, and verification
    * keeps precision at 1 either way).
    *
    * Candidate rule: order each document's distinct shingles by global
    * document frequency ascending (rarest first, ties lexicographic —
    * a total order both engines agree on). Two sets with overlap ≥ α
    * under a shared total order must collide within their
    * (|s|−α+1)-prefixes (pigeonhole), so equi-joining on prefix
    * shingles is lossless; pairs are ordered canonically by
    * (|set|, id) so the smaller side indexes only its shorter
    * 2t/(1+t)-prefix (AllPairs index reduction) while the larger
    * probes with its t-prefix. Exact Jaccard then verifies each
    * candidate once.
    *
    * Scale shape: the document-frequency table is shingle-vocab-sized
    * (≪ corpus; AQE broadcasts it when small). Prefixes are short
    * (≈ (1−t)·|s| + 1 probe side, ≈ (1−t)/(1+t)·|s| + 1 index side)
    * and biased to RARE shingles, so candidate buckets stay small
    * where a naive shingle join explodes. Where prefix rarity itself
    * saturates (small shared vocabularies make even rare shingles
    * collide corpus-wide), the per-document 64-bucket counting sketch
    * takes over: its lane-wise L1 lower-bounds |AΔB| (evaluated by the
    * codegen'd [[graft.plans.PackedCountL1Expr]] kernel inside the
    * join condition), refuting candidates on whole-set shape before
    * they reach verification. Three payload shuffles: the per-doc
    * ordered-collect, the candidate equi-join, and the candidate
    * distinct; verification joins fetch only the two candidate sets
    * per pair.
    */
  def setSimilarityJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    // Everything downstream operates on the 60-bit hashed shingle set
    // ([[hashedSet]]): ordering, joining and set-intersecting longs,
    // never strings — identical Jaccard up to md5 collision, the same
    // trade [[minHashLsh]]'s verifier makes. `sk` is a 64-bucket
    // counting sketch of the shingle set (8-bit lanes packed into 8
    // longs): bucket counts under-merge distinct tokens, so the
    // lane-wise L1 between two sketches LOWER-bounds |A Δ B| — the
    // deterministic refutation the candidate join prunes with.
    val docs = Caches.persist(parallelize(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .select(col("id"),
        hashedSet(wordShingles(col("__t"), shingleSize)).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sk", packedCountSketch(col("sh"))))
    val dfreq = docs.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // Rarest-first ordering ONCE per document; the two prefix
    // relations below are slices of the same ordered array. The ε
    // guard on ceil: when t·|s| is mathematically integral but the
    // double product rounds UP, ceil would overstate the overlap
    // requirement and SHORTEN the prefix — a correctness
    // (false-negative) bug; the subtraction can only lengthen it
    // (extra candidates, still exact).
    // persisted: BOTH prefix slices below read it, and the two slices
    // are no longer the identical subplan Spark's ReusedExchange would
    // have deduplicated for free
    val ordered = Caches.persist(docs
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("tok"))
      .join(dfreq, "tok")
      .groupBy("id", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ordered"))
      .join(docs.select(col("id"), col("sk")), "id"))
    // AllPairs index reduction (Bayardo et al. WWW'07 §3.1, the
    // candidate-volume lever): order every pair canonically by
    // (|set|, id). The LARGER side must collide within its t-prefix
    // (its overlap with any valid partner is ≥ ⌈t·|s|⌉), but the
    // SMALLER side only within its 2t/(1+t)-prefix (its worst-case
    // partner is its own size, forcing overlap ≥ ⌈2t/(1+t)·|s|⌉) —
    // at t=0.5 the indexed side shrinks from |s|/2 to |s|/3, and the
    // per-token candidate product shrinks with it. Lossless: the
    // required overlap α = ⌈t/(1+t)(|a|+|b|)⌉ satisfies
    // α ≥ ⌈2t/(1+t)·|a|⌉ (|b| ≥ |a|) and α ≥ ⌈t·|b|⌉ (length filter),
    // and two sets with overlap ≥ α under a shared total order must
    // collide within their (|s|−α+1)-prefixes (pigeonhole).
    def prefixOf(minOverlap: Column => Column) = ordered.select(
      col("id"), col("sz"), col("sk"),
      posexplode(transform(
        slice(col("ordered"), lit(1),
          (col("sz") - minOverlap(col("sz")) + lit(1)).cast("int")),
        s => s.getField("tok"))).as(Seq("pos0", "tok")))
    val probe = prefixOf(sz => ceil(sz * lit(threshold) - lit(1e-9)))
    val idx = prefixOf(sz =>
      ceil(sz * lit(2 * threshold / (1 + threshold)) - lit(1e-9)))
    // Candidate pairs: equi-join on the prefix token under the
    // canonical order (idx side strictly smaller), with THREE
    // exactness-preserving per-collision-row filters, ε-guarded so
    // float round-up only ever ADDS candidates:
    //   length filter — J ≥ t forces t·|b| ≤ |a|;
    //   positional filter (Xiao et al. WWW'08) — sound row-wise via
    //   the first-collision argument: every common token other than
    //   the FIRST collision w1 sorts after w1 in BOTH arrays
    //   (anything earlier would itself be a prefix collision), so
    //   overlap ≤ 1 + min(suffix remaining after w1) — and w1's row,
    //   having the minimal positions, carries the pair's maximal
    //   bound, so a valid pair always survives;
    //   counting-sketch filter — |AΔB| ≥ graft_packed_l1(skA, skB)
    //   (codegen'd native kernel), and J ≥ t forces
    //   |AΔB| ≤ |a|+|b|−2α; this is the volume killer on corpora
    //   where token-level prefixes stop being rare (small shared
    //   vocabularies): a token collision says "one shingle shared",
    //   the sketch refutes on the whole-set shape. Disabled above
    //   255 tokens/set, where an 8-bit lane could saturate.
    val alpha = ceil((col("a.sz") + col("b.sz")) * lit(threshold / (1 + threshold))
      - lit(1e-9))
    val overlapUb = lit(1) +
      least(col("a.sz") - (col("a.pos0") + 1), col("b.sz") - (col("b.pos0") + 1))
    val sketchOk = when(col("a.sz") > 255 || col("b.sz") > 255, lit(true))
      .otherwise(call_function("graft_packed_l1", col("a.sk"), col("b.sk"))
        <= col("a.sz") + col("b.sz") - lit(2) * alpha)
    val cands = idx.as("a").join(probe.as("b"),
        col("a.tok") === col("b.tok")
          && (col("a.sz") < col("b.sz")
            || (col("a.sz") === col("b.sz") && col("a.id") < col("b.id")))
          && col("b.sz") * lit(threshold) - lit(1e-9) <= col("a.sz")
          && overlapUb >= alpha
          && sketchOk)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val candsObserved = Telemetry.mark(cands, "ssj_candidates")
    val withSets = candsObserved
      .join(docs.select(col("id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("shb")), "id_b")
    val jac = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb"))).cast("double")
    withSets.select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Generic 64-bit-fingerprint near-duplicate pairs: band the hash
    * into `bands` equal slices, equi-join colliding bands, verify
    * Hamming ≤ `maxDist` by XOR + popcount. Lossless for the returned
    * range by pigeonhole (`maxDist < bands` differing bits cannot
    * touch every band) — enforced. The shared kernel under the
    * perceptual image/audio near-dup operators
    * ([[Multimodal.imageNearDupPairs]] / `audioNearDupPairs`).
    * Emits `(id_a, id_b, hamming)`.
    */
  def hammingNearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, bands: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < bands,
      "recall guarantee needs maxDist < bands (pigeonhole)")
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val h = hashed.select(col(idCol).cast("long").as("id"),
      col(hashCol).cast("long").as("hash"))
    val banded = h.select(col("id"), col("hash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("hash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "key")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.hash").bitwiseXOR(col("b.hash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** Embedding cosine near-duplicate pairs, LSH-bucketed: block on
    * random-hyperplane sign signatures (deterministic md5-derived
    * planes, see [[Similarity.hyperplaneSignature]]), verify cosine ≥
    * threshold inside buckets.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      planes: Int = 8,
      dims: Int = 64): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val sigs = df.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.hyperplaneSignature(col(vecCol), planes, dims).as("sig"))
    val a = sigs.as("a"); val b = sigs.as("b")
    // id-order guard pinned ahead of the cosine kernel (see semDedup)
    a.join(b, col("a.sig") === col("b.sig") && col("a.id") < col("b.id")
        && call_function("graft_cosine", col("a.vec"), col("b.vec")) >= threshold)
      .withColumn("cosine", call_function("graft_cosine", col("a.vec"), col("b.vec")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Semantic contamination report — the embedding-space analog of
    * n-gram decontamination ([[TextAnalysis.contaminated]]): a training
    * vector is contaminated when it is ≥ `threshold` cosine-similar to
    * any probe (eval/benchmark) vector sharing its hyperplane-signature
    * bucket. Returns one row per contaminated training vector:
    * (train_id, probe_id = smallest matching probe, cosine with it,
    * n_hits = how many probes matched).
    *
    * Scale shape: the probe set (an eval benchmark — thousands, not
    * billions) broadcasts with its signatures; the corpus streams
    * through one codegen'd signature + equi-join + cosine pass. No
    * shuffle of the training side at any corpus size.
    */
  def semanticContaminated(
      train: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.3,
      planes: Int = 4,
      dims: Int = 64): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(train.sparkSession)
    val t = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"),
      Similarity.hyperplaneSignature(col(vecCol), planes, dims).as("sig"))
    val p = broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      Similarity.hyperplaneSignature(col(vecCol), planes, dims).as("sig")))
    t.join(p, "sig")
      .withColumn("cosine", call_function("graft_cosine", col("tv"), col("pv")))
      .where(col("cosine") >= threshold)
      .groupBy("train_id")
      .agg(min(struct(col("probe_id"), col("cosine"))).as("k"),
        count(lit(1)).as("n_hits"))
      .select(col("train_id"), col("k.probe_id").as("probe_id"),
        round(col("k.cosine"), 4).as("cosine"), col("n_hits"))
  }

  /** Drop semantically contaminated rows: `train` minus
    * [[semanticContaminated]] matches (broadcast anti-join on the
    * contaminated-id list, which is probe-bounded and small).
    */
  def semanticDecontaminate(
      train: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.3,
      planes: Int = 4,
      dims: Int = 64): DataFrame = {
    val dropped = semanticContaminated(train, probes, vecCol, idCol,
      threshold, planes, dims).select(col("train_id").as(idCol))
    train.join(broadcast(dropped), Seq(idCol), "left_anti")
  }

  /** End-to-end near-duplicate removal: LSH candidate pairs
    * ([[minHashLsh]]) → transitive clusters
    * ([[Graph.connectedComponents]]) → keep the minimum-id document of
    * every cluster. Unlike pair-based filtering, this drops B AND C
    * when A≈B and B≈C even if A and C never collide in a band — the
    * semantics a corpus-dedup pass actually needs. Returns the
    * surviving rows of `df` unchanged.
    */
  def nearDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
    // non-representatives (label ≠ own id) are the rows to drop; the
    // drop list is tiny relative to the corpus, so the anti-join
    // broadcasts at any corpus size with a bounded duplicate fraction
    val losers = comps.where(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** One row per near-duplicate cluster with its QUALITY-chosen
    * representative: the member with the highest `scoreCol` (ties to
    * the lowest id) — the "keep longest / keep best" rule production
    * dedup passes actually apply, vs [[nearDedup]]'s keep-min-id.
    * Output: `comp` (cluster label = min member id), `keeper_id`,
    * `keeper_score`, `n_members`. Only multi-member clusters appear
    * (singletons trivially keep themselves).
    *
    * Scale shape: the cluster map covers only documents appearing in
    * some verified pair — O(duplicate fraction), not O(corpus) — and
    * the argmax is one combinable struct-min aggregate, no window. The
    * score join is unhinted (AQE broadcasts it when small; shuffles
    * when the dup fraction is web-scale — the q110 lesson).
    */
  /** MinHash signature-quality audit: per verified near-dup pair, the
    * SIGNATURE-estimated Jaccard (matching components / numHashes —
    * the unbiased estimator the banding decision is actually made on)
    * against the exact set Jaccard, with the absolute error. The
    * report that justifies (or indicts) a numHashes choice: estimator
    * std is √(J(1−J)/k), so k=16 at J≈0.5 means ±0.125 — visible here
    * directly. Emits `(id_a, id_b, jaccard, est_jaccard, abs_err)`.
    *
    * Scale shape: rides the existing LSH candidate machinery; the
    * signature comparison is a row-local zip over k-length arrays on
    * the (tiny) verified-pair set.
    */
  def minHashEstimateAudit(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    // the signature scan feeds BOTH sides of the pair join — persist
    // or the tokenize+shingle+minhash pass runs twice
    val sigs = Caches.persist(
      nearSignatures(df, textCol, idCol, numHashes, shingleSize)
        .select(col("id"), col("sig")))
    val est = size(filter(zip_with(col("sa"), col("sb"),
      (x, y) => x === y), b => b)).cast("double") / numHashes
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"),
        round(est, 4).as("est_jaccard"),
        round(abs(est - col("jaccard")), 4).as("abs_err"))
  }

  /** Source-pair duplication flow — the pair-grain aggregate of
    * [[syndicationReport]]: how many verified near-dup pairs cross
    * each (source, source) combination, with their mean similarity.
    * The matrix that tells a crawl operator WHICH feeds duplicate
    * each other (diagonal = intra-source duplication). Pair sources
    * are ordered lexicographically so the matrix is upper-triangular.
    *
    * Scale shape: two id-keyed joins from the (tiny) verified-pair
    * set to the source dimension, one combinable aggregate.
    */
  def dupFlowMatrix(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sourceCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val src = df.select(col(idCol).cast("long").as("id"),
      col(sourceCol).as("src"))
    pairs
      .join(src.select(col("id").as("id_a"), col("src").as("__sa")), "id_a")
      .join(src.select(col("id").as("id_b"), col("src").as("__sb")), "id_b")
      .select(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
  }

  /** IDF-weighted Jaccard rescoring of verified near-dup pairs:
    * wJ = Σ_{g∈a∩b} idf(g) / Σ_{g∈a∪b} idf(g) with idf = ln(N/df) —
    * overlap on RARE shingles counts for more than overlap on
    * boilerplate, so a pair sharing distinctive content outranks a
    * pair sharing navigation chrome at equal set Jaccard. The
    * re-ranking signal for prioritizing which near-dup clusters a
    * human (or an LLM judge) reviews first. Emits
    * `(id_a, id_b, jaccard, weighted_jaccard)`.
    *
    * Scale shape: the IDF table is shingle-vocab-bounded; the gram
    * expansion runs only on the (tiny) verified-pair set.
    */
  def weightedJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val sets = Caches.persist(parallelize(df)
      .select(col(idCol).cast("long").as("id"),
        tokens(col(textCol)).as("__t"))
      .select(col("id"),
        array_distinct(wordShingles(col("__t"), shingleSize)).as("sh"))
      .where(size(col("sh")) > 0))
    val n = sets.count()
    val idf = sets.select(explode(col("sh")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("__df"))
      .select(col("g"), log(lit(n.toDouble) / col("__df")).as("__idf"))
    val grams = pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("__sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"), col("__sa"), col("__sb"),
        explode(array_union(col("__sa"), col("__sb"))).as("g"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("g"),
        (array_contains(col("__sa"), col("g")) &&
          array_contains(col("__sb"), col("g"))).as("__both"))
      .join(idf, "g")
    grams.groupBy("id_a", "id_b")
      .agg(round(first(col("jaccard")), 4).as("jaccard"),
        round(sum(when(col("__both"), col("__idf")).otherwise(lit(0d)))
          / sum(col("__idf")), 4).as("weighted_jaccard"))
  }

  /** Cross-source syndication attribution — "who originated this text,
    * who republished it": near-dup clusters ([[minHashLsh]] pairs →
    * transitive closure) joined back to each member's source, reported
    * one row per cluster with the ORIGIN (the member with the smallest
    * id — ingestion order stands in for publication order) and the
    * distinct syndicating sources. The per-source aggregate view of
    * this is the provenance matrix a licensing / dedup-priority
    * review starts from. Emits `(comp, n_members, n_sources,
    * origin_id, origin_source, sources)` — `sources` is the sorted
    * comma-joined distinct source set.
    *
    * Scale shape: everything downstream of the LSH closure operates
    * on cluster MEMBERS (the duplicate fraction of the corpus, not
    * the corpus); the source lookup is an equi-join on id; the report
    * is one combinable aggregate keyed on the cluster label.
    */
  def syndicationReport(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sourceCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
    val members = comps.join(
      df.select(col(idCol).cast("long").as("id"), col(sourceCol).as("src")),
      Seq("id"))
    members.groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("src")).as("n_sources"),
        min(struct(col("id"), col("src"))).as("__o"),
        array_join(array_sort(collect_set(col("src"))), ",").as("sources"))
      .select(col("comp"), col("n_members"), col("n_sources"),
        col("__o.id").as("origin_id"), col("__o.src").as("origin_source"),
        col("sources"))
  }

  def nearDupClusterKeepers(
      df: DataFrame,
      textCol: String,
      idCol: String,
      scoreCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
    val members = comps.join(
      df.select(col(idCol).cast("long").as("id"), col(scoreCol).as("score")),
      Seq("id"))
    // argmax by (score desc, id asc) as min(struct(-score, id)) — a
    // partial-aggregable shape; count rides the same shuffle
    members.groupBy("comp")
      .agg(min(struct((-col("score")).as("ns"), col("id"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("comp"), col("k.id").as("keeper_id"),
        (-col("k.ns")).as("keeper_score"), col("n_members"))
  }

  /** [[nearDedup]] with the [[nearDupClusterKeepers]] keep rule: the
    * surviving rows of `df` where every near-dup cluster keeps its
    * best-`scoreCol` member instead of its minimum id.
    */
  def nearDedupKeepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      scoreCol: String,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, textCol, idCol, numHashes, bands,
      shingleSize, threshold)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
    val members = comps.join(
      df.select(col(idCol).cast("long").as("id"), col(scoreCol).as("score")),
      Seq("id"))
    val keepers = members.groupBy("comp")
      .agg(min(struct((-col("score")).as("ns"), col("id"))).as("k"))
      .select(col("comp"), col("k.id").as("keeper_id"))
    val losers = members.join(keepers, Seq("comp"))
      .where(col("id") =!= col("keeper_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023):
    * a k-means coarse quantizer ([[Similarity.kmeansCentroids]] —
    * deterministic init/ties, so any engine replays it) partitions the
    * embedding space into `nLists` clusters; exact cosine runs only
    * *inside* a cluster, and a vector is a semantic duplicate when a
    * lower-id vector of the same cluster is ≥ `threshold` similar
    * (keep-first, the house dedup convention). Returns one row per
    * removed vector: (list, vec_id, keeper_id = its smallest qualifying
    * lower id, cosine with that keeper).
    *
    * Scale shape: this is the quadratic-taming trick of the paper —
    * pairwise cosine is O(n²/nLists) instead of O(n²), expressed as a
    * self-equi-join on the cluster id (a shuffle-partitioned hash join;
    * no cross join appears in the plan). Centroids are nLists × dims
    * driver metadata; assignment is codegen'd argmax arithmetic, no
    * shuffle. At corpus scale, grow `nLists` with n to hold the
    * per-cluster candidate count flat. The quantizer trains on a
    * bounded md5-deterministic sample (`trainCap`, see
    * [[Similarity.kmeansCentroids]]) so training never re-scans the
    * full corpus per iteration; the corpus is assigned exactly once.
    */
  /** Cluster-id assignment behind [[semDedup]].
    * `nLists = 0` means AUTO: grow the
    * list count with the corpus — `k = max(8, ⌈n/targetListSize⌉)` —
    * so the per-list candidate volume stays BOUNDED instead of
    * quadratic (the SemDeDup paper's own k-selection rule: cluster
    * count scales with corpus, cluster size doesn't). Auto `k ≤ 64`
    * (every gate-scale corpus) takes the flat exact quantizer —
    * byte-identical to an explicit `nLists = k` — while larger `k`
    * switches to [[Similarity.twoLevelCentroids]], whose per-row
    * quantization cost is O(√k) instead of O(k), keeping the WHOLE
    * pipeline (train + assign + pairs) sub-quadratic as n grows.
    */
  /** The AUTO list-count rule, shared between [[semLists]] and any
    * caller that must assert which k an AUTO-mode run will resolve to
    * (the q105 gate's oracle replays a fixed-k CTE chain): one rule,
    * one place — a guard can't silently drift from the operator.
    */
  def autoListCount(n: Long, targetListSize: Int = 256): Int =
    math.max(8, math.ceil(n.toDouble / targetListSize).toInt)

  /** `(n, k)` resolved by the most recent AUTO-mode [[semLists]] call
    * in this JVM — lets a gate assert the resolved k WITHOUT paying a
    * second corpus count (the count already ran inside the operator).
    * Gates run operators sequentially, so last-write-wins is the
    * correct read; concurrent benchmark code must not rely on this.
    */
  @volatile private var lastAutoKState: Option[(Long, Int)] = None
  def lastAutoK: Option[(Long, Int)] = lastAutoKState

  private def semLists(emb: DataFrame, vecCol: String, idCol: String,
      nLists: Int, iters: Int, dims: Int, trainCap: Int,
      targetListSize: Int): DataFrame = {
    val k = if (nLists > 0) nLists
      else {
        val n = emb.count()
        val auto = autoListCount(n, targetListSize)
        lastAutoKState = Some((n, auto))
        auto
      }
    if (nLists > 0 || k <= 64) {
      val cents = Similarity.kmeansCentroids(emb, vecCol, idCol, k, iters,
        dims, trainCap)
      emb.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        element_at(Similarity.nearestLists(col(vecCol), cents, 1), 1)
          .cast("long").as("list"))
    } else {
      val (coarse, subs) = Similarity.twoLevelCentroids(emb, vecCol, idCol,
        k, iters, dims, trainCap)
      val k2 = subs(0).length.toLong
      emb.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("vec"),
          element_at(Similarity.nearestLists(col(vecCol), coarse, 1), 1)
            .as("__c"))
        .select(col("id"), col("vec"),
          (col("__c").cast("long") * k2 +
            Similarity.nearestSubList(col("vec"), col("__c"), subs)
              .cast("long")).as("list"))
    }
  }

  def semDedup(
      emb: DataFrame,
      vecCol: String,
      idCol: String,
      nLists: Int = 8,
      iters: Int = 2,
      threshold: Double = 0.3,
      dims: Int = -1,
      trainCap: Int = 262144,
      targetListSize: Int = 256): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(emb.sparkSession)
    val assigned = Caches.persist(
      semLists(emb, vecCol, idCol, nLists, iters, dims, trainCap,
        targetListSize))
    val a = assigned.as("a"); val b = assigned.as("b")
    // full condition written here so the id-order guard runs BEFORE the
    // cosine kernel — a trailing WHERE gets pushed into the join
    // condition ahead of it, doubling the cosine evaluations (the q106
    // Levenshtein lesson, verified in the executed plan)
    a.join(b, col("a.list") === col("b.list") && col("a.id") < col("b.id")
        && call_function("graft_cosine", col("a.vec"), col("b.vec")) >= threshold)
      .withColumn("cosine", call_function("graft_cosine", col("a.vec"), col("b.vec")))
      .select(col("b.list").as("list"), col("b.id").as("vec_id"),
        col("a.id").as("keeper"), col("cosine"))
      // smallest qualifying keeper and its cosine in one min(struct):
      // keeper is unique per pair row, so the struct order is total
      .groupBy("list", "vec_id")
      .agg(min(struct(col("keeper"), col("cosine"))).as("k"))
      .select(col("list"), col("vec_id"), col("k.keeper").as("keeper_id"),
        round(col("k.cosine"), 4).as("cosine"))
  }

  /** Soft deduplication: DOWN-WEIGHT common documents instead of
    * dropping them (the SoftDedup line of work — reweighting preserves
    * the corpus distribution's support while removing the effective
    * over-count that hard near-dedup deletes outright). A document's
    * commonness is the geometric mean of its distinct n-grams' document
    * frequencies (as a fraction of the corpus):
    * `c_d = exp(mean_g ln(df_g / n_docs))`; its sampling weight is
    * `c_d^(-alpha)` normalized to mean 1 over the corpus, so the total
    * token budget is unchanged and only the allocation shifts from
    * boilerplate-heavy documents to novel ones. Emits
    * `(idCol, n_grams, commonness, weight)`; documents with fewer than
    * `n` tokens have no n-grams and are omitted (no evidence either
    * way). alpha = 0 is the identity (all weights 1); alpha = 1 weights
    * by inverse commonness.
    *
    * Scale shape: one distinct-gram explode (grams travel hashed-free —
    * the gram string is the groupBy key exactly once), one df
    * aggregate, one per-doc aggregate, and a 1-row normalization
    * constant broadcast back. No pairwise stage exists at any corpus
    * size — the structural advantage soft dedup has over pair-forming
    * near-dedup.
    */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, alpha: Double = 1.0): DataFrame = {
    val grams = Caches.persist(df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"),
        explode(array_distinct(wordShingles(col("__t"), n))).as("g")))
    val nDocs = grams.select(countDistinct(col("__id")).as("__n_docs"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    val perDoc = Caches.persist(grams.join(dfreq, "g")
      .crossJoin(broadcast(nDocs))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_grams"),
        exp(avg(log(col("df").cast("double") / col("__n_docs"))))
          .as("commonness")))
    val norm = perDoc.select(avg(pow(col("commonness"), lit(-alpha)))
      .as("__mean_raw"))
    perDoc.crossJoin(broadcast(norm))
      .select(col("__id").as(idCol), col("n_grams"),
        round(col("commonness"), 6).as("commonness"),
        round(pow(col("commonness"), lit(-alpha)) / col("__mean_raw"), 6)
          .as("weight"))
  }

  /** Fuzzy (edit-distance) near-duplicate pairs: block on the md5 of
    * the first `blockTokens` tokens (the cheap prefix fingerprint that
    * template-duplicated documents share), then verify candidates with
    * full Levenshtein, keeping pairs whose distance normalized by the
    * longer text is ≤ `maxNormDist`. The LSH family (minHash/simHash)
    * catches *content* overlap; edit distance catches *character-level*
    * mutations (OCR noise, boilerplate injection) that token-set
    * measures miss.
    *
    * Scale shape (two-stage, payload-free candidate generation):
    *   1. a SLIM self-join on `(id, blk, len)` produces the candidate
    *      pair ids — only ~30 bytes/row cross the block-key exchange,
    *      and the O(1) prunes (id order + |len gap| > budget, which
    *      implies Levenshtein > budget) run here, so full texts are
    *      never shuffled through the skew-prone block key;
    *   2. texts re-attach to the SURVIVING pairs via two id-keyed
    *      joins (naturally distributed — no blk skew), and the
    *      O(len²) Levenshtein kernel fires once per survivor.
    * Hot template prefixes — the one remaining skew — are probed with
    * [[Skew.probeSalt]]; when a hot block exists the slim self-join
    * switches to a fragment-replicate scheme (each side replicated
    * ×salt, pair (x,y) matched at the unique cell (h(x)%s, h(y)%s)),
    * spreading a hot block's C(n,2) comparisons over salt² reducer
    * cells instead of one.
    */
  def editDistancePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockTokens: Int = 2,
      maxNormDist: Double = 0.05): DataFrame = {
    val docs = Caches.persist(parallelize(df).select(
      col(idCol).as("id"), col(textCol).as("txt"),
      md5(array_join(slice(tokens(col(textCol)), 1, blockTokens), " ")).as("blk"),
      length(col(textCol)).as("len")))
    val slim = docs.select("id", "blk", "len")
    val mxS = greatest(col("a.len"), col("b.len"))
    val prune = col("a.id") < col("b.id") &&
      abs(col("a.len") - col("b.len")) <= mxS * maxNormDist
    val salt = Skew.probeSalt(slim, Seq("blk"))
    val cand =
      if (salt == 0)
        slim.as("a").join(slim.as("b"),
          col("a.blk") === col("b.blk") && prune)
      else {
        // Fragment-replicate self-join: row x lands in cells
        // (h(x)%salt, t) on the a-side and (u, h(x)%salt) on the
        // b-side, so pair (x,y) meets at exactly one cell — replication
        // is ×salt of the slim projection only, never of the texts.
        val cells = sequence(lit(0), lit(salt - 1)).cast("array<int>")
        val sa = slim
          .withColumn("__ca", pmod(hash(col("id")), lit(salt)))
          .withColumn("__cb", explode(cells)).as("a")
        val sb = slim
          .withColumn("__cb", pmod(hash(col("id")), lit(salt)))
          .withColumn("__ca", explode(cells)).as("b")
        sa.join(sb, col("a.blk") === col("b.blk") &&
          col("a.__ca") === col("b.__ca") &&
          col("a.__cb") === col("b.__cb") && prune)
      }
    val pairs = cand.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
      mxS.as("mx"))
    // Verify stage: only surviving candidates carry payload through an
    // exchange, and the kernel is the BANDED Levenshtein (3-arg form,
    // O(len·k) instead of O(len²)): the per-pair budget is at most
    // ceil(globalMaxLen · maxNormDist), so one corpus-max threshold
    // bounds the band for every pair — the threshold only gates the
    // algorithm (−1 when exceeded), the exact per-pair `mx` bound is
    // still applied below, so results are identical to the unbanded
    // form. At maxNormDist = 0.05 this is a ~len/(2k) ≈ 10× cut in
    // verify CPU, which is where q106's tier seconds live (candidates
    // are linear; the kernel is the constant).
    // Known double-eval: the final projection re-computes the kernel
    // to emit `dist` (Catalyst collapses a project-then-filter back
    // into one node) — accepted, survivors are a tiny fraction.
    val maxLenRow = docs.agg(max(col("len"))).head()
    val thr =
      if (maxLenRow.isNullAt(0)) 0
      else math.ceil(maxLenRow.getInt(0) * maxNormDist).toInt
    def lev: Column = levenshtein(col("txt_a"), col("txt_b"), thr)
    val txt = docs.select("id", "txt")
    pairs
      .join(txt.select(col("id").as("id_a"), col("txt").as("txt_a")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("txt").as("txt_b")), "id_b")
      .where(lev >= 0 && lev <= col("mx") * maxNormDist)
      .select(col("id_a"), col("id_b"), lev.as("dist"),
        round(lev / col("mx").cast("double"), 4).as("norm_dist"))
  }

  /** Cross-document duplicate-span statistics — exact substring
    * deduplication at n-gram granularity (the distributed shape of
    * suffix-array span dedup from the "Deduplicating Training Data"
    * line of work): an n-gram occurrence in document `d` is *removable*
    * when the same n-gram also occurs in a document with a smaller id
    * (keep-first semantics — the corpus retains exactly one copy of
    * every span, in its first document). Overlapping removable n-grams
    * merge into maximal spans via gaps-and-islands over start
    * positions. Returns one row per affected document:
    * (idCol, n_spans, dup_tokens, n_tokens, dup_ratio).
    *
    * Scale shape: grams travel as 60-bit [[graft.functions.md5Long]]
    * hashes from the moment they are formed — the shuffle carries
    * (hash, doc, pos), never gram text; first-occurrence resolution is
    * one hash-keyed aggregate (map-side combinable) feeding a same-key
    * equi-join (no second shuffle of the aggregate side); the island
    * merge windows over one document's few hits, so no partition ever
    * exceeds a single document's duplicated-gram count.
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = parallelize(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
    val grams = toks
      .select(col(idCol), posexplode(wordShingles(col("__toks"), n)))
      .select(col(idCol), col("pos").as("__pos"), md5Long(col("col")).as("__gh"))
    val first = grams.groupBy("__gh").agg(min(col(idCol)).as("__first"))
    val removable = grams.join(first, "__gh")
      .where(col(idCol) > col("__first"))
      .select(col(idCol), col("__pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    // a gram at __pos covers tokens [__pos, __pos + n - 1]; a new island
    // starts when it clears the running max end of everything before it
    val prevEnd = max(col("__pos") + lit(n - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = removable
      .withColumn("__new",
        when(col("__pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min("__pos").as("__s"), (max("__pos") + lit(n - 1)).as("__e"))
    val summary = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s") + lit(1)).cast("long").as("dup_tokens"))
    summary
      .join(toks.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens")),
        Seq(idCol))
      .withColumn("dup_ratio", round(col("dup_tokens") / col("n_tokens"), 4))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every word `k`-gram, then
    * in each sliding window of `w` consecutive gram hashes select the
    * minimum (every position achieving it — deterministic without a
    * tie-break rule, and 60-bit hashes make in-window ties vanishingly
    * rare anyway). The guarantee that makes this the standard local
    * fingerprinting scheme: any shared run of `w + k - 1` tokens
    * between two documents is caught by at least one shared selected
    * fingerprint, while only ~`2/(w+1)` of gram hashes are kept.
    * Documents shorter than `w` grams winnow as a single clipped
    * window (their global minimum is selected). Returns one row per
    * selected gram occurrence: `(idCol, pos, fingerprint)` with
    * 0-based gram position.
    *
    * Plan shape: one explode, then two frame aggregates over the SAME
    * per-doc sort — `min` over `[0, w-1]` following gives each valid
    * window start its minimum; a position is selected iff the `max` of
    * those window minima over the `[w-1, 0]` preceding frame equals its
    * own hash (every covering window's min is ≤ it, so the max reaches
    * it iff some window elected it). Both windows share one
    * sort+partition pass; nothing leaves the doc's partition.
    */
  def winnowingFingerprints(docs: DataFrame, textCol: String,
      idCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, "k and w must be positive")
    val grams = parallelize(docs)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), posexplode(wordShingles(col("__t"), k)))
      .select(col(idCol), col("pos"), md5Long(col("col")).as("fingerprint"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val whole = Window.partitionBy(col(idCol))
    val mFwd = min(col("fingerprint")).over(byDoc.rowsBetween(0, w - 1))
    val nGrams = count(lit(1)).over(whole)
    // clipped trailing frames are NOT valid window starts (their min is
    // over fewer than w grams) — mask them out before the backward max
    val winMin = when(col("pos") <= greatest(lit(0L), nGrams - w), mFwd)
    grams
      .withColumn("__wm", winMin)
      .withColumn("__sel",
        max(col("__wm")).over(byDoc.rowsBetween(-(w - 1), 0)) === col("fingerprint"))
      .where(col("__sel"))
      .select(col(idCol), col("pos"), col("fingerprint"))
  }

  /** MOSS-style pairwise overlap report over [[winnowingFingerprints]]:
    * two documents sharing ≥ `minShared` distinct selected fingerprints
    * are reported with `overlap` = shared / min(|A|, |B|) (the
    * containment-style score MOSS ranks by — robust when a small
    * document is embedded in a large one). Fingerprints selected in
    * more than `maxDocFreq` distinct documents are dropped FIRST
    * (boilerplate grams — MOSS's "ignore matches in many submissions"
    * rule); per-document fingerprint sizes are measured on the
    * filtered set so the score stays internally consistent.
    *
    * Scale shape: the docfreq prefilter is the quadratic guard — a
    * boilerplate hash shared by 10⁵ documents would otherwise emit
    * 10¹⁰ candidate pairs from the equi-join; after it, every
    * surviving hash fans out ≤ `maxDocFreq`² pairs. Joins are
    * hash-keyed (never all-pairs); the pair aggregate is map-side
    * combinable on (id_a, id_b).
    */
  def winnowingOverlap(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, maxDocFreq: Long = 20,
      minShared: Long = 2): DataFrame = {
    val fps = Caches.persist(
      winnowingFingerprints(docs, textCol, idCol, k, w)
        .select(col(idCol).cast("long").as("id"), col("fingerprint"))
        .distinct())
    val keep = fps.groupBy("fingerprint")
      .agg(count_distinct(col("id")).as("__df"))
      .where(col("__df") <= maxDocFreq)
      .select("fingerprint")
    val kept = Caches.persist(fps.join(keep, Seq("fingerprint")))
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("__nf"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.fingerprint") === col("b.fingerprint") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("__nf", "__na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("__nf", "__nb"), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared") / least(col("__na"), col("__nb")).cast("double"), 4)
          .as("overlap"))
  }

  /** Cross-document boilerplate scrub (the C4/CCNet global sentence
    * dedup): a sentence whose normalized form appears in ≥ `maxDocs`
    * DISTINCT documents is boilerplate (nav bars, footers, legal
    * lines) and is removed from EVERY document; sentences shorter than
    * `minChars` normalized are never considered (too generic to mean
    * anything). Sentence split and normalization follow
    * [[graft.operators.TextAnalysis.dedupSentences]] (its intra-doc
    * counterpart). Output: `doc_id, n_sent, n_kept, text_clean`
    * (kept sentences rejoined with ". ", original order).
    *
    * Scale shape: explode → groupBy(sentence key) with a two-phase
    * distinct-doc count → the surviving boilerplate key set is tiny
    * (bounded by sentences that actually repeat across `maxDocs`
    * docs), joined back UNHINTED on the key (AQE broadcasts it when
    * small; a shuffled join stays correct when a pathological corpus
    * makes it large) → per-doc reassembly groups on doc_id. Three
    * sentence-keyed/doc-keyed shuffles, no corpus-sized broadcast, no
    * driver materialization.
    */
  def boilerplateScrub(docs: DataFrame, textCol: String, idCol: String,
      minChars: Int = 10, maxDocs: Long = 4): DataFrame = {
    val sents = filter(split(col(textCol), "\\.\\s+"), s => length(s) > lit(0))
    val ex = docs
      .select(col(idCol).as("doc_id"), posexplode(sents).as(Seq("pos", "sent")))
      .withColumn("__k",
        trim(regexp_replace(lower(col("sent")), "[^a-z0-9]+", " ")))
    val bp = ex.where(length(col("__k")) >= minChars)
      .groupBy("__k").agg(count_distinct(col("doc_id")).as("__nd"))
      .where(col("__nd") >= maxDocs)
      .select(col("__k"), lit(true).as("__bp"))
    ex.join(bp, Seq("__k"), "left")
      .withColumn("__drop", coalesce(col("__bp"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sent"),
        count(when(!col("__drop"), lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("__drop"), struct(col("pos"), col("sent"))))),
            s => s.getField("sent")),
          ". ").as("text_clean"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage — the Fellegi–Sunter model (Fellegi &
  * Sunter, JASA 1969; the framework behind Splink/RecordLinkage): each
  * field comparator contributes a log-likelihood-ratio weight —
  * positive on agreement (`ln(m/u)` for match probability m, chance
  * agreement u), negative on disagreement — and the summed match
  * weight classifies a candidate pair `link` / `possible` /
  * `non_link` against two thresholds (the `possible` band is the
  * clerical-review zone).
  *
  * Scale shape: candidate pairs come from an equi-join on `blockCols`
  * (standard blocking — NEVER an all-pairs product); comparators are
  * row-local column expressions on the joined pair, and the verdict is
  * a map-side CASE. Cost is Σ_blocks |L_b|·|R_b| — the blocking key's
  * quality, not the corpus size, is the lever, exactly like the dedup
  * family's signature joins. A skewed block is the [[Skew]] salting
  * case; the weight pass itself holds no state.
  */
object Linkage {

  /** One field comparison: `agree` is any row-local predicate over the
    * joined pair (reference both sides through their join aliases
    * `l` / `r`); `agreeWeight` / `disagreeWeight` are the
    * log-likelihood-ratio weights — callers estimate them from m/u
    * probabilities (or EM) upstream and pass plain doubles so the
    * scoring stays engine-reproducible.
    */
  final case class Comparator(
      name: String, agree: Column, agreeWeight: Double, disagreeWeight: Double)

  /** Classic weight pair from (m, u): `(ln(m/u), ln((1-m)/(1-u)))`. */
  def weightsFrom(m: Double, u: Double): (Double, Double) = {
    require(m > 0 && m < 1 && u > 0 && u < 1 && m > u, s"need 0<u<m<1: m=$m u=$u")
    (math.log(m / u), math.log((1 - m) / (1 - u)))
  }

  /** Hard ceiling on one block's pair volume before the guard salts
    * it. 2²² ≈ 4.2M pairs keeps a single hot block's comparator work
    * around a second per core — past that, one reducer owning the
    * whole block is the 100 TB straggler this guard exists to break.
    */
  val DefaultMaxBlockPairs: Long = 1L << 22

  /** Score all blocked candidate pairs. `left` is aliased `l`, `right`
    * `r`; `blockCols` must exist on both sides under the same names.
    * Emits the two ids, one `agree_<name>` flag per comparator, the
    * summed `score` (rounded to 4), and the `verdict`.
    *
    * Skew/size guard: blocking bounds the pair volume only as well as
    * its worst block — a single degenerate key (NULL-heavy column, a
    * "city = London" block) re-creates the quadratic straggler that
    * blocking was supposed to prevent, and AQE cannot help because the
    * blow-up happens in the join OUTPUT, not the shuffled input. So
    * before planning the pair join, ONE slim aggregate per side probes
    * per-block counts ([[Skew.probeSalt]]'s pattern, joined to get
    * |L_b|·|R_b|). Blocks past `maxBlockPairs` are warned about and
    * SALTED: their left rows scatter across `salt` sub-keys (hashed on
    * the left id), their right rows replicate ×`salt`, so the hot
    * block's pairs spread over `salt` reducers — same pair set, same
    * scores, row for row. Cold blocks keep the plain equi-join (no
    * replication paid where keys are healthy). The probe costs two
    * grouped counts of the INPUTS (never the pair set) and a bounded
    * collect of hot keys.
    */
  def fellegiSunter(
      left: DataFrame, right: DataFrame,
      leftId: String, rightId: String,
      blockCols: Seq[String],
      comparators: Seq[Comparator],
      linkThreshold: Double, nonLinkThreshold: Double,
      maxBlockPairs: Long = DefaultMaxBlockPairs,
      salt: Int = 16): DataFrame = {
    require(comparators.nonEmpty, "need at least one comparator")
    require(linkThreshold >= nonLinkThreshold,
      "link threshold must not sit below the non-link threshold")

    def score(joined: DataFrame): DataFrame = {
      val flags = comparators.map(c => c.agree.as(s"agree_${c.name}"))
      // flags staged in their own projection: the score consumes the
      // BOOLEAN attributes, so each comparator kernel (levenshtein et
      // al.) runs once per pair — inlining it into the score's `when`
      // would evaluate it twice (CollapseProject declines to merge
      // multi-referenced non-cheap expressions, keeping the stage)
      val staged = joined.select(
        (Seq(col(s"l.$leftId"), col(s"r.$rightId")) ++ flags): _*)
      val s = comparators.map(c =>
        when(col(s"agree_${c.name}"), lit(c.agreeWeight))
          .otherwise(lit(c.disagreeWeight)))
        .reduce(_ + _)
      staged
        .withColumn("score", round(s, 4))
        .withColumn("verdict",
          when(col("score") >= linkThreshold, lit("link"))
            .when(col("score") > nonLinkThreshold, lit("possible"))
            .otherwise(lit("non_link")))
    }

    // skew probe: per-block pair volume from input-side counts only
    val lStats = left.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__nl"))
    val rStats = right.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__nr"))
    // bounded collect: past ~1000 hot blocks the blocking scheme itself
    // is broken and per-key special-casing stops being the answer —
    // salt everything uniformly instead of collecting an unbounded set
    val hotRows = lStats.join(rStats, blockCols)
      .where(col("__nl") * col("__nr") > maxBlockPairs)
      .select(blockCols.map(col): _*)
      .limit(1001).collect()

    // pin the pair join's partitioning with an explicit-count
    // repartition (exempt from AQE coalescing, reused by the join —
    // no extra exchange): the join INPUTS are block-key-sized but the
    // OUTPUT is Σ|L_b|·|R_b| pairs × comparator kernels, and AQE sizes
    // post-shuffle partitions by input bytes only — without the pin it
    // coalesces the scoring stage onto 1–2 cores (the samplePairGrid
    // kinship lesson; measured 16 s → ~3 s on the q300 gate)
    val parts = math.max(left.sparkSession.sessionState.conf.numShufflePartitions, 1)
    def pin(df: DataFrame, keys: Seq[String]): DataFrame =
      df.repartition(parts, keys.map(col): _*)
    val scored =
      if (hotRows.isEmpty)
        score(pin(left, blockCols).as("l")
          .join(pin(right, blockCols).as("r"), blockCols))
      else if (hotRows.length > 1000) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"fellegiSunter: >1000 blocks exceed $maxBlockPairs pairs — " +
            s"blocking key is degenerate; salting ALL blocks x$salt")
        score(saltJoin(left, right, blockCols, leftId, salt))
      } else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"fellegiSunter: ${hotRows.length} hot block(s) exceed " +
            s"$maxBlockPairs candidate pairs; salting them x$salt " +
            s"(first: ${hotRows.head})")
        val spark = left.sparkSession
        val hotKeys = broadcast(
          spark.createDataFrame(
            spark.sparkContext.parallelize(hotRows.toSeq, 1),
            org.apache.spark.sql.types.StructType(
              blockCols.map(c => lStats.schema(c)))))
        val cold = score(
          left.join(hotKeys, blockCols, "left_anti").as("l")
            .join(right.join(hotKeys, blockCols, "left_anti").as("r"),
              blockCols))
        val hot = score(saltJoin(
          left.join(hotKeys, blockCols, "left_semi"),
          right.join(hotKeys, blockCols, "left_semi"),
          blockCols, leftId, salt))
        cold.unionByName(hot)
      }
    // 1:1 with candidate pairs — a scaling sweep's volume signal
    Telemetry.mark(scored, "linkage_candidates")
  }

  /** Salted within-block pair join: left rows scatter on
    * `hash(leftId) % salt`, right rows replicate to every sub-key —
    * the full L_b×R_b pair set spread over `salt` reducers. Aliases
    * `l`/`r` for the comparator expressions, like the plain join.
    */
  private def saltJoin(left: DataFrame, right: DataFrame,
      blockCols: Seq[String], leftId: String, salt: Int): DataFrame = {
    val parts = math.max(
      left.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val keys = blockCols :+ "__fs_salt"
    val l = left.withColumn("__fs_salt",
      pmod(hash(col(leftId)), lit(salt)))
    val r = right.withColumn("__fs_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    // same AQE-coalescing pin as the plain path — the salted sub-blocks
    // exist precisely to spread one block's pair volume across reducers
    l.repartition(parts, keys.map(col): _*).as("l")
      .join(r.repartition(parts, keys.map(col): _*).as("r"), keys)
      .drop("__fs_salt")
  }

  /** Round half away from zero at `s` decimals — the per-iteration
    * quantization contract shared with the SQL oracle replay (same
    * convention as `Similarity.round12`: `floor(|x|·10^s + 0.5)` with
    * the same double ops in the same order as both engines' `round`).
    */
  private def roundAt(x: Double, scale: Double): Double =
    if (x >= 0) math.floor(x * scale + 0.5) / scale
    else -math.floor(-x * scale + 0.5) / scale

  /** Unsupervised estimation of the Fellegi–Sunter parameters by EM
    * (Winkler 1988; the learning step behind Splink's
    * `estimate_parameters_using_expectation_maximisation`): treat the
    * blocked pairs as a two-component mixture — matches (share λ,
    * per-field agreement probabilities m_i) vs non-matches (u_i) —
    * and iterate E (per-pair match responsibility from the current
    * parameters, which depends only on the pair's agreement PATTERN)
    * / M (count-weighted parameter re-estimates). Returns one row per
    * comparator: `(comparator, m, u, agree_weight, disagree_weight,
    * lam)` with the final log-likelihood-ratio weights (`ln(m/u)`,
    * `ln((1−m)/(1−u))`, rounded to 6) ready to feed [[fellegiSunter]].
    *
    * Determinism/replayability: the E-step responsibility is computed
    * once per distinct agreement pattern (≤ 2^k rows); it is
    * quantized to an INTEGER micro-weight `W = ⌊w·10¹² + ½⌋` and all
    * M-step sums run over exact integers (BigInt here, HUGEINT in a
    * SQL replay) — order-free — so a single float division, 12-dp
    * rounding and an [1e-6, 1−1e-6] clamp per parameter per iteration
    * reproduce bit-identically in any engine. A degenerate collapse
    * (all W rounding to 0) would NaN out; the clamp on λ and sane
    * starts make this unreachable on non-empty input.
    *
    * Scale shape: ONE combinable aggregation over the blocked pairs
    * (groupBy the k agreement flags) reduces the corpus to ≤ 2^k
    * pattern counts; the EM loop is driver-side arithmetic on that
    * metadata — the same bounded-collect contract as k-means
    * centroids. The pair table is scanned exactly once regardless of
    * `iters`.
    */
  def estimateMU(pairs: DataFrame, agreeCols: Seq[String], iters: Int,
      lambda0: Double = 0.1, m0: Double = 0.9, u0: Double = 0.1)
      : DataFrame = {
    require(agreeCols.nonEmpty && agreeCols.size <= 12,
      "1..12 comparator columns (pattern space is 2^k)")
    require(iters >= 1, "need at least one EM iteration")
    val k = agreeCols.size
    val spark = pairs.sparkSession
    import spark.implicits._
    val pats = pairs
      .groupBy(agreeCols.map(c =>
        coalesce(col(c).cast("boolean"), lit(false))): _*)
      .count().collect()
      .map(r => (Array.tabulate(k)(i => r.getBoolean(i)), r.getLong(k)))
    require(pats.nonEmpty, "no candidate pairs")
    val eps = 1e-6
    def clamp(x: Double) = math.min(math.max(x, eps), 1 - eps)
    var lam = lambda0
    val m = Array.fill(k)(m0)
    val u = Array.fill(k)(u0)
    for (_ <- 0 until iters) {
      // E: integer micro-responsibility per pattern
      val withW = pats.map { case (g, c) =>
        var pm = lam
        var pu = 1 - lam
        var i = 0
        while (i < k) {
          pm *= (if (g(i)) m(i) else 1 - m(i))
          pu *= (if (g(i)) u(i) else 1 - u(i))
          i += 1
        }
        (g, c, math.floor(pm / (pm + pu) * 1e12 + 0.5).toLong)
      }
      // M: exact integer sums, then one float division per parameter
      val sumC = withW.map(p => BigInt(p._2)).sum
      val sumCW = withW.map(p => BigInt(p._2) * p._3).sum
      val sumCnW = withW.map(p => BigInt(p._2) * (1000000000000L - p._3)).sum
      lam = clamp(roundAt(
        sumCW.toDouble / (sumC.toDouble * 1e12), 1e12))
      for (i <- 0 until k) {
        val cwg = withW.filter(_._1(i)).map(p => BigInt(p._2) * p._3).sum
        val cnwg = withW.filter(_._1(i))
          .map(p => BigInt(p._2) * (1000000000000L - p._3)).sum
        m(i) = clamp(roundAt(cwg.toDouble / sumCW.toDouble, 1e12))
        u(i) = clamp(roundAt(cnwg.toDouble / sumCnW.toDouble, 1e12))
      }
    }
    agreeCols.zipWithIndex.map { case (c, i) =>
      (c, m(i), u(i),
        roundAt(math.log(m(i) / u(i)), 1e6),
        roundAt(math.log((1 - m(i)) / (1 - u(i))), 1e6),
        lam)
    }.toDF("comparator", "m", "u", "agree_weight", "disagree_weight", "lam")
  }

  /** Reciprocal-best-match 1:1 assignment over scored candidate pairs
    * — the deduplicating step after [[fellegiSunter]]: a pair survives
    * iff it is simultaneously the best-scoring partner for its LEFT id
    * and for its RIGHT id (ties broken deterministically by ascending
    * partner id), so no id appears twice in the output. This is the
    * standard mutual-best heuristic (Splink's
    * `unique matching`-style post-pass, reciprocal best hits in
    * bioinformatics): greedy-stable, deterministic, and one pass —
    * not a maximum-weight matching (which is inherently sequential);
    * unmatched ids simply emit no row.
    *
    * Scale shape: two `row_number` windows over the pair set, keyed by
    * either id. The `rank = 1` filters push a partial WindowGroupLimit
    * below each exchange (Spark 4), so each shuffle moves only
    * per-key top rows, and the pair set itself is already
    * blocking-bounded.
    */
  def oneToOne(pairs: DataFrame, leftId: String, rightId: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wl = Window.partitionBy(leftId)
      .orderBy(col(scoreCol).desc, col(rightId).asc)
    val wr = Window.partitionBy(rightId)
      .orderBy(col(scoreCol).desc, col(leftId).asc)
    pairs
      .withColumn("__rl", row_number().over(wl))
      .withColumn("__rr", row_number().over(wr))
      .where(col("__rl") === 1 && col("__rr") === 1)
      .drop("__rl", "__rr")
  }

  /** Blocking-scheme quality report — the two numbers every record-
    * linkage methodology (Christen, "Data Matching" 2012, ch. 7)
    * demands BEFORE trusting a blocked comparison like
    * [[fellegiSunter]]'s: REDUCTION RATIO
    * `RR = 1 − |candidates| / (|L|·|R|)` (how much of the quadratic
    * comparison space the blocking prunes) and PAIR COMPLETENESS
    * `PC = |true ∩ candidates| / |true|` (how many true matches
    * survive the pruning — the blocking's recall). Truth is id
    * equality (`leftId = rightId` values). Emits one row
    * `(n_left, n_right, n_candidates, reduction_ratio, n_true,
    * n_retained, pair_completeness)` (6dp).
    *
    * Scale shape: the candidate COUNT is computed from per-block
    * count statistics (`Σ_b nL_b·nR_b` over the block-stats join) —
    * the pair set itself is NEVER materialized, so the report costs
    * two grouped counts and a slim id-equi join no matter how bad
    * the blocking is; `n_retained` compares block keys INSIDE the
    * truth join (no second pair scan).
    */
  def blockingQuality(left: DataFrame, right: DataFrame,
      blockKeys: Seq[String], leftId: String, rightId: String): DataFrame = {
    require(blockKeys.nonEmpty, "need blocking keys")
    val lStats = left.groupBy(blockKeys.map(col): _*)
      .agg(count(lit(1)).as("__nl"))
    val rStats = right.groupBy(blockKeys.map(col): _*)
      .agg(count(lit(1)).as("__nr"))
    val cand = lStats.join(rStats, blockKeys)
      .agg(coalesce(sum(col("__nl") * col("__nr")), lit(0L))
        .as("n_candidates"))
    val nL = left.agg(count(lit(1)).as("n_left"))
    val nR = right.agg(count(lit(1)).as("n_right"))
    val lKeyed = left.select(col(leftId).as("__id") +:
      blockKeys.map(k => col(k).as(s"__l_$k")): _*)
    val rKeyed = right.select(col(rightId).as("__id") +:
      blockKeys.map(k => col(k).as(s"__r_$k")): _*)
    val sameBlock = blockKeys
      .map(k => col(s"__l_$k") <=> col(s"__r_$k"))
      .reduce(_ && _)
    val truth = lKeyed.join(rKeyed, Seq("__id"))
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(when(sameBlock, 1L).otherwise(0L)), lit(0L))
          .as("n_retained"))
    nL.crossJoin(nR).crossJoin(cand).crossJoin(truth)
      .select(col("n_left"), col("n_right"), col("n_candidates"),
        round(lit(1d) - col("n_candidates").cast("double") /
          (col("n_left").cast("double") * col("n_right").cast("double")), 6)
          .as("reduction_ratio"),
        col("n_true"), col("n_retained"),
        when(col("n_true") > 0L,
          round(col("n_retained").cast("double") / col("n_true"), 6))
          .as("pair_completeness"))
  }
}

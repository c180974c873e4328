package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Dataset-mixture sampling: rebalance a corpus across its sources
  * (domains) with *data-dependent*, deterministic keep-rates — the
  * "domain mixing" stage of a training-data pipeline (cf. The Pile /
  * DoReMi-style mixture weighting), where each source's sampling rate
  * is computed from its measured size rather than fixed up front.
  *
  * Determinism: membership is `md5(id) mod 1e6 < threshold`, so the
  * same row keeps/drops on any engine, any partitioning, any run —
  * the property `rand()`-based sampling lacks (and the DuckDB oracle
  * replays exactly). Thresholds are integer bucket counts computed
  * with double floor, identical IEEE arithmetic in any engine.
  */
object Mixture {

  private val Buckets = 1000000L

  /** Per-group keep-rate thresholds targeting `weight(group) ·
    * targetRows` rows per group (capped at the group's actual count).
    * Input: the corpus and a target share per group value; groups
    * absent from `weights` get weight 0 (dropped).
    */
  def thresholds(df: DataFrame, groupCol: String,
      weights: Map[String, Double], targetRows: Long): DataFrame = {
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    val total = weights.values.sum
    require(total > 0, "weights must not all be zero")
    val session = df.sparkSession
    import session.implicits._
    val w = weights.toSeq.toDF(groupCol, "_w")
    df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
      .join(broadcast(w), Seq(groupCol), "left")
      .select(col(groupCol),
        col("_n"),
        floor(least(
          coalesce(col("_w"), lit(0d)) / total * targetRows / col("_n"), lit(1d))
          * Buckets).cast("long").as("_thr"))
  }

  /** Downsample every group to (at most) the target implied by
    * `weights` over `targetRows` total rows. The threshold table is a
    * tiny per-group aggregate that broadcasts; the data-side pass is a
    * single filter — no shuffle of the payload at any scale.
    */
  def sampleToMixture(df: DataFrame, idCol: String, groupCol: String,
      weights: Map[String, Double], targetRows: Long): DataFrame =
    df.join(broadcast(thresholds(df, groupCol, weights, targetRows)), Seq(groupCol))
      .where(pmod(md5Long(col(idCol)), lit(Buckets)) < col("_thr"))
      .drop("_n", "_thr")

  /** Balance the corpus: downsample every group to the size of the
    * smallest group (uniform mixture), deterministically. Rows with a
    * NULL group are dropped (the equi-join on the group key is
    * null-rejecting) — route unattributed rows to a sentinel group
    * first if they must survive. Equivalent
    * to `sampleToMixture` with equal weights and `targetRows =
    * nGroups · min(count)`, but computed directly from the group
    * counts so no caller-side count is needed.
    */
  def balance(df: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
    val minc = counts.agg(min("_n").as("_min"))
    val thr = counts.crossJoin(broadcast(minc))
      .select(col(groupCol),
        floor(col("_min").cast("double") / col("_n") * Buckets)
          .cast("long").as("_thr"))
    df.join(broadcast(thr), Seq(groupCol))
      .where(pmod(md5Long(col(idCol)), lit(Buckets)) < col("_thr"))
      .drop("_thr")
  }

  /** Temperature-scaled mixture weights (the multilingual-sampling /
    * DoReMi-adjacent recipe): measure each group's token share
    * `p_raw = tokens_g / Σ tokens`, flatten it with a temperature
    * exponent `p_temp ∝ p_raw^alpha` (alpha < 1 upweights small
    * sources, alpha = 1 is proportional), and report the implied
    * epochs-per-source at a given token `budget`
    * (`epochs = p_temp · budget / tokens_g` — how many times a source
    * repeats if the sampler draws `budget` tokens from this mixture).
    *
    * Scale shape: one map-side-combinable token-count aggregate over
    * the corpus; everything after operates on the groups-sized
    * metadata table (a broadcast-joined pair of tiny aggregates). The
    * payload is never shuffled.
    */
  def temperatureWeights(df: DataFrame, textCol: String, groupCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val counts = df.groupBy(groupCol)
      .agg(sum(size(tokens(col(textCol))).cast("long")).as("n_tokens"))
    val totals = counts.agg(
      sum("n_tokens").cast("double").as("_tot"),
      sum(pow(col("n_tokens").cast("double"), alpha)).as("_zn"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_raw", col("n_tokens") / col("_tot"))
      // p_temp = p_raw^alpha / Σ p_raw^alpha; the Σ folds the 1/totᵅ
      // factor out, so tokensᵅ / Σ tokensᵅ is the same quotient with
      // fewer roundings — and the form the oracle replays
      .withColumn("p_temp", pow(col("n_tokens").cast("double"), alpha) / col("_zn"))
      .select(col(groupCol), col("n_tokens"),
        round(col("p_raw"), 6).as("p_raw"),
        round(col("p_temp"), 6).as("p_temp"),
        round(col("p_temp") * budget / col("n_tokens"), 4).as("epochs"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, *Data Selection
    * for Language Models via Importance Resampling*): score every raw
    * document by how much more likely its bag of hashed n-gram
    * features is under a target-domain model than under the raw-corpus
    * model — `log w(x) = Σ_f c_f(x) · (log p_tgt(f) − log p_raw(f))`
    * with unigram+bigram features hashed into `buckets` buckets and
    * add-one-smoothed bucket probabilities `p(f) = (c_f+1)/(N+B)`.
    * The hash is [[md5Long]], so any engine replays the bucketing.
    * Output: one row per raw document with features —
    * (`idCol`, `n_feats`, `log_weight`), log_weight unrounded.
    *
    * Scale shape: both bucket-count models are map-side-combinable
    * aggregates collapsing to ≤`buckets` rows (metadata-scale,
    * broadcast); the raw side aggregates per-(doc, bucket) first —
    * bounded by `buckets` per doc — then joins the broadcast ratio
    * table and folds to one row per doc. The corpus shuffles only
    * doc-bucket counts, never text.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      textCol: String, idCol: String, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketed(df: DataFrame, id: Column): DataFrame =
      df.select(id.as("_id"), tokens(col(textCol)).as("_t"))
        .select(col("_id"),
          concat(col("_t"), wordShingles(col("_t"), 2)).as("_g"))
        .select(col("_id"), explode(col("_g")).as("_gram"))
        .select(col("_id"),
          pmod(md5Long(col("_gram")), lit(buckets.toLong)).as("_f"))
    // the per-doc bucket counts feed BOTH the raw model and the final
    // scoring join — persisted into the caller's scope so
    // the corpus is tokenized/exploded once, not twice
    val docFeats = Caches.persist(
      bucketed(raw, col(idCol).cast("long"))
        .groupBy("_id", "_f").agg(count(lit(1)).cast("long").as("_c")))
    val rawBuckets = docFeats.groupBy("_f")
      .agg(sum("_c").as("_cr"))
    // ≤buckets rows, but building it costs a target-corpus pass and
    // it feeds both the ratio join and the totals — persist likewise
    val tgtBuckets = Caches.persist(
      bucketed(target, lit(0L)).groupBy("_f")
        .agg(count(lit(1)).cast("long").as("_ct")))
    // the two models joined over buckets present on either side; the
    // totals ride a 1-row broadcast cross (the termDrift shape)
    val totals = rawBuckets.agg(sum("_cr").cast("double").as("_nr"))
      .crossJoin(tgtBuckets.agg(sum("_ct").cast("double").as("_nt")))
    val ratio = tgtBuckets.join(rawBuckets, Seq("_f"), "full")
      .crossJoin(broadcast(totals))
      .select(col("_f"),
        (log((coalesce(col("_ct"), lit(0L)) + 1) / (col("_nt") + buckets)) -
         log((coalesce(col("_cr"), lit(0L)) + 1) / (col("_nr") + buckets)))
          .as("_lr"))
    docFeats.join(broadcast(ratio), Seq("_f"))
      .groupBy(col("_id").as(idCol))
      .agg(sum("_c").cast("long").as("n_feats"),
        sum(col("_c") * col("_lr")).as("log_weight"))
  }

  /** DSIR selection: the Gumbel-top-k over [[importanceWeights]] —
    * sampling k docs ∝ their importance weights without replacement is
    * exactly top-k by `log w(x) + Gumbel(0,1)` (the Gumbel-max trick,
    * the paper's §2.2 sampling rule). The noise is md5-deterministic
    * (`u = (md5(id) mod 1e6 + 0.5)/1e6`, `g = −ln(−ln u)`), so the
    * draw replays on any engine. Output adds the perturbed `score`,
    * ordered best-first, limited to `k` (top-k truncates map-side —
    * TakeOrdered, no full sort at scale).
    */
  def dsirSample(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, k: Int, buckets: Int = 256): DataFrame = {
    val u = (pmod(md5Long(col(idCol)), lit(Buckets)).cast("double") + 0.5) /
      Buckets.toDouble
    importanceWeights(raw, target, textCol, idCol, buckets)
      .withColumn("score", col("log_weight") + -log(-log(u)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Token-budget mixture sampling — the token-weighted form of
    * [[sampleToMixture]]: per group, keep the deterministic
    * priority-prefix of documents (ordered by `md5(id)`, ties by id)
    * whose running token count starts below `budget` — i.e. fill each
    * group's token budget greedily in a reproducible shuffle order,
    * overshooting by at most one document.
    *
    * Scale shape: the prefix needs a per-group running sum, but a
    * per-group window would serialize each group into one task (the
    * r3 percentiles lesson). Instead the 60-bit priority is cut into
    * `buckets` order-preserving ranges (high bits), so:
    * (1) per-(group, bucket) token sums — one map-side-combinable
    * aggregate producing a groups×buckets METADATA-scale table;
    * (2) bucket start offsets — a window over that tiny table;
    * (3) the within-bucket running sum — a window whose partitions are
    * `group/buckets` sized. Fully declarative, no driver collect.
    * Output: one row per kept document (original columns).
    */
  def sampleToTokenBudget(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, budget: Long, buckets: Int = 256): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two")
    import org.apache.spark.sql.expressions.Window
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val slim = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
        size(tokens(col(textCol))).cast("long").as("_n"),
        md5Long(col(idCol)).as("_prio"))
      .withColumn("_bucket", shiftright(col("_prio"), shift))
    // (2): exclusive prefix of bucket sums, per group — tiny table
    val wb = Window.partitionBy("_g").orderBy("_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = slim.groupBy("_g", "_bucket").agg(sum("_n").as("_bn"))
      .withColumn("_off", coalesce(sum("_bn").over(wb), lit(0L)))
      .drop("_bn")
    // (3): within-bucket running sum + bucket offset = global start
    val ww = Window.partitionBy("_g", "_bucket").orderBy("_prio", "_id")
    val kept = slim.join(broadcast(offsets), Seq("_g", "_bucket"))
      .withColumn("_start", col("_off") + sum("_n").over(ww) - col("_n"))
      .where(col("_start") < budget)
      .select(col("_g").as(groupCol), col("_id").as(idCol))
    df.join(kept, Seq(groupCol, idCol), "left_semi")
  }

  /** Exact-count stratified split: within every stratum, allocate rows
    * to the named splits in EXACTLY the proportions `num_i / den`
    * (integer rational, Σ num_i = den) using largest-remainder
    * (Hamilton) apportionment — `base_i = ⌊n·num_i/den⌋`, and the
    * `n − Σ base_i` leftover rows go to the splits with the largest
    * remainders (ties by declaration order). Rows are then dealt by
    * their deterministic md5 rank within the stratum, so the
    * assignment is reproducible on any engine and the split sizes are
    * exact integers, not hash expectations — the eval-set contract
    * ([[graft.operators.TextAnalysis.splitAssign]] / q66 only promises
    * proportions in expectation; a 500-doc test set that comes out 463
    * is a real problem at eval time). Emits `(idCol, stratumCol,
    * split)`.
    *
    * Scale shape: the apportionment runs on the strata × splits
    * metadata table (windows over k rows per stratum). The per-stratum
    * data rank is the bucketed-prefix decomposition (the
    * [[sampleToTokenBudget]] idiom): md5-high-bit buckets →
    * per-(stratum, bucket) counts → exclusive prefix over the TINY
    * bucket table → within-bucket `row_number` — never a monolithic
    * per-stratum window, so a giant stratum parallelizes across
    * `buckets` tasks. Assignment is an equi-join on the stratum
    * against the k-rows-per-stratum bounds table (AQE broadcasts it
    * when strata cardinality keeps it small) plus a row-local range
    * test.
    */
  def exactStratifiedSplit(df: DataFrame, idCol: String, stratumCol: String,
      splits: Seq[(String, Long)], den: Long, buckets: Int = 256): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0),
      "split shares must be non-negative")
    require(splits.map(_._2).sum == den,
      s"split shares ${splits.map(_._2)} must sum to den=$den")
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val slim = df.select(col(stratumCol).as("_g"), col(idCol).as("_id"),
        md5Long(col(idCol)).as("_prio"))
      .withColumn("_bucket", shiftright(col("_prio"), shift))
    // ---- apportionment on the metadata table ----
    val counts = slim.groupBy("_g").agg(count(lit(1)).as("_n"))
    val splitsDf = splits.zipWithIndex
      .map { case ((name, num), i) => (i, name, num) }
      .toDF("_i", "split", "_num")
    val wRem = Window.partitionBy("_g")
      .orderBy(col("_rem").desc, col("_i").asc)
    val wCum = Window.partitionBy("_g").orderBy("_i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = counts.crossJoin(broadcast(splitsDf))
      .withColumn("_base", expr(s"(_n * _num) div $den"))
      .withColumn("_rem", pmod(col("_n") * col("_num"), lit(den)))
      .withColumn("_extra",
        expr(s"(sum(_rem) over (partition by _g)) div $den"))
      .withColumn("_alloc",
        col("_base") +
          when(row_number().over(wRem) <= col("_extra"), 1L).otherwise(0L))
      .withColumn("_hi", sum("_alloc").over(wCum))
      .select(col("_g"), col("split"),
        (col("_hi") - col("_alloc")).as("_lo"), col("_hi"))
    // ---- bucketed-prefix per-stratum rank (0-based) ----
    val wb = Window.partitionBy("_g").orderBy("_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = slim.groupBy("_g", "_bucket")
      .agg(count(lit(1)).as("_bn"))
      .withColumn("_off", coalesce(sum("_bn").over(wb), lit(0L)))
      .drop("_bn")
    val ww = Window.partitionBy("_g", "_bucket").orderBy("_prio", "_id")
    val ranked = slim.join(broadcast(offsets), Seq("_g", "_bucket"))
      .withColumn("_r", col("_off") + row_number().over(ww) - 1)
    ranked.join(bounds, Seq("_g"))
      .where(col("_r") >= col("_lo") && col("_r") < col("_hi"))
      .select(col("_id").as(idCol), col("_g").as(stratumCol), col("split"))
  }

  /** Serpentine (boustrophedon) shard assignment — the static
    * load-balancing pass that splits a corpus into `nShards` training
    * shards with near-equal total weight (token counts, byte sizes):
    * rows are ranked by (weight desc, id asc) and dealt in snaking
    * rounds — round 0 deals shards 0..n−1, round 1 deals n−1..0, … —
    * so every shard receives one row per round and the heavy/light
    * alternation cancels the sorted drift (the classic
    * sorted-greedy/LPT approximation, exact-deterministic instead of
    * heap-driven). Returns the per-row assignment:
    * `(idCol, weightCol, rank, shard)` with 0-based dense rank.
    *
    * Scale shape: the global rank is the two-phase distributed
    * ordinal (range-repartition on the sort key → per-partition
    * row_number + broadcast partition-count offsets) — NEVER a
    * one-partition global window. The output rank depends only on
    * the total order (weight desc, id), not on where the range
    * partitioner happens to cut, so the assignment is deterministic
    * on any cluster layout.
    */
  def serpentineShards(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, "need at least one shard")
    val spark = df.sparkSession
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    val sorted = df
      .select(col(idCol), col(weightCol))
      .repartitionByRange(parts, col(weightCol).desc, col(idCol).asc)
      .withColumn("__pid", spark_partition_id())
    val offsets = sorted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__off")
    val inPart = Window.partitionBy("__pid")
      .orderBy(col(weightCol).desc, col(idCol).asc)
    val ranked = sorted
      .withColumn("__rn", row_number().over(inPart).cast("long") - 1L)
      .join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__off") + col("__rn"))
    val round = (col("rank") / nShards).cast("long")
    val pos = col("rank") % nShards
    ranked
      .withColumn("shard",
        when(round % 2 === 0, pos).otherwise(lit(nShards - 1) - pos).cast("int"))
      .select(col(idCol), col(weightCol), col("rank"), col("shard"))
  }

  /** Per-shard manifest over [[serpentineShards]]: doc/weight totals
    * and `balance` = shard weight / ideal (total/n) — the number a
    * shard writer checks before declaring the layout fit to train on.
    * One combinable aggregate over the assignment; the grand total
    * rides a 1-row broadcast.
    */
  def shardManifest(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int): DataFrame = {
    val assigned = serpentineShards(df, idCol, weightCol, nShards)
    val perShard = assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("total_weight"))
    val total = perShard.agg(sum("total_weight").cast("double").as("__t"))
    perShard.crossJoin(broadcast(total))
      .withColumn("balance",
        round(col("total_weight") / (col("__t") / nShards), 4))
      .select("shard", "n_docs", "total_weight", "balance")
  }

  /** Per-group weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES): each row draws a deterministic
    * pseudo-uniform u = md5("ws:" ‖ id)/2⁶⁰ and competes on the key
    * ln(u)/w — taking the k LARGEST keys per group is distributionally
    * identical to sequential weighted draws without replacement, but
    * embarrassingly parallel. `rand()` would give an irreproducible
    * sample; the md5 draw replays bit-for-bit on any engine.
    *
    * Scale: key computation is map-side; the per-group top-k is a
    * `row_number ≤ k` window that Spark plans with a partial
    * WindowGroupLimit BELOW the exchange, so the shuffle carries at
    * most k rows per (partition, group) — the corpus never
    * materializes sorted. Rows with non-positive weight are excluded
    * (they'd get −∞/undefined keys).
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = md5Long(concat_ws(":", lit("ws"), col(idCol).cast("string")))
      .cast("double") / lit(1152921504606846976.0d) // 2^60
    val keyed = df.where(col(weightCol) > 0)
      .withColumn("__key", log(u) / col(weightCol).cast("double"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__key").desc, col(idCol).asc)
    keyed.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .withColumn("sample_key", round(col("__key"), 6))
      .drop("__key")
  }

  /** Neyman (optimal) sample-allocation across strata: for a total
    * sample budget `B`, allocate `B·(N_h·σ_h)/Σ(N_h·σ_h)` to stratum
    * `h` — the allocation minimizing the variance of the stratified
    * mean estimator (big, heterogeneous strata get more samples;
    * uniform strata need few however large). σ is the population sd
    * of `metric` from integer sums (`Σx, Σx², n`). Emits
    * `(groupCol, n_h, sd, alloc, rate)`.
    *
    * Scale shape: one combinable 3-sum aggregate per stratum; the
    * Σ(N·σ) normalizer is a one-row broadcast.
    */
  def neymanAllocation(df: DataFrame, groupCol: String, metric: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val stats = df.groupBy(groupCol).agg(
      count(lit(1)).as("n_h"),
      sum(metric.cast("long")).as("__s"),
      sum(metric.cast("long") * metric.cast("long")).as("__s2"))
      .withColumn("__mu", col("__s").cast("double") / col("n_h"))
      .withColumn("__sd",
        sqrt(greatest(col("__s2").cast("double") / col("n_h")
          - col("__mu") * col("__mu"), lit(0d))))
      .withColumn("__w", col("n_h") * col("__sd"))
    val tot = stats.agg(sum("__w").as("__tw"))
    stats.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_h"),
        round(col("__sd"), 6).as("sd"),
        round(when(col("__tw") > 0, lit(budget.toDouble) * col("__w") / col("__tw"))
          .otherwise(lit(0d)), 4).as("alloc"),
        round(when(col("__tw") > 0,
          lit(budget.toDouble) * col("__w") / col("__tw") / col("n_h"))
          .otherwise(lit(0d)), 6).as("rate"))
  }

  /** Water-filling token-budget allocation across sources: split a
    * global token budget `B` proportionally to temperature weights
    * `w_s = n_sᵅ` but never allocate a source more tokens than it HAS
    * — the exact solve of `a_s = min(n_s, λ·w_s)` with `Σ a_s = B`,
    * the allocation a mixture planner actually needs once small
    * sources saturate (plain proportional weights over-assign them
    * and silently under-fill the budget). Classic waterfill: sources
    * sorted by saturation ratio `n_s/w_s` cap in prefix order; the
    * level λ is determined by the largest prefix `j` whose ratio is
    * under the level implied by capping that prefix —
    * `n_j·(W − ΣW_j) ≤ w_j·(B − ΣN_j)` — and the remainder splits
    * proportionally. If `B ≥ Σn` every source caps. Emits
    * `(groupCol, n_tokens, weight, alloc, rate)`; Σ alloc = min(B, Σn)
    * up to float rounding.
    *
    * Scale shape: one map-side-combinable token count per source;
    * everything after (sort window, prefix sums, the λ fold, the
    * final projection) runs on the |sources| metadata table.
    */
  def waterfillAllocation(df: DataFrame, textCol: String, groupCol: String,
      budget: Long, alpha: Double = 0.5): DataFrame = {
    require(budget > 0 && alpha > 0, "budget and alpha must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(groupCol)
      .agg(sum(size(tokens(col(textCol))).cast("long")).as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("__w", pow(col("n_tokens").cast("double"), alpha))
    val totW = counts.agg(sum("__w").as("__totw"))
    val w = Window.orderBy(
      (col("n_tokens") / col("__w")).asc, col(groupCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = counts.crossJoin(broadcast(totW))
      .withColumn("__rk", row_number().over(Window.orderBy(
        (col("n_tokens") / col("__w")).asc, col(groupCol).asc)))
      .withColumn("__cn", sum("n_tokens").over(w))
      .withColumn("__cw", sum("__w").over(w))
      .withColumn("__capped",
        col("n_tokens") * (col("__totw") - col("__cw"))
          <= col("__w") * (lit(budget.toDouble) - col("__cn")))
    val level = ranked.agg(
      max(when(col("__capped"), col("__rk"))).as("__jstar"),
      max(when(col("__capped"), col("__cn"))).as("__cnj"),
      max(when(col("__capped"), col("__cw"))).as("__cwj"),
      max("__totw").as("__wtot"))
      .select(coalesce(col("__jstar"), lit(0)).as("__jstar"),
        // every source capped (B ≥ Σn) leaves a 0 denominator; λ is
        // unused then, but ANSI mode still evaluates it — guard to 0
        when(col("__wtot") - coalesce(col("__cwj"), lit(0d)) > 0,
          (lit(budget.toDouble) - coalesce(col("__cnj"), lit(0L)))
            / (col("__wtot") - coalesce(col("__cwj"), lit(0d))))
          .otherwise(lit(0d)).as("__lambda"))
    ranked.crossJoin(broadcast(level))
      .withColumn("__alloc",
        when(col("__rk") <= col("__jstar"), col("n_tokens").cast("double"))
          .otherwise(col("__lambda") * col("__w")))
      .select(col(groupCol), col("n_tokens"),
        round(col("__w"), 6).as("weight"),
        round(col("__alloc"), 4).as("alloc"),
        round(col("__alloc") / col("n_tokens"), 6).as("rate"))
  }

  /** UniMax epoch-capped budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining"): split a training budget
    * `B = budgetFrac · Σ n_g` uniformly across groups (languages),
    * except no group may be sampled past `maxEpochs` passes over its
    * own data. The closed form is a uniform waterfill against caps
    * `c_g = maxEpochs · n_g`: processing groups by ascending cap,
    * group i (of k) is capped iff `c_i·(k−i+1) + Σ_{j<i} c_j ≤ B`
    * (capped groups form a prefix — once the uniform share exceeds a
    * cap it exceeds every smaller cap), and the uncapped remainder
    * splits the leftover budget evenly. The head language ends up
    * UNDER one epoch while tail languages repeat up to the cap — the
    * UniMax shape, vs [[waterfillAllocation]]'s α-power-weighted
    * shares capped at one epoch. If `B ≥ Σc` every group caps and the
    * surplus budget goes unallocated (there is nothing left to
    * sample). Emits `(groupCol, n_weight, capped, alloc, epochs)`.
    *
    * Scale shape: one map-side-combinable weight sum per group; the
    * rank/prefix windows and the capped-prefix fold all run on the
    * |groups| metadata relation (unpartitioned windows are bounded by
    * group cardinality, never corpus rows).
    */
  def unimaxAllocation(df: DataFrame, groupCol: String, weight: Column,
      budgetFrac: Double, maxEpochs: Double): DataFrame = {
    require(budgetFrac > 0 && maxEpochs > 0,
      "budgetFrac and maxEpochs must be positive")
    import org.apache.spark.sql.expressions.Window
    val sizes = df.groupBy(groupCol)
      .agg(sum(weight.cast("long")).as("n_weight"))
      .where(col("n_weight") > 0)
    val tot = sizes.agg(sum("n_weight").as("__tot"),
      count(lit(1)).as("__k"))
    val ord = Window.orderBy(col("__cap").asc, col(groupCol).asc)
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = sizes.crossJoin(broadcast(tot))
      .withColumn("__cap", col("n_weight") * lit(maxEpochs))
      .withColumn("__budget", col("__tot") * lit(budgetFrac))
      .withColumn("__i", row_number().over(ord))
      .withColumn("__pre", coalesce(sum("__cap").over(pre), lit(0d)))
      .withColumn("__capped",
        col("__cap") * (col("__k") - col("__i") + 1) + col("__pre")
          <= col("__budget"))
    val level = ranked.agg(
      coalesce(sum(when(col("__capped"), col("__cap"))), lit(0d)).as("__csum"),
      sum(when(col("__capped"), lit(1L)).otherwise(lit(0L))).as("__m"))
    ranked.crossJoin(broadcast(level))
      .withColumn("__alloc",
        when(col("__capped"), col("__cap"))
          .otherwise((col("__budget") - col("__csum"))
            / (col("__k") - col("__m"))))
      .select(col(groupCol), col("n_weight"), col("__capped").as("capped"),
        round(col("__alloc"), 4).as("alloc"),
        round(col("__alloc") / col("n_weight"), 6).as("epochs"))
  }
}

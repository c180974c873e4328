package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Evaluation metrics a curation / retrieval pipeline runs on itself:
  * ranking quality (nDCG / MRR / precision@k) for the BM25 retriever,
  * classifier discrimination (ROC AUC) and calibration (reliability
  * bins + ECE) for the quality scorer. All statistics reduce to
  * integer-count arithmetic wherever possible so the DuckDB oracles
  * replay them exactly; the only floats are final ratios and the
  * ln-discount terms of DCG (bounded sums of ≤ depth values, rounded).
  */
object Eval {

  /** Multi-query BM25 ranking evaluation against term-derived graded
    * relevance. For each `(query_id, terms)` pair, score the corpus
    * with BM25 (Robertson idf, k1/b as [[TextAnalysis.bm25]]), rank
    * the top `depth` docs, and grade relevance as
    * `rel = (#distinct query terms present) − 1` clamped at 0 — a doc
    * must hit ≥ 2 distinct terms to count as relevant, so the metrics
    * are non-trivial even though every BM25 candidate matches ≥ 1.
    *
    * Emits one row per query:
    * `(query_id, n_ranked, dcg, idcg, ndcg, mrr, precision_at_k)`.
    * DCG uses the natural-log discount `(2^rel − 1)/ln(pos+1)`; nDCG
    * is base-invariant, and dcg/idcg are reported in that base.
    *
    * Scale shape: ONE corpus pass — the token explode joins the
    * broadcast (query_id, term) list immediately, so the shuffle
    * carries only matching (query, doc, term) pairs; per-(query,term)
    * document frequencies and the (N, avgdl) row broadcast back. The
    * rank filter `rn ≤ depth` over the per-query window compiles to a
    * partial WindowGroupLimit (map-side top-k below the exchange), so
    * no executor ever sorts more than `depth` survivors per query.
    * The ideal-DCG ranking never materializes a sort at all: graded
    * relevance has ≤ 4 levels, so IDCG is reconstructed from per-grade
    * counts, exploding only the ≤ k positions that contribute.
    */
  def rankingEval(df: DataFrame, textCol: String, idCol: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10, depth: Int = 100,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query with at least one term")
    val spark = df.sparkSession
    import spark.implicits._

    val qterms = broadcast(
      queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
        .toDF("query_id", "term"))
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("_t"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("_t")).cast("double")).as("avgdl"))

    // one corpus pass: explode → broadcast-join the query term list
    val hits = toks
      .select(col("doc_id"), size(col("_t")).cast("double").as("dl"),
        explode(col("_t")).as("term"))
      .join(qterms, "term")
      .groupBy("query_id", "doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))
    val hitsP = Caches.persist(hits)

    val dfreq = hitsP.groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = hitsP.join(broadcast(dfreq), Seq("query_id", "term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * col("tf") * lit(k1 + 1)
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(sum("_s").as("_bm25"), count(lit(1)).cast("int").as("_nterms"))
    val scoredP = Caches.persist(
      scored.withColumn("rel", greatest(col("_nterms") - 1, lit(0))))

    // ranked top-depth per query (partial WindowGroupLimit)
    val ranked = scoredP
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_bm25").desc, col("doc_id").asc)))
      .where(col("rn") <= depth)
    val gain = pow(lit(2d), col("rel")) - lit(1d)
    val perQuery = ranked.groupBy("query_id").agg(
      count(lit(1)).as("n_ranked"),
      sum(when(col("rn") <= k, gain / log(col("rn") + lit(1d)))
        .otherwise(lit(0d))).as("_dcg"),
      min(when(col("rel") >= 1, col("rn"))).as("_first_rel"),
      sum(when(col("rn") <= k && col("rel") >= 1, 1L).otherwise(0L)).as("_hits_k"))

    // IDCG from corpus-wide grade counts: grade g occupies positions
    // (cum_before, cum_before + n_g]; only positions ≤ k contribute
    val gradeCounts = scoredP.where(col("rel") >= 1)
      .groupBy("query_id", "rel").agg(count(lit(1)).as("ng"))
    val cum = gradeCounts.withColumn("cum_before",
      coalesce(sum("ng").over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ideal = cum
      .where(col("cum_before") < k)
      .select(col("query_id"), col("rel"),
        explode(sequence(col("cum_before") + 1,
          least(col("cum_before") + col("ng"), lit(k.toLong)))).as("pos"))
      .groupBy("query_id")
      .agg(sum((pow(lit(2d), col("rel")) - lit(1d))
        / log(col("pos") + lit(1d))).as("_idcg"))

    perQuery.join(ideal, Seq("query_id"), "left")
      .select(col("query_id"), col("n_ranked"),
        round(col("_dcg"), 6).as("dcg"),
        round(coalesce(col("_idcg"), lit(0d)), 6).as("idcg"),
        round(when(coalesce(col("_idcg"), lit(0d)) > 0,
          col("_dcg") / col("_idcg")).otherwise(lit(0d)), 6).as("ndcg"),
        round(when(col("_first_rel").isNotNull,
          lit(1d) / col("_first_rel")).otherwise(lit(0d)), 6).as("mrr"),
        round(col("_hits_k").cast("double") / k, 6).as("precision_at_k"))
  }

  /** Per-group ROC AUC of a score column against a boolean label,
    * computed EXACTLY from quantized-score counts — the Mann-Whitney
    * statistic with the standard ½-credit tie correction:
    *   AUC = Σ_s pos_s · (2·neg_below(s) + neg_s) / (2·P·N)
    * over ascending distinct scores `s`. The numerator is a pure
    * integer sum, so both engines hit the final division
    * bit-identically — no rank windows over the raw rows and no float
    * accumulation.
    *
    * `scoreQ` should be a quantized (bounded-cardinality) score
    * expression — e.g. a 3-decimal rounding of a [0,1] score — which
    * is what makes this scale: the shuffle carries one row per
    * (group, distinct score), and the cumulative window runs over ≤
    * |distinct scores| rows per group, never over the corpus.
    * Emits `(groupCol, n_pos, n_neg, auc)`.
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreQ: Column,
      label: Column): DataFrame = {
    val counts = df
      .select(col(groupCol), scoreQ.as("_s"), label.cast("boolean").as("_y"))
      .groupBy(groupCol, "_s")
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("_pos"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("_neg"))
    val negBelow = coalesce(
      sum("_neg").over(Window.partitionBy(groupCol).orderBy(col("_s").asc)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    counts
      .withColumn("_nb", negBelow)
      .groupBy(groupCol)
      .agg(sum("_pos").as("n_pos"), sum("_neg").as("n_neg"),
        sum(col("_pos") * (lit(2L) * col("_nb") + col("_neg"))).as("_num"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          col("_num").cast("double")
            / (lit(2d) * col("n_pos") * col("n_neg")))
          .otherwise(lit(0d)), 6).as("auc"))
  }

  /** Calibration (reliability) report for a [0,1] score used as a
    * probability: docs bucket into `bins` equal-width score bins, and
    * each bin reports its size, mean predicted score and empirical
    * positive rate; every row also carries the overall expected
    * calibration error `ECE = Σ_b (n_b/N)·|mean_pred_b − frac_pos_b|`
    * (the weighted reliability-diagram gap). The score is quantized to
    * 6dp BEFORE summation so the per-bin mean is a sum of exact
    * 1e-6-grid rationals — cross-engine identical given the engines
    * agree on the quantized values, which the 6dp grid guarantees for
    * scores computed by identical double expressions.
    *
    * Scale shape: one map-side-combined aggregate to `bins` rows; the
    * ECE fold-up is over those `bins` rows and broadcasts back.
    */
  def calibration(df: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val sq = round(score, 6)
    val bin = least(floor(sq * bins), lit(bins - 1d)).cast("int")
    val perBin = df
      .select(bin.as("bin"),
        // explicit round before the cast: Spark's double→long cast
        // truncates while DuckDB's rounds, so an un-rounded 433332.9999
        // would bucket differently across engines
        round(sq * 1000000).cast("long").as("_sq6"),
        label.cast("boolean").as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum("_sq6").as("_ssum"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("_npos"))
      .withColumn("mean_pred",
        col("_ssum").cast("double") / 1000000d / col("n"))
      .withColumn("frac_pos", col("_npos").cast("double") / col("n"))
    val ece = perBin
      .agg((sum(col("n") * abs(col("mean_pred") - col("frac_pos")))
        / sum("n")).as("_ece"))
    perBin.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"),
        round(col("mean_pred"), 6).as("mean_pred"),
        round(col("frac_pos"), 6).as("frac_pos"),
        round(col("_ece"), 6).as("ece"))
  }

  /** Two-proportion z-test between two user cohorts — the A/B
    * readout: per user, `converted = ∃ row with convPred`; cohorts
    * split by `groupPred` on the user grain; the pooled-variance
    * statistic `z = (p_a − p_b)/√(p̂(1−p̂)(1/n_a + 1/n_b))`. All inputs
    * to the final expression are integer counts. Emits one row:
    * `(n_a, n_b, conv_a, conv_b, p_a, p_b, z)`.
    *
    * Scale shape: one per-user aggregate (map-side combined), one
    * 4-sum fold over users.
    */
  def abTest(df: DataFrame, userCol: String, groupPred: Column,
      convPred: Column): DataFrame = {
    val perUser = df.groupBy(col(userCol))
      .agg(max(when(convPred, 1L).otherwise(0L)).as("__conv"),
        max(when(groupPred, 1L).otherwise(0L)).as("__a"))
    val agg = perUser.agg(
      sum(when(col("__a") === 1, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__a") === 0, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__a") === 1, col("__conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("__a") === 0, col("__conv")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pp = (col("conv_a") + col("conv_b")).cast("double")
      .divide(col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1d) - pp)
      * (lit(1d) / col("n_a") + lit(1d) / col("n_b")))
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(when(col("n_a") > 0 && col("n_b") > 0 && se > 0,
        (pa - pb) / se).otherwise(lit(0d)), 6).as("z"))
  }

  /** Rank agreement between two retrieval rankings (e.g. BM25 vs a
    * language-model scorer): join the two top-`depth` lists on doc id,
    * re-rank each side 1..n WITHIN the intersection (the standard
    * setup for comparing truncated lists), and report
    *   Spearman ρ = 1 − 6·Σd²/(n(n²−1)),
    *   Kendall τ-a = (C − D)/(n(n−1)/2),
    * plus the raw overlap fraction `|∩|/depth`. Both statistics are
    * pure INTEGER arithmetic until the final division — exact
    * cross-engine. Emits one row:
    * `(n_common, overlap_frac, spearman_rho, kendall_tau)`.
    *
    * Inputs are (id, rank) tables — build them with whatever scorer;
    * ranks need not be dense, only order matters. Scale shape: the
    * lists are depth-bounded (metadata-scale), so the re-rank windows,
    * the d² fold and the O(n²) concordance self-join all run on ≤
    * `depth` rows.
    */
  def rankCorrelation(a: DataFrame, b: DataFrame, idCol: String,
      rankColA: String, rankColB: String, depth: Int): DataFrame = {
    val joined = a.select(col(idCol).as("__id"), col(rankColA).as("__ra"))
      .join(b.select(col(idCol).as("__id"), col(rankColB).as("__rb")), "__id")
    val reranked = Caches.persist(joined
      .withColumn("__xa", row_number().over(
        Window.orderBy(col("__ra").asc, col("__id").asc)))
      .withColumn("__xb", row_number().over(
        Window.orderBy(col("__rb").asc, col("__id").asc))))
    val spear = reranked.agg(
      count(lit(1)).as("n_common"),
      sum((col("__xa") - col("__xb")) * (col("__xa") - col("__xb"))).as("__d2"))
    val conc = reranked.as("p").join(reranked.as("q"),
        col("p.__xa") < col("q.__xa"))
      .agg(sum(when(col("q.__xb") > col("p.__xb"), 1L).otherwise(-1L))
        .as("__cd"))
    val n = col("n_common").cast("double")
    spear.crossJoin(conc)
      .select(col("n_common"),
        round(n / depth, 6).as("overlap_frac"),
        round(when(col("n_common") >= 2,
          lit(1d) - lit(6d) * col("__d2") / (n * (n * n - lit(1d))))
          .otherwise(lit(0d)), 6).as("spearman_rho"),
        round(when(col("n_common") >= 2,
          col("__cd") / (n * (n - 1d) / 2d)).otherwise(lit(0d)), 6)
          .as("kendall_tau"))
  }

  /** Quality-ordered selection curve — "keep the best k/10 of the
    * corpus by score: how many tokens do I get?" For each decile k,
    * the score cutoff (ties keep the whole block: the kept set is
    * `score ≥ cutoff` where cutoff is the minimal score whose
    * descending cumulative doc count reaches ⌈k·N/10⌉), the docs and
    * `metric` mass kept, and both as fractions. Selection is decided
    * by the integer test `10·cum ≥ k·N` — exact cross-engine. Emits
    * one row per decile 1..10.
    *
    * Scale shape: one combinable (score → docs, metric) aggregate
    * over the quantized score grid, a cumulative window over that
    * bounded grid, a 10-row broadcast probe.
    */
  def selectionCurve(df: DataFrame, scoreQ: Column,
      metric: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(scoreQ.as("__s"), metric.cast("long").as("__m"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__c"), sum("__m").as("__t"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = counts.agg(sum("__c").as("__n"), sum("__t").as("__mt"))
    val dec = broadcast((1 to 10).toDF("decile"))
    counts
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__ctok", sum("__t").over(w))
      .crossJoin(broadcast(tot))
      .crossJoin(dec)
      .where(col("__cum") * 10 >= col("decile") * col("__n"))
      .groupBy("decile", "__n", "__mt")
      .agg(min(struct(col("__cum"), col("__s"), col("__ctok"))).as("__blk"))
      .select(col("decile"),
        col("__blk.__s").as("cutoff_score"),
        col("__blk.__cum").as("n_docs_kept"),
        col("__blk.__ctok").as("n_tokens_kept"),
        round(col("__blk.__cum").cast("double") / col("__n"), 6).as("doc_frac"),
        round(col("__blk.__ctok").cast("double") / col("__mt"), 6)
          .as("token_frac"))
  }

  /** Poisson(1) cumulative thresholds on the integer 1e-6 grid:
    * w(u) = #{k : cdf(k)·1e6 ≤ u} reproduces Poisson bootstrap weights
    * from a uniform bucket u ∈ [0, 1e6) — capped at 8 (P ≈ 1e-5).
    */
  private val PoissonCuts: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L, 999990L)

  /** DuckDB expression counting [[PoissonCuts]] thresholds ≤ `u` — the
    * oracle-side mirror of the weight fold, kept here so the cut list
    * exists in exactly one place.
    */
  def poissonCutsSql(u: String): String =
    PoissonCuts.map(t => s"($u >= $t)::INT").mkString("(", " + ", ")")

  /** Per-group bootstrap confidence interval for the mean of an
    * INTEGER metric via the Poisson(1) bootstrap (the streaming/
    * map-reduce resampling standard: each replicate reweights every
    * row by an independent Poisson(1) draw, approximating multinomial
    * resampling without materializing samples). Draws are
    * md5-deterministic — replicate r weights row id by inverting the
    * Poisson CDF at the uniform bucket `md5(r:id) mod 1e6` — so any
    * engine replays the exact resample. Each replicate mean is a
    * ratio of two integer sums (exact); the interval is the 2nd and
    * `reps−1`-th order statistics of the `reps` replicate means
    * (≈ 93.75% coverage at reps = 32). Emits one row per group:
    * `(groupCol, n, mean, ci_lo, ci_hi)`.
    *
    * Scale shape: the rep-expansion is a row-local posexplode of a
    * statically-unrolled `reps`-wide weight array feeding a map-side-
    * combined aggregate — the shuffle carries |groups|·reps partial
    * rows, not the corpus; the order statistics sort a `reps`-length
    * array per group.
    */
  def bootstrapCi(df: DataFrame, groupCol: String, idCol: String,
      metric: Column, reps: Int = 32): DataFrame = {
    require(reps >= 4, "need enough replicates for order-statistic bounds")
    def weight(u: Column): Column =
      PoissonCuts.foldLeft(lit(0L)) { (acc, t) =>
        acc + when(u >= t, 1L).otherwise(0L)
      }
    // explode the UNIFORM draws and fold the 8 Poisson cuts ONCE after
    // the generator — inlining weight() into the array put reps×cuts
    // when-branches inside Generate's doConsume, which overflowed the
    // JVM's 64 KB method limit at reps = 32 and silently dropped the
    // whole stage to interpreted eval ("Code grows beyond 64 KB" in
    // the r11 bench log); post-explode the chain appears once
    val draws = array((0 until reps).map { r =>
      pmod(md5Long(col(idCol), r), lit(1000000L))
    }: _*)
    val perRep = df
      .select(col(groupCol), metric.cast("long").as("_v"),
        posexplode(draws).as(Seq("rep", "_u")))
      .select(col(groupCol), col("_v"), col("rep"),
        weight(col("_u")).as("_w"))
      .groupBy(groupCol, "rep")
      .agg(sum(col("_w") * col("_v")).as("_wv"), sum("_w").as("_w"))
      .withColumn("_mean",
        when(col("_w") > 0, col("_wv").cast("double") / col("_w"))
          .otherwise(lit(null).cast("double")))
    val base = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(metric.cast("long")).as("_sv"))
    perRep.groupBy(groupCol)
      .agg(sort_array(collect_list("_mean")).as("_means"))
      .join(base, Seq(groupCol))
      .select(col(groupCol), col("n"),
        round(col("_sv").cast("double") / col("n"), 6).as("mean"),
        round(element_at(col("_means"), 2), 6).as("ci_lo"),
        round(element_at(col("_means"), reps - 1), 6).as("ci_hi"))
  }

  /** Benford first-digit audit of a fixed-point currency column — the
    * classic synthetic-data / fraud screen: compare the observed
    * leading-digit distribution of `cents` (an exact integer amount,
    * e.g. `round(price·100)`) against Benford's law
    * `p_d = log10(1 + 1/d)` and report the χ² statistic. The leading
    * digit comes from the INTEGER's decimal string, never from a
    * float's formatting, so both engines bucket identically. Emits one
    * row per digit 1-9: `(digit, n, obs_p, exp_p, chi2)` with the
    * total χ² repeated on each row (broadcast fold-up of 9 rows).
    *
    * Scale shape: row-local digit extraction, one map-side-combined
    * count to ≤ 9 rows.
    */
  def benfordAudit(df: DataFrame, cents: Column): DataFrame = {
    val digit = substring(cents.cast("long").cast("string"), 1, 1).cast("int")
    val counts = df.select(digit.as("digit"))
      .where(col("digit") >= 1) // zero/negative amounts carry no leading digit
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("double").as("_tot"))
    val expP = log(lit(1d) + lit(1d) / col("digit")) / log(lit(10d))
    val withP = counts.crossJoin(broadcast(total))
      .withColumn("_exp_p", expP)
      .withColumn("_obs_p", col("n") / col("_tot"))
    val chi2 = withP
      .agg(sum(pow(col("n") - col("_tot") * col("_exp_p"), 2d)
        / (col("_tot") * col("_exp_p"))).as("_chi2"))
    withP.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n"),
        round(col("_obs_p"), 6).as("obs_p"),
        round(col("_exp_p"), 6).as("exp_p"),
        round(col("_chi2"), 6).as("chi2"))
  }

  /** Difference-in-differences — the quasi-experimental "did the
    * change move the metric" estimate when randomization isn't
    * available: with a treated-group predicate and a post-period
    * predicate, DiD = (μ_treated,post − μ_treated,pre) −
    * (μ_control,post − μ_control,pre), its standard error from pooled
    * per-cell variances, and t = DiD/SE. The four cell means round at
    * 6dp and DiD/t derive from the ROUNDED values, so both engines
    * agree bit-for-bit past the single float-sum per cell. One row:
    * `(n_cp, n_ct, n_pp, n_pt, mean_cp, mean_ct, mean_pp, mean_pt,
    * did, se, t_stat)` (c/p = pre/post, p/t = control/treated).
    *
    * Scale shape: ONE combinable conditional-aggregate pass — twelve
    * sums over a single scan, no joins, no shuffle beyond the 1-row
    * final combine.
    */
  def diffInDiff(df: DataFrame, treatedPred: Column, postPred: Column,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      count(when(treatedPred === t && postPred === p, lit(1)))
        .as(s"n_$suffix"),
      sum(when(treatedPred === t && postPred === p, v)).as(s"__s_$suffix"),
      sum(when(treatedPred === t && postPred === p, v * v))
        .as(s"__q_$suffix"))
    val aggs = cell(false, false, "cp") ++ cell(false, true, "pp") ++
      cell(true, false, "ct") ++ cell(true, true, "pt")
    val a = df.agg(aggs.head, aggs.tail: _*)
    def mean(s: String) = round(col(s"__s_$s") / col(s"n_$s"), 6)
    def varTerm(s: String) =
      when(col(s"n_$s") > 1,
        (col(s"__q_$s") - col(s"__s_$s") * col(s"__s_$s") / col(s"n_$s"))
          / (col(s"n_$s") - 1) / col(s"n_$s"))
        .otherwise(lit(0d))
    a.select(col("n_cp"), col("n_ct"), col("n_pp"), col("n_pt"),
        mean("cp").as("mean_cp"), mean("ct").as("mean_ct"),
        mean("pp").as("mean_pp"), mean("pt").as("mean_pt"),
        round(varTerm("cp") + varTerm("ct") + varTerm("pp") + varTerm("pt"),
          6).as("__v"))
      .withColumn("did",
        round((col("mean_pt") - col("mean_ct"))
          - (col("mean_pp") - col("mean_cp")), 6))
      .withColumn("se", round(sqrt(col("__v")), 6))
      .withColumn("t_stat",
        when(col("se") > 0, round(col("did") / col("se"), 4))
          .otherwise(lit(null).cast("double")))
      .drop("__v")
  }

  /** Rank-biased overlap (lower bound at `depth`) between two rankings
    * — the top-weighted list-similarity measure (Webber et al.) that
    * plain overlap@k and rank correlation both miss: agreement at rank
    * 1 counts far more than at rank 50.
    *   RBO_min = (1−p) · Σ_{d=1..depth} p^{d−1} · |A_d ∩ B_d| / d,
    * where |A_d ∩ B_d| = #{items with max(rankA, rankB) ≤ d}. Inputs
    * are two (id, rank) tables (1-based, deterministic). Emits one
    * row: `(depth, p, overlap_at_depth, rbo_min)`.
    *
    * Scale shape: an id-keyed join of the two DEPTH-TRUNCATED rankings
    * (≤ depth rows each), a depth×depth fan-out over constants, one
    * fold. Corpus size never appears.
    */
  def rankBiasedOverlap(ranksA: DataFrame, ranksB: DataFrame,
      idCol: String, rankCol: String, depth: Int, p: Double): DataFrame = {
    val a = ranksA.where(col(rankCol) <= depth)
      .select(col(idCol).as("id"), col(rankCol).as("ra"))
    val b = ranksB.where(col(rankCol) <= depth)
      .select(col(idCol).as("id"), col(rankCol).as("rb"))
    val m = a.join(b, Seq("id"))
      .select(greatest(col("ra"), col("rb")).as("m"))
    val xd = m.select(col("m"), explode(sequence(lit(1), lit(depth)))
        .as("d"))
      .where(col("m") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("x"))
    xd.agg(
        coalesce(sum(when(col("d") === depth, col("x"))), lit(0L))
          .as("overlap_at_depth"),
        coalesce(sum(pow(lit(p), col("d") - 1) * col("x") / col("d")),
          lit(0d)).as("__s"))
      .select(lit(depth).as("depth"), lit(p).as("p"),
        col("overlap_at_depth"),
        round(lit(1d - p) * col("__s"), 6).as("rbo_min"))
  }

  /** Smoothed target encoding — the category→number feature transform
    * tabular ML leans on: encoded(c) = (Σ_c t + m·prior)/(n_c + m),
    * the Bayesian shrink of a category's target mean toward the global
    * prior (rare categories get the prior, popular ones their own
    * mean). Emits `(category, n, raw_mean, encoded)`, 6dp.
    *
    * Scale shape: one category-grain combinable aggregate + a 1-row
    * global crossed in; identical operation order in both engines past
    * the per-group float sums.
    */
  def targetEncode(df: DataFrame, catCol: String, target: Column,
      m: Double): DataFrame = {
    val per = df.groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n"), sum(target.cast("double")).as("__s"))
    val glob = per.agg(
      (sum("__s") / sum("n")).as("__prior"))
    per.crossJoin(broadcast(glob))
      .select(col("category"), col("n"),
        round(col("__s") / col("n"), 6).as("raw_mean"),
        round((col("__s") + lit(m) * col("__prior")) / (col("n") + lit(m)),
          6).as("encoded"))
  }

  /** Weight-of-evidence encoding + information value — the
    * credit-scoring / feature-screening standard (Siddiqi 2006) next
    * to [[targetEncode]]: per category `i`,
    * `WOE_i = ln(dist1_i / dist0_i)` with the Laplace-smoothed
    * distributions `dist_c = (n_c,i + α) / (N_c + k·α)` (k =
    * category count, so zero cells stay finite and the smoothed
    * distributions still sum to 1), and the per-category information
    * value term `IV_i = (dist1_i − dist0_i)·WOE_i` (total IV = Σ —
    * the conventional <0.02 useless / >0.3 strong screening scale).
    * Label is any 0/1 expression. Emits
    * `(category, n0, n1, woe, iv_term)`, 6dp.
    *
    * Scale shape: one category-grain combinable aggregate; totals and
    * the category count cross in as a broadcast single row; the
    * ln/ratio algebra is row-local on integer-derived inputs.
    */
  def woeEncode(df: DataFrame, catCol: String, label: Column,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "alpha must be positive (zero cells blow up WOE)")
    val per = df.groupBy(col(catCol).as("category"))
      .agg(count(when(label === 0, lit(1))).as("n0"),
        count(when(label === 1, lit(1))).as("n1"))
    val tot = per.agg(sum("n0").as("__t0"), sum("n1").as("__t1"),
      count(lit(1)).as("__k"))
    val dist0 = (col("n0") + lit(alpha)) /
      (col("__t0") + col("__k") * lit(alpha))
    val dist1 = (col("n1") + lit(alpha)) /
      (col("__t1") + col("__k") * lit(alpha))
    per.crossJoin(broadcast(tot))
      .select(col("category"), col("n0"), col("n1"),
        round(log(dist1 / dist0), 6).as("woe"),
        round((dist1 - dist0) * log(dist1 / dist0), 6).as("iv_term"))
  }

  /** CUPED variance reduction — the experiment-sensitivity workhorse:
    * with a pre-period covariate x and post-period metric y per unit,
    * the adjusted metric y − θ(x − x̄) with θ = cov(x,y)/var(x) keeps
    * the mean and shrinks the variance by exactly corr(x,y)² — which is
    * what this reports (how much smaller the experiment could be).
    * Emits one row: `(n_units, theta, var_reduction, mean_metric)` —
    * var_reduction = corr², mean_metric the (unchanged) post mean.
    *
    * Scale shape: one unit-grain conditional aggregate, then one 5-sum
    * combinable fold (the [[TextAnalysis.zipfFit]] OLS shape); only
    * the final ratios are float (6dp-rounded).
    */
  def cuped(df: DataFrame, unitCol: String, prePred: Column,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val per = df.groupBy(col(unitCol))
      .agg(coalesce(sum(when(prePred, v)), lit(0d)).as("x"),
        coalesce(sum(when(!prePred, v)), lit(0d)).as("y"))
    val a = per.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy") - col("sx") * col("sy")
    val varXN = nD * col("sxx") - col("sx") * col("sx")
    val varYN = nD * col("syy") - col("sy") * col("sy")
    a.select(col("n").as("n_units"),
      round(when(varXN > 0, covN / varXN).otherwise(lit(0d)), 6)
        .as("theta"),
      round(when(varXN > 0 && varYN > 0, covN * covN / (varXN * varYN))
        .otherwise(lit(0d)), 6).as("var_reduction"),
      round(col("sy") / nD, 6).as("mean_metric"))
  }

  /** Join-key skew audit — the pre-join planning report ("will this
    * key shuffle hot-spot?") a pipeline runs before committing to a
    * shuffle strategy: per-key frequencies bucketed by power of two,
    * with the global max/mean frequency and their ratio (the skew
    * factor AQE's skew-join threshold reasons about) carried on every
    * row. Output: `(bucket, freq_lo, n_keys, n_rows, row_share,
    * max_freq, skew)`.
    *
    * Scale shape: one key-count aggregate (combinable), one
    * bucket-grain roll-up, a 1-row global crossed in — the histogram
    * never materializes per-key output. The log2 bucket uses
    * ln(f)/ln 2 + 1e-9 (the epsilon absorbs the libm ulp at exact
    * powers of two; both engines evaluate the identical expression).
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val freq = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__f"))
    val hist = freq
      .withColumn("bucket",
        floor(log(col("__f").cast("double")) / log(lit(2d)) + 1e-9)
          .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"), sum("__f").as("n_rows"))
    val glob = freq.agg(
      max("__f").as("max_freq"),
      sum("__f").as("__tot"),
      count(lit(1)).as("__nk"))
    hist.crossJoin(broadcast(glob))
      .select(col("bucket"),
        expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)").as("freq_lo"),
        col("n_keys"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__tot"), 6)
          .as("row_share"),
        col("max_freq"),
        round(col("max_freq").cast("double") * col("__nk") / col("__tot"), 4)
          .as("skew"))
  }

  /** Functional-dependency discovery for candidate column pairs — the
    * schema-profiling question "does A determine B" answered by
    * counting violations: for determinant value a with n_a rows whose
    * modal dependent value covers m_a of them, the violation count is
    * Σ_a (n_a − m_a); zero ⇔ the FD holds exactly. Output one row per
    * direction: `(determinant, dependent, n_groups, n_rows, violations,
    * fd_holds)`.
    *
    * Scale shape per pair: one (a, b) count aggregate, one max/sum
    * roll-up to the determinant grain, one final 1-row fold — all
    * combinable, no windows over raw rows.
    */
  def functionalDeps(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    pairs.map { case (a, b) =>
      val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("__c"))
      val perDet = cells.groupBy(col(a))
        .agg(sum("__c").as("__n"), max("__c").as("__m"))
      perDet.agg(
        lit(a).as("determinant"), lit(b).as("dependent"),
        count(lit(1)).as("n_groups"),
        sum("__n").as("n_rows"),
        sum(col("__n") - col("__m")).as("violations"))
        .withColumn("fd_holds", col("violations") === 0L)
    }.reduce(_.unionAll(_))
  }

  /** l-diversity audit of a quasi-identifier grouping — the
    * k-anonymity companion: a group whose rows all share one sensitive
    * value leaks it even when the group is large, so each
    * quasi-identifier class reports its distinct-sensitive-value count
    * l, the entropy of the sensitive distribution (entropy
    * l-diversity: well-represented values, not just many), and whether
    * it meets `minL`. Output per group:
    * `(quasi…, n, l, entropy, meets_l)`.
    *
    * Scale shape: one (quasi…, sensitive) count aggregate, one
    * (quasi…) roll-up — both combinable; the entropy terms
    * −p·ln p are identical IEEE doubles in each engine (p = exact
    * integer ratio), with the per-group sum order absorbed by 6dp
    * rounding.
    */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String,
      minL: Int): DataFrame = {
    val cells = df.groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val gw = Window.partitionBy(quasi.map(col): _*)
    cells
      .withColumn("__n", sum("__c").over(gw))
      .groupBy(quasi.map(col): _*)
      .agg(first(col("__n")).as("n"),
        count(lit(1)).as("l"),
        // + 0.0 folds a single-value group's −0.0 to 0.0 in any engine
        (round(sum(-(col("__c") / col("__n"))
          * log(col("__c") / col("__n"))), 6) + lit(0d)).as("entropy"))
      .withColumn("meets_l", col("l") >= minL)
  }

  /** Per-class precision/recall/F1 against a label column — the
    * confusion-matrix report run on every in-engine classifier (e.g.
    * [[TextAnalysis.langId]] vs the gold `lang`). Classes are the union
    * of observed labels and predictions. Ratios divide exact integers;
    * F1 composes the UNROUNDED precision/recall (rounding only at the
    * boundary) in the same operation order in both engines. Output:
    * `(clazz, n_true, n_pred, tp, precision, recall, f1)`.
    *
    * Scale shape: three combinable aggregates at class grain over one
    * scan (Catalyst shares the exchange), two outer joins on the
    * class-cardinality-bounded results.
    */
  def classificationReport(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val truth = df.groupBy(col(labelCol).as("clazz"))
      .agg(count(lit(1)).as("n_true"))
    val pred = df.groupBy(col(predCol).as("clazz"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = df.where(col(labelCol) === col(predCol))
      .groupBy(col(labelCol).as("clazz"))
      .agg(count(lit(1)).as("tp"))
    val p = when(col("n_pred") > 0,
      col("tp").cast("double") / col("n_pred")).otherwise(lit(0d))
    val r = when(col("n_true") > 0,
      col("tp").cast("double") / col("n_true")).otherwise(lit(0d))
    truth.join(pred, Seq("clazz"), "full_outer")
      .join(tp, Seq("clazz"), "left")
      .select(col("clazz"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("__p", p).withColumn("__r", r)
      .select(col("clazz"), col("n_true"), col("n_pred"), col("tp"),
        round(col("__p"), 6).as("precision"),
        round(col("__r"), 6).as("recall"),
        round(when(col("__p") + col("__r") > 0,
            lit(2d) * col("__p") * col("__r") / (col("__p") + col("__r")))
          .otherwise(lit(0d)), 6).as("f1"))
  }

  /** Cramér's V association between two categorical columns — the
    * data-profiling "are these metadata fields redundant" number
    * (e.g. does `source` fully determine `lang`). Only OBSERVED cells
    * are materialized; a zero cell's χ² contribution is its expectation
    * E = r·c/n, and Σ_all E = n, so the full χ² folds to
    *   χ² = (1/n) · Σ_obs ((n·O − r·c)² − (r·c)²) / (r·c)  +  n
    * — no dense cell grid ever built. The integer cores n·O and r·c
    * are exact int64 (safe while n < ~3·10⁹; swap to DECIMAL beyond),
    * squared in double so both engines run identical IEEE ops; only
    * the cell-sum order varies (6dp rounding absorbs the ulps). Then
    * V = √(χ²/(n·(min(cardA,cardB)−1))), computed from the ROUNDED χ²
    * on both sides. Emits one row:
    * `(n, card_a, card_b, dof, chi2, cramers_v)`.
    *
    * Scale shape: three combinable aggregates over the same scan
    * (cells, row margins, column margins — Catalyst reuses the
    * exchange), margin joins keyed on the low-cardinality categorical
    * values, 1-row total crossed in. No window, no self-join.
    */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    val o = df.groupBy(colA, colB).agg(count(lit(1)).as("__o"))
    val ra = df.groupBy(colA).agg(count(lit(1)).as("__ra"))
    val cb = df.groupBy(colB).agg(count(lit(1)).as("__cb"))
    val tot = df.agg(
      count(lit(1)).as("__n"),
      countDistinct(col(colA)).as("__ca"),
      countDistinct(col(colB)).as("__cb2"))
    val chi2 = o.join(ra, Seq(colA)).join(cb, Seq(colB))
      .crossJoin(broadcast(tot))
      .select(col("__n"), col("__ca"), col("__cb2"),
        ((pow((col("__n") * col("__o") - col("__ra") * col("__cb"))
              .cast("double"), 2)
            - pow((col("__ra") * col("__cb")).cast("double"), 2))
          / (col("__ra") * col("__cb")).cast("double")).as("__t"))
      .groupBy("__n", "__ca", "__cb2")
      .agg(round(sum("__t") / col("__n") + col("__n"), 6).as("chi2"))
    chi2.select(
      col("__n").as("n"), col("__ca").as("card_a"), col("__cb2").as("card_b"),
      ((col("__ca") - 1) * (col("__cb2") - 1)).as("dof"),
      col("chi2"),
      (floor(sqrt(col("chi2")
          / (col("__n") * (least(col("__ca"), col("__cb2")) - 1))
            .cast("double")) * 1e6 + 0.5) / 1e6).as("cramers_v"))
  }

  /** Cohen's kappa — chance-corrected agreement between two raters
    * over the same items (Cohen 1960), the standard label-quality
    * number for a double-annotated subset of a training corpus:
    * `κ = (p_o − p_e)/(1 − p_e)` with observed agreement
    * `p_o = N_agree/N` and chance agreement
    * `p_e = Σ_c nA_c·nB_c / N²` from the raters' marginal class
    * counts. Rows where either rating is NULL (item not
    * double-annotated) are excluded. Emits one row
    * `(n, n_agree, po, pe, kappa)`; `kappa` is NULL when a rater is
    * constant AND both agree everywhere (`p_e = 1`, κ undefined).
    *
    * Scale shape: the whole statistic reduces to three combinable
    * aggregates — one (agree, total) count pair and two per-class
    * marginal count vectors whose inner product is the p_e numerator.
    * Everything after the first pass runs on |classes|-bounded rows;
    * integer arithmetic until the three final divisions.
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val pairs = df.select(raterA.as("__ra"), raterB.as("__rb"))
      .where(col("__ra").isNotNull && col("__rb").isNotNull)
    val persisted = Caches.persist(pairs)
    val tot = persisted.agg(count(lit(1)).as("__n"),
      sum(when(col("__ra") === col("__rb"), lit(1L)).otherwise(lit(0L)))
        .as("__agree"))
    val margA = persisted.groupBy(col("__ra").as("__c"))
      .agg(count(lit(1)).as("__na"))
    val margB = persisted.groupBy(col("__rb").as("__c"))
      .agg(count(lit(1)).as("__nb"))
    val peNum = margA.join(margB, Seq("__c"))
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("__pe_num"))
    tot.crossJoin(broadcast(peNum))
      .select(col("__n"), col("__agree"),
        (col("__agree").cast("double") / col("__n")).as("__po"),
        (col("__pe_num").cast("double") / (col("__n") * col("__n")))
          .as("__pe"))
      .select(col("__n").as("n"), col("__agree").as("n_agree"),
        round(col("__po"), 6).as("po"), round(col("__pe"), 6).as("pe"),
        when(col("__pe") < 1d,
          round((col("__po") - col("__pe")) / (lit(1d) - col("__pe")), 6))
          .as("kappa"))
  }

  /** Split-conformal prediction audit (Vovk; Lei et al. 2018): fit a
    * closed-form OLS line `y ~ x` on an md5-deterministic calibration
    * half, take the conformal quantile `q̂` = the
    * `⌈(n_cal+1)(1−α)⌉`-th smallest absolute residual on that half,
    * and measure empirical coverage `P(|resid| ≤ q̂)` on the held-out
    * half — the finite-sample ≥ 1−α marginal-coverage guarantee,
    * checked on real data. Emits one row
    * `(n_cal, n_test, qhat, coverage, ok)` with `ok` = coverage
    * within ±tol of 1−α.
    *
    * Cross-engine determinism: x and y must be integer-valued (cents,
    * counts) — the OLS sums are then exact in double regardless of
    * summation order, so slope/intercept/residuals are bit-identical
    * in any engine; q̂ is an exact order statistic (rank-selected, no
    * interpolation).
    *
    * Scale shape: one combinable moment aggregate for the fit, one
    * broadcast of the 1-row coefficients, and the same
    * range-partitioned global-rank machinery as [[Percentiles]] for
    * the order statistic — no full sort materializes on the driver,
    * no per-group buffering.
    */
  def conformalAudit(df: DataFrame, id: Column, x: Column, y: Column,
      alpha: Double = 0.1, tol: Double = 0.02,
      salt: Int = 11): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val base = Caches.persist(df.select(
        (pmod(md5Long(id, salt), lit(2)) === 0).as("__cal"),
        x.cast("double").as("__x"), y.cast("double").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull))
    val fit = base.where(col("__cal")).agg(
      count(lit(1)).cast("double").as("__n"),
      sum("__x").as("__sx"), sum("__y").as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val co = fit.select(col("__n"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          / (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
          .as("__slope"), col("__sx"), col("__sy"))
      .select(col("__n"), col("__slope"),
        ((col("__sy") - col("__slope") * col("__sx")) / col("__n"))
          .as("__itc"))
    val scored = Caches.persist(base.crossJoin(broadcast(co))
      .select(col("__cal"), col("__n"),
        abs(col("__y") - (col("__slope") * col("__x") + col("__itc")))
          .as("__s")))
    val ranked = Percentiles.globalSortRanks(
      scored.where(col("__cal")).select("__s"), Seq.empty, "__s")
    val qhat = ranked.where(col("_rn") ===
        least(ceil((col("_n") + 1) * lit(1 - alpha)), col("_n")))
      .agg(min("_v").as("__qhat"))
    scored.where(!col("__cal")).crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__s") <= col("__qhat"), lit(1L)).otherwise(lit(0L)))
          .as("__covered"),
        max("__n").as("__ncal"), max("__qhat").as("__q"))
      .select(col("__ncal").cast("long").as("n_cal"),
        col("n_test"), round(col("__q"), 6).as("qhat"),
        round(col("__covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .withColumn("ok",
        abs(col("coverage") - lit(1 - alpha)) <= lit(tol))
  }

  /** Huber robust location per group via IRLS (Huber 1964; the
    * M-estimator's standard iteratively-reweighted fixed-point form):
    * starting from the plain mean, repeat `iters` times
    * `μ ← Σwᵢxᵢ/Σwᵢ` with `wᵢ = min(1, k/|xᵢ−μ|)` — outliers beyond
    * `k` dollars of the current center get down-weighted
    * proportionally instead of either dominating (mean) or being
    * ignored entirely (trimming). Deterministic across engines by the
    * repo's integer-grid contract: values are CENTS (int64), weights
    * are quantized to the 10⁻⁶ grid (`⌊w·10⁶+½⌋`), so every per-group
    * sum is int64 (exact under any partition order) and each
    * iteration's `μ` is one IEEE division of identical integers.
    * Output means land on the 10⁻⁴-dollar grid via `floor(x+½)` —
    * floor of identical doubles can't diverge, unlike `round`. Emits
    * `(groupCol, n, mean, huber_mean)` (4dp). Int64 bounds:
    * `Σ w·x ≤ 10⁶ · max|cents| · rows` — fine to ~10⁹ rows of
    * ≤ $10⁷ values; shard groups above that.
    *
    * Scale shape: one grouped count/sum, then per iteration ONE
    * broadcast join of the group-cardinality μ table and ONE
    * combinable re-aggregation — `iters` passes over the data, no
    * windows, no driver state.
    */
  /** Kruskal–Wallis H test — the rank-based one-way ANOVA ("do these
    * groups draw from the same distribution?", Kruskal & Wallis 1952)
    * with the standard tie correction: over all `N` values pooled,
    * `H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)` with `R_g` the
    * group's rank sum (average ranks at ties), and
    * `H_adj = H / (1 − Σ(t³−t)/(N³−N))` over the tie-run sizes `t`.
    * Deterministic across engines by construction: values quantize to
    * CENTS, average ranks live on the ½ grid (`2·R` stays int64), the
    * tie sum is integer, and the ~k-term float reduction over groups
    * folds in SORTED group order (sequential `aggregate`, matching
    * the oracle's ordered `list_sum`). Emits one row `(k_groups, n,
    * h, tie_correction, h_adj)` — h's on the 10⁻⁴ floor grid,
    * correction on 10⁻⁶. `h_adj` NULL when every value ties (C = 0).
    *
    * Scale shape: ranks come from the DISTINCT-CENTS grid (one
    * ordered window over the grid, the q152 KS precedent — bounded by
    * value cardinality, never by row count); everything row-sized is
    * a combinable aggregation.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val b = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__x"))
    val grid = b.groupBy("__x").agg(count(lit(1)).as("__t"))
    val w = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rk = grid.withColumn("__rank2",
      lit(2L) * coalesce(sum("__t").over(w), lit(0L)) + col("__t") + 1L)
    val cells = b.groupBy("__g", "__x").agg(count(lit(1)).as("__cnt"))
    val pg = cells.join(rk, Seq("__x"))
      .groupBy("__g")
      .agg(sum(col("__cnt") * col("__rank2")).as("__rg2"),
        sum("__cnt").as("__ng"))
    val folded = pg.agg(count(lit(1)).as("k_groups"),
      aggregate(
        sort_array(collect_list(struct(col("__g"), col("__rg2"),
          col("__ng")))),
        lit(0d),
        (acc, s) => acc +
          (s.getField("__rg2").cast("double") / 2d) *
          (s.getField("__rg2").cast("double") / 2d) /
          s.getField("__ng")).as("__s"))
    val totals = b.agg(count(lit(1)).as("__N"))
    val ties = grid.agg(
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ts"))
    val nD = col("__N").cast("double")
    val hRaw = lit(12d) / (nD * (nD + 1d)) * col("__s") -
      lit(3d) * (nD + 1d)
    val c = lit(1d) - col("__ts").cast("double") /
      (col("__N") * col("__N") * col("__N") - col("__N"))
    folded.crossJoin(broadcast(totals)).crossJoin(broadcast(ties))
      .select(col("k_groups"), col("__N").as("n"),
        (floor(hRaw * 1e4 + 0.5) / 1e4).as("h"),
        (floor(c * 1e6 + 0.5) / 1e6).as("tie_correction"),
        when(c > 0d, floor(hRaw / c * 1e4 + 0.5) / 1e4).as("h_adj"))
  }

  /** Benjamini–Hochberg FDR control (JRSS-B 1995 — the multiple-
    * testing correction every genome-wide or metric-sweep report
    * needs before calling per-test significance): rank the `m`
    * p-values ascending, find the largest rank with
    * `p_(i) ≤ i·α/m`, reject everything at or below it, and report
    * the monotone q-values `q_(i) = min_{j≥i} m·p_(j)/j`. Ties rank
    * deterministically by `idCol`. The q-value running min is a
    * MIN of identical doubles — order-free, so the whole report
    * replays exactly in any engine. Emits
    * `(idCol, p, rank, q_value, significant)` (q floor-gridded 6dp).
    *
    * Scale shape: one global rank window over the TEST table (tests
    * number thousands-to-millions — metadata-grain next to the data
    * that produced the p-values; the q152/q51 bounded-window class),
    * one 1-row max broadcast back. No data-sized shuffle.
    */
  def fdrBH(df: DataFrame, idCol: String, pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0, 1)")
    val m = df.agg(count(lit(1)).as("__m"))
    val wAsc = Window.orderBy(col("p").asc, col(idCol).asc)
    val wDesc = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.select(col(idCol), col(pCol).cast("double").as("p"))
      .withColumn("rank", row_number().over(wAsc))
      .crossJoin(broadcast(m))
      .withColumn("__q_raw",
        min(col("__m").cast("double") * col("p") / col("rank")).over(wDesc))
      .withColumn("__pass",
        col("p") <= col("rank").cast("double") * alpha / col("__m"))
    val cut = ranked.agg(
      coalesce(max(when(col("__pass"), col("rank"))), lit(0)).as("__cut"))
    ranked.crossJoin(broadcast(cut))
      .select(col(idCol), col("p"), col("rank"),
        (floor(least(col("__q_raw"), lit(1d)) * 1e6 + 0.5) / 1e6)
          .as("q_value"),
        (col("rank") <= col("__cut")).as("significant"))
  }

  def huberMean(df: DataFrame, groupCol: String, valueCol: String,
      k: Double, iters: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters >= 1 && iters <= 8, "iters in [1, 8]")
    val kc = k * 100d // threshold in cents
    val base = df.where(col(valueCol).isNotNull)
      .select(col(groupCol),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__x"))
    val agg0 = base.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum("__x").as("__sx"))
    var mu = agg0.select(col(groupCol),
      (col("__sx").cast("double") / col("n")).as("__mu"))
    for (_ <- 1 to iters) {
      val d = abs(col("__x").cast("double") - col("__mu"))
      val w = when(d <= kc, lit(1000000L))
        .otherwise(floor(lit(kc) * 1e6 / d + 0.5).cast("long"))
      mu = base.join(broadcast(mu), Seq(groupCol))
        .select(col(groupCol), col("__x"), w.as("__w"))
        .groupBy(groupCol)
        .agg(sum(col("__w") * col("__x")).as("__swx"),
          sum("__w").as("__sw"))
        .select(col(groupCol),
          (col("__swx").cast("double") / col("__sw")).as("__mu"))
    }
    agg0.join(mu, Seq(groupCol))
      .select(col(groupCol), col("n"),
        (floor(col("__sx").cast("double") * 100d / col("n") + 0.5) / 1e4)
          .as("mean"),
        (floor(col("__mu") * 100d + 0.5) / 1e4).as("huber_mean"))
  }

  /** One-way ANOVA F over integer-cents values: does the group factor
    * explain variance in `valueCol`? Sums of squares decompose
    * algebraically from per-group integer moments —
    * SSB = Σ s_g²/n_g − S²/N, SST = Q − S²/N, SSW = SST − SSB with
    * s/S/Q exact integer sums (squares accumulate in decimal(38,0) —
    * cents² overflows int64 past ~10⁹ rows), so both engines divide
    * identical integers. F and η² land on the 1e-4 floor grid.
    * Output one row: `k_groups, n, ss_between, ss_within, f_stat,
    * eta_sq` (SS on the 1e-4 grid).
    *
    * The parametric companion of [[kruskalWallis]] — one combinable
    * aggregation per group, one k-row rollup; no shuffle beyond the
    * group keys.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val per = base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__c").as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
    val roll = per.agg(count(lit(1)).as("k_groups"),
      sum("__n").as("n"), sum("__s").as("__S"),
      sum("__q").cast("decimal(38,0)").as("__Q"),
      // Σ s_g²/n_g: per-group double ratios of exact integers, summed
      // on the 1e-6 grid so partition order cannot reorder a float sum
      sum(floor(col("__s").cast("double") * col("__s") / col("__n")
          / 1e4 * 1e6 + 0.5).cast("long")).as("__sb6"))
    def g4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4
    val grand = col("__S").cast("double") * col("__S") / col("n") / 1e4
    val ssb = col("__sb6").cast("double") / 1e6 - grand
    val sst = col("__Q").cast("double") / 1e4 - grand
    val ssw = sst - ssb
    val f = (ssb / (col("k_groups") - 1).cast("double")) /
      (ssw / (col("n") - col("k_groups")).cast("double"))
    roll.select(col("k_groups"), col("n"),
      g4(ssb).as("ss_between"), g4(ssw).as("ss_within"),
      when(col("k_groups") > 1 && col("n") > col("k_groups") && ssw > 0,
        g4(f)).as("f_stat"),
      when(sst > 0, g4(ssb / sst)).as("eta_sq"))
  }

  /** Welch's unequal-variance t-test for every PAIR of groups: the
    * post-hoc companion of [[anovaF]]. Per group the integer-cents
    * moments (n, Σc, Σc² in decimal(38,0)) aggregate once; the k-row
    * result self-joins on `group_a < group_b`, so no data-sized pair
    * work. t and the Welch–Satterthwaite df are double algebra over
    * identical integer inputs, emitted on the 1e-4 floor grid. Output:
    * `group_a, group_b, n_a, n_b, mean_a, mean_b, t_stat, df`.
    */
  def welchT(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val per = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__c").as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
      .filter(col("__n") >= 2)
    def m(s: Column, n: Column): Column = s.cast("double") / n / 100d
    // unbiased variance in value² units from exact integer moments
    def v(q: Column, s: Column, n: Column): Column =
      (q.cast("double") - s.cast("double") * s / n) / (n - 1) / 1e4
    val a = per.select(col("__g").as("group_a"), col("__n").as("n_a"),
      col("__s").as("__sa"), col("__q").as("__qa"))
    val b = per.select(col("__g").as("group_b"), col("__n").as("n_b"),
      col("__s").as("__sb"), col("__q").as("__qb"))
    val va = v(col("__qa"), col("__sa"), col("n_a"))
    val vb = v(col("__qb"), col("__sb"), col("n_b"))
    val sem = va / col("n_a") + vb / col("n_b")
    val t = (m(col("__sa"), col("n_a")) - m(col("__sb"), col("n_b"))) /
      sqrt(sem)
    val dfW = sem * sem /
      (va * va / col("n_a") / col("n_a") / (col("n_a") - 1) +
        vb * vb / col("n_b") / col("n_b") / (col("n_b") - 1))
    def g4(c: Column): Column =
      when(c >= 0, floor(c * 1e4 + 0.5)).otherwise(-floor(-c * 1e4 + 0.5)) / 1e4
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        g4(m(col("__sa"), col("n_a"))).as("mean_a"),
        g4(m(col("__sb"), col("n_b"))).as("mean_b"),
        when(sem > 0, g4(t)).as("t_stat"),
        when(sem > 0, g4(dfW)).as("df"))
      .orderBy("group_a", "group_b")
  }

  /** Theil's uncertainty coefficient U(Y|X) — the ASYMMETRIC
    * categorical association: the fraction of Y's entropy that knowing
    * X removes, MI/H(Y) ∈ [0, 1]. Complements the symmetric Cramér's V
    * (q232): U answers "does source determine language?" and "does
    * language determine source?" separately.
    *
    * Everything reduces to three ln-sums over integer counts
    * (A = Σ_xy c·ln c, B = Σ_x n_x·ln n_x, C = Σ_y n_y·ln n_y):
    * H(Y) = ln N − C/N, H(Y|X) = (B − A)/N, MI = H(Y) − H(Y|X) — the
    * q146 entropy identity. Each c·ln c term quantizes to 1e-6
    * integers before its cross-partition sum. Output one row:
    * `n, h_y, h_y_given_x, mi, u` (1e-6 floor grids).
    */
  def theilsU(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def lnTerm(c: Column): Column =
      floor(c.cast("double") * log(c.cast("double")) * 1e6 + 0.5)
        .cast("long")
    val base = Caches.persist(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
        .agg(count(lit(1)).as("__c")))
    val a = base.agg(sum(lnTerm(col("__c"))).as("__A"),
      sum("__c").as("__N"))
    val b = base.groupBy("__x").agg(sum("__c").as("__nx"))
      .agg(sum(lnTerm(col("__nx"))).as("__B"))
    val c = base.groupBy("__y").agg(sum("__c").as("__ny"))
      .agg(sum(lnTerm(col("__ny"))).as("__C"))
    // + 0.0 folds IEEE −0.0 (a negative ulp-noise MI floors to −0)
    // back to +0.0 — the r7 hash-mismatch footgun
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val nD = col("__N").cast("double")
    val hY = log(nD) - col("__C").cast("double") / 1e6 / nD
    val hYX =
      (col("__B").cast("double") - col("__A").cast("double")) / 1e6 / nD
    a.crossJoin(b).crossJoin(c)
      .select(col("__N").as("n"), g6(hY).as("h_y"),
        g6(hYX).as("h_y_given_x"), g6(hY - hYX).as("mi"),
        when(hY > 0, g6((hY - hYX) / hY)).as("u"))
  }

  /** Quantile normalization across groups — map every group's
    * empirical value distribution onto the POOLED distribution (the
    * batch-effect correction normalizing scores/labels collected from
    * heterogeneous sources): a value at tie-high rank R in a group of
    * n maps to the pooled value at rank ⌈R·M/n⌉. Ties share a rank, so
    * the mapping depends only on (group, value) and the output is the
    * complete GRID `group, value, n_rows, normalized` — join it back
    * to rows downstream.
    *
    * All ranks are integers over the distinct-cents grids (the q324
    * pattern): per-group cumulative counts, pooled cumulative counts,
    * target rank ⌈R·M/n⌉ by integer division, and the "smallest pooled
    * value with cumulative ≥ t" lookup is one reversed-order running
    * `last(ignoreNulls)` over the unioned rank axis — grid-sized
    * windows (distinct values), never row-sized. Output values are
    * exact cents/100 doubles.
    */
  def quantileNormalizeGrid(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("c"))
    val wg = Window.partitionBy("g").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gRank = base.groupBy("g", "c").agg(count(lit(1)).as("n_rows"))
      .withColumn("__R", sum("n_rows").over(wg))
    val totals = base.groupBy("g").agg(count(lit(1)).as("__n"))
    val mTot = base.agg(count(lit(1)).as("__M"))
    val tgt = gRank.join(totals, Seq("g")).crossJoin(mTot)
      .withColumn("__t", expr("(__R * __M + __n - 1) div __n"))
    val pooled = base.groupBy("c").agg(count(lit(1)).as("__pc"))
      .withColumn("__P", sum("__pc").over(Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val u = tgt.select(col("g"), col("c"), col("n_rows"),
        col("__t").as("k"), lit(null).cast("long").as("__pv"),
        lit(1).as("__ord"))
      .unionByName(pooled.select(lit(null).cast("string").as("g"),
        lit(null).cast("long").as("c"), lit(null).cast("long").as("n_rows"),
        col("__P").as("k"), col("c").as("__pv"), lit(0).as("__ord")))
    // reversed rank axis: at each target the running last non-null is
    // the pooled value with the SMALLEST cumulative ≥ t (pooled rows
    // sort before targets at equal k so P = t qualifies)
    val wrev = Window.orderBy(col("k").desc, col("__ord").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__nc", last("__pv", ignoreNulls = true).over(wrev))
      .filter(col("g").isNotNull)
      .select(col("g").as(groupCol),
        (col("c").cast("double") / 100d).as("value"), col("n_rows"),
        (col("__nc").cast("double") / 100d).as("normalized"))
      .orderBy(groupCol, "value")
  }

  /** Wald's sequential probability ratio test per group: walk each
    * group's event stream in (ts, id) order accumulating the Bernoulli
    * log-likelihood ratio for H1: p = p1 vs H0: p = p0,
    *
    *   LLR_t = k_t·ln(p1/p0) + (t − k_t)·ln((1−p1)/(1−p0)),
    *
    * and stop at the first t where LLR ≥ ln((1−β)/α) (accept H1) or
    * LLR ≤ ln(β/(1−α)) (accept H0) — the sequential A/B design that
    * reaches a decision in O(1/KL) samples instead of a fixed horizon.
    * Groups that never cross report `continue` with their final state.
    *
    * Determinism: k_t and t are exact integer running counts (one
    * window over the unique (ts, id) order); the four ln constants are
    * computed ONCE driver-side, quantized to the 1e-12 grid, and
    * inlined as literals — [[sprtConstants]] exposes them so the oracle
    * embeds the SAME numbers and no engine ever calls ln. LLR is then
    * two integer·literal products and one sum — bit-identical
    * everywhere, emitted raw. Output:
    * `group, decision, n_at_decision, k_at_decision, llr`.
    */
  def sprt(df: DataFrame, groupCol: String, tsCol: String, idCol: String,
      success: Column, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    val (c1, c0, a, b) = sprtConstants(p0, p1, alpha, beta)
    val w = Window.partitionBy(groupCol)
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = Caches.persist(
      df.select(col(groupCol), col(tsCol), col(idCol),
          when(success, 1L).otherwise(0L).as("__x"))
        .select(col(groupCol),
          row_number().over(Window.partitionBy(groupCol)
            .orderBy(col(tsCol), col(idCol))).as("__t"),
          sum("__x").over(w).as("__k"))
        .select(col(groupCol), col("__t"), col("__k"),
          (col("__k") * lit(c1)
            + (col("__t") - col("__k")) * lit(c0)).as("__llr")))
    val crossed = scored
      .filter(col("__llr") >= a || col("__llr") <= b)
      .groupBy(groupCol).agg(min("__t").as("__t"))
      .join(scored, Seq(groupCol, "__t"))
      .select(col(groupCol),
        when(col("__llr") >= a, lit("accept_h1"))
          .otherwise(lit("accept_h0")).as("decision"),
        col("__t").as("n_at_decision"), col("__k").as("k_at_decision"),
        col("__llr").as("llr"))
    val last = scored.groupBy(groupCol).agg(max("__t").as("__t"))
      .join(scored, Seq(groupCol, "__t"))
      .join(crossed.select(groupCol), Seq(groupCol), "left_anti")
      .select(col(groupCol), lit("continue").as("decision"),
        col("__t").as("n_at_decision"), col("__k").as("k_at_decision"),
        col("__llr").as("llr"))
    crossed.unionByName(last).orderBy(groupCol)
  }

  /** The SPRT's four log constants on the 1e-12 grid (sign-aware
    * round-half-away): `(lnRatio1, lnRatio0, upperA, lowerB)`. Shared
    * verbatim by [[sprt]] and its oracle so no engine's libm is in the
    * comparison path.
    */
  def sprtConstants(p0: Double, p1: Double, alpha: Double,
      beta: Double): (Double, Double, Double, Double) = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"degenerate SPRT rates: p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"degenerate SPRT errors: alpha=$alpha beta=$beta")
    def g12(x: Double): Double =
      if (x >= 0) math.floor(x * 1e12 + 0.5) / 1e12
      else -math.floor(-x * 1e12 + 0.5) / 1e12
    (g12(math.log(p1 / p0)), g12(math.log((1 - p1) / (1 - p0))),
      g12(math.log((1 - beta) / alpha)), g12(math.log(beta / (1 - alpha))))
  }

  /** McNemar's test for paired binary outcomes — "did condition B fire
    * for the same units as condition A?" (the paired-classifier /
    * before-after comparison a model-swap report needs; a two-sample
    * proportion test is WRONG there because the units are shared).
    * Per unit the two predicates reduce to booleans; the test reads
    * only the discordant cells b = #(A∧¬B), c = #(¬A∧B):
    * χ² = (b−c)²/(b+c), plus Edwards' continuity-corrected
    * (max(|b−c|−1,0))²/(b+c). Output one row:
    * `n_units, n_both, n_a_only, n_b_only, n_neither, chi2, chi2_cc`
    * (1e-6 floor grids, NULL when b+c = 0).
    *
    * Scale shape: one map-side-combined groupBy(unit) → one 5-counter
    * fold — no data-sized shuffle beyond the unit aggregate.
    */
  def mcnemar(df: DataFrame, unitCol: String, predA: Column,
      predB: Column): DataFrame = {
    val per = df.groupBy(col(unitCol).as("__u"))
      .agg(max(when(predA, 1L).otherwise(0L)).as("__a"),
        max(when(predB, 1L).otherwise(0L)).as("__b"))
    val cells = per.agg(count(lit(1)).as("n_units"),
      sum(when(col("__a") === 1 && col("__b") === 1, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("__a") === 1 && col("__b") === 0, 1L).otherwise(0L))
        .as("n_a_only"),
      sum(when(col("__a") === 0 && col("__b") === 1, 1L).otherwise(0L))
        .as("n_b_only"),
      sum(when(col("__a") === 0 && col("__b") === 0, 1L).otherwise(0L))
        .as("n_neither"))
    val b = col("n_a_only").cast("double")
    val c = col("n_b_only").cast("double")
    val disc = col("n_a_only") + col("n_b_only")
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    val dCC = greatest(abs(b - c) - 1d, lit(0d))
    cells.select(col("n_units"), col("n_both"), col("n_a_only"),
      col("n_b_only"), col("n_neither"),
      when(disc > 0, g6((b - c) * (b - c) / (b + c))).as("chi2"),
      when(disc > 0, g6(dCC * dCC / (b + c))).as("chi2_cc"))
  }

  /** Log-rank test comparing survival between two groups (Mantel 1966
    * — the time-to-event comparison next to q205's Kaplan–Meier
    * curves; compares WHOLE hazard curves where a t-test on durations
    * ignores censoring). Input: one row per subject with an integer
    * duration, an event flag (1 = event observed, 0 = censored) and a
    * 0/1 group. At each distinct event time: d₁ₜ deaths in group 1,
    * dₜ total deaths, n₁ₜ/nₜ at risk (duration ≥ t);
    * O₁ = Σd₁ₜ, E₁ = Σ dₜ·n₁ₜ/nₜ,
    * V = Σ dₜ·(n₁ₜ/nₜ)·(1−n₁ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1),
    * χ² = (O₁−E₁)²/V. Per-time E and V terms are identical double
    * ratios of exact integers quantized to the 1e-6 grid before the
    * cross-partition sum (the Theil's-U discipline). Output one row:
    * `n_group1, n_group0, deaths_total, o1, e1, variance, chi2`.
    *
    * Scale shape: one groupBy(duration) to the distinct-time grid,
    * two reverse-cumulative window sums over that GRID (distinct
    * durations, not subjects), one fold. Subjects are themselves an
    * aggregate of the raw data, so nothing here is data-sized.
    */
  def logRank(df: DataFrame, groupCol: String, durationCol: String,
      eventCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("long").as("__g"),
      col(durationCol).cast("long").as("__t"),
      col(eventCol).cast("long").as("__e"))
    val grid = base.groupBy("__t").agg(
      sum(when(col("__g") === 1, col("__e")).otherwise(0L)).as("__d1"),
      sum("__e").as("__d"),
      sum(when(col("__g") === 1, 1L).otherwise(0L)).as("__c1"),
      count(lit(1)).as("__c"))
    val wTail = Window.orderBy(col("__t").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val atRisk = grid
      .withColumn("__n1", sum("__c1").over(wTail))
      .withColumn("__n", sum("__c").over(wTail))
    val frac1 = col("__n1").cast("double") / col("__n")
    val terms = atRisk.where(col("__d") > 0).select(col("__d1"),
      col("__d"),
      floor(col("__d").cast("double") * frac1 * 1e6 + 0.5).cast("long")
        .as("__e6"),
      when(col("__n") > 1,
        floor(col("__d").cast("double") * frac1 * (lit(1d) - frac1) *
          (col("__n") - col("__d")).cast("double") / (col("__n") - 1d) *
          1e6 + 0.5).cast("long")).otherwise(lit(0L)).as("__v6"))
    val sizes = base.agg(
      sum(when(col("__g") === 1, 1L).otherwise(0L)).as("n_group1"),
      sum(when(col("__g") =!= 1, 1L).otherwise(0L)).as("n_group0"))
    val roll = terms.agg(sum("__d").as("deaths_total"),
      sum("__d1").as("__o1"), sum("__e6").as("__E6"),
      sum("__v6").as("__V6"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val e1 = col("__E6").cast("double") / 1e6
    val v = col("__V6").cast("double") / 1e6
    val o1 = col("__o1").cast("double")
    broadcast(sizes).crossJoin(roll)
      .select(col("n_group1"), col("n_group0"), col("deaths_total"),
        col("__o1").as("o1"), g6(e1).as("e1"), g6(v).as("variance"),
        when(v > 0, g6((o1 - e1) * (o1 - e1) / v)).as("chi2"))
  }

  /** Average precision (area under the precision–recall curve, the
    * step-wise sklearn convention over DISTINCT score thresholds) —
    * the ranking-quality number for imbalanced labels where q180's ROC
    * AUC saturates. Ties share a threshold: at each distinct score s
    * (descending) with p new positives, the term is
    * p · precision(≥ s); AP = Σ terms / n_pos. Each term is an
    * identical double ratio of exact cumulative integers, quantized to
    * the 1e-9 grid before the sum. Output one row:
    * `n_pos, n_neg, pr_auc, prevalence` (1e-6 grids).
    *
    * Scale shape: one groupBy(score) to the distinct-score grid, one
    * cumulative window over that grid, one fold — the q180 class.
    */
  def averagePrecision(df: DataFrame, scoreQ: Column,
      label: Column): DataFrame = {
    val counts = df
      .select(scoreQ.as("__s"), label.cast("boolean").as("__y"))
      .groupBy("__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__n"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__tp", sum("__p").over(w))
      .withColumn("__fp", sum("__n").over(w))
    val roll = cum.agg(
      sum(when(col("__p") > 0,
        floor(col("__p").cast("double") * col("__tp") /
          (col("__tp") + col("__fp")) * 1e9 + 0.5).cast("long"))
        .otherwise(0L)).as("__t9"),
      sum("__p").as("n_pos"), sum("__n").as("n_neg"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    roll.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0,
        g6(col("__t9").cast("double") / 1e9 / col("n_pos"))).as("pr_auc"),
      g6(col("n_pos").cast("double") / (col("n_pos") + col("n_neg")))
        .as("prevalence"))
  }

  /** Murphy decomposition of the Brier score (reliability − resolution
    * + uncertainty — WHY a probability scorer is bad: miscalibrated,
    * or just uninformative?; the diagnosis q181's ECE alone can't
    * give). Probabilities arrive as integer basis points on the 0–100
    * cents grid (`probCents`), so the direct Brier sum
    * Σ(p−y)² is an exact integer in 1e-4 units. Bins are equal-width
    * over [0,1]; REL = Σ nₖ(p̄ₖ−ȳₖ)²/N and RES = Σ nₖ(ȳₖ−ȳ)²/N fold
    * per-bin double terms of exact integer moments on the 1e-6 grid.
    * Binning makes the identity inexact by the within-bin variance of
    * p — reported as `residual`. Output one row:
    * `n, brier, reliability, resolution, uncertainty, residual`.
    *
    * Scale shape: one pass to `bins` rows + one 1-row total broadcast.
    */
  def brierDecomposition(df: DataFrame, probCents: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val base = df.select(probCents.cast("long").as("__p"),
      when(label, 1L).otherwise(0L).as("__y"))
    val binned = base.withColumn("__b",
      least(floor(col("__p") * bins / 100).cast("long"), lit(bins - 1L)))
    val per = binned.groupBy("__b").agg(count(lit(1)).as("__nk"),
      sum("__p").as("__sp"), sum("__y").as("__sy"),
      sum((col("__p") - col("__y") * 100L) *
        (col("__p") - col("__y") * 100L)).as("__sse4"))
    val tot = per.agg(sum("__nk").as("__tn"), sum("__sy").as("__tsy"),
      sum("__sse4").as("__tsse4"))
    val pBar = col("__sp").cast("double") / col("__nk") / 100d
    val yBar = col("__sy").cast("double") / col("__nk")
    val yAll = col("__tsy").cast("double") / col("__tn")
    val folded = per.crossJoin(broadcast(tot)).agg(
      max("__tn").as("n"), max("__tsy").as("__tsyx"),
      max("__tsse4").as("__tsse4x"),
      sum(floor(col("__nk") * (pBar - yBar) * (pBar - yBar) * 1e6 + 0.5)
        .cast("long")).as("__rel6"),
      sum(floor(col("__nk") * (yBar - yAll) * (yBar - yAll) * 1e6 + 0.5)
        .cast("long")).as("__res6"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val nD = col("n").cast("double")
    val brier = col("__tsse4x").cast("double") / 1e4 / nD
    val rel = col("__rel6").cast("double") / 1e6 / nD
    val res = col("__res6").cast("double") / 1e6 / nD
    val yA = col("__tsyx").cast("double") / nD
    val unc = yA * (lit(1d) - yA)
    folded.select(col("n"), g6(brier).as("brier"), g6(rel).as("reliability"),
      g6(res).as("resolution"), g6(unc).as("uncertainty"),
      g6(brier - (rel - res + unc)).as("residual"))
  }

  /** 3×3 determinant as one Column expression — row-major operands.
    * The expansion order is FIXED (first-row cofactors, products
    * before subtractions) and [[ols2Det3Sql]] renders the identical
    * text for the oracle, so both engines evaluate the same IEEE
    * operation sequence.
    */
  private def det3(a: Column, b: Column, c: Column, d: Column, e: Column,
      f: Column, g: Column, h: Column, i: Column): Column =
    a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

  /** The SQL text of [[det3]] over nine operand strings. */
  def ols2Det3Sql(a: String, b: String, c: String, d: String, e: String,
      f: String, g: String, h: String, i: String): String =
    s"$a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g)" +
      s" + $c * ($d * $h - $e * $g)"

  /** Two-feature ordinary least squares per group, solved in closed
    * form by Cramer's rule on the 3×3 normal equations — the
    * multi-feature extension of q213's Theil–Sen / q203's logistic GD:
    * ŷ = b0 + b1·x1 + b2·x2 with exact integer-grid inputs. One
    * corpus pass accumulates the nine moments (cross-products in
    * decimal(38,0) — overflow-safe past int64); the determinants are
    * identical double algebra over those moments. R² comes from the
    * normal-equations identity SSE = Syy − (b0·Sy + b1·Sx1y + b2·Sx2y).
    * Output per group:
    * `group, n, b0, b1, b2, r2` (coefficients in the callers' grid
    * units, 1e-6 sign-aware grids).
    *
    * Scale shape: one map-side-combined groupBy — no joins, no
    * windows; the solve is per-group scalar algebra.
    */
  def ols2(df: DataFrame, groupCol: String, y: Column, x1: Column,
      x2: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val per = df.select(col(groupCol).as("group"), y.as("__y"),
        x1.as("__x1"), x2.as("__x2"))
      .where(col("__y").isNotNull && col("__x1").isNotNull &&
        col("__x2").isNotNull)
      .groupBy("group")
      .agg(count(lit(1)).as("n"),
        sum("__x1").as("__sx1"), sum("__x2").as("__sx2"),
        sum("__y").as("__sy"),
        sum(dec(col("__x1")) * col("__x1")).as("__sx11"),
        sum(dec(col("__x1")) * col("__x2")).as("__sx12"),
        sum(dec(col("__x2")) * col("__x2")).as("__sx22"),
        sum(dec(col("__x1")) * col("__y")).as("__sx1y"),
        sum(dec(col("__x2")) * col("__y")).as("__sx2y"),
        sum(dec(col("__y")) * col("__y")).as("__syy"))
    val nD = col("n").cast("double")
    val sx1 = col("__sx1").cast("double")
    val sx2 = col("__sx2").cast("double")
    val sy = col("__sy").cast("double")
    val sx11 = col("__sx11").cast("double")
    val sx12 = col("__sx12").cast("double")
    val sx22 = col("__sx22").cast("double")
    val sx1y = col("__sx1y").cast("double")
    val sx2y = col("__sx2y").cast("double")
    val syy = col("__syy").cast("double")
    val dd = det3(nD, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    val d0 = det3(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22)
    val d1 = det3(nD, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22)
    val d2 = det3(nD, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y)
    val b0 = d0 / dd
    val b1 = d1 / dd
    val b2 = d2 / dd
    val sse = syy - (b0 * sy + b1 * sx1y + b2 * sx2y)
    val sst = syy - sy * sy / nD
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    per.select(col("group"), col("n"),
      when(dd =!= 0d, g6(b0)).as("b0"),
      when(dd =!= 0d, g6(b1)).as("b1"),
      when(dd =!= 0d, g6(b2)).as("b2"),
      when(dd =!= 0d && sst > 0, g6(lit(1d) - sse / sst)).as("r2"))
      .orderBy("group")
  }

  /** Best single split of an integer-grid feature against a binary
    * label by weighted Gini impurity — the CART decision-stump search
    * (the one-feature "is this feature worth anything" audit a
    * labeling pipeline runs before training anything). Candidates are
    * the `bins` equal-width buckets of the observed [min, max] range
    * (integer bucket arithmetic — at 100 TB you never enumerate
    * distinct values); the split `x ≤ max(bucket b)` is scored by
    * cumulative pos/neg counts over the bucket grid. Output one row:
    * `n, n_pos, best_threshold, n_left, gini_root, gini_split, gain`
    * (grids 1e-6; argmin tie-breaks toward the smaller threshold).
    *
    * Scale shape: one pass to ≤ `bins` rows (after a broadcast 1-row
    * min/max), one bounded cumulative window over the bucket grid.
    */
  def giniSplit(df: DataFrame, x: Column, label: Column,
      bins: Int = 32): DataFrame = {
    require(bins >= 2, "need at least two candidate bins")
    val base = df.select(x.cast("long").as("__x"),
        when(label, 1L).otherwise(0L).as("__yy"))
      .where(col("__x").isNotNull)
    val mm = base.agg(min("__x").as("__mn"), max("__x").as("__mx"))
    val binned = base.crossJoin(broadcast(mm)).select(
      expr(s"((__x - __mn) * $bins) div (__mx - __mn + 1)").as("__b"),
      col("__x"), col("__yy"))
    val per = binned.groupBy("__b").agg(
      count(lit(1)).as("__c"), sum("__yy").as("__p"),
      max("__x").as("__thr"))
    val wCum = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum("__c").as("__n"), sum("__p").as("__np"))
    val cum = per
      .withColumn("__cl", sum("__c").over(wCum))
      .withColumn("__pl", sum("__p").over(wCum))
      .crossJoin(broadcast(tot))
      .where(col("__cl") < col("__n")) // a split must leave a right side
    val nD = col("__n").cast("double")
    val nl = col("__cl").cast("double")
    val nr = nD - nl
    val pl = col("__pl").cast("double")
    val pr = col("__np").cast("double") - pl
    // the m > 0 guard is load-bearing: Catalyst may collapse this
    // projection BELOW the `__cl < __n` filter and speculatively
    // evaluate the last grid row (nr = 0) — ANSI division would throw
    def gini(p: Column, q: Column, m: Column): Column =
      when(m > 0, lit(1d) - (p / m) * (p / m) - (q / m) * (q / m))
        .otherwise(lit(0d))
    val gl = gini(pl, nl - pl, nl)
    val gr = gini(pr, nr - pr, nr)
    val weighted = nl / nD * gl + nr / nD * gr
    val scored = cum.select(col("__n"), col("__np"), col("__thr"),
      col("__cl"),
      floor(weighted * 1e9 + 0.5).cast("long").as("__w9"))
    val best = scored.agg(
      min(struct(col("__w9"), col("__thr"))).as("__best"),
      max("__n").as("n"), max("__np").as("n_pos"))
    val p0 = col("n_pos").cast("double")
    val n0 = col("n").cast("double")
    val rootG = lit(1d) - (p0 / n0) * (p0 / n0) -
      ((n0 - p0) / n0) * ((n0 - p0) / n0)
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    best
      .join(scored.select(col("__thr"), col("__w9"), col("__cl")),
        col("__best.__thr") === col("__thr") &&
          col("__best.__w9") === col("__w9"))
      .select(col("n"), col("n_pos"), col("__thr").as("best_threshold"),
        col("__cl").as("n_left"),
        g6(rootG).as("gini_root"),
        g6(col("__w9").cast("double") / 1e9).as("gini_split"),
        g6(rootG - col("__w9").cast("double") / 1e9).as("gain"))
  }

  /** Effect-size panel for every pair of groups: Cohen's d (pooled-sd
    * standardized mean gap), Hedges' g (its small-sample correction)
    * and Cliff's delta (the ordinal P(a>b) − P(a<b) that doesn't
    * assume any distribution) — the "HOW different, not just
    * significantly different" companion to [[welchT]]'s t-statistics.
    * Cliff's delta reduces to exact integer counting on the distinct-
    * cents grid: per group-pair, Σ cntA·cumBelowB gives the greater-
    * than pairs and Σ cntA·cntB the ties, so no subject-pair is ever
    * enumerated. Output per pair (group_a < group_b):
    * `group_a, group_b, n_a, n_b, cohens_d, hedges_g, cliffs_delta`
    * (1e-6 sign-aware grids).
    *
    * Scale shape: one pass to the (group × distinct-cents) grid, one
    * per-group cumulative window over that grid (value domain, not
    * rows), one grid-sized pair join, k²-row algebra. Count products
    * bound long at ≤ ~3·10⁹ rows per group pair.
    */
  def effectSizes(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val grid = Caches.persist(
      base.groupBy("__g", "__c").agg(count(lit(1)).as("__cnt")))
    val full = grid.select("__c").distinct()
      .crossJoin(grid.select("__g").distinct())
      .join(grid, Seq("__g", "__c"), "left")
      .select(col("__g"), col("__c"),
        coalesce(col("__cnt"), lit(0L)).as("__cnt"))
    val wCum = Window.partitionBy("__g").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = full.withColumn("__below",
      coalesce(sum("__cnt").over(wCum), lit(0L)))
    val per = grid.groupBy("__g").agg(sum("__cnt").as("__n"),
        sum(col("__c") * col("__cnt")).as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c") * col("__cnt"))
          .as("__q"))
      .filter(col("__n") >= 2)
    val pairCells = grid
      .select(col("__g").as("__ga"), col("__c"), col("__cnt").as("__ca"))
      .join(cum.select(col("__g").as("__gb"), col("__c"),
          col("__cnt").as("__cb"), col("__below")),
        Seq("__c"))
      .where(col("__ga") < col("__gb"))
    val counts = pairCells.groupBy("__ga", "__gb").agg(
      sum(col("__ca") * col("__below")).as("__gt"),
      sum(col("__ca") * col("__cb")).as("__eq"))
    val a = per.select(col("__g").as("__ga"), col("__n").as("n_a"),
      col("__s").as("__sa"), col("__q").as("__qa"))
    val b = per.select(col("__g").as("__gb"), col("__n").as("n_b"),
      col("__s").as("__sb"), col("__q").as("__qb"))
    val joined = a.join(b, col("__ga") < col("__gb"))
      .join(counts, Seq("__ga", "__gb"))
    def m(s: Column, n: Column): Column = s.cast("double") / n / 100d
    def v(q: Column, s: Column, n: Column): Column =
      (q.cast("double") - s.cast("double") * s / n) / (n - 1) / 1e4
    val va = v(col("__qa"), col("__sa"), col("n_a"))
    val vb = v(col("__qb"), col("__sb"), col("n_b"))
    val pooled = ((col("n_a") - 1) * va + (col("n_b") - 1) * vb) /
      (col("n_a") + col("n_b") - 2).cast("double")
    val d = (m(col("__sa"), col("n_a")) - m(col("__sb"), col("n_b"))) /
      sqrt(pooled)
    val g = d * (lit(1d) -
      lit(3d) / (lit(4L) * (col("n_a") + col("n_b")) - 9L))
    val lt = col("n_a") * col("n_b") - col("__gt") - col("__eq")
    val delta = (col("__gt") - lt).cast("double") /
      (col("n_a") * col("n_b"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    joined.select(col("__ga").as("group_a"), col("__gb").as("group_b"),
      col("n_a"), col("n_b"),
      when(pooled > 0, g6(d)).as("cohens_d"),
      when(pooled > 0, g6(g)).as("hedges_g"),
      g6(delta).as("cliffs_delta"))
      .orderBy("group_a", "group_b")
  }

  /** Levene's test for equal variances (mean-centered original form):
    * one-way ANOVA on the absolute deviations z = |x − x̄_g| — the
    * "are the spreads equal" gate that should precede any pooled-
    * variance comparison ([[anovaF]] assumes it). The per-group means
    * are exact rationals of integer cents; each z quantizes to a
    * 1e-6-grid long, and the ANOVA algebra then runs on exact integer
    * moments (the [[anovaF]] identities on the finer grid). Output one
    * row: `k_groups, n, w_stat` (1e-4 grid).
    *
    * Scale shape: two passes (group means broadcast back by a k-row
    * join, then one map-side-combined moment aggregate). No windows.
    */
  def leveneMean(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val means = base.groupBy("__g")
      .agg(count(lit(1)).as("__nm"), sum("__c").as("__sm"))
    val z = base.join(broadcast(means), Seq("__g"))
      .select(col("__g"),
        floor(abs(col("__c").cast("double") -
          col("__sm").cast("double") / col("__nm")) / 100d * 1e6 + 0.5)
          .cast("long").as("__z"))
    val per = z.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__z").as("__s"),
        sum(col("__z").cast("decimal(38,0)") * col("__z")).as("__q"))
    val roll = per.agg(count(lit(1)).as("k_groups"),
      sum("__n").as("n"), sum("__s").as("__ts"),
      sum("__q").cast("decimal(38,0)").as("__tq"),
      sum(floor(col("__s").cast("double") * col("__s") / col("__n")
          / 1e12 * 1e6 + 0.5).cast("long")).as("__sb6"))
    val grand = col("__ts").cast("double") * col("__ts") / col("n") / 1e12
    val ssb = col("__sb6").cast("double") / 1e6 - grand
    val sst = col("__tq").cast("double") / 1e12 - grand
    val ssw = sst - ssb
    val f = (ssb / (col("k_groups") - 1).cast("double")) /
      (ssw / (col("n") - col("k_groups")).cast("double"))
    roll.select(col("k_groups"), col("n"),
      when(col("k_groups") > 1 && col("n") > col("k_groups") && ssw > 0,
        floor(f * 1e4 + 0.5) / 1e4).as("w_stat"))
  }

  /** Fleiss' kappa for m raters × binary verdicts per item — the
    * multi-rater agreement score q287's Cohen kappa (two raters)
    * can't give: with n_i positive votes of m per item,
    * P̄ = mean of [n_i(n_i−1) + (m−n_i)(m−n_i−1)]/(m(m−1)) and
    * P̄_e = p₁² + p₀² from the pooled vote shares;
    * κ = (P̄ − P̄e)/(1 − P̄e). Items missing any rater's verdict are
    * EXCLUDED (Fleiss assumes complete panels) and counted. All
    * integer moments; the final κ is double algebra. Output one row:
    * `n_items, m_raters, n_excluded, p_bar, p_e, kappa`
    * (1e-6 grids).
    *
    * Scale shape: one (item × rater) boolean aggregate, one item-
    * grain fold. The rater count m is a 1-row aggregate broadcast.
    */
  def fleissKappa(df: DataFrame, itemCol: String, raterCol: String,
      pred: Column): DataFrame = {
    // persisted: the rater-count action below and the main plan both
    // read this (item × rater) aggregate — without the cache the full
    // corpus pass runs twice per call
    val cells = Caches.persist(df.groupBy(col(itemCol).as("__i"),
        col(raterCol).as("__r"))
      .agg(max(when(pred, 1L).otherwise(0L)).as("__x")))
    val m = cells.select("__r").distinct().count()
    val per = cells.groupBy("__i")
      .agg(count(lit(1)).as("__mr"), sum("__x").as("__ni"))
    val complete = per.filter(col("__mr") === m)
    val excluded = per.filter(col("__mr") =!= m)
      .agg(count(lit(1)).as("__ex"))
    val folded = complete.agg(count(lit(1)).as("n_items"),
      sum("__ni").as("__tp"),
      sum(col("__ni") * (col("__ni") - 1L) +
        (lit(m) - col("__ni")) * (lit(m) - col("__ni") - 1L))
        .as("__agree"))
    val nD = col("n_items").cast("double")
    val mD = lit(m.toDouble)
    val pBar = col("__agree").cast("double") /
      (nD * (mD * (mD - 1d)))
    val p1 = col("__tp").cast("double") / (nD * mD)
    val pE = p1 * p1 + (lit(1d) - p1) * (lit(1d) - p1)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    folded.crossJoin(broadcast(excluded))
      .select(col("n_items"), lit(m).as("m_raters"),
        col("__ex").as("n_excluded"),
        when(col("n_items") > 0, g6(pBar)).as("p_bar"),
        when(col("n_items") > 0, g6(pE)).as("p_e"),
        when(col("n_items") > 0 && pE < 1d,
          g6((pBar - pE) / (lit(1d) - pE))).as("kappa"))
  }

  /** Wilcoxon signed-rank test for per-unit paired differences — the
    * rank-based middle ground between [[signFlipTest]] (exact but
    * permutation-priced) and a paired t-test (normality-priced):
    * zero differences drop, |d| gets tie-averaged ranks (the q324
    * doubled-rank integers over the distinct-|d| grid), W⁺ sums the
    * positive-side ranks, and z uses the tie-corrected normal
    * approximation σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48. Everything is
    * exact integer arithmetic until the final z ratio. Output one
    * row: `n_nonzero, w_plus, w_minus, z` (w on the exact .5 grid,
    * z 1e-6 sign-aware).
    *
    * Scale shape: one unit-grain aggregate, one distinct-|d| grid
    * window, one fold.
    */
  def wilcoxonSignedRank(df: DataFrame, unitCol: String,
      valueCol: String, predA: Column, predB: Column): DataFrame = {
    val cents = floor(col(valueCol).cast("double") * 100d + 0.5)
      .cast("long")
    val per = df.filter(col(valueCol).isNotNull && (predA || predB))
      .select(col(unitCol).as("__u"),
        when(predA, cents).otherwise(lit(null)).as("__ca"),
        when(predB, cents).otherwise(lit(null)).as("__cb"))
      .groupBy("__u")
      .agg(sum("__ca").as("__sa"), count(col("__ca")).as("__na"),
        sum("__cb").as("__sb"), count(col("__cb")).as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
    val dv = col("__sa").cast("double") / col("__na") / 100d -
      col("__sb").cast("double") / col("__nb") / 100d
    val diffs = per.select(
        when(dv >= 0, floor(dv * 1e4 + 0.5))
          .otherwise(-floor(-dv * 1e4 + 0.5)).cast("long").as("__d4"))
      .where(col("__d4") =!= 0L)
      .select(abs(col("__d4")).as("__ad"),
        (col("__d4") > 0).as("__pos"))
    val grid = diffs.groupBy("__ad").agg(count(lit(1)).as("__t"),
      sum(when(col("__pos"), 1L).otherwise(0L)).as("__p"))
    val wBelow = Window.orderBy("__ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grid.withColumn("__rank2",
      lit(2L) * coalesce(sum("__t").over(wBelow), lit(0L)) +
        col("__t") + 1L)
    val folded = ranked.agg(sum("__t").as("__n"),
      sum(col("__p") * col("__rank2")).as("__wp2"),
      sum((col("__t") - col("__p")) * col("__rank2")).as("__wm2"),
      sum(col("__t") * col("__t") * col("__t") - col("__t"))
        .as("__ties"))
    val nD = col("__n").cast("double")
    val mu2 = nD * (nD + 1d) / 2d
    val varW = nD * (nD + 1d) * (lit(2d) * nD + 1d) / 24d -
      col("__ties").cast("double") / 48d
    val z = (col("__wp2").cast("double") / 2d - mu2 / 2d) / sqrt(varW)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    folded.select(col("__n").as("n_nonzero"),
      (col("__wp2").cast("double") / 2d).as("w_plus"),
      (col("__wm2").cast("double") / 2d).as("w_minus"),
      when(col("__n") > 0 && varW > 0, g6(z)).as("z"))
  }

  /** 2×2 association panel — odds ratio and relative risk with the
    * Wald log CI (Haldane–Anscombe +0.5 when any cell is empty): the
    * epidemiology-standard effect report for "does exposure X
    * co-occur with outcome Y?" at the unit grain (q211's AB test
    * gives the difference; this gives the RATIO family reviewers
    * expect). Cells are exact integers; ln runs once per report on
    * identical doubles. Output one row:
    * `n_exposed, n_unexposed, a, b, c, d, odds_ratio, log_or_se,
    * or_ci_lo, or_ci_hi, relative_risk` (1e-6 grids).
    *
    * Scale shape: one unit-grain boolean aggregate → one 4-counter
    * fold.
    */
  def oddsRatioPanel(df: DataFrame, unitCol: String, exposed: Column,
      outcome: Column): DataFrame = {
    val per = df.groupBy(col(unitCol).as("__u"))
      .agg(max(when(exposed, 1L).otherwise(0L)).as("__e"),
        max(when(outcome, 1L).otherwise(0L)).as("__o"))
    val cells = per.agg(
      sum(when(col("__e") === 1 && col("__o") === 1, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("__e") === 1 && col("__o") === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("__e") === 0 && col("__o") === 1, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("__e") === 0 && col("__o") === 0, 1L).otherwise(0L))
        .as("d"))
    val anyZero = col("a") === 0 || col("b") === 0 || col("c") === 0 ||
      col("d") === 0
    def adj(c: Column): Column =
      when(anyZero, c.cast("double") + 0.5).otherwise(c.cast("double"))
    val (aA, bA, cA, dA) = (adj(col("a")), adj(col("b")), adj(col("c")),
      adj(col("d")))
    val or = aA * dA / (bA * cA)
    val se = sqrt(lit(1d) / aA + lit(1d) / bA + lit(1d) / cA +
      lit(1d) / dA)
    val lnOr = log(or)
    val rr = (aA / (aA + bA)) / (cA / (cA + dA))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def expG(x: Column): Column = g6(exp(x))
    cells.select((col("a") + col("b")).as("n_exposed"),
      (col("c") + col("d")).as("n_unexposed"),
      col("a"), col("b"), col("c"), col("d"),
      g6(or).as("odds_ratio"), g6(se).as("log_or_se"),
      expG(lnOr - lit(1.96) * se).as("or_ci_lo"),
      expG(lnOr + lit(1.96) * se).as("or_ci_hi"),
      g6(rr).as("relative_risk"))
  }

  /** 1-D DBSCAN over the integer value grid — density clustering of a
    * numeric column without choosing k (the distribution-shape
    * answer to "how many pricing bands / activity modes exist?",
    * where q19's fixed-width histogram imposes the bins). A grid
    * value is CORE when ≥ `minPts` points fall within ±`eps` of it
    * (one RANGE-frame window over the DISTINCT-value grid — never
    * row-pair work); core values chain into clusters by
    * gaps-and-islands (gap > eps splits); non-core values within eps
    * of a core join their nearest core's cluster (ties toward the
    * smaller core value); the rest is noise. Output per cluster
    * (ordered by its minimum value, noise last as cluster −1):
    * `cluster, n_points, min_value, max_value` — all exact integers.
    *
    * Scale shape: corpus → distinct-cents grid once; the density
    * window, island scan and border join are all grid-sized.
    */
  def dbscan1d(df: DataFrame, x: Column, eps: Long,
      minPts: Long): DataFrame = {
    require(eps >= 1 && minPts >= 1, "eps and minPts must be >= 1")
    val grid = Caches.persist(
      df.select(x.cast("long").as("__c")).where(col("__c").isNotNull)
        .groupBy("__c").agg(count(lit(1)).as("__cnt")))
    val wRange = Window.orderBy("__c").rangeBetween(-eps, eps)
    val dens = grid.withColumn("__nbr", sum("__cnt").over(wRange))
    val cores = dens.where(col("__nbr") >= minPts)
    val wLag = Window.orderBy("__c")
    val islands = cores
      .withColumn("__prev", lag("__c", 1).over(wLag))
      .withColumn("__new",
        when(col("__prev").isNull || col("__c") - col("__prev") > eps,
          1L).otherwise(0L))
      .withColumn("__cl", sum("__new").over(
        wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("__c").as("__core"), col("__cl"))
    val coreSet = Caches.persist(islands)
    val borders = dens.join(coreSet,
        col("__c") =!= col("__core") &&
          abs(col("__c") - col("__core")) <= eps, "left")
      .join(coreSet.select(col("__core").as("__self")),
        col("__c") === col("__self"), "left")
      .where(col("__self").isNull) // core values resolve via islands
      .groupBy("__c")
      .agg(min(when(col("__core").isNotNull,
        struct(abs(col("__c") - col("__core")).as("__dd"),
          col("__core"), col("__cl")))).as("__near"))
    val assignedCore = grid.join(coreSet, col("__c") === col("__core"))
      .select(col("__c"), col("__cnt"), col("__cl"))
    val assignedBorder = grid
      .join(borders.where(col("__near").isNotNull), Seq("__c"))
      .select(col("__c"), col("__cnt"), col("__near.__cl").as("__cl"))
    val noise = grid
      .join(borders.where(col("__near").isNull), Seq("__c"))
      .select(col("__c"), col("__cnt"), lit(-1L).as("__cl"))
    assignedCore.unionByName(assignedBorder).unionByName(noise)
      .groupBy(col("__cl"))
      .agg(sum("__cnt").as("n_points"), min("__c").as("min_value"),
        max("__c").as("max_value"))
      .select(col("__cl").as("cluster"), col("n_points"),
        col("min_value"), col("max_value"))
      .orderBy("cluster")
  }

  /** Inverse-propensity-weighted treatment-effect estimate with
    * stratum-level propensities — the confounding-adjusted
    * alternative to a naive mean difference (the q246/q263 causal
    * family's missing member: DiD needs time, CUPED needs a
    * pre-period; IPW needs only a stratification). Within stratum s,
    * p̂_s = n_t/n is an exact rational, so the weighted sums reduce
    * to integer algebra: Σ y·t/p̂ = ΣY_t · n/n_t per stratum.
    * Strata violating positivity (no treated or no control) are
    * EXCLUDED and counted. Per-stratum terms quantize to 1e-6
    * pre-fold. Output one row:
    * `n, n_treated, n_excluded_strata, naive_diff, ipw_ate`
    * (1e-6 grids).
    *
    * Scale shape: one stratum-grain moment aggregate; everything
    * after is strata-row algebra.
    */
  def ipwEffect(df: DataFrame, stratumCol: String, treated: Column,
      outcome: Column): DataFrame = {
    val base = df.select(col(stratumCol).as("__st"),
        when(treated, 1L).otherwise(0L).as("__t"),
        outcome.cast("long").as("__y"))
      .where(col("__y").isNotNull)
    val per = base.groupBy("__st").agg(count(lit(1)).as("__n"),
      sum("__t").as("__nt"),
      sum(when(col("__t") === 1L, col("__y")).otherwise(0L)).as("__yt"),
      sum(when(col("__t") === 0L, col("__y")).otherwise(0L)).as("__yc"))
    val ok = col("__nt") > 0 && col("__nt") < col("__n")
    def q6(c: Column): Column =
      when(c >= 0, floor(c * 1e6 + 0.5)).otherwise(-floor(-c * 1e6 + 0.5))
        .cast("long")
    val termT = col("__yt").cast("double") * col("__n") / col("__nt")
    val termC = col("__yc").cast("double") * col("__n") /
      (col("__n") - col("__nt"))
    val folded = per.agg(
      sum(when(ok, col("__n")).otherwise(0L)).as("n"),
      sum(when(ok, col("__nt")).otherwise(0L)).as("n_treated"),
      sum(when(!ok, 1L).otherwise(0L)).as("n_excluded_strata"),
      sum(when(ok, col("__yt")).otherwise(0L)).as("__syt"),
      sum(when(ok, col("__yc")).otherwise(0L)).as("__syc"),
      sum(when(ok, q6(termT)).otherwise(0L)).as("__wt6"),
      sum(when(ok, q6(termC)).otherwise(0L)).as("__wc6"))
    val nD = col("n").cast("double")
    val naive = col("__syt").cast("double") / col("n_treated") -
      col("__syc").cast("double") / (col("n") - col("n_treated"))
    val ate = (col("__wt6").cast("double") / 1e6 -
      col("__wc6").cast("double") / 1e6) / nD
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    folded.select(col("n"), col("n_treated"),
      col("n_excluded_strata"),
      when(col("n_treated") > 0 && col("n") > col("n_treated"),
        g6(naive)).as("naive_diff"),
      when(col("n") > 0, g6(ate)).as("ipw_ate"))
  }

  /** Grubbs' single-outlier test (Grubbs 1950): G = max|x−x̄|/s — the
    * parametric "is the most extreme point too extreme?" check next
    * to q222's distribution-free MAD screen. The argmax is decided on
    * EXACT integers (|c·n − Σc| cross-multiplied deviations, ties
    * toward the larger value); G is double algebra over exact
    * moments under IEEE sqrt. Output one row:
    * `n, mean, sd, outlier_value, g_stat` (1e-6/1e-4 grids).
    *
    * Scale shape: one moment pass + one max pass (both map-side
    * combined) against a broadcast 1-row total. Deviation products
    * bound int64 to ~10¹⁸/max-cents rows.
    */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast("double") * 100d + 0.5)
        .cast("long").as("__c"))
    val mom = base.agg(count(lit(1)).as("n"), sum("__c").as("__s"),
      sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
    val dev = abs(col("__c") * col("n") - col("__s"))
    val far = base.crossJoin(broadcast(mom))
      .groupBy("n", "__s", "__q")
      .agg(max(struct(dev.as("__d"), col("__c"))).as("__worst"))
    val nD = col("n").cast("double")
    val mean = col("__s").cast("double") / nD / 100d
    val variance = (col("__q").cast("double") -
      col("__s").cast("double") * col("__s") / nD) / (nD - 1d) / 1e4
    val sd = sqrt(variance)
    val g = col("__worst.__d").cast("double") / nD / 100d / sd
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    far.select(col("n"), g6(mean).as("mean"),
      when(variance > 0, g6(sd)).as("sd"),
      col("__worst.__c").as("outlier_value"),
      when(variance > 0 && col("n") > 1, floor(g * 1e4 + 0.5) / 1e4)
        .as("g_stat"))
  }

  /** Jackknife (leave-one-unit-out) standard error of a ratio metric
    * R = Σnum/Σden — the correct uncertainty for per-user ratio KPIs
    * (revenue per event, CTR), where row-level bootstrap is wrong
    * because users are the exchangeable unit and q185's replication
    * works per GROUP, not for one global ratio. Each pseudo-ratio
    * R₍₋ᵤ₎ = (A−aᵤ)/(B−bᵤ) comes from the broadcast totals (no n×
    * recompute), quantizes to the 1e-9 grid, and the variance folds
    * exact integer moments: v = (n−1)/n · Σ(Rᵤ−R̄)². Output one row:
    * `n_units, ratio, jk_se, ci_lo, ci_hi` (±1.96·se, 1e-6 grids).
    *
    * Scale shape: one unit-grain aggregate + a broadcast 1-row total;
    * nothing quadratic anywhere.
    */
  def jackknifeRatio(df: DataFrame, unitCol: String, num: Column,
      den: Column): DataFrame = {
    val per = df.groupBy(col(unitCol).as("__u"))
      .agg(sum(num).cast("long").as("__a"),
        sum(den).cast("long").as("__b"))
    val tot = per.agg(sum("__a").as("__ta"), sum("__b").as("__tb"))
    val loo = per.crossJoin(broadcast(tot))
      .where(col("__tb") - col("__b") > 0)
    val rU = (col("__ta") - col("__a")).cast("double") /
      (col("__tb") - col("__b"))
    val r9 = when(rU >= 0, floor(rU * 1e9 + 0.5))
      .otherwise(-floor(-rU * 1e9 + 0.5)).cast("long")
    val mom = loo.select(r9.as("__r9"), col("__ta"), col("__tb"))
      .groupBy("__ta", "__tb")
      .agg(count(lit(1)).as("n_units"), sum("__r9").as("__sr"),
        sum(col("__r9").cast("decimal(38,0)") * col("__r9")).as("__qr"))
    val nD = col("n_units").cast("double")
    val ratio = col("__ta").cast("double") / col("__tb")
    val ss = (col("__qr").cast("double") -
      col("__sr").cast("double") * col("__sr") / nD) / 1e18
    val v = (nD - 1d) / nD * ss
    val se = sqrt(v)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    mom.select(col("n_units"), g6(ratio).as("ratio"),
      when(col("n_units") > 1 && ss >= 0, g6(se)).as("jk_se"),
      when(col("n_units") > 1 && ss >= 0,
        g6(ratio - lit(1.96) * se)).as("ci_lo"),
      when(col("n_units") > 1 && ss >= 0,
        g6(ratio + lit(1.96) * se)).as("ci_hi"))
  }

  /** Hill estimator of the right-tail index (Hill 1975) — "how heavy
    * is the value tail?" (α ≤ 2 ⇒ infinite variance; the
    * heavy-tail audit behind q183's Zipf fit and q184's Gini). Over
    * the top `k` order statistics x₁ ≥ … ≥ x_k:
    * H = mean of ln(x_i/x_k) for i < k, α = 1/H. Each ln term
    * quantizes to the 1e-9 grid before the fold. Output one row:
    * `k, threshold, hill_mean, tail_index` (1e-6/1e-4 grids).
    *
    * Scale shape: the top-k filter compiles to a map-side
    * WindowGroupLimit (no full sort); everything after is k-row
    * algebra.
    */
  def hillTail(df: DataFrame, x: Column, k: Int = 50): DataFrame = {
    require(k >= 3, "need at least 3 order statistics")
    val base = df.select(x.cast("long").as("__x"))
      .where(col("__x").isNotNull && col("__x") > 0)
    val w = Window.orderBy(col("__x").desc)
    val top = base.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
    val thr = top.agg(min("__x").as("__xk"), max("__rn").as("__kk"))
    val terms = top.crossJoin(broadcast(thr))
      .where(col("__rn") < col("__kk"))
      .agg(sum(floor(log(col("__x").cast("double") / col("__xk")) * 1e9
        + 0.5).cast("long")).as("__s9"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val hill = col("__s9").cast("double") / 1e9 / (col("__kk") - 1)
    broadcast(thr).crossJoin(terms)
      .select(col("__kk").as("k"), col("__xk").as("threshold"),
        g6(hill).as("hill_mean"),
        when(hill > 0, floor(lit(1d) / hill * 1e4 + 0.5) / 1e4)
          .as("tail_index"))
  }

  /** Cochran's Q test — the k-treatment binary repeated-measures test
    * (the Friedman of 0/1 outcomes, the McNemar of k > 2): do the k
    * conditions fire at the same rate across the same blocks?
    * Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) over per-block binary
    * reductions — pure int64 arithmetic until the final ratio.
    * Output one row: `n_blocks, k_treatments, q_stat` (1e-4 grid,
    * NULL when the denominator degenerates).
    *
    * Scale shape: one (block × treatment) boolean aggregate, two
    * marginal reductions. Column totals C_j are treatment-grain;
    * row-total squares fold map-side.
    */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      pred: Column): DataFrame = {
    // persisted for the same reason as fleissKappa's cells: the
    // treatment-count action and the main plan share one aggregate pass
    val cells = Caches.persist(df.groupBy(col(blockCol).as("__b"),
        col(treatCol).as("__t"))
      .agg(max(when(pred, 1L).otherwise(0L)).as("__x")))
    val k = cells.select("__t").distinct().count()
    val rows = cells.groupBy("__b").agg(sum("__x").as("__r"))
      .agg(count(lit(1)).as("n_blocks"), sum("__r").as("__N"),
        sum(col("__r") * col("__r")).as("__R2"))
    val cols = cells.groupBy("__t").agg(sum("__x").as("__c"))
      .agg(sum(col("__c") * col("__c")).as("__C2"))
    val num = (lit(k - 1) * (lit(k) * col("__C2") -
      col("__N") * col("__N"))).cast("double")
    val den = (lit(k) * col("__N") - col("__R2")).cast("double")
    rows.crossJoin(broadcast(cols))
      .select(col("n_blocks"), lit(k).as("k_treatments"),
        when(den > 0, floor(num / den * 1e4 + 0.5) / 1e4).as("q_stat"))
  }

  /** Simpson's-paradox audit: per-stratum vs pooled linear association
    * between two numeric columns — flags strata whose covariance SIGN
    * contradicts the pooled sign (the aggregation-reversal trap every
    * metrics dashboard needs guarded). Signs come from the exact
    * integer covariance numerator n·Σxy − Σx·Σy (no float compare);
    * Pearson r is reported alongside on the 1e-6 grid. Output one row
    * per stratum plus a pooled `__all` row:
    * `stratum, n, cov_sign, r, reverses_pooled`.
    *
    * Scale shape: one map-side-combined moment aggregate per stratum;
    * the pooled row folds the same moments. No joins beyond the 1-row
    * pooled broadcast.
    */
  def simpsonsAudit(df: DataFrame, stratumCol: String, x: Column,
      y: Column): DataFrame = {
    val base = df.select(col(stratumCol).cast("string").as("__st"),
        x.cast("long").as("__x"), y.cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val per = base.groupBy("__st").agg(count(lit(1)).as("n"),
      sum("__x").as("__sx"), sum("__y").as("__sy"),
      sum(col("__x").cast("decimal(38,0)") * col("__y")).as("__sxy"),
      sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"),
      sum(col("__y").cast("decimal(38,0)") * col("__y")).as("__syy"))
    val pooled = per.agg(lit("__all").as("__st"),
      sum("n").as("n"), sum("__sx").as("__sx"), sum("__sy").as("__sy"),
      sum("__sxy").cast("decimal(38,0)").as("__sxy"),
      sum("__sxx").cast("decimal(38,0)").as("__sxx"),
      sum("__syy").cast("decimal(38,0)").as("__syy"))
    val all = per.unionByName(pooled)
    val cov = col("n").cast("decimal(38,0)") * col("__sxy") -
      col("__sx").cast("decimal(38,0)") * col("__sy")
    val dx = col("n").cast("decimal(38,0)") * col("__sxx") -
      col("__sx").cast("decimal(38,0)") * col("__sx")
    val dy = col("n").cast("decimal(38,0)") * col("__syy") -
      col("__sy").cast("decimal(38,0)") * col("__sy")
    val sign = when(cov > 0, 1).when(cov < 0, -1).otherwise(0)
    val r = cov.cast("double") / (sqrt(dx.cast("double")) *
      sqrt(dy.cast("double")))
    def g6(c: Column): Column =
      when(c >= 0, floor(c * 1e6 + 0.5)).otherwise(-floor(-c * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val scored = all.select(col("__st").as("stratum"), col("n"),
      sign.as("cov_sign"),
      when(dx > 0 && dy > 0, g6(r)).as("r"))
    val pooledSign = scored.where(col("stratum") === "__all")
      .select(col("cov_sign").as("__ps"))
    scored.crossJoin(broadcast(pooledSign))
      .select(col("stratum"), col("n"), col("cov_sign"), col("r"),
        (col("cov_sign") =!= 0 && col("__ps") =!= 0 &&
          col("cov_sign") =!= col("__ps")).as("reverses_pooled"))
      .orderBy("stratum")
  }

  /** Isotonic calibration (exact PAVA fit) of a binary label against
    * a score — the monotone recalibration step that turns any ranking
    * score into a probability without q181's binned-identity
    * assumption. Scores bucket into `bins` equal-width buckets; the
    * fitted rate uses the closed-form minimax identity
    * fitted_i = min_{j≥i} max_{k≤i} rate(k..j) (equal to the PAVA
    * pool-adjacent-violators solution), evaluated over all (k, i, j)
    * bucket triples — O(bins³) rows of exact integer cumulative
    * moments, no iteration and no data-sized work. Output per bucket:
    * `bucket, max_score, n, raw_rate, fitted_rate` (1e-6 grids;
    * fitted_rate is non-decreasing by construction).
    *
    * Scale shape: one pass to ≤ `bins` rows (after a broadcast 1-row
    * min/max), then bins³ ≤ ~10⁴ rows of algebra. Nothing here grows
    * with the data.
    */
  def isotonicCalibration(df: DataFrame, x: Column, label: Column,
      bins: Int = 12): DataFrame = {
    require(bins >= 2 && bins <= 64, "bins in [2, 64]")
    val base = df.select(x.cast("long").as("__x"),
        when(label, 1L).otherwise(0L).as("__yy"))
      .where(col("__x").isNotNull)
    val mm = base.agg(min("__x").as("__mn"), max("__x").as("__mx"))
    val per = base.crossJoin(broadcast(mm))
      .select(expr(s"((__x - __mn) * $bins) div (__mx - __mn + 1)")
        .as("__b"), col("__x"), col("__yy"))
      .groupBy("__b")
      .agg(count(lit(1)).as("__w"), sum("__yy").as("__s"),
        max("__x").as("__thr"))
    val wCum = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = Caches.persist(per
      .withColumn("__cw", sum("__w").over(wCum))
      .withColumn("__cs", sum("__s").over(wCum)))
    val ks = cum.select(col("__b").as("__k"),
      (col("__cw") - col("__w")).as("__cwp"),
      (col("__cs") - col("__s")).as("__csp"))
    val js = cum.select(col("__b").as("__j"), col("__cw").as("__cwj"),
      col("__cs").as("__csj"))
    val is = cum.select(col("__b").as("__i"), col("__w").as("n"),
      col("__s").as("__si"), col("__thr").as("max_score"))
    val triples = ks.join(js, col("__k") <= col("__j"))
      .join(is, col("__k") <= col("__i") && col("__i") <= col("__j"))
    val avg = (col("__csj") - col("__csp")).cast("double") /
      (col("__cwj") - col("__cwp"))
    val inner = triples
      .groupBy("__i", "__j", "n", "__si", "max_score")
      .agg(max(avg).as("__mx"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    inner.groupBy(col("__i").as("bucket"), col("max_score"), col("n"),
        col("__si"))
      .agg(min("__mx").as("__fit"))
      .select(col("bucket"), col("max_score"), col("n"),
        g6(col("__si").cast("double") / col("n")).as("raw_rate"),
        g6(col("__fit")).as("fitted_rate"))
      .orderBy("bucket")
  }

  /** Paired sign-flip permutation (randomization) test — the
    * distribution-free significance check for a per-unit paired
    * difference (here: does metric A exceed metric B for the same
    * units?) that needs no normality and no variance model. The
    * observed statistic is T = Σ d_u on the 1e-4 grid; each of `reps`
    * deterministic md5 coin flips re-signs every unit's difference,
    * and p = #(|T_r| ≥ |T|)/reps. Everything is exact integer
    * arithmetic — the md5 signs replay bit-identically in any engine.
    * Output one row:
    * `n_units, t_obs, n_reps, n_extreme, p_value`.
    *
    * Scale shape: one unit-grain aggregate, then a units × reps
    * expansion that immediately re-aggregates to `reps` rows (map-side
    * combined — nothing rep-sized ever shuffles raw units).
    */
  def signFlipTest(df: DataFrame, unitCol: String, valueCol: String,
      predA: Column, predB: Column, reps: Int = 200): DataFrame = {
    require(reps >= 1, "need at least one permutation rep")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = floor(col(valueCol).cast("double") * 100d + 0.5)
      .cast("long")
    val per = df.filter(col(valueCol).isNotNull && (predA || predB))
      .select(col(unitCol).as("__u"),
        when(predA, cents).otherwise(lit(null)).as("__ca"),
        when(predB, cents).otherwise(lit(null)).as("__cb"))
      .groupBy("__u")
      .agg(sum("__ca").as("__sa"), count(col("__ca")).as("__na"),
        sum("__cb").as("__sb"), count(col("__cb")).as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
    val dv = col("__sa").cast("double") / col("__na") / 100d -
      col("__sb").cast("double") / col("__nb") / 100d
    val diffs = Caches.persist(per.select(col("__u"),
      when(dv >= 0, floor(dv * 1e4 + 0.5))
        .otherwise(-floor(-dv * 1e4 + 0.5)).cast("long").as("__d4")))
    val obs = diffs.agg(count(lit(1)).as("n_units"),
      sum("__d4").as("__t4"))
    val repsDf = spark.range(reps).toDF("__r")
    val flipped = diffs.crossJoin(repsDf)
      .select(col("__r"),
        (when(pmod(graft.functions.md5Long(
            concat(lit("sf:"), col("__u").cast("string"), lit(":"),
              col("__r").cast("string"))), lit(2L)) === 0L, lit(1L))
          .otherwise(lit(-1L)) * col("__d4")).as("__sd"))
      .groupBy("__r").agg(sum("__sd").as("__tr"))
    val extreme = flipped.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("__tr")) >= abs(col("__t4")), 1L)
        .otherwise(0L)).as("n_extreme"), max("n_units").as("n_units"),
        max("__t4").as("__t4x"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    extreme.select(col("n_units"),
      (col("__t4x").cast("double") / 1e4).as("t_obs"),
      lit(reps).as("n_reps"), col("n_extreme"),
      g6(col("n_extreme").cast("double") / reps).as("p_value"))
  }

  /** Bartlett's test for variance homogeneity — the parametric,
    * more-powerful-under-normality sibling of [[leveneMean]] (q377):
    *   T = [(N−k)·ln s_p² − Σ (n_i−1)·ln s_i²] / C,
    *   C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    * Per-group moments are exact integer cents (squares in
    * decimal(38,0)); each group's unbiased variance numerator is
    * quantized to a shared integer unit (100·cents²) before the
    * cross-group pool, each ln s² to the 1e-6 grid, and each 1/(n−1)
    * to the 1e-9 grid — every cross-group sum is of exact integers,
    * so both engines fold in any order. Groups need n_i ≥ 2; a
    * zero-variance group makes the statistic undefined (NULL).
    * Output one row: `k_groups, n, t_stat, c_factor`
    * (t 1e-4 grid, C 1e-6 grid).
    *
    * Scale shape: one map-side-combined moment aggregate per group,
    * one k-row rollup. No windows, no joins.
    */
  def bartlett(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val per = base.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__c").as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
      .where(col("__n") >= 2L)
    // unbiased variance numerator (q − s²/n) in cents², quantized to
    // 100-cents² units; ln s² and 1/(n−1) per group as grid integers
    val num = col("__q").cast("double") -
      col("__s").cast("double") * col("__s") / col("__n")
    val v = (col("__n") - 1L).cast("double")
    val terms = per.select(col("__n"),
      floor(num / 100d + 0.5).cast("long").as("__num2"),
      // degenerate (zero-variance) groups keep a 0 placeholder — the
      // __degen flag NULLs the whole statistic, and the oracle's ln()
      // must never see a non-positive argument (DuckDB errors)
      when(num > 0d, floor(log(num / v) * 1e6 + 0.5).cast("long"))
        .otherwise(0L).as("__ln6"),
      (num <= 0d).as("__degen"),
      floor(lit(1e9) / v + 0.5).cast("long").as("__inv9"))
    val roll = terms.agg(count(lit(1)).as("k_groups"),
      sum("__n").as("n"), sum("__num2").as("__pool2"),
      sum((col("__n") - 1L) * col("__ln6")).as("__wln6"),
      sum("__inv9").as("__sinv9"),
      max(when(col("__degen"), 1L).otherwise(0L)).as("__bad"))
    // divisors null-guarded (ANSI Divide throws on zero even for
    // doubles; the output guard can't stop eager subexpression eval)
    val nmk = when(col("n") > col("k_groups"),
      (col("n") - col("k_groups")).cast("double"))
    val sp2 = when(col("__pool2") > 0L,
      col("__pool2").cast("double") * 100d) / nmk
    val lnSp6 = floor(log(sp2) * 1e6 + 0.5)
    val t = (nmk * lnSp6 - col("__wln6").cast("double")) / 1e6
    val cFac = lit(1d) +
      (col("__sinv9").cast("double") / 1e9 - lit(1d) / nmk) /
        (lit(3d) * when(col("k_groups") > 1L,
          (col("k_groups") - 1L).cast("double")))
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val ok = col("k_groups") > 1L && col("n") > col("k_groups") &&
      col("__bad") === 0L && col("__pool2") > 0L
    roll.select(col("k_groups"), col("n"),
      when(ok, g4(t / cFac)).as("t_stat"),
      when(ok, floor(cFac * 1e6 + 0.5) / 1e6).as("c_factor"))
  }

  /** Holm step-down multiple-testing adjustment — the family-wise-
    * error sibling of [[fdrBH]] (q326): adjusted
    * p_(i) = max_{j ≤ i} min((m−j+1)·p_(j), 1) over the ascending
    * p-value ranks; reject while the adjusted value stays ≤ α.
    * Strictly more powerful than Bonferroni at identical FWER. The
    * running max folds identical doubles — order-free, so the whole
    * report replays exactly in any engine. Ties rank
    * deterministically by `idCol`. Emits
    * `(idCol, p, rank, p_holm, significant)` (p_holm 1e-6 floor
    * grid).
    *
    * Scale shape: one global rank window over the TEST table
    * (metadata-grain, the q326/q152 bounded-window class).
    */
  def holmAdjust(df: DataFrame, idCol: String, pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0, 1)")
    val m = df.agg(count(lit(1)).as("__m"))
    val wAsc = Window.orderBy(col("p").asc, col(idCol).asc)
    val wRun = Window.orderBy(col("rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(pCol).cast("double").as("p"))
      .withColumn("rank", row_number().over(wAsc))
      .crossJoin(broadcast(m))
      .withColumn("__h_raw", max(least(
        (col("__m") - col("rank") + 1L).cast("double") * col("p"),
        lit(1d))).over(wRun))
      .select(col(idCol), col("p"), col("rank"),
        (floor(col("__h_raw") * 1e6 + 0.5) / 1e6).as("p_holm"),
        (col("__h_raw") <= alpha).as("significant"))
  }

  /** Bradley–Terry strengths from pairwise comparisons — the
    * Arena-style ranking model (Bradley & Terry 1952; the MM
    * algorithm of Hunter 2004): P(i beats j) = p_i/(p_i + p_j),
    * fitted by `iters` minorization updates
    *   p_i ← W_i / Σ_{j≠i} n_ij/(p_i + p_j)
    * from p ≡ 1, then normalized to mean 1. Each update quantizes
    * the per-opponent terms to the 1e-9 grid and the strengths to
    * the 1e-6 grid, so a fixed iteration count replays exactly in
    * any engine (the same unrolled-fixpoint discipline as the q403
    * k-means gate). Items with zero wins get strength 0 (their MM
    * fixpoint). Output per item:
    * `item, wins, comparisons, strength` (1e-6 grid, mean 1).
    *
    * Scale shape: comparisons collapse to the k²-grain win matrix in
    * one aggregate; every iteration is k²-grain algebra (items are
    * model/variant counts — metadata scale).
    */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, "iters in [1, 8]")
    // directed win counts → symmetric pair totals n_ij (both
    // orientations materialized so the per-i fold sees every opponent)
    val wins = Caches.persist(df.groupBy(
        col(winnerCol).as("__w"), col(loserCol).as("__l"))
      .agg(count(lit(1)).as("__c")))
    val pairs = Caches.persist(wins
      .select(col("__w").as("__i"), col("__l").as("__j"), col("__c"))
      .unionByName(wins.select(col("__l").as("__i"),
        col("__w").as("__j"), lit(0L).as("__c")))
      .groupBy("__i", "__j").agg(sum("__c").as("__wij")))
    val nij = pairs.select(col("__i"), col("__j"), col("__wij"))
      .join(pairs.select(col("__j").as("__i"), col("__i").as("__j"),
        col("__wij").as("__wji")), Seq("__i", "__j"))
      .select(col("__i"), col("__j"),
        (col("__wij") + col("__wji")).as("__nij"))
    val items = Caches.persist(pairs.groupBy("__i")
      .agg(sum("__wij").as("wins"))
      .join(nij.groupBy("__i").agg(sum("__nij").as("comparisons")),
        Seq("__i")))
    // strengths in 1e-6 integer units; MM fold at k²-grain
    var p = items.select(col("__i"), lit(1000000L).as("__p6"))
    for (_ <- 1 to iters) {
      val withP = nij
        .join(p.select(col("__i"), col("__p6").as("__pi6")), Seq("__i"))
        .join(p.select(col("__i").as("__j"), col("__p6").as("__pj6")),
          Seq("__j"))
      // divisors null-guarded: ANSI Divide throws on zero even for
      // doubles. A zero p_i+p_j pair cannot arise from a pair with
      // n_ij > 0 (someone won it), and den9 = 0 only for an all-lost
      // item whose 0-strength the otherwise() branch assigns — the
      // guards exist so no degenerate input can crash the plan.
      val denom = withP.groupBy("__i").agg(
        sum(floor(col("__nij").cast("double") /
          (when(col("__pi6") + col("__pj6") > 0L,
            (col("__pi6") + col("__pj6")).cast("double")) / 1e6) * 1e9
          + 0.5).cast("long")).as("__den9"))
      // k-row eager checkpoint per MM sweep: p_{r+1} references p_r
      // TWICE (the __pi6 and __pj6 joins), so an untruncated lineage
      // doubles per iteration — the q424 gate's formatted plan reached
      // 633 KB and Catalyst spent multi-second (worst observed: 24 s
      // under JVM pressure) OPTIMIZING rather than executing. The
      // checkpoint pins k rows (item-grain) and keeps every sweep's
      // plan constant-size.
      p = items.join(denom, Seq("__i"))
        .select(col("__i"),
          when(col("__den9") > 0L,
            floor(col("wins").cast("double") /
              (when(col("__den9") > 0L, col("__den9").cast("double"))
                / 1e9) * 1e6 + 0.5)
              .cast("long")).otherwise(0L).as("__p6"))
        .localCheckpoint(true)
    }
    val norm = p.agg(sum("__p6").as("__sp6"), count(lit(1)).as("__k"))
    items.join(p, Seq("__i")).crossJoin(broadcast(norm))
      .select(col("__i").as("item"), col("wins"), col("comparisons"),
        (floor(col("__p6").cast("double") * col("__k") /
          when(col("__sp6") > 0L, col("__sp6").cast("double")) * 1e6
          + 0.5) / 1e6).as("strength"))
  }

  /** Fisher's exact test per stratum on the 2×2 table of two boolean
    * flags — the small-count complement of the χ² association gates
    * (q189/q232): when any cell is in the single digits the asymptotic
    * χ² is unusable and the exact hypergeometric tail is the test.
    * Per stratum the table is (n, r1 = #a, c1 = #b, aObs = #(a∧b));
    * the support k ∈ [max(0, r1+c1−n), min(r1, c1)] is enumerated and
    * two-sided p sums every table no likelier than the observed one.
    *
    * Determinism: log-weights are built WITHOUT factorials of n (which
    * would need an unbounded log-factorial grid) via the
    * hypergeometric ratio recurrence — L(k+1) − L(k) =
    * ln((r1−k)(c1−k) / ((k+1)(n−r1−c1+k+1))), each step quantized to
    * the 1e-6 grid, prefix-summed as exact int64 over the enumeration
    * — so the "no likelier" ordering compares exact integers and both
    * engines derive the identical grid. Weights exp((L−Lmax)/1e6) are
    * 1e-12-quantized pre-sum. By convention ties count into the
    * two-sided sum (L(k) ≤ L(obs) on the exact grid).
    *
    * Scale shape: one corpus aggregate to k stratum rows; the
    * enumeration is O(min margin) per stratum and only strata whose
    * span fits `maxEnum` are enumerated (larger ones emit NULL p with
    * `exact_ok = false` — at that margin the χ² gates are exact
    * enough); every window runs over the bounded enumeration grid,
    * never the corpus. Output per stratum:
    * `stratum, n, n_a, n_b, n_ab, exact_ok, p_two, p_left` (1e-6).
    */
  def fisherExact(df: DataFrame, strataCol: String, aCol: String,
      bCol: String, maxEnum: Long = 100000L): DataFrame = {
    val per = df.select(col(strataCol).as("__g"),
        col(aCol).cast("boolean").as("__a"),
        col(bCol).cast("boolean").as("__b"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__r1"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
          .as("__aobs"))
      .withColumn("__lo",
        greatest(lit(0L), col("__r1") + col("__c1") - col("__n")))
      .withColumn("__hi", least(col("__r1"), col("__c1")))
    val ok = per.where(col("__hi") - col("__lo") <= maxEnum)
    val enumd = ok.select(col("__g"), col("__n"), col("__r1"),
      col("__c1"), col("__aobs"), col("__hi"),
      explode(sequence(col("__lo"), col("__hi"))).as("__k"))
    // ratio-recurrence step ln term, 1e-6 grid; defined for k < hi
    // (all four factors ≥ 1 there)
    val step = log(
      ((col("__r1") - col("__k")).cast("double") *
        (col("__c1") - col("__k"))) /
      ((col("__k") + 1L).cast("double") *
        (col("__n") - col("__r1") - col("__c1") + col("__k") + 1L)))
    val q6 = when(col("__k") < col("__hi"),
      floor(step * 1e6 + 0.5).cast("long")).otherwise(lit(0L))
    val wPrev = Window.partitionBy("__g").orderBy("__k")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("__g")
    val withL = enumd.withColumn("__q6", q6)
      .withColumn("__L", coalesce(sum("__q6").over(wPrev), lit(0L)))
    val withW = withL
      .withColumn("__Lmax", max("__L").over(wAll))
      .withColumn("__Lobs",
        max(when(col("__k") === col("__aobs"), col("__L"))).over(wAll))
      .withColumn("__w12",
        floor(exp((col("__L") - col("__Lmax")).cast("double") / 1e6)
          * 1e12 + 0.5).cast("long"))
    val sums = withW.groupBy("__g").agg(
      sum("__w12").as("__S"),
      sum(when(col("__L") <= col("__Lobs"), col("__w12"))
        .otherwise(0L)).as("__two"),
      sum(when(col("__k") <= col("__aobs"), col("__w12"))
        .otherwise(0L)).as("__left"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    per.join(sums, Seq("__g"), "left")
      .select(col("__g").as("stratum"), col("__n").as("n"),
        col("__r1").as("n_a"), col("__c1").as("n_b"),
        col("__aobs").as("n_ab"),
        (col("__hi") - col("__lo") <= maxEnum).as("exact_ok"),
        when(col("__S") > 0L,
          g6(col("__two").cast("double") / col("__S"))).as("p_two"),
        when(col("__S") > 0L,
          g6(col("__left").cast("double") / col("__S"))).as("p_left"))
      .orderBy("stratum")
  }

  /** Cochran–Armitage trend test: does the success probability move
    * MONOTONICALLY across k ordered dose levels? The 2×k directional
    * sibling of the omnibus χ² — an ordered alternative concentrates
    * the power the unordered test spreads over k−1 df. Scores are the
    * dose ordinals themselves (w_j = j). With N = Σn_j, R = Σr_j the
    * statistic is
    *   Z = T / sqrt(R(N−R)(N·Σw²n − (Σwn)²) / N),
    *   T = Σ w_j (r_j N − n_j R)
    * — T and the radicand are exact decimal(38,0)/HUGEINT products of
    * int64 marginals, so both engines fold identical integers and only
    * the final Z divides. Output one row:
    * `k_doses, n, n_success, t_num, z, chi2` (z 1e-6 sign-aware,
    * chi2 1e-4; t_num exact so the gate pins the integer core).
    *
    * Scale shape: one map-side-combined per-dose aggregate to k rows;
    * everything after is k-row scalar algebra.
    */
  def cochranArmitage(df: DataFrame, doseCol: String,
      outcomeCol: String): DataFrame = {
    val per = df.select(col(doseCol).cast("long").as("__w"),
        col(outcomeCol).cast("boolean").as("__o"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__nj"),
        sum(when(col("__o"), 1L).otherwise(0L)).as("__rj"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val roll = per.agg(count(lit(1)).as("k_doses"),
      sum("__nj").as("n"), sum("__rj").as("n_success"),
      sum(dec(col("__w")) * col("__nj")).as("__wn"),
      sum(dec(col("__w")) * col("__w") * col("__nj")).as("__wwn"),
      sum(dec(col("__w")) * col("__rj")).as("__wr"))
    // T = Σw·r·N − Σw·n·R = N·Σwr − R·Σwn (identical regrouping both
    // engines); radicand R(N−R)(N·Σw²n − (Σwn)²)/N left as exact
    // decimal until the final double division
    val t = dec(col("n")) * col("__wr") - dec(col("n_success")) * col("__wn")
    val rad = dec(col("n_success")) * (dec(col("n")) - col("n_success")) *
      (dec(col("n")) * col("__wwn") - dec(col("__wn")) * col("__wn"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val z = t.cast("double") /
      sqrt(when(rad > 0, rad.cast("double")) / col("n").cast("double"))
    roll.select(col("k_doses"), col("n"), col("n_success"),
      t.cast("long").as("t_num"),
      when(rad > 0, g6(z)).as("z"),
      when(rad > 0, floor(z * z * 1e4 + 0.5) / 1e4 + lit(0d)).as("chi2"))
  }

  /** Brown–Forsythe equal-variance test — [[leveneMean]] with the
    * group MEDIAN as the center, the robust form recommended for
    * skewed distributions (the mean-centered Levene loses level under
    * asymmetry; the median-centered one holds it). Group medians are
    * exact: per-group value-grid counts (integer cents), a cumulative
    * window over the bounded grid, and x[(n+1) div 2] + x[n div 2 + 1]
    * as the DOUBLED median — an integer in cents for every parity. The
    * spreads z = |2c − med2| (half-cent integers) then run through the
    * one-way ANOVA identities of q344 (per-group s²/n on the 1e-6
    * grid pre-sum, decimal(38,0) squares). Output one row:
    * `k_groups, n, df1, df2, f_stat` (1e-4).
    *
    * Scale shape: two corpus aggregates (value-grid counts, then
    * spread moments) bridged by a k-row broadcast of medians; the
    * median window runs over the distinct-cents grid, never rows.
    */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = Caches.persist(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c")))
    val grid = base.groupBy("__g", "__c").agg(count(lit(1)).as("__t"))
    val wCum = Window.partitionBy("__g").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("__cum", sum("__t").over(wCum))
    val ng = base.groupBy("__g").agg(count(lit(1)).as("__ng"))
    val med = cum.join(ng, Seq("__g"))
      .groupBy("__g")
      .agg(
        min(when(lit(2L) * col("__cum") >= col("__ng") +
          pmod(col("__ng"), lit(2L)), col("__c"))).as("__m1"),
        min(when(col("__cum") >= expr("__ng div 2") + 1L, col("__c")))
          .as("__m2"))
      .select(col("__g"), (col("__m1") + col("__m2")).as("__med2"))
    val z = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"),
        abs(lit(2L) * col("__c") - col("__med2")).as("__z"))
    val per = z.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__z").as("__s"),
        sum(col("__z").cast("decimal(38,0)") * col("__z")).as("__q"))
    val roll = per.agg(count(lit(1)).as("k_groups"),
      sum("__n").as("n"), sum("__s").as("__S"),
      sum("__q").cast("decimal(38,0)").as("__Q"),
      sum(floor(col("__s").cast("double") * col("__s") / col("__n")
        * 1e2 + 0.5).cast("long")).as("__sb2"))
    def g4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4 + lit(0d)
    val grand = col("__S").cast("double") * col("__S") / col("n")
    val ssb = col("__sb2").cast("double") / 1e2 - grand
    val sst = col("__Q").cast("double") - grand
    val ssw = sst - ssb
    val f = (ssb / (col("k_groups") - 1).cast("double")) /
      (ssw / (col("n") - col("k_groups")).cast("double"))
    roll.select(col("k_groups"), col("n"),
      (col("k_groups") - 1L).as("df1"),
      (col("n") - col("k_groups")).as("df2"),
      when(col("k_groups") > 1 && col("n") > col("k_groups") && ssw > 0,
        g4(f)).as("f_stat"))
  }

  /** Tukey HSD pairwise comparisons — the equal-variance post-hoc that
    * belongs after a significant [[anovaF]] (q344), next to the
    * unequal-variance [[welchT]] (q345): every pair is judged against
    * the POOLED mean square error, q = (m_i − m_j) /
    * sqrt(MSE/2 · (1/n_i + 1/n_j)) (the Tukey–Kramer unbalanced
    * form). Per-group integer-cents moments aggregate once; MSE comes
    * from the q344 identities (per-group s²/n 1e-6-grid pre-sum,
    * decimal(38,0) squares); the k-row result self-joins on
    * group_a < group_b so there is no data-sized pair work. Output:
    * `group_a, group_b, n_a, n_b, mean_diff, q_stat` (1e-4
    * sign-aware; q_stat signed by mean_diff so the gate pins
    * direction).
    */
  def tukeyHsd(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val per = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum("__c").as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__q"))
    val roll = per.agg(count(lit(1)).as("__k"), sum("__n").as("__N"),
      sum("__q").cast("decimal(38,0)").as("__Q"),
      sum(floor(col("__s").cast("double") * col("__s") / col("__n")
        / 1e4 * 1e6 + 0.5).cast("long")).as("__sb6"))
    val mse = (col("__Q").cast("double") / 1e4 -
      col("__sb6").cast("double") / 1e6) /
      (col("__N") - col("__k")).cast("double")
    val a = per.select(col("__g").as("group_a"), col("__n").as("n_a"),
      col("__s").as("__sa"))
    val b = per.select(col("__g").as("group_b"), col("__n").as("n_b"),
      col("__s").as("__sb"))
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val diff = col("__sa").cast("double") / col("n_a") / 100d -
      col("__sb").cast("double") / col("n_b") / 100d
    val se = sqrt(when(col("__mse") > 0, col("__mse")) / 2d *
      (lit(1d) / col("n_a") + lit(1d) / col("n_b")))
    a.join(b, col("group_a") < col("group_b"))
      .crossJoin(broadcast(roll.select(col("__k"), col("__N"),
        mse.as("__mse"))))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        g4(diff).as("mean_diff"),
        when(col("__mse") > 0 && col("__N") > col("__k"),
          g4(diff / se)).as("q_stat"))
      .orderBy("group_a", "group_b")
  }

  /** Dunn's test — the rank-based post-hoc that belongs after a
    * significant [[kruskalWallis]] (q324), comparing every pair of
    * groups by mean rank against the pooled rank variance
    *   z_ij = (R̄_i − R̄_j) / sqrt((N(N+1)/12 − ΣT/(12(N−1)))
    *          · (1/n_i + 1/n_j))
    * with the tie correction ΣT = Σ(t³−t) over the value grid.
    * Ranks are the q324 DOUBLED tie-averaged integers (2·below + t +
    * 1), so per-group rank sums fold exactly; the k-row mean-rank
    * table self-joins on group_a < group_b. Output:
    * `group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z`
    * (means 1e-4, z 1e-6 sign-aware).
    *
    * Scale shape: value-grid rank window (bounded by distinct cents),
    * one per-group fold, k²-grain pair algebra.
    */
  def dunnTest(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val b = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__x"))
    val grid = b.groupBy("__x").agg(count(lit(1)).as("__t"))
    val w = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val rk = grid.withColumn("__rank2",
      lit(2L) * coalesce(sum("__t").over(w), lit(0L)) + col("__t") + 1L)
    val cells = b.groupBy("__g", "__x").agg(count(lit(1)).as("__cnt"))
    val pg = cells.join(rk, Seq("__x"))
      .groupBy("__g")
      .agg(sum(col("__cnt").cast("decimal(38,0)") * col("__rank2"))
        .as("__rg2"), sum("__cnt").as("__ng"))
    val totals = b.agg(count(lit(1)).as("__N"))
    val ties = grid.agg(
      sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")).as("__ts"))
    val aS = pg.select(col("__g").as("group_a"), col("__ng").as("n_a"),
      col("__rg2").as("__ra2"))
    val bS = pg.select(col("__g").as("group_b"), col("__ng").as("n_b"),
      col("__rg2").as("__rb2"))
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val nD = col("__N").cast("double")
    val sig2 = (nD * (nD + 1d) / 12d -
      col("__ts").cast("double") / (lit(12d) * (nD - 1d))) *
      (lit(1d) / col("n_a") + lit(1d) / col("n_b"))
    val mra = col("__ra2").cast("double") / 2d / col("n_a")
    val mrb = col("__rb2").cast("double") / 2d / col("n_b")
    aS.join(bS, col("group_a") < col("group_b"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(ties))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        g4(mra).as("mean_rank_a"), g4(mrb).as("mean_rank_b"),
        when(col("__N") > 1L && sig2 > 0d, g6((mra - mrb) / sqrt(sig2)))
          .as("z"))
      .orderBy("group_a", "group_b")
  }

  /** Mantel–Haenszel pooled odds ratio + Cochran–Mantel–Haenszel χ²
    * across strata — "is exposure associated with outcome AFTER
    * controlling for the stratifier?", the confounding-aware form of
    * the crude 2×2 (q407 reports per-table OR; pooling crude tables
    * invites Simpson reversals this estimator is built to avoid):
    *   OR_MH = Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i),
    *   χ²_CMH = (|Σa_i − Σ r1_i c1_i/n_i| − ½)² / Σ V_i,
    *   V_i = r1_i r0_i c1_i c0_i / (n_i²(n_i−1)).
    * Per-stratum ratio terms are 1e-9-quantized pre-sum (exact int64
    * folds in any order); strata with n < 2 are excluded and counted.
    * Output one row: `k_strata, n, sum_a, or_mh, chi2_cmh`
    * (or 1e-6, χ² 1e-4).
    *
    * Scale shape: one map-side-combined per-stratum aggregate; the
    * fold is over k stratum rows.
    */
  def mantelHaenszel(df: DataFrame, strataCol: String, expCol: String,
      outCol: String): DataFrame = {
    val per = df.select(col(strataCol).as("__g"),
        col(expCol).cast("boolean").as("__e"),
        col(outCol).cast("boolean").as("__o"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("__a"),
        sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("__b"),
        sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("__c"),
        sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("__d"))
      .where(col("__n") >= 2L)
    def q9(x: Column): Column = floor(x * 1e9 + 0.5).cast("long")
    val nD = col("__n").cast("double")
    val r1 = (col("__a") + col("__b")).cast("double")
    val r0 = (col("__c") + col("__d")).cast("double")
    val c1 = (col("__a") + col("__c")).cast("double")
    val c0 = (col("__b") + col("__d")).cast("double")
    val terms = per.select(col("__a"),
      q9(col("__a").cast("double") * col("__d") / nD).as("__ad9"),
      q9(col("__b").cast("double") * col("__c") / nD).as("__bc9"),
      q9(r1 * c1 / nD).as("__e9"),
      q9(r1 * r0 * c1 * c0 / (nD * nD * (nD - 1d))).as("__v9"))
    val roll = terms.agg(count(lit(1)).as("k_strata"),
      sum("__a").as("sum_a"), sum("__ad9").as("__sad9"),
      sum("__bc9").as("__sbc9"), sum("__e9").as("__se9"),
      sum("__v9").as("__sv9"))
    val n = per.agg(sum("__n").as("n"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    def g4(x: Column): Column = floor(x * 1e4 + 0.5) / 1e4 + lit(0d)
    val dev = greatest(
      abs(col("sum_a").cast("double") - col("__se9").cast("double") / 1e9)
        - 0.5d, lit(0d))
    roll.crossJoin(broadcast(n))
      .select(col("k_strata"), col("n"), col("sum_a"),
        when(col("__sbc9") > 0L,
          g6(col("__sad9").cast("double") / col("__sbc9"))).as("or_mh"),
        when(col("__sv9") > 0L,
          g4(dev * dev / (col("__sv9").cast("double") / 1e9)))
          .as("chi2_cmh"))
  }

  /** Two-sample Cramér–von Mises statistic — the whole-distribution
    * distance that weighs the BODY of the distributions where the
    * q152 Kolmogorov–Smirnov matrix weighs only the single largest gap
    * (KS is famously blind to tail and spread differences that CvM
    * catches):
    *   T = nm/(n+m)² · Σ_{combined obs} (F_n(x) − G_m(x))².
    * On the integer-cents value grid the CDF gap at a grid point is
    * the exact rational (cum1·m − cum2·n)/(nm), so each grid point
    * contributes cnt·((cum1·m − cum2·n)/(nm))² — quantized to the
    * 1e-9 grid pre-sum (int64 fold, order-free). Output one row:
    * `n, m, n_grid, t_stat` (1e-6).
    *
    * Scale shape: one corpus aggregate to the distinct-cents grid; two
    * cumulative windows over the grid; one fold.
    */
  def cramerVonMises(df: DataFrame, valueCol: String,
      sideCol: String): DataFrame = {
    val grid = df.where(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast("double") * 100d + 0.5)
        .cast("long").as("__x"),
        col(sideCol).cast("boolean").as("__s"))
      .groupBy("__x")
      .agg(sum(when(col("__s"), 1L).otherwise(0L)).as("__c1"),
        sum(when(!col("__s"), 1L).otherwise(0L)).as("__c2"))
    val w = Window.orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("__f1", sum("__c1").over(w))
      .withColumn("__f2", sum("__c2").over(w))
    val tot = grid.agg(sum("__c1").as("__n"), sum("__c2").as("__m"))
    val gap = (col("__f1").cast("double") * col("__m") -
      col("__f2").cast("double") * col("__n")) /
      (when(col("__n") > 0L && col("__m") > 0L,
        col("__n").cast("double")) * col("__m"))
    val folded = cum.crossJoin(broadcast(tot))
      .agg(max("__n").as("n"), max("__m").as("m"),
        count(lit(1)).as("n_grid"),
        sum(floor((col("__c1") + col("__c2")).cast("double") * gap * gap
          * 1e9 + 0.5).cast("long")).as("__t9"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    val nm = col("n").cast("double") * col("m")
    val npm = (col("n") + col("m")).cast("double")
    folded.select(col("n"), col("m"), col("n_grid"),
      when(col("n") > 0L && col("m") > 0L,
        g6(col("__t9").cast("double") / 1e9 * nm / (npm * npm)))
        .as("t_stat"))
  }

  /** Mood's median test — "do the groups share a common median?":
    * classify every value against the GRAND median and χ²-test the
    * k×2 above/not-above table. The crudest but most
    * assumption-free of the location tests (q324 Kruskal–Wallis uses
    * full ranks; this uses one bit per row — robust to any amount of
    * tail weirdness). The grand median is exact: the [[brownForsythe]]
    * doubled-median construction on the GLOBAL value grid
    * (x[(n+1) div 2] + x[n div 2 + 1], an integer in cents for every
    * parity); "above" is the exact integer comparison 2c > med2.
    * χ² cell terms are 1e-9-quantized pre-sum over the 2k cells.
    * Output one row: `k_groups, n, n_above, chi2` (1e-4).
    *
    * Scale shape: one corpus aggregate to the value grid (cumulative
    * window over the grid), one per-group classify-count aggregate,
    * 2k-cell fold.
    */
  def moodMedian(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = Caches.persist(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c")))
    val grid = base.groupBy("__c").agg(count(lit(1)).as("__t"))
    val w = Window.orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("__cum", sum("__t").over(w))
    val nAll = base.agg(count(lit(1)).as("__nt"))
    val med = cum.crossJoin(broadcast(nAll))
      .agg(
        min(when(lit(2L) * col("__cum") >= col("__nt") +
          pmod(col("__nt"), lit(2L)), col("__c"))).as("__m1"),
        min(when(col("__cum") >= expr("__nt div 2") + 1L, col("__c")))
          .as("__m2"))
      .select((col("__m1") + col("__m2")).as("__med2"))
    val per = base.crossJoin(broadcast(med)).groupBy("__g")
      .agg(count(lit(1)).as("__n"),
        sum(when(lit(2L) * col("__c") > col("__med2"), 1L)
          .otherwise(0L)).as("__a"))
    val tots = per.agg(count(lit(1)).as("k_groups"), sum("__n").as("n"),
      sum("__a").as("n_above"))
    // χ² over the k×2 table: e_above = n_g·A/N, e_below = n_g·(N−A)/N;
    // both cell terms per group, 1e-9-quantized pre-sum
    val nD = col("n").cast("double")
    val aD = col("n_above").cast("double")
    val ea = col("__n").cast("double") * aD / nD
    val eb = col("__n").cast("double") * (nD - aD) / nD
    val oa = col("__a").cast("double")
    val ob = (col("__n") - col("__a")).cast("double")
    val t9 = floor((oa - ea) * (oa - ea) /
        when(ea > 0d, ea) * 1e9 + 0.5).cast("long") +
      floor((ob - eb) * (ob - eb) /
        when(eb > 0d, eb) * 1e9 + 0.5).cast("long")
    def g4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4 + lit(0d)
    per.crossJoin(broadcast(tots))
      .agg(max("k_groups").as("k_groups"), max("n").as("n"),
        max("n_above").as("n_above"), sum(t9).as("__chi9"))
      .select(col("k_groups"), col("n"), col("n_above"),
        when(col("n_above") > 0L && col("n_above") < col("n"),
          g4(col("__chi9").cast("double") / 1e9)).as("chi2"))
  }

  /** Jonckheere–Terpstra test for ORDERED alternatives across k dose
    * groups — the continuous-outcome sibling of [[cochranArmitage]]
    * (binary) and the ordered counterpart of [[kruskalWallis]]
    * (unordered): J = Σ_{i<j} U_ij with U_ij the Mann–Whitney count
    * of group-i values below group-j values (ties ½). On the global
    * value grid 2U_ij = Σ_v cnt_j(v)·(2·cum<_i(v) + cnt_i(v)) — exact
    * int64 from zero-filled per-group cumulative windows. The normal
    * approximation uses the no-tie moments (documented convention;
    * ties still count ½ in J itself):
    *   E(J) = (N² − Σn_g²)/4,
    *   Var(J) = (N²(2N+3) − Σn_g²(2n_g+3))/72;
    * the z numerator is kept an exact integer by ×4 scaling
    * (4J − 4E = 2·(2J) − (N² − Σn²)). Output one row:
    * `k_groups, n, j_stat, z` (J exact on the .5 grid, z 1e-6
    * sign-aware).
    *
    * Scale shape: one corpus aggregate to the (group × value-grid)
    * zero-filled cells; cumulative windows per group over the grid;
    * k²-pair algebra over grid-sized relations.
    */
  def jonckheereTerpstra(df: DataFrame, doseCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(doseCol).cast("long").as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val cnts = base.groupBy("__g", "__c").agg(count(lit(1)).as("__t"))
    val groups = cnts.select("__g").distinct()
    val vals = cnts.select("__c").distinct()
    val cells = groups.crossJoin(vals)
      .join(cnts, Seq("__g", "__c"), "left")
      .select(col("__g"), col("__c"),
        coalesce(col("__t"), lit(0L)).as("__t"))
    val w = Window.partitionBy("__g").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = Caches.persist(cells.withColumn("__lt",
      coalesce(sum("__t").over(w), lit(0L))))
    // 2U_ij summed over ordered pairs i<j at every grid value
    val lo = withCum.select(col("__g").as("__gi"), col("__c"),
      (lit(2L) * col("__lt") + col("__t")).as("__wi"))
    val hi = withCum.select(col("__g").as("__gj"), col("__c"),
      col("__t").as("__tj"))
    val j2 = lo.join(hi, Seq("__c"))
      .where(col("__gi") < col("__gj"))
      .agg(coalesce(sum(col("__tj").cast("decimal(38,0)") * col("__wi")),
        lit(0).cast("decimal(38,0)")).as("__J2"))
    val pg = withCum.groupBy("__g").agg(sum("__t").as("__ng"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val moms = pg.agg(count(lit(1)).as("k_groups"), sum("__ng").as("n"),
      sum(dec(col("__ng")) * col("__ng")).as("__sn2"),
      sum(dec(col("__ng")) * col("__ng")
        * (lit(2L) * col("__ng") + 3L)).as("__sn3"))
    val num4 = lit(2).cast("decimal(38,0)") * col("__J2") -
      (dec(col("n")) * col("n") - col("__sn2"))
    val varJ = (dec(col("n")) * col("n")
      * (lit(2L) * col("n") + 3L) - col("__sn3")).cast("double") / 72d
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    moms.crossJoin(broadcast(j2))
      .select(col("k_groups"), col("n"),
        (col("__J2").cast("double") / 2d).as("j_stat"),
        when(col("k_groups") > 1L && varJ > 0d,
          g6(num4.cast("double") / 4d / sqrt(varJ))).as("z"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) — the canonical two-sample
    * location test, pinned to groups `ga` vs `gb` of `groupCol`.
    * [[kruskalWallis]] covers the k-group omnibus; this is the
    * directional pairwise form with the tie-corrected normal z the
    * omnibus H doesn't expose. Same grid counting as the Cliff's-delta
    * stage of `effectSizes`: on the cents grid,
    *   2U_a = 2·Σ_v cnt_a(v)·cumBelow_b(v) + Σ_v cnt_a(v)·cnt_b(v)
    * (greater-than pairs twice + ties once) — exact int64. Ties enter
    * the variance through T = Σ_t(t³ − t) over the COMBINED grid:
    *   Var(U) = n_a·n_b·[N(N−1)(N+1) − T] / (12·N(N−1)),
    * and the z numerator 2U − n_a·n_b stays integer (no continuity
    * correction; documented convention). One row:
    * `(n_a, n_b, u_a, z)` — U on the exact .5 grid, z 1e-6.
    *
    * Scale shape: one corpus aggregate to the (group × value-grid)
    * counts; a cumulative window PER GROUP over the grid; everything
    * downstream is grid-sized. No row-level pairs anywhere.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      ga: String, gb: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isin(ga, gb))
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val cnts = base.groupBy("__g", "__c").agg(count(lit(1)).as("__t"))
    // zero-filled union grid so each group's cumulative window sees
    // every value the OTHER group attains
    val vals = cnts.select("__c").distinct()
    val cells = vals.crossJoin(
        cnts.select("__g").distinct())
      .join(cnts, Seq("__g", "__c"), "left")
      .select(col("__g"), col("__c"),
        coalesce(col("__t"), lit(0L)).as("__t"))
    val w = Window.partitionBy("__g").orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = Caches.persist(cells.withColumn("__lt",
      coalesce(sum("__t").over(w), lit(0L))))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val aSide = withCum.where(col("__g") === ga)
      .select(col("__c"), col("__t").as("__ta"))
    val bSide = withCum.where(col("__g") === gb)
      .select(col("__c"), col("__t").as("__tb"), col("__lt").as("__ltb"))
    val u2 = aSide.join(bSide, Seq("__c"))
      .agg(coalesce(sum(dec(col("__ta")) *
          (lit(2L) * col("__ltb") + col("__tb"))), dec(lit(0)))
        .as("__u2"))
    // combined tie spectrum + group sizes off the same grid relation
    val ties = withCum.groupBy("__c").agg(sum("__t").as("__tt"))
      .agg(coalesce(sum(dec(col("__tt")) * col("__tt") * col("__tt") -
          dec(col("__tt"))), dec(lit(0))).as("__T"))
    val sizes = withCum.groupBy("__g").agg(sum("__t").as("__n"))
      .agg(sum(when(col("__g") === ga, col("__n"))).as("n_a"),
        sum(when(col("__g") === gb, col("__n"))).as("n_b"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val nT = col("n_a") + col("n_b")
    val varU = dec(col("n_a")).cast("double") *
      col("n_b").cast("double") *
      ((dec(nT) * (nT - 1L) * (nT + 1L) - col("__T")).cast("double")) /
      (lit(12d) * nT.cast("double") * (nT - 1L).cast("double"))
    val num2 = col("__u2") - dec(col("n_a")) * col("n_b")
    sizes.crossJoin(broadcast(u2)).crossJoin(broadcast(ties))
      .select(col("n_a"), col("n_b"),
        (col("__u2").cast("double") / 2d).as("u_a"),
        when(col("n_a") > 0L && col("n_b") > 0L && varU > 0d,
          g6(num2.cast("double") / 2d / sqrt(varU))).as("z"))
  }

  /** Ansari–Bradley two-sample SCALE test — the rank-based dispersion
    * comparison next to the moment-based family ([[bartlett]] assumes
    * normality, q377's Levene / q427's Brown–Forsythe an absolute-
    * deviation model; AB only ranks): score each pooled observation
    * from BOTH ends, a_i = min(i, N+1−i), and W = Σ scores of group
    * `ga` — small W ⇔ `ga` owns the extremes ⇔ larger spread.
    *
    * Exact-arithmetic shape: with l..u the pooled rank run of a tied
    * value, the run's DOUBLED score sum is S2(u) − S2(l−1) where
    *   S2(x) = x(x+1)                    for x ≤ h = ⌊(N+1)/2⌋
    *   S2(x) = h(h+1) + (x−h)(2N+1−x−h)  for x > h
    * (the closed form of 2·Σ min(i, N+1−i) — ties crossing the centre
    * average the true POSITION scores, not the score of the midrank).
    * Per-value average scores are rational → every W / Σa² term is
    * 1e-9-quantized pre-sum (the [[mantelHaenszel]] convention), and
    * the linear-rank moments close the test:
    *   E(W) = n_a·Σa/N,  Var(W) = n_a·n_b·(N·Σa² − (Σa)²)/(N²(N−1)).
    * One row: `(n_a, n_b, w_stat, z)` (1e-6 grids).
    *
    * Scale shape: one corpus aggregate to the pooled value grid; a
    * cumulative window over the grid; grid-sized algebra after.
    */
  def ansariBradley(df: DataFrame, groupCol: String, valueCol: String,
      ga: String, gb: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isin(ga, gb))
      .select(col(groupCol).as("__g"),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
    val cnts = base.groupBy("__c").agg(
      count(lit(1)).as("__t"),
      sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__tA"))
    val w = Window.orderBy("__c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nAll = cnts.agg(sum("__t").as("__N"), sum("__tA").as("__nA"))
    val runs = cnts
      .withColumn("__below", coalesce(sum("__t").over(w), lit(0L)))
      .crossJoin(broadcast(nAll))
    val h = expr("(__N + 1) div 2")
    def s2(x: Column): Column =
      when(x <= h, x * (x + 1L)).otherwise(
        h * (h + 1L) +
          (x - h) * (lit(2L) * col("__N") + 1L - x - h))
    val lo = col("__below")
    val hi = col("__below") + col("__t")
    val a2run = s2(hi) - s2(lo)
    // per-run average score (rational: a2run/(2t)); 1e-9 pre-sum terms.
    // Terms and their sums accumulate in decimal(38,0), NOT long: at
    // bench scale (sf0.1, N ≈ 3M values) a single sq9 term reaches
    // ~t·N²/16·1e9 ≈ 5e20 and the w9 sum ≈ na·N/2·1e9 ≈ 2e21 — both
    // past Int64, which ANSI mode turns into a hard
    // ARITHMETIC_OVERFLOW (this killed q444 in the r13 bench). A
    // non-negative double ≥ 2^53 is already integer-valued, so
    // floor(y) == y there and the < 2^53 branch keeps the small-SF
    // gate values bit-identical to the old long path; the oracle
    // mirrors with HUGEINT.
    def q9w(x: Column): Column = {
      val y = x * 1e9 + lit(0.5)
      when(y < lit(9007199254740992d), floor(y).cast("decimal(38,0)"))
        .otherwise(y.cast("decimal(38,0)"))
    }
    val terms = runs.select(col("__N"), col("__nA"),
      q9w(col("__tA").cast("double") * a2run.cast("double") /
        (lit(2d) * col("__t").cast("double"))).as("__w9"),
      q9w(a2run.cast("double") * a2run.cast("double") /
        (lit(4d) * col("__t").cast("double"))).as("__sq9"),
      a2run.as("__a2run"))
    val agg = terms.groupBy("__N", "__nA").agg(
      sum("__w9").as("__W9"), sum("__sq9").as("__SQ9"),
      sum("__a2run").as("__SA2"))
    val nD = col("__N").cast("double")
    val naD = col("__nA").cast("double")
    val nbD = (col("__N") - col("__nA")).cast("double")
    val wStat = col("__W9").cast("double") / 1e9
    val sumA = col("__SA2").cast("double") / 2d
    val sumA2 = col("__SQ9").cast("double") / 1e9
    val eW = naD * sumA / nD
    val varW = naD * nbD * (nD * sumA2 - sumA * sumA) /
      (nD * nD * (nD - 1d))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    agg.select(col("__nA").as("n_a"),
        (col("__N") - col("__nA")).as("n_b"),
        g6(wStat).as("w_stat"),
        when(col("__nA") > 0L && col("__N") - col("__nA") > 0L &&
            varW > 0d && col("__N") > 1L,
          g6((wStat - eW) / sqrt(varW))).as("z"))
  }
}

package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exponential-smoothing forecasters over event streams.
  *
  * Holt's linear-trend (double exponential) smoothing per key over a
  * zero-filled daily count grid. The recursion
  *
  *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  *
  * is inherently sequential, but the SERIES is tiny (days, not events):
  * the corpus-sized work is one `groupBy(key, day)` count with map-side
  * partial aggregation; the per-key fold then runs over a bounded
  * day-grid array collected per key — at 100 TB the fold input is
  * `keys × days` rows, metadata scale. Initialization: l_1 = y_1,
  * b_1 = 0 (first update at t = 2).
  *
  * Determinism: with dyadic α, β (the 0.5 defaults) and integer counts,
  * every intermediate is a dyadic rational — double arithmetic is EXACT
  * and any engine replaying the same fold produces bit-identical
  * levels/trends/forecasts, so outputs need no rounding grid.
  */
object Forecast {

  private val DayNs = 86400L * 1000 * 1000 * 1000

  /** Per-key Holt forecast over daily event counts.
    *
    * Output: `key, n_days, level, trend, f{h}` for each horizon h
    * (forecast = level + h·trend days past the last grid day).
    *
    * @param tsNsCol int64 epoch-nanosecond event-time column
    */
  def holtDaily(df: DataFrame, keyCol: String, tsNsCol: String,
      alpha: Double = 0.5, beta: Double = 0.5,
      horizons: Seq[Int] = Seq(1, 3, 7)): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1,
      s"smoothing parameters out of range: alpha=$alpha beta=$beta")
    // `div`, not `/`: long / long promotes to double and epoch-ns
    // magnitudes sit past 2^53 where doubles quantize (NOTES footgun)
    val ev = df.select(col(keyCol),
      expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    // corpus-sized pass: one partial-aggregated count per (key, day)
    val cnts = ev.groupBy(keyCol, "__d")
      .agg(count(lit(1)).cast("double").as("__y"))
    // global day bounds (1 row, broadcast by the cross join) × keys
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = ev.select(keyCol).distinct()
      .crossJoin(bounds)
      .select(col(keyCol),
        explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts, Seq(keyCol, "__d"), "left")
      .na.fill(0d, Seq("__y"))
    // per-key bounded fold: sort by day, run the Holt recursion.
    // The inner level expression repeats inside the trend update —
    // lambda bodies get no CSE, but the series is day-grid-sized.
    val a = alpha
    val b = beta
    val fold =
      s"""aggregate(
            transform(sort_array(collect_list(struct(__d, __y))), p -> p.__y),
            named_struct('i', 0L, 'l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE)),
            (acc, y) -> named_struct(
              'i', acc.i + 1L,
              'l', CASE WHEN acc.i = 0L THEN y
                        ELSE ${a}D * y + ${1 - a}D * (acc.l + acc.b) END,
              'b', CASE WHEN acc.i = 0L THEN CAST(0 AS DOUBLE)
                        ELSE ${b}D * ((${a}D * y + ${1 - a}D * (acc.l + acc.b)) - acc.l)
                             + ${1 - b}D * acc.b END))"""
    val folded = series.groupBy(keyCol)
      .agg(count(lit(1)).as("n_days"), expr(fold).as("__st"))
    val fcols = horizons.map(h =>
      (col("__st.l") + lit(h.toDouble) * col("__st.b")).as(s"f$h"))
    folded.select(
      Seq(col(keyCol), col("n_days"),
        col("__st.l").as("level"), col("__st.b").as("trend")) ++ fcols: _*)
  }

  /** Trig literals for [[periodogramDaily]]: cos/sin(2π·t/p) for every
    * (period, day-index) cell, computed ONCE driver-side and rounded
    * half-away-from-zero to the 1e-12 grid. Exposed so the oracle
    * renders the SAME numbers — neither engine's libm trig is ever in
    * the comparison path.
    */
  def trigTable(periods: Seq[Int], maxT: Int): Seq[(Int, Int, Double, Double)] = {
    def g12(x: Double): Double =
      if (x >= 0) math.floor(x * 1e12 + 0.5) / 1e12
      else -math.floor(-x * 1e12 + 0.5) / 1e12
    for (p <- periods; t <- 0 until maxT) yield {
      val a = 2d * math.Pi * t / p
      (p, t, g12(math.cos(a)), g12(math.sin(a)))
    }
  }

  /** Schuster periodogram of the daily event-count series at candidate
    * periods (in days): P(p) = C(p)² + S(p)² with C = Σ_t y_t·cos(2πt/p)
    * and S the sine sum — the spectral "is there a p-day cycle?" audit
    * that needs no phase alignment (unlike a day-of-week η², which only
    * sees period 7 at offset 0).
    *
    * Determinism: y_t are integer counts; the trig factors are shared
    * 1e-12-grid literals ([[trigTable]]); each product quantizes to a
    * 1e-6-grid integer before the per-period sums, so accumulation
    * order is irrelevant; power lands on the 1e-4 floor grid.
    * `maxDays` bounds the literal table — the operator requires the
    * observed span to fit (the oracle carries the same table).
    *
    * Scale shape: one (day)-grained count aggregate (metadata-scale),
    * then a broadcast join against the |periods|·T literal table and
    * one combinable rollup. Output:
    * `period, n_days, power, power_share` ordered by period.
    */
  def periodogramDaily(df: DataFrame, tsNsCol: String, periods: Seq[Int],
      maxDays: Int = 31): DataFrame = {
    val sums = spectralSums(df, tsNsCol, periods, maxDays)
    val cS = col("__c6").cast("double") / 1e6
    val sS = col("__s6").cast("double") / 1e6
    val power = cS * cS + sS * sS
    val withP = sums.select(col("period"), col("n_days"),
      (floor(power * 1e4 + 0.5) / 1e4).as("power"),
      floor(power * 1e6 + 0.5).cast("long").as("__p6"))
    val tot = withP.agg(sum("__p6").as("__tot"))
    withP.crossJoin(tot)
      .select(col("period"), col("n_days"), col("power"),
        when(col("__tot") > 0,
          floor(col("__p6").cast("double") / col("__tot") * 1e6 + 0.5)
            / 1e6).as("power_share"))
      .orderBy("period")
  }

  /** Shared spine of [[periodogramDaily]] and [[spectralEntropyDaily]]:
    * per-period Schuster sums `(period, n_days, __c6, __s6)` over the
    * daily count series, each y·cos / y·sin product quantized to the
    * 1e-6 grid before the per-period fold. Runs the span guard.
    */
  private def spectralSums(df: DataFrame, tsNsCol: String,
      periods: Seq[Int], maxDays: Int): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      "periods must be >= 2 days")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    // day-grained (metadata-scale) — persisted so the span guard's
    // 1-row action and the power sums share one corpus pass
    val cnts = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y"))
        .crossJoin(ev.agg(min("__d").as("__d0")))
        .select((col("__d") - col("__d0")).cast("int").as("t"),
          col("__y")))
    val trig = trigTable(periods, maxDays)
      .toDF("period", "t", "__cos", "__sin")
    val joined = cnts.join(broadcast(trig), Seq("t"))
    // counts × 1e-12-grid literals, quantized to 1e-6 integers before
    // the sum — exact regardless of partition order
    def q6(c: Column): Column =
      when(c >= 0, floor(c * 1e6 + 0.5)).otherwise(-floor(-c * 1e6 + 0.5))
        .cast("long")
    val sums = joined.groupBy("period")
      .agg(count(lit(1)).as("n_days"),
        sum(q6(col("__y") * col("__cos"))).as("__c6"),
        sum(q6(col("__y") * col("__sin"))).as("__s6"))
    val maxT = cnts.agg(max("t")).head().getInt(0)
    require(maxT < maxDays,
      s"observed span ${maxT + 1} days exceeds maxDays=$maxDays — " +
        "raise maxDays (the oracle literal table must match)")
    sums
  }

  /** Normalized spectral entropy of the candidate-period power
    * distribution — "is the series' energy concentrated in one cycle
    * (≈0) or spread flat (≈1)?", the one-number regularity score next
    * to [[periodogramDaily]]'s per-period report. Powers reduce to the
    * same 1e-6-grid integers `p6` as the periodogram; the share
    * q = p6/tot is an identical double ratio in both engines, each
    * −q·ln q term quantizes to the 1e-9 grid before the fold, and the
    * ln(k) normalizer is a driver-side 1e-12-grid literal ([[lnLit]]).
    * Output one row:
    * `n_periods, k_positive, entropy, entropy_norm, max_share`.
    */
  def spectralEntropyDaily(df: DataFrame, tsNsCol: String,
      periods: Seq[Int], maxDays: Int = 31): DataFrame = {
    val sums = spectralSums(df, tsNsCol, periods, maxDays)
    val cS = col("__c6").cast("double") / 1e6
    val sS = col("__s6").cast("double") / 1e6
    val power = cS * cS + sS * sS
    val p6 = sums.select(col("period"),
      floor(power * 1e6 + 0.5).cast("long").as("__p6"))
    val tot = p6.agg(sum("__p6").as("__tot"), max("__p6").as("__mx"))
    val q = col("__p6").cast("double") / col("__tot")
    val folded = p6.crossJoin(broadcast(tot)).agg(
      count(lit(1)).as("n_periods"),
      sum(when(col("__p6") > 0, 1L).otherwise(0L)).as("k_positive"),
      sum(when(col("__p6") > 0,
        floor(-q * log(q) * 1e9 + 0.5).cast("long")).otherwise(0L))
        .as("__h9"),
      max("__tot").as("__totx"), max("__mx").as("__mxx"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    val h = col("__h9").cast("double") / 1e9
    folded.select(col("n_periods"), col("k_positive"),
      g6(h).as("entropy"),
      when(col("n_periods") > 1,
        g6(h / lit(lnLit(periods.size)))).as("entropy_norm"),
      when(col("__totx") > 0,
        g6(col("__mxx").cast("double") / col("__totx"))).as("max_share"))
  }

  /** ln(x) on the 1e-12 grid, computed driver-side and rendered into
    * both the Spark plan and the oracle SQL (the sprtConstants
    * discipline) — used for the block-size axis of [[hurstDaily]] and
    * the entropy normalizer of [[spectralEntropyDaily]].
    */
  def lnLit(x: Double): Double = {
    require(x > 0, s"ln of non-positive $x")
    val v = math.log(x)
    if (v >= 0) math.floor(v * 1e12 + 0.5) / 1e12
    else -math.floor(-v * 1e12 + 0.5) / 1e12
  }

  /** 1e-6-grid ln(n) integers for [[hurstDaily]]'s regression axis:
    * `(n, x6 = round(ln n · 1e6))` — shared with the oracle.
    */
  def hurstLnTable(blockSizes: Seq[Int]): Seq[(Int, Long)] =
    blockSizes.map(n =>
      (n, math.floor(math.log(n.toDouble) * 1e6 + 0.5).toLong))

  /** Hurst exponent by rescaled-range (R/S) analysis of the daily
    * event-count series (Hurst 1951; Mandelbrot & Wallis 1969) — the
    * long-range-dependence audit: H ≈ 0.5 for independent increments,
    * H > 0.5 for persistent (trending) volume, H < 0.5 for
    * mean-reverting. The zero-filled day grid splits into complete
    * contiguous blocks of each candidate size n; per block
    * R = max−min of the cumulative mean-deviations and S = the
    * population std; H = the least-squares slope of ln(mean R/S)
    * against the ln n literals ([[hurstLnTable]]).
    *
    * Determinism: counts are integers, so block means/deviations are
    * identical double rationals; sqrt is IEEE-exact; per-block R/S
    * quantizes to the 1e-6 grid before the per-n mean; the regression
    * runs on exact 1e-6-grid INTEGER (x6, y6) points, so the slope is
    * a ratio of exact longs. Output one row per block size:
    * `block_size, n_blocks, mean_rs, hurst` (hurst repeated — it is
    * the regression over all rows).
    *
    * Scale shape: the corpus reduces to the day-grid count once;
    * everything after is grid-sized (days × |blockSizes| rows, bounded
    * windows within blocks). No data-sized shuffle or window.
    */
  def hurstDaily(df: DataFrame, tsNsCol: String,
      blockSizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(blockSizes.size >= 2 && blockSizes.forall(_ >= 2),
      "need >= 2 block sizes of >= 2 days for the ln-ln regression")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds
      .select(col("__d0"),
        explode(sequence(col("__d0"), col("__d1"))).as("__d"),
        (col("__d1") - col("__d0") + 1L).as("__T"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"), col("__T"))
    val ns = hurstLnTable(blockSizes).toDF("n", "__x6")
    val rows = series.crossJoin(broadcast(ns))
      .where((expr("t div n") + 1) * col("n") <= col("__T"))
      .withColumn("blk", expr("t div n"))
    val byBlk = org.apache.spark.sql.expressions.Window
      .partitionBy("n", "blk")
    val runBlk = byBlk.orderBy("t")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val staged = rows
      .withColumn("__cs", sum("__y").over(runBlk))
      .withColumn("__k",
        row_number().over(byBlk.orderBy("t")))
      .withColumn("__s", sum("__y").over(byBlk))
      .withColumn("__q", sum(col("__y") * col("__y")).over(byBlk))
    val m = col("__s").cast("double") / col("n")
    val zk = col("__cs").cast("double") - col("__k") * m
    val per = staged.groupBy("n", "__x6", "blk")
      .agg(max(zk).as("__zmax"), min(zk).as("__zmin"),
        max("__s").as("__sb"), max("__q").as("__qb"))
    val nD = col("n").cast("double")
    val mB = col("__sb").cast("double") / nD
    val varP = (col("__qb").cast("double") - nD * mB * mB) / nD
    val rs = (col("__zmax") - col("__zmin")) / sqrt(varP)
    val perN = per.where(varP > 0).groupBy("n", "__x6")
      .agg(count(lit(1)).as("n_blocks"),
        sum(floor(rs * 1e6 + 0.5).cast("long")).as("__rs6"))
    val meanRs = col("__rs6").cast("double") / col("n_blocks") / 1e6
    val pts = perN.select(col("n"), col("n_blocks"), col("__x6"),
      meanRs.as("__mrs"),
      when(meanRs >= 1, floor(log(meanRs) * 1e6 + 0.5))
        .otherwise(-floor(-log(meanRs) * 1e6 + 0.5)).cast("long")
        .as("__y6"))
    val st = pts.agg(count(lit(1)).as("__kk"),
      sum("__x6").as("__sx"), sum("__y6").as("__sy"),
      sum(col("__x6") * col("__y6")).as("__sxy"),
      sum(col("__x6") * col("__x6")).as("__sxx"))
    val hurst = (col("__kk") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double") /
      (col("__kk") * col("__sxx") - col("__sx") * col("__sx"))
        .cast("double")
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    pts.crossJoin(broadcast(st.select(
        when(col("__kk") >= 2,
          (when(hurst >= 0, floor(hurst * 1e4 + 0.5))
            .otherwise(-floor(-hurst * 1e4 + 0.5)) / 1e4 + lit(0d)))
          .as("hurst"))))
      .select(col("n").as("block_size"), col("n_blocks"),
        g6(col("__mrs")).as("mean_rs"), col("hurst"))
      .orderBy("block_size")
  }

  /** Cross-correlation function between the daily count series of two
    * event types at integer-day lags — "do purchases FOLLOW views?"
    * with the sign of the lead/lag made explicit (positive lag =
    * series B shifted later). Pearson r per lag over the overlapping
    * zero-filled grid, all five moments exact integer sums; r is a
    * ratio of exact longs under IEEE sqrt. Output per lag:
    * `lag, n_overlap, r` (1e-6 sign-aware grid, NULL when either side
    * is constant).
    *
    * Scale shape: corpus → day grid once; the lag shift is a
    * grid-sized self-join on `t` (≤ days × lags rows).
    */
  def ccfDaily(df: DataFrame, tsNsCol: String, typeCol: String,
      typeA: String, typeB: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    val cnts0 = ev.groupBy("__d").agg(
      sum(when(col("__ty") === typeA, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__ty") === typeB, 1L).otherwise(0L)).as("__b"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b"))
    val lags = (-maxLag to maxLag).toDF("lag")
    val sa = series.select(col("t"), col("__a"))
    val sb = series.select(col("t").as("__t2"), col("__b"))
    val joined = sa.crossJoin(broadcast(lags))
      .join(sb, col("__t2") === col("t") + col("lag"))
    val mom = joined.groupBy("lag").agg(count(lit(1)).as("n_overlap"),
      sum("__a").as("__sa"), sum("__b").as("__sb"),
      sum(col("__a") * col("__b")).as("__sab"),
      sum(col("__a") * col("__a")).as("__saa"),
      sum(col("__b") * col("__b")).as("__sbb"))
    val num = (col("n_overlap") * col("__sab") - col("__sa") * col("__sb"))
      .cast("double")
    val da = (col("n_overlap") * col("__saa") - col("__sa") * col("__sa"))
      .cast("double")
    val db = (col("n_overlap") * col("__sbb") - col("__sb") * col("__sb"))
      .cast("double")
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    mom.select(col("lag"), col("n_overlap"),
      when(da > 0 && db > 0, g6(num / (sqrt(da) * sqrt(db)))).as("r"))
      .orderBy("lag")
  }

  /** Classical additive seasonal decomposition of the daily count
    * series at a fixed period (default weekly): centered moving-average
    * trend over full windows only, per-phase mean of the detrended
    * values, indices re-centered to sum to zero. Detrended terms
    * quantize to the 1e-6 grid pre-fold; the per-phase raw index
    * quantizes to a 1e-6 integer so the re-centering grand mean is a
    * ratio of exact longs. Output one row per phase:
    * `phase, n_terms, raw_index, seasonal`.
    *
    * Scale shape: day grid once; one ±half-period bounded window over
    * the GRID; one phase-sized aggregate. (`period` must be odd so the
    * centered MA needs no half-weights.)
    */
  def seasonalIndicesDaily(df: DataFrame, tsNsCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd >= 3")
    val h = period / 2
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
      .rowsBetween(-h, h)
    val detr = series
      .withColumn("__ws", sum("__y").over(w))
      .withColumn("__wc", count(lit(1)).over(w))
      .where(col("__wc") === period)
      .select(pmod(col("t"), lit(period.toLong)).as("phase"),
        (col("__y").cast("double") -
          col("__ws").cast("double") / period).as("__dt"))
    val perPhase = detr.groupBy("phase").agg(count(lit(1)).as("n_terms"),
      sum(when(col("__dt") >= 0, floor(col("__dt") * 1e6 + 0.5))
        .otherwise(-floor(-col("__dt") * 1e6 + 0.5)).cast("long"))
        .as("__s6"))
    val rawQ = col("__s6").cast("double") / col("n_terms")
    val withRaw = perPhase.withColumn("__raw6",
      when(rawQ >= 0, floor(rawQ + 0.5)).otherwise(-floor(-rawQ + 0.5))
        .cast("long"))
    val grand = withRaw.agg(sum("__raw6").as("__g6"),
      count(lit(1)).as("__np"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    withRaw.crossJoin(broadcast(grand))
      .select(col("phase"), col("n_terms"),
        g6(col("__raw6").cast("double") / 1e6).as("raw_index"),
        g6((col("__raw6").cast("double") -
          col("__g6").cast("double") / col("__np")) / 1e6).as("seasonal"))
      .orderBy("phase")
  }

  /** Seasonal-ESD anomaly detection (the Twitter AnomalyDetection
    * recipe: classical seasonal decomposition, then generalized ESD on
    * the residuals) — "which DAYS are anomalous once the weekly shape
    * is removed?", where a raw z-score would flag every ordinary
    * weekend. Residuals r = y − trend − seasonal live on the exact
    * 1e-6 integer grid (the [[seasonalIndicesDaily]] pipeline);
    * each of `maxAnomalies` ESD rounds picks the max |r − mean| point
    * (argmax decided on exact |r·n − Σr| integers, ties to the
    * earlier day) and removes it from the next round's moments.
    * Output one row per round:
    * `round, t, residual, g_stat` (1e-6/1e-4 grids).
    *
    * Scale shape: corpus → day grid once; each unrolled round is a
    * 1-row moment aggregate + an argmax over the GRID. Rounds are a
    * compile-time constant — no driver-data loop.
    */
  def seasonalEsdDaily(df: DataFrame, tsNsCol: String, period: Int = 7,
      maxAnomalies: Int = 3): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd >= 3")
    require(maxAnomalies >= 1 && maxAnomalies <= 8,
      "maxAnomalies in [1, 8] (the oracle unrolls the same count)")
    val h = period / 2
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
      .rowsBetween(-h, h)
    val detr = series
      .withColumn("__ws", sum("__y").over(w))
      .withColumn("__wc", count(lit(1)).over(w))
      .where(col("__wc") === period)
      .select(col("t"), pmod(col("t"), lit(period.toLong)).as("__ph"),
        (col("__y").cast("double") -
          col("__ws").cast("double") / period).as("__dt"))
    val withD6 = detr.withColumn("__d6",
      when(col("__dt") >= 0, floor(col("__dt") * 1e6 + 0.5))
        .otherwise(-floor(-col("__dt") * 1e6 + 0.5)).cast("long"))
    val perPhase = withD6.groupBy("__ph")
      .agg(count(lit(1)).as("__np"), sum("__d6").as("__s6"))
    val rawQ = col("__s6").cast("double") / col("__np")
    val idx = perPhase.withColumn("__raw6",
      when(rawQ >= 0, floor(rawQ + 0.5)).otherwise(-floor(-rawQ + 0.5))
        .cast("long"))
    val resid = Caches.persist(
      withD6.join(broadcast(idx.select(col("__ph"), col("__raw6"))),
          Seq("__ph"))
        .select(col("t"), (col("__d6") - col("__raw6")).as("__r6")))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    var remaining = resid
    var out: DataFrame = null
    for (round <- 1 to maxAnomalies) {
      val mom = remaining.agg(count(lit(1)).as("__n"),
        sum("__r6").as("__S"),
        sum(col("__r6").cast("decimal(38,0)") * col("__r6")).as("__Q"))
      val dev = abs(col("__r6") * col("__n") - col("__S"))
      val pick = remaining.crossJoin(broadcast(mom))
        .groupBy("__n", "__S", "__Q")
        .agg(max(struct(dev.as("__dv"), (-col("t")).as("__nt"),
          col("__r6"))).as("__w"))
      val nD = col("__n").cast("double")
      val variance = (col("__Q").cast("double") -
        col("__S").cast("double") * col("__S") / nD) / (nD - 1d) / 1e12
      val g = col("__w.__dv").cast("double") / nD / 1e6 / sqrt(variance)
      val row = pick.select(lit(round).as("round"),
        (-col("__w.__nt")).as("t"),
        g6(col("__w.__r6").cast("double") / 1e6).as("residual"),
        when(variance > 0 && col("__n") > 2,
          floor(g * 1e4 + 0.5) / 1e4).as("g_stat"))
      out = if (out == null) row else out.unionByName(row)
      val pickedT = pick.select((-col("__w.__nt")).as("t"))
      remaining = remaining.join(broadcast(pickedT), Seq("t"),
        "left_anti")
    }
    out.orderBy("round")
  }

  /** Kendall's τ-b between the daily count series of two event types —
    * the fully tie-corrected RANK association (q196's Spearman sees
    * monotone shape; τ-b counts concordant vs discordant day pairs
    * directly and is robust to the heavy count ties a zero-filled
    * grid produces). Over all day pairs i < j:
    * τ-b = (C − D) / √((n0 − t_a)·(n0 − t_b)) with n0 = the pair
    * count and t the per-side tied pairs. Pure integer counting until
    * the final ratio (IEEE sqrt). Output one row:
    * `n_days, n_pairs, concordant, discordant, ties_a, ties_b, tau_b`.
    *
    * Scale shape: the corpus reduces to the day grid once; the pair
    * enumeration is a GRID self-join (days², ~900 rows for a month —
    * days don't scale with data volume), one fold.
    */
  def kendallTauDaily(df: DataFrame, tsNsCol: String, typeCol: String,
      typeA: String, typeB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    val cnts0 = ev.groupBy("__d").agg(
      sum(when(col("__ty") === typeA, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__ty") === typeB, 1L).otherwise(0L)).as("__b"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b"))
    val s2 = series.select(col("t").as("__t2"), col("__a").as("__a2"),
      col("__b").as("__b2"))
    val pairs = series.join(s2, col("t") < col("__t2"))
    val sgn = (col("__a") - col("__a2")) * (col("__b") - col("__b2"))
    val mom = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
      sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"),
      sum(when(col("__a") === col("__a2"), 1L).otherwise(0L))
        .as("ties_a"),
      sum(when(col("__b") === col("__b2"), 1L).otherwise(0L))
        .as("ties_b"))
    val nDays = series.agg(count(lit(1)).as("n_days"))
    val da = (col("n_pairs") - col("ties_a")).cast("double")
    val db = (col("n_pairs") - col("ties_b")).cast("double")
    val tau = (col("concordant") - col("discordant")).cast("double") /
      (sqrt(da) * sqrt(db))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    broadcast(nDays).crossJoin(mom)
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_a"), col("ties_b"),
        when(da > 0 && db > 0, g6(tau)).as("tau_b"))
  }

  /** Wald–Wolfowitz runs test on the daily volume's up/down moves —
    * "is the day-over-day direction random, or does it streak/
    * alternate?" (too FEW runs = momentum, too many = mean-reversion;
    * the model-free serial-dependence check next to q230's ACF).
    * Zero moves are dropped; R = the number of sign runs,
    * E[R] = 1 + 2n₁n₂/n, V[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)),
    * z = (R−E)/√V — exact integers until the final ratio. Output one
    * row: `n_moves, n_up, n_down, runs, expected_runs, z` (1e-4/1e-6
    * grids).
    *
    * Scale shape: corpus → day grid once; two bounded lag windows
    * over the GRID. Nothing data-sized.
    */
  def runsTestDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val wT = org.apache.spark.sql.expressions.Window.orderBy("t")
    val moves = series
      .withColumn("__prev", lag("__y", 1).over(wT))
      .where(col("__prev").isNotNull && col("__y") =!= col("__prev"))
      .select(col("t"),
        when(col("__y") > col("__prev"), 1L).otherwise(-1L).as("__s"))
    val wM = org.apache.spark.sql.expressions.Window.orderBy("t")
    val runs = moves
      .withColumn("__ps", lag("__s", 1).over(wM))
      .select(col("__s"),
        when(col("__ps").isNull || col("__ps") =!= col("__s"), 1L)
          .otherwise(0L).as("__newRun"))
      .agg(count(lit(1)).as("n_moves"),
        sum(when(col("__s") === 1L, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("__s") === -1L, 1L).otherwise(0L)).as("n_down"),
        sum("__newRun").as("runs"))
    val n = col("n_moves").cast("double")
    val p2 = (lit(2L) * col("n_up") * col("n_down")).cast("double")
    val eR = lit(1d) + p2 / n
    val vR = p2 * (p2 - n) / (n * n * (n - 1d))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    runs.select(col("n_moves"), col("n_up"), col("n_down"), col("runs"),
      when(col("n_moves") > 0, floor(eR * 1e4 + 0.5) / 1e4)
        .as("expected_runs"),
      when(col("n_moves") > 1 && vR > 0,
        g6((col("runs").cast("double") - eR) / sqrt(vR))).as("z"))
  }

  /** Dynamic time warping between the diurnal (time-of-day) profiles
    * of two event types — "do purchases follow the SHAPE of views,
    * shifted in time?" where q365's CCF only tests rigid lags and
    * q372's τ ignores timing entirely. The two `bins`-bin profiles
    * are integer counts; the classic DP
    * D(i,j) = cost(i,j) + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) unrolls
    * over the 2·bins−1 anti-diagonals (each cell depends only on the
    * two previous diagonals), so everything is exact int64. Output
    * one row: `n_bins, dtw_dist_sq, diag_dist_sq, warp_gain`
    * (warp_gain = 1 − dtw/diag, 1e-6 grid — how much the optimal
    * alignment beats the rigid one).
    *
    * Scale shape: corpus → two bins-row profiles once; the DP is
    * bins² cells in 2·bins−1 tiny joined stages — a compile-time
    * constant, no data-sized work and no driver-side state.
    */
  def dtwDiurnal(df: DataFrame, tsNsCol: String, typeCol: String,
      typeA: String, typeB: String, bins: Int = 12): DataFrame = {
    require(bins >= 2 && bins <= 24, "bins in [2, 24]")
    val Big = 9000000000000000L
    val binNs = DayNs / bins
    val n2 = bins * bins
    val spark = df.sparkSession
    import spark.implicits._
    // binNs = DayNs div bins truncates, so when bins does not divide the
    // day the last sliver of timestamps lands on index == bins — clamp
    // it into the final bin rather than silently dropping it at the
    // grid join below.
    val ev = df.select(
      least(expr(s"(pmod($tsNsCol, ${DayNs}L)) div ${binNs}L"),
        lit((bins - 1).toLong)).as("__b"),
      col(typeCol).as("__ty"))
    val grid = spark.range(bins).toDF("__b")
    def profile(ty: String, out: String): DataFrame =
      grid.join(ev.where(col("__ty") === ty).groupBy("__b")
          .agg(count(lit(1)).as(out)), Seq("__b"), "left")
        .select(col("__b"), coalesce(col(out), lit(0L)).as(out))
    val pa = profile(typeA, "__ya")
    val pb = profile(typeB, "__yb")
    val cost = pa.select(col("__b").as("__i"), col("__ya"))
      .crossJoin(pb.select(col("__b").as("__j"), col("__yb")))
      .select(col("__i"), col("__j"),
        ((col("__ya") - col("__yb")) * (col("__ya") - col("__yb")))
          .as("__c"))
    // the DP as ONE sequential fold over (i, j)-sorted cells: the
    // accumulator is the flattened D table (1-based element_at), and
    // every dependency (left/up/diag) precedes its cell in (i, j)
    // order. A 23-stage join unroll would be correct too, but
    // Catalyst's per-stage planning makes a bins²-element fold far
    // cheaper — and the oracle keeps the unrolled-CTE form, proving
    // both shapes compute the same table.
    val foldSql =
      s"""element_at(
            aggregate(
              transform(sort_array(collect_list(struct(__i, __j, __c))),
                p -> p),
              array_repeat(CAST($Big AS BIGINT), $n2),
              (acc, s) -> transform(sequence(0, ${n2 - 1}), ii ->
                IF(ii = s.__i * $bins + s.__j,
                  s.__c + IF(s.__i = 0 AND s.__j = 0, 0L,
                    least(
                      IF(s.__i > 0,
                        element_at(acc, CAST((s.__i - 1) * $bins + s.__j + 1 AS INT)),
                        ${Big}L),
                      IF(s.__j > 0,
                        element_at(acc, CAST(s.__i * $bins + s.__j AS INT)),
                        ${Big}L),
                      IF(s.__i > 0 AND s.__j > 0,
                        element_at(acc, CAST((s.__i - 1) * $bins + s.__j AS INT)),
                        ${Big}L))),
                  element_at(acc, CAST(ii + 1 AS INT))))),
            $n2)"""
    val dtw = cost.agg(expr(foldSql).as("__dtw"),
      sum(when(col("__i") === col("__j"), col("__c")).otherwise(0L))
        .as("__diag"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    dtw.select(lit(bins).as("n_bins"), col("__dtw").as("dtw_dist_sq"),
      col("__diag").as("diag_dist_sq"),
      when(col("__diag") > 0,
        g6(lit(1d) - col("__dtw").cast("double") / col("__diag")))
        .as("warp_gain"))
  }

  /** Gumbel (EV-I) fit to weekly block maxima of the daily volume —
    * the extreme-value "how bad can a peak day get?" model (method of
    * moments: β = s·√6/π, μ = x̄ − γ·β) with return levels for 4- and
    * 52-block horizons: x_T = μ − β·ln(−ln(1 − 1/T)). The √6/π and
    * Euler–Mascheroni constants and the two −ln(−ln(1−1/T)) factors
    * are driver-side 1e-12-grid literals ([[gumbelConstants]]); block
    * maxima and their moments are exact integers. Output one row:
    * `n_blocks, mean_max, sd_max, mu, beta, ret4, ret52`
    * (1e-4 grids).
    *
    * Scale shape: day grid once → block-grain max aggregate →
    * one fold.
    */
  def gumbelMaximaDaily(df: DataFrame, tsNsCol: String,
      blockDays: Int = 7): DataFrame = {
    require(blockDays >= 2, "blockDays must be >= 2")
    val (c6pi, gamma, f4, f52) = gumbelConstants
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select(expr(s"(__d - __d0) div $blockDays").as("__b"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val maxima = series.groupBy("__b").agg(max("__y").as("__mx"))
    val mom = maxima.agg(count(lit(1)).as("n_blocks"),
      sum("__mx").as("__s"),
      sum(col("__mx").cast("decimal(38,0)") * col("__mx")).as("__q"))
    val nD = col("n_blocks").cast("double")
    val mean = col("__s").cast("double") / nD
    val variance = (col("__q").cast("double") -
      col("__s").cast("double") * col("__s") / nD) / (nD - 1d)
    val sd = sqrt(variance)
    val beta = sd * lit(c6pi)
    val mu = mean - lit(gamma) * beta
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    mom.select(col("n_blocks"), g4(mean).as("mean_max"),
      when(variance > 0, g4(sd)).as("sd_max"),
      when(variance > 0, g4(mu)).as("mu"),
      when(variance > 0, g4(beta)).as("beta"),
      when(variance > 0, g4(mu + beta * lit(f4))).as("ret4"),
      when(variance > 0, g4(mu + beta * lit(f52))).as("ret52"))
  }

  /** The Gumbel fit's four libm constants on the 1e-12 grid (shared
    * with the oracle): (√6/π, γ_EulerMascheroni,
    * −ln(−ln(1−1/4)), −ln(−ln(1−1/52))).
    */
  def gumbelConstants: (Double, Double, Double, Double) = {
    def g12(x: Double): Double =
      if (x >= 0) math.floor(x * 1e12 + 0.5) / 1e12
      else -math.floor(-x * 1e12 + 0.5) / 1e12
    (g12(math.sqrt(6d) / math.Pi), g12(0.5772156649015329),
      g12(-math.log(-math.log(1d - 1d / 4))),
      g12(-math.log(-math.log(1d - 1d / 52))))
  }

  /** Haar wavelet energy decomposition of the daily volume series —
    * which TIME SCALES carry the variation? (day-to-day jitter vs
    * weekly swells vs the monthly trend; the multi-resolution
    * companion of [[periodogramDaily]]'s fixed-period probe). The
    * zero-padded 32-day window transforms through 5 unrolled Haar
    * levels with the dyadic (s,d) = ((a+b)/2, (a−b)/2) butterflies —
    * every coefficient is a dyadic rational, so all double arithmetic
    * is EXACT in any engine. Output per level (1 = finest, plus the
    * level-0 DC row): `level, n_coeffs, scale_days, energy, share`
    * (1e-6 grids).
    *
    * Scale shape: corpus → 32-row day grid once; each level is a
    * 2-row-group aggregate over ≤ 32 rows.
    */
  def haarEnergyDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val d0 = ev.agg(min("__d").as("__d0"))
    val grid = d0.select(col("__d0"),
      explode(sequence(lit(0L), lit(31L))).as("t"))
    var coeffs = grid
      .join(cnts0, col("__d0") + col("t") === col("__d"), "left")
      .select(col("t"), coalesce(col("__y").cast("double"), lit(0d))
        .as("__v"))
    var energies = Seq.empty[DataFrame]
    for (lvl <- 1 to 5) {
      val paired = coeffs
        .withColumn("__pt", expr("t div 2"))
        .withColumn("__odd", pmod(col("t"), lit(2L)))
        .groupBy("__pt").agg(
          sum(when(col("__odd") === 0, col("__v"))).as("__a"),
          sum(when(col("__odd") === 1, col("__v"))).as("__b"))
        .withColumnRenamed("__pt", "t")
      val next = paired.select(col("t"),
        ((col("__a") + col("__b")) / 2d).as("__v"),
        ((col("__a") - col("__b")) / 2d).as("__diff"))
      energies = energies :+ next.agg(lit(lvl).as("level"),
        count(lit(1)).as("n_coeffs"),
        lit(1L << (lvl - 1)).as("scale_days"),
        sum(col("__diff") * col("__diff")).as("__e"))
      coeffs = next.select(col("t"), col("__v")).localCheckpoint(true)
    }
    val dc = coeffs.agg(lit(0).as("level"), count(lit(1)).as("n_coeffs"),
      lit(32L).as("scale_days"), sum(col("__v") * col("__v")).as("__e"))
    val all = (energies :+ dc).reduce(_ unionByName _)
    val tot = all.agg(sum("__e").as("__tot"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    all.crossJoin(broadcast(tot))
      .select(col("level"), col("n_coeffs"), col("scale_days"),
        g6(col("__e")).as("energy"),
        when(col("__tot") > 0, g6(col("__e") / col("__tot")))
          .as("share"))
      .orderBy("level")
  }

  /** Ljung–Box portmanteau test over the first `maxLag` daily
    * autocorrelations — "is there ANY serial structure left?" (the
    * joint companion of q230's per-lag ACF and q385's runs test;
    * the standard residual-whiteness gate after any forecast).
    * Centered values scale to exact integers z_t = y_t·n − Σy, so
    * every ρ_k = Σz_t·z_{t+k} / Σz_t² is an exact integer ratio;
    * the ρ²/(n−k) terms quantize to 1e-9 pre-fold. Output one row:
    * `n_days, max_lag, q_stat` (1e-4 grid).
    *
    * Scale shape: day grid once; `maxLag` grid-sized lag joins fold
    * into one aggregate.
    */
  def ljungBoxDaily(df: DataFrame, tsNsCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val tot = series.agg(count(lit(1)).as("__n"), sum("__y").as("__s"))
    val z = Caches.persist(series.crossJoin(broadcast(tot))
      .select(col("t"), (col("__y") * col("__n") - col("__s")).as("__z"),
        col("__n")))
    val den = z.agg(sum(col("__z") * col("__z")).as("__zz"),
      max("__n").as("__n"))
    val lags = (1 to maxLag).toDF("lag")
    val z2 = z.select((col("t")).as("__t2"), col("__z").as("__z2"))
    val nums = z.crossJoin(broadcast(lags))
      .join(z2, col("__t2") === col("t") + col("lag"))
      .groupBy("lag").agg(sum(col("__z") * col("__z2")).as("__num"))
    val rho = col("__num").cast("double") / col("__zz")
    val terms = nums.crossJoin(broadcast(den))
      .select(col("__n"),
        floor(rho * rho / (col("__n") - col("lag")) * 1e9 + 0.5)
          .cast("long").as("__t9"))
    val folded = terms.groupBy("__n").agg(sum("__t9").as("__s9"))
    val nD = col("__n").cast("double")
    val q = nD * (nD + 2d) * (col("__s9").cast("double") / 1e9)
    folded.select(col("__n").as("n_days"),
      lit(maxLag).as("max_lag"),
      (floor(q * 1e4 + 0.5) / 1e4).as("q_stat"))
  }

  /** Matrix profile of the daily volume series (Yeh et al. 2016,
    * unnormalized-Euclidean form): for every length-`m` subsequence,
    * the squared distance to its nearest non-trivial neighbor — the
    * motif/discord detector (small profile = repeated shape, large =
    * anomaly). Distances are EXACT integer sums of squared count
    * differences; the exclusion zone `|i−j| ≥ ⌈m/2⌉` suppresses
    * trivial self-matches. Output one row per window:
    * `window_start, nn_index, dist_sq` (argmin ties break toward the
    * smaller neighbor index).
    *
    * Scale shape: corpus → day grid once; the profile is a
    * (windows × m) alignment join + a windows² pair aggregate — all
    * day-grid-sized, independent of data volume.
    */
  def matrixProfileDaily(df: DataFrame, tsNsCol: String,
      m: Int = 5): DataFrame = {
    require(m >= 2, "window length m must be >= 2")
    val excl = (m + 1) / 2
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"),
      (col("__d1") - col("__d0") + 1L).as("__T"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"), col("__T"))
    val offs = (0 until m).toDF("__k")
    val win = series.crossJoin(broadcast(offs))
      .select((col("t") - col("__k")).as("__i"), col("__k"),
        col("__y"), col("__T"))
      .where(col("__i") >= 0 && col("__i") <= col("__T") - m)
    val a = win.select(col("__i"), col("__k"), col("__y").as("__ya"))
    val b = win.select(col("__i").as("__j"), col("__k"),
      col("__y").as("__yb"))
    val d2 = a.join(b, Seq("__k"))
      .where(abs(col("__i") - col("__j")) >= excl)
      .groupBy("__i", "__j")
      .agg(sum((col("__ya") - col("__yb")) * (col("__ya") - col("__yb")))
        .as("__d2"))
    d2.groupBy(col("__i").as("window_start"))
      .agg(min(struct(col("__d2"), col("__j"))).as("__best"))
      .select(col("window_start"), col("__best.__j").as("nn_index"),
        col("__best.__d2").as("dist_sq"))
      .orderBy("window_start")
  }

  /** Forecast-error panel for the two zero-parameter baselines every
    * volume forecast must beat: naive-1 (ŷ_t = y_{t−1}) and
    * seasonal-naive (ŷ_t = y_{t−period}), scored over the shared
    * valid range t ≥ period. MAE/RMSE from exact integer error sums;
    * MASE = MAE_seasonal / MAE_naive1 (< 1 ⇒ the weekly shape is
    * real signal). Output one row:
    * `n, mae_naive1, rmse_naive1, mae_snaive, rmse_snaive, mase`
    * (1e-6 grids).
    *
    * Scale shape: day grid once, two lag windows over the grid, one
    * fold.
    */
  def naiveForecastErrorsDaily(df: DataFrame, tsNsCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 2, "period must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val wT = org.apache.spark.sql.expressions.Window.orderBy("t")
    val errs = series
      .withColumn("__p1", lag("__y", 1).over(wT))
      .withColumn("__ps", lag("__y", period).over(wT))
      .where(col("t") >= period)
      .select((col("__y") - col("__p1")).as("__e1"),
        (col("__y") - col("__ps")).as("__es"))
    val folded = errs.agg(count(lit(1)).as("n"),
      sum(abs(col("__e1"))).as("__a1"),
      sum(col("__e1") * col("__e1")).as("__q1"),
      sum(abs(col("__es"))).as("__as"),
      sum(col("__es") * col("__es")).as("__qs"))
    val nD = col("n").cast("double")
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    val mae1 = col("__a1").cast("double") / nD
    val maeS = col("__as").cast("double") / nD
    folded.select(col("n"), g6(mae1).as("mae_naive1"),
      g6(sqrt(col("__q1").cast("double") / nD)).as("rmse_naive1"),
      g6(maeS).as("mae_snaive"),
      g6(sqrt(col("__qs").cast("double") / nD)).as("rmse_snaive"),
      when(col("__a1") > 0, g6(maeS / mae1)).as("mase"))
  }

  /** Friedman rank test over daily blocks — "do the event types keep
    * the same daily-volume ORDERING day after day?" (the
    * repeated-measures companion of q324's Kruskal–Wallis: KW pools
    * all values, Friedman ranks WITHIN each day so day-level volume
    * shifts cancel). Within each day of the zero-filled span the k
    * types get tie-averaged ranks (doubled ranks stay integers —
    * the q324 trick); χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1), with the
    * Conover tie correction C = 1 − Σ(t³−t)/(nk(k²−1)). Rank sums
    * R_j are exact .25-grid doubles, so every fold is binary-exact.
    * Output one row:
    * `n_blocks, k_treatments, chi2_f, tie_correction, chi2_adj`.
    *
    * Scale shape: corpus → (day × type) cells once (map-side
    * combined); ranks come from a per-day cumulative window over the
    * ≤ k-row value grid; everything after is k-row algebra.
    */
  def friedmanDaily(df: DataFrame, tsNsCol: String,
      typeCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    val types = ev.select(col("__ty")).distinct()
    val cnts0 = ev.groupBy("__d", "__ty").agg(count(lit(1)).as("__c"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("__d"))
      .crossJoin(types)
    val cells = grid.join(cnts0, Seq("__d", "__ty"), "left")
      .select(col("__d"), col("__ty"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val vals = cells.groupBy("__d", "__c").agg(count(lit(1)).as("__t"))
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy("__d").orderBy("__c")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val ranked = vals.withColumn("__below",
      coalesce(sum("__t").over(wDay), lit(0L)))
    val withR2 = cells.join(ranked, Seq("__d", "__c"))
      .select(col("__ty"),
        (lit(2L) * col("__below") + col("__t") + 1L).as("__r2"),
        col("__t"))
    val perType = withR2.groupBy("__ty")
      .agg(sum("__r2").as("__R2"), count(lit(1)).as("__nb"))
    val rj = col("__R2").cast("double") / 2d
    val folded = perType.agg(count(lit(1)).as("k_treatments"),
      max("__nb").as("n_blocks"), sum(rj * rj).as("__S"))
    val ties = vals.agg(
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ts"))
    val nD = col("n_blocks").cast("double")
    val kD = col("k_treatments").cast("double")
    val chi2 = lit(12d) / (nD * kD * (kD + 1d)) * col("__S") -
      lit(3d) * nD * (kD + 1d)
    val corr = lit(1d) - col("__ts").cast("double") /
      (nD * kD * (kD * kD - 1d))
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    folded.crossJoin(broadcast(ties))
      .select(col("n_blocks"), col("k_treatments"),
        g4(chi2).as("chi2_f"),
        (floor(corr * 1e6 + 0.5) / 1e6).as("tie_correction"),
        when(corr > 0, g4(chi2 / corr)).as("chi2_adj"))
  }

  /** Mann–Kendall trend test on the zero-filled daily volume — the
    * distribution-free "is there a monotone trend at all?" screen that
    * belongs BEFORE q213's Theil–Sen slope (MK decides presence,
    * Theil–Sen sizes it): S = Σ_{i<j} sgn(y_j − y_i) with the
    * tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)
    * (2t_g+5)]/18 over the tie groups of the VALUE grid, and the
    * ±1-continuity-corrected z. S, the tie sum, and 18·Var are exact
    * int64 end to end; only the final z divides. Output one row:
    * `n_days, s_stat, n_value_groups, var18, z` (z 1e-6 sign-aware;
    * var18 = 18·Var(S) kept integer so the gate pins it exactly).
    *
    * Scale shape: corpus → day grid once; the pair join and tie
    * grouping run over the GRID (and its distinct values), never the
    * data.
    */
  def mannKendallDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    // persisted: the pair join, the day count and the tie grouping all
    // read the series — one corpus scan, everything after is grid-sized
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val s2 = series.select(col("t").as("__t2"), col("__y").as("__y2"))
    val mom = series.join(s2, col("t") < col("__t2"))
      .agg(coalesce(sum(when(col("__y2") > col("__y"), 1L)
        .when(col("__y2") < col("__y"), -1L).otherwise(0L)), lit(0L))
        .as("s_stat"))
    val nDays = series.agg(count(lit(1)).as("n_days"))
    val ties = series.groupBy("__y").agg(count(lit(1)).as("__tg"))
      .agg(count(lit(1)).as("n_value_groups"),
        sum(col("__tg") * (col("__tg") - 1L) *
          (lit(2L) * col("__tg") + 5L)).as("__tsum"))
    val n = col("n_days")
    val var18 = n * (n - 1L) * (lit(2L) * n + 5L) - col("__tsum")
    val vD = var18.cast("double") / lit(18d)
    val sD = col("s_stat").cast("double")
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val z = when(col("s_stat") > 0, (sD - 1d) / sqrt(vD))
      .when(col("s_stat") < 0, (sD + 1d) / sqrt(vD))
      .otherwise(lit(0d))
    broadcast(nDays).crossJoin(mom).crossJoin(broadcast(ties))
      .select(col("n_days"), col("s_stat"), col("n_value_groups"),
        var18.as("var18"), when(var18 > 0, g6(z)).as("z"))
  }

  /** 3×3 determinant expanded in the EXACT operation order of
    * [[Eval.ols2Det3Sql]] — oracles that mirror this algebra must
    * render the same text so both engines take the identical IEEE
    * path.
    */
  private def det3d(a: Column, b: Column, c: Column, d: Column,
      e: Column, f: Column, g: Column, h: Column, i: Column): Column =
    a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)

  /** Cox–Stuart trend test on the daily event-count series — the
    * sign-test cousin of q415's Mann–Kendall: pair day t with day
    * t + ⌈T/2⌉ (the middle day drops out when T is odd), count
    * positive/negative differences, and test #pos against
    * Binomial(n, ½). Where Mann–Kendall weighs all O(T²) pairs,
    * Cox–Stuart uses the T/2 maximally-separated ones — cruder but
    * assumption-free about tie structure. d = pos − neg has Var = n
    * under H₀; z carries the ±1 continuity correction with the same
    * sign convention as Mann–Kendall. Everything except z is exact
    * int64. Output one row:
    * `n_days, n_pairs, n_pos, n_neg, n_ties, z` (z 1e-6 sign-aware).
    *
    * Scale shape: corpus → day grid once; the pairing is one
    * grid-sized self-join on a computed offset.
    */
  def coxStuartDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = Caches.persist(grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y")))
    val tot = series.agg(count(lit(1)).as("__n"))
    val later = series.select(col("t").as("__t2"), col("__y").as("__y2"))
    val mom = series.crossJoin(broadcast(tot))
      .where(col("t") < expr("__n div 2"))
      .join(later, col("__t2") === col("t") + expr("(__n + 1) div 2"))
      .agg(max("__n").as("n_days"), count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("__y2") > col("__y"), 1L).otherwise(0L)),
          lit(0L)).as("n_pos"),
        coalesce(sum(when(col("__y2") < col("__y"), 1L).otherwise(0L)),
          lit(0L)).as("n_neg"))
    val d = col("n_pos") - col("n_neg")
    // null-guarded divisor: ANSI Divide throws on zero even for
    // doubles, and subexpression elimination can evaluate the z
    // branches on the all-ties row the output guard NULLs out
    val n = when(col("n_pos") + col("n_neg") > 0L,
      (col("n_pos") + col("n_neg")).cast("double"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val z = when(d > 0, (d.cast("double") - 1d) / sqrt(n))
      .when(d < 0, (d.cast("double") + 1d) / sqrt(n))
      .otherwise(lit(0d))
    mom.select(col("n_days"), col("n_pairs"), col("n_pos"), col("n_neg"),
      (col("n_pairs") - col("n_pos") - col("n_neg")).as("n_ties"),
      when(col("n_pos") + col("n_neg") > 0, g6(z)).as("z"))
  }

  /** Partial autocorrelations of the daily count series at lags 1–3
    * via the Durbin–Levinson recursion closed forms — the AR-order
    * diagnostic q230's raw ACF can't give (an AR(1) series has
    * nonzero ACF at EVERY lag but PACF cuts off after 1). Centered
    * values scale to exact integers z_t = y_t·n − Σy (the q413
    * Ljung–Box discipline), so each r_k = Σ z_t·z_{t+k} / Σ z_t² is
    * a ratio of exact decimal(38,0) moments; the recursion
    *   φ₁₁ = r₁
    *   φ₂₂ = (r₂ − r₁²)/(1 − r₁²),      φ₂₁ = r₁·(1 − φ₂₂)
    *   φ₃₃ = (r₃ − φ₂₁r₂ − φ₂₂r₁)/(1 − φ₂₁r₁ − φ₂₂r₂)
    * is pure one-row scalar algebra, mirrored textually in the
    * oracle. Output one row:
    * `n_days, r1, r2, r3, pacf1, pacf2, pacf3` (1e-6 sign-aware).
    *
    * Scale shape: corpus → day grid once; three lead windows over the
    * bounded grid; one fold.
    */
  def pacfDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val tot = series.agg(count(lit(1)).as("__n"), sum("__y").as("__s"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.orderBy("t")
    val z = series.crossJoin(broadcast(tot))
      .select(col("t"),
        (col("__y") * col("__n") - col("__s")).as("__z"), col("__n"))
      .withColumn("__z1", lead(col("__z"), 1).over(w))
      .withColumn("__z2", lead(col("__z"), 2).over(w))
      .withColumn("__z3", lead(col("__z"), 3).over(w))
    val mom = z.agg(max("__n").as("n_days"),
      sum(dec(col("__z")) * col("__z")).as("__zz"),
      sum(when(col("__z1").isNotNull, dec(col("__z")) * col("__z1"))
        .otherwise(dec(lit(0L)))).as("__m1"),
      sum(when(col("__z2").isNotNull, dec(col("__z")) * col("__z2"))
        .otherwise(dec(lit(0L)))).as("__m2"),
      sum(when(col("__z3").isNotNull, dec(col("__z")) * col("__z3"))
        .otherwise(dec(lit(0L)))).as("__m3"))
    // divisors null-guarded: subexpression elimination evaluates these
    // ratios even on rows the output guards NULL out, and ANSI Divide
    // throws on a zero divisor — a null divisor yields null instead,
    // which the guards below turn into the intended NULL outputs
    val zz = when(col("__zz") =!= 0, col("__zz").cast("double"))
    val r1 = col("__m1").cast("double") / zz
    val r2 = col("__m2").cast("double") / zz
    val r3 = col("__m3").cast("double") / zz
    val p22den = lit(1d) - r1 * r1
    val p22 = (r2 - r1 * r1) / when(p22den =!= 0d, p22den)
    val p21 = r1 * (lit(1d) - p22)
    val p33den = lit(1d) - p21 * r1 - p22 * r2
    val p33 = (r3 - p21 * r2 - p22 * r1) / when(p33den =!= 0d, p33den)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    val ok = col("__zz") > 0 && col("n_days") > 3
    mom.select(col("n_days"),
      when(ok, g6(r1)).as("r1"), when(ok, g6(r2)).as("r2"),
      when(ok, g6(r3)).as("r3"),
      when(ok, g6(r1)).as("pacf1"),
      when(ok && p22den =!= 0d, g6(p22)).as("pacf2"),
      when(ok && p22den =!= 0d && p33den =!= 0d, g6(p33)).as("pacf3"))
  }

  /** Lag-1 Granger causality between two daily event-type series —
    * "does yesterday's A volume predict today's B volume beyond B's
    * own yesterday?": restricted model b_t ~ b_{t−1}, unrestricted
    * b_t ~ b_{t−1} + a_{t−1} (the q370 closed-form 3×3 solve), and
    * F = (SSE_r − SSE_u)·(n−3)/SSE_u with 1 numerator df. All ten
    * moments are exact integers (decimal(38,0) cross-products); the
    * SSEs and F are identical double algebra in both engines (the
    * ols2 determinant discipline), clamped at 0 against rounding.
    * Output one row: `n_obs, sse_r, sse_u, f_stat` (1e-6 / 1e-4
    * grids).
    *
    * Scale shape: corpus → day grid once; one window lag and one
    * scalar fold over the GRID.
    */
  def grangerDaily(df: DataFrame, tsNsCol: String, typeCol: String,
      typeA: String, typeB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    // persisted: bounds and the series join both read it — one corpus
    // scan total
    val cnts0 = Caches.persist(ev.groupBy("__d").agg(
      sum(when(col("__ty") === typeA, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__ty") === typeB, 1L).otherwise(0L)).as("__b")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val obs = series.select(col("__b").as("__yv"),
        lag("__b", 1).over(w).as("__x1"), lag("__a", 1).over(w).as("__x2"))
      .where(col("__x1").isNotNull)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val mom = obs.agg(count(lit(1)).as("n_obs"),
      sum("__x1").as("__sx1"), sum("__x2").as("__sx2"),
      sum("__yv").as("__sy"),
      sum(dec(col("__x1")) * col("__x1")).as("__sx11"),
      sum(dec(col("__x1")) * col("__x2")).as("__sx12"),
      sum(dec(col("__x2")) * col("__x2")).as("__sx22"),
      sum(dec(col("__x1")) * col("__yv")).as("__sx1y"),
      sum(dec(col("__x2")) * col("__yv")).as("__sx2y"),
      sum(dec(col("__yv")) * col("__yv")).as("__syy"))
    val nD = col("n_obs").cast("double")
    val sx1 = col("__sx1").cast("double")
    val sx2 = col("__sx2").cast("double")
    val sy = col("__sy").cast("double")
    val sx11 = col("__sx11").cast("double")
    val sx12 = col("__sx12").cast("double")
    val sx22 = col("__sx22").cast("double")
    val sx1y = col("__sx1y").cast("double")
    val sx2y = col("__sx2y").cast("double")
    val syy = col("__syy").cast("double")
    val dd = det3d(nD, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    val d0 = det3d(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22)
    val d1 = det3d(nD, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22)
    val d2 = det3d(nD, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y)
    val sseU = syy - (d0 / dd * sy + d1 / dd * sx1y + d2 / dd * sx2y)
    val mxx = nD * sx11 - sx1 * sx1
    val c1 = (nD * sx1y - sx1 * sy) / mxx
    val c0 = (sy - c1 * sx1) / nD
    val sseR = syy - (c0 * sy + c1 * sx1y)
    val f = greatest((sseR - sseU) * (nD - lit(3d)) / sseU, lit(0d))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val ok = col("n_obs") > 3 && mxx > 0 && dd =!= 0d
    mom.select(col("n_obs"),
      when(ok, g6(sseR)).as("sse_r"),
      when(ok, g6(sseU)).as("sse_u"),
      when(ok && sseU > 0, g4(f)).as("f_stat"))
  }

  /** Spearman rank correlation between two daily event-type series —
    * the monotone-association companion of q372's Kendall τ-b (ρ uses
    * rank covariance — cheaper, the classic reporting convention; τ
    * counts pair inversions): tie-averaged DOUBLED ranks (the q406
    * integer-grid trick: 2·rank_min + ties − 1 is always an exact
    * int64) feed a plain Pearson moment fold, and doubling cancels in
    * the ratio. Exact integers until the final ρ division. Output one
    * row: `n_days, rho` (1e-6 sign-aware grid; NULL when either
    * series is constant).
    *
    * Scale shape: corpus → day grid once (persisted); ranks are two
    * windows over the GRID.
    */
  def spearmanDaily(df: DataFrame, tsNsCol: String, typeCol: String,
      typeA: String, typeB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    val cnts0 = Caches.persist(ev.groupBy("__d").agg(
      sum(when(col("__ty") === typeA, 1L).otherwise(0L)).as("__a"),
      sum(when(col("__ty") === typeB, 1L).otherwise(0L)).as("__b")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select(coalesce(col("__a"), lit(0L)).as("__a"),
        coalesce(col("__b"), lit(0L)).as("__b"))
    val ranked = series.select(
      (lit(2L) * rank().over(Window.orderBy("__a")) +
        count(lit(1)).over(Window.partitionBy("__a")) - 1L).as("__ra"),
      (lit(2L) * rank().over(Window.orderBy("__b")) +
        count(lit(1)).over(Window.partitionBy("__b")) - 1L).as("__rb"))
    val mom = ranked.agg(count(lit(1)).as("n_days"),
      sum("__ra").as("__sa"), sum("__rb").as("__sb"),
      sum(col("__ra") * col("__ra")).as("__saa"),
      sum(col("__rb") * col("__rb")).as("__sbb"),
      sum(col("__ra") * col("__rb")).as("__sab"))
    val nD = col("n_days").cast("double")
    val sa = col("__sa").cast("double")
    val sb = col("__sb").cast("double")
    val saa = col("__saa").cast("double")
    val sbb = col("__sbb").cast("double")
    val sab = col("__sab").cast("double")
    val da = nD * saa - sa * sa
    val db = nD * sbb - sb * sb
    val rho = (nD * sab - sa * sb) / (sqrt(da) * sqrt(db))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    mom.select(col("n_days"), when(da > 0 && db > 0, g6(rho)).as("rho"))
  }

  /** Weekday-vs-weekend diurnal stationarity — a χ² homogeneity test
    * of the 24-hour event profile across the two day classes ("can
    * one diurnal model serve the whole week?"; q411's DTW compares
    * two TYPES' shapes, this compares one type's shape across DAY
    * CLASSES): the 24×2 contingency table is exact integer counts
    * (zero cells included via the full hour grid), each cell's
    * (o·n − r·c)²/(n·r·c) term is quantized to the 1e-9 grid BEFORE
    * the order-free integer sum (the q146 discipline), and Cramér's V
    * (min-dim 2 ⇒ √(χ²/n)) rides along. Day-of-week from the epoch
    * day (+4 ⇒ 0 = Sunday). Output one row: `n_events,
    * n_weekend_events, n_cells_used, chi2, cramers_v` (χ² exact on
    * the 1e-9 grid; V 1e-6).
    *
    * Scale shape: one corpus aggregate to ≤ 48 cells; margins are
    * windows over the CELL grid.
    */
  def diurnalStationarity(df: DataFrame, tsNsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HourNs = 3600L * 1000 * 1000 * 1000
    val spark = df.sparkSession
    import spark.implicits._
    val cells0 = df.select(
        expr(s"(pmod($tsNsCol, ${DayNs}L)) div ${HourNs}L").as("__h"),
        when(pmod(expr(s"$tsNsCol div ${DayNs}L") + lit(4L), lit(7L))
          .isin(0L, 6L), 1L).otherwise(0L).as("__we"))
      .groupBy("__h", "__we").agg(count(lit(1)).as("__o"))
    val grid = spark.range(24).select(col("id").as("__h"))
      .crossJoin(spark.range(2).select(col("id").as("__we")))
    val cells = grid.join(cells0, Seq("__h", "__we"), "left")
      .select(col("__h"), col("__we"),
        coalesce(col("__o"), lit(0L)).as("__o"))
    val full = cells.select(col("__h"), col("__we"), col("__o"),
      sum("__o").over(Window.partitionBy("__h")).as("__rt"),
      sum("__o").over(Window.partitionBy("__we")).as("__ct"),
      sum("__o").over(Window.partitionBy()).as("__n"))
    val oD = col("__o").cast("double")
    val rtD = col("__rt").cast("double")
    val ctD = col("__ct").cast("double")
    val nD = col("__n").cast("double")
    val num = oD * nD - rtD * ctD
    val term = num * num / (nD * rtD * ctD)
    val folded = full.where(col("__rt") > 0 && col("__ct") > 0)
      .agg(sum("__o").as("n_events"),
        sum(when(col("__we") === 1L, col("__o")).otherwise(0L))
          .as("n_weekend_events"),
        count(lit(1)).as("n_cells_used"),
        sum(floor(term * 1e9 + 0.5).cast("long")).as("__t9"))
    val chi2 = col("__t9").cast("double") / lit(1e9)
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    folded.select(col("n_events"), col("n_weekend_events"),
      col("n_cells_used"), chi2.as("chi2"),
      when(col("n_events") > 0, g6(sqrt(chi2 / col("n_events").cast("double"))))
        .as("cramers_v"))
  }

  /** Jarque–Bera normality test of the daily volume distribution —
    * the moment-based "is a Gaussian model even admissible?" screen
    * (JB = n/6·(S² + (K−3)²/4) from sample skewness S and kurtosis
    * K) that belongs before any z-scored anomaly rule (q395's ESD
    * assumes rough normality; this measures the assumption): the four
    * raw power sums are exact integers (decimal(38,0) — day counts
    * to the 4th power pass int64), and the central-moment algebra is
    * identical IEEE doubles in both engines. Output one row:
    * `n_days, skewness, kurtosis, jb_stat` (1e-6 / 1e-4 grids; NULL
    * when the series is constant).
    *
    * Scale shape: corpus → day grid once; one moment fold over the
    * GRID.
    */
  def jarqueBeraDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select(coalesce(col("__y"), lit(0L)).as("__y"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val mom = series.agg(count(lit(1)).as("n_days"),
      sum("__y").as("__s1"),
      sum(dec(col("__y")) * col("__y")).as("__s2"),
      sum(dec(col("__y")) * col("__y") * col("__y")).as("__s3"),
      sum(dec(col("__y")) * col("__y") * col("__y") * col("__y"))
        .as("__s4"))
    val nD = col("n_days").cast("double")
    val s1 = col("__s1").cast("double")
    val s2 = col("__s2").cast("double")
    val s3 = col("__s3").cast("double")
    val s4 = col("__s4").cast("double")
    val mean = s1 / nD
    val m2 = s2 / nD - mean * mean
    val m3 = s3 / nD - lit(3d) * mean * (s2 / nD) +
      lit(2d) * (mean * mean * mean)
    val m4 = s4 / nD - lit(4d) * mean * (s3 / nD) +
      lit(6d) * (mean * mean) * (s2 / nD) -
      lit(3d) * (mean * mean * mean * mean)
    val skew = m3 / (sqrt(m2) * m2)
    val kurt = m4 / (m2 * m2)
    val jb = nD / lit(6d) *
      (skew * skew + (kurt - lit(3d)) * (kurt - lit(3d)) / lit(4d))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    mom.select(col("n_days"),
      when(m2 > 0, g6(skew)).as("skewness"),
      when(m2 > 0, g6(kurt)).as("kurtosis"),
      when(m2 > 0, g4(jb)).as("jb_stat"))
  }

  /** Durbin–Watson statistic of the DETRENDED daily volume — serial
    * correlation of the residuals around the linear trend (DW ≈ 2 ⇒
    * independent residuals; → 0 positive, → 4 negative autocorr; the
    * residual-side complement of q402's Ljung–Box on raw counts):
    * the trend is the closed-form OLS fit (the q415 algebra), each
    * residual is quantized to the 1e-6 grid BEFORE the two integer
    * sums, so DW = Σ(Δe)²/Σe² is a ratio of exact int64 sums —
    * order-free and engine-identical. Output one row: `n_days, dw`
    * (1e-6 grid; NULL on a degenerate fit or n < 2).
    *
    * Scale shape: corpus → day grid once; one moment fold, one lag
    * window and one sum over the GRID.
    */
  def durbinWatsonDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val mom = series.agg(count(lit(1)).as("__k"),
      sum("t").as("__st"), sum(col("t") * col("t")).as("__stt"),
      sum(col("t") * col("__y")).as("__sty"),
      sum("__y").as("__sy"))
    val k = col("__k").cast("double")
    val st = col("__st").cast("double")
    val stt = col("__stt").cast("double")
    val sty = col("__sty").cast("double")
    val sy = col("__sy").cast("double")
    val den = k * stt - st * st
    val c1 = (k * sty - st * sy) / den
    val c0 = (sy - c1 * st) / k
    val resid = series.crossJoin(broadcast(mom))
      .select(col("t"), col("__k"),
        (col("__y").cast("double") - (c0 + c1 * col("t").cast("double")))
          .as("__e"), den.as("__den"))
      .select(col("t"), col("__k"), col("__den"),
        when(col("__e") >= 0, floor(col("__e") * 1e6 + 0.5))
          .otherwise(-floor(-col("__e") * 1e6 + 0.5)).cast("long")
          .as("__e6"))
    val w = Window.orderBy("t")
    // squares of 1e-6-grid residuals can pass int64 at large daily
    // volumes — accumulate in decimal(38,0) (HUGEINT on the oracle
    // side)
    def dec6(c: Column): Column = c.cast("decimal(38,0)")
    val folded = resid
      .withColumn("__pe6", lag("__e6", 1).over(w))
      .agg(max(col("__k")).as("n_days"), max(col("__den")).as("__d"),
        sum(dec6(col("__e6")) * col("__e6")).as("__see"),
        sum(when(col("__pe6").isNotNull,
          dec6(col("__e6") - col("__pe6")) * (col("__e6") - col("__pe6")))
          .otherwise(dec6(lit(0L)))).as("__sdd"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    folded.select(col("n_days"),
      when(col("__d") > 0 && col("__see") > 0 && col("n_days") > 1,
        g6(col("__sdd").cast("double") / col("__see").cast("double")))
        .as("dw"))
  }

  /** Chow structural-break test on the daily volume's linear trend —
    * "did the trend CHANGE at the midpoint?" (the regression-regime
    * companion of q293's CUSUM level shifts): fit y ~ t by OLS on the
    * full grid and on each half split at m = n div 2, then
    * F = ((SSE_p − SSE_a − SSE_b)/2) / ((SSE_a + SSE_b)/(n−4)).
    * Segment moments are exact integers from one conditional
    * aggregate; each SSE is the simple-regression closed form in
    * identical double algebra cross-engine, F clamped at 0 against
    * rounding. Output one row: `n_days, break_t, sse_pooled, sse_a,
    * sse_b, f_stat` (1e-6 / 1e-4 grids; NULL F when a segment is
    * degenerate or n ≤ 4).
    *
    * Scale shape: corpus → day grid once; one conditional fold over
    * the GRID.
    */
  def chowDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    // persisted: bounds, the day count and the conditional fold all
    // read it — one corpus scan total
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val nRow = series.agg(count(lit(1)).as("__n"))
      .select(col("__n"), expr("__n div 2").as("__m"))
    val st = series.crossJoin(broadcast(nRow))
    def seg(pred: Column, suffix: String): Seq[Column] = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"k$suffix"),
      sum(when(pred, col("t")).otherwise(0L)).as(s"st$suffix"),
      sum(when(pred, col("t") * col("t")).otherwise(0L)).as(s"stt$suffix"),
      sum(when(pred, col("t") * col("__y")).otherwise(0L)).as(s"sty$suffix"),
      sum(when(pred, col("__y")).otherwise(0L)).as(s"sy$suffix"),
      sum(when(pred, col("__y") * col("__y")).otherwise(0L)).as(s"syy$suffix"))
    val aggs = seg(lit(true), "P") ++ seg(col("t") < col("__m"), "A") ++
      seg(col("t") >= col("__m"), "B") :+ max(col("__m")).as("break_t")
    val mom = st.agg(aggs.head, aggs.tail: _*)
    def sseOf(sfx: String): (Column, Column) = {
      val k = col(s"k$sfx").cast("double")
      val stx = col(s"st$sfx").cast("double")
      val stt = col(s"stt$sfx").cast("double")
      val sty = col(s"sty$sfx").cast("double")
      val sy = col(s"sy$sfx").cast("double")
      val syy = col(s"syy$sfx").cast("double")
      val den = k * stt - stx * stx
      val c1 = (k * sty - stx * sy) / den
      val c0 = (sy - c1 * stx) / k
      (syy - (c0 * sy + c1 * sty), den)
    }
    val (sseP, denP) = sseOf("P")
    val (sseA, denA) = sseOf("A")
    val (sseB, denB) = sseOf("B")
    val nD = col("kP").cast("double")
    val f = greatest(
      ((sseP - sseA - sseB) / lit(2d)) / ((sseA + sseB) / (nD - lit(4d))),
      lit(0d))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val ok = denP > 0 && denA > 0 && denB > 0
    mom.select(col("kP").as("n_days"), col("break_t"),
      when(ok, g6(sseP)).as("sse_pooled"),
      when(ok, g6(sseA)).as("sse_a"),
      when(ok, g6(sseB)).as("sse_b"),
      when(ok && col("kP") > 4 && sseA + sseB > 0, g4(f)).as("f_stat"))
  }

  /** Shared Friedman-layout rank machinery: zero-filled per-(day,
    * type) counts over the full day grid × type set, DOUBLED
    * tie-averaged within-day ranks (2·below + t + 1 — exact
    * integers), per-type rank sums, and the within-day tie sum
    * Σ(t³−t). Returns (perType(__ty, __R2, __nb), ties(__ts),
    * nTypes) with everything grid-sized. Used by [[pageTrendDaily]]
    * and [[kendallWDaily]] (the q373 Friedman test derives the same
    * ranks inline).
    */
  private def friedmanRanks(df: DataFrame, tsNsCol: String,
      typeCol: String): (DataFrame, DataFrame) = {
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"),
      col(typeCol).as("__ty"))
    val types = ev.select(col("__ty")).distinct()
    val cnts0 = ev.groupBy("__d", "__ty").agg(count(lit(1)).as("__c"))
    val bounds = ev.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds
      .select(explode(sequence(col("__d0"), col("__d1"))).as("__d"))
      .crossJoin(types)
    val cells = grid.join(cnts0, Seq("__d", "__ty"), "left")
      .select(col("__d"), col("__ty"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val vals = Caches.persist(
      cells.groupBy("__d", "__c").agg(count(lit(1)).as("__t")))
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy("__d").orderBy("__c")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val ranked = vals.withColumn("__below",
      coalesce(sum("__t").over(wDay), lit(0L)))
    val perType = cells.join(ranked, Seq("__d", "__c"))
      .select(col("__ty"),
        (lit(2L) * col("__below") + col("__t") + 1L).as("__r2"))
      .groupBy("__ty")
      .agg(sum("__r2").as("__R2"), count(lit(1)).as("__nb"))
    val ties = vals.agg(
      sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
        - col("__t")).as("__ts"))
    (perType, ties)
  }

  /** Page's trend test for ORDERED alternatives in the Friedman
    * layout — "do the k treatments' daily volumes follow the
    * hypothesized ORDER?" where q373's Friedman only asks "do they
    * differ at all?" (for a monotone alternative Page's L
    * concentrates the power Friedman spreads over k−1 df). Treatments
    * are scored by their lexicographic rank (the hypothesized order;
    * callers with a domain order pre-map the type column);
    * L = Σ_j j·R_j over within-day tie-averaged ranks,
    * E(L) = n·k(k+1)²/4, Var(L) = n·k²(k+1)(k²−1)/144 (the no-tie
    * normal approximation — documented convention; ranks themselves
    * ARE tie-averaged). 2L and 4E are exact integers; only z divides.
    * Output one row: `n_days, k_treatments, l_stat, z` (L exact on
    * the .5 grid, z 1e-6 sign-aware).
    *
    * Scale shape: corpus → (day × type) grid once; rank windows over
    * the bounded grid; k-row fold.
    */
  def pageTrendDaily(df: DataFrame, tsNsCol: String,
      typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (perType, _) = friedmanRanks(df, tsNsCol, typeCol)
    val wOrd = Window.orderBy("__ty")
    val scored = perType.withColumn("__j", row_number().over(wOrd))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val roll = scored.agg(count(lit(1)).as("k"),
      max("__nb").as("n_days"),
      sum(dec(col("__j")) * col("__R2")).as("__L2"))
    val kL = col("k")
    val nL = col("n_days")
    // z = (L − E)/sqrt(Var) with L = L2/2 and 4E = n·k(k+1)² — scale
    // numerator by 4 so it stays an exact integer: (2·L2 − 4E)/4
    val num4 = lit(2).cast("decimal(38,0)") * col("__L2") -
      dec(nL) * kL * (kL + 1L) * (kL + 1L)
    val varL = nL.cast("double") * col("k").cast("double") * col("k") *
      (col("k") + 1L) * (col("k").cast("double") * col("k") - 1d) / 144d
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    roll.select(col("n_days"), col("k").as("k_treatments"),
      (col("__L2").cast("double") / 2d).as("l_stat"),
      when(col("k") > 1L && col("n_days") > 0L && varL > 0d,
        g6(num4.cast("double") / 4d / sqrt(varL))).as("z"))
  }

  /** Kendall's coefficient of concordance W — HOW STRONGLY do the
    * days agree on a single ranking of the k types? The effect-size
    * companion of q373's Friedman significance (χ²_F = n(k−1)·W; a
    * huge corpus can make a negligible W "significant", so the gate
    * reports both):
    *   W = (12·ΣS_j² − 3n²k(k+1)²) / (n²k(k²−1) − n·ΣT)
    * with the within-day tie sum ΣT = Σ(t³−t). With DOUBLED rank sums
    * R2_j = 2S_j the numerator is 3·(ΣR2_j² − n²k(k+1)²) — exact
    * decimal(38,0)/HUGEINT end to end; only the final ratio divides.
    * Output one row: `n_days, k_treatments, w, chi2` (w 1e-6,
    * χ² = n(k−1)W 1e-4).
    *
    * Scale shape: identical to [[pageTrendDaily]] — grid windows,
    * k-row fold.
    */
  def kendallWDaily(df: DataFrame, tsNsCol: String,
      typeCol: String): DataFrame = {
    val (perType, ties) = friedmanRanks(df, tsNsCol, typeCol)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val roll = perType.agg(count(lit(1)).as("k"),
      max("__nb").as("n_days"),
      sum(dec(col("__R2")) * col("__R2")).as("__SR2"))
    val kL = col("k")
    val nL = col("n_days")
    val num = lit(3).cast("decimal(38,0)") *
      (col("__SR2") - dec(nL) * nL * kL * (kL + 1L) * (kL + 1L))
    val den = dec(nL) * nL * kL * (kL * kL - 1L) -
      dec(nL) * col("__ts")
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val w = num.cast("double") /
      when(den > 0, den.cast("double"))
    roll.crossJoin(broadcast(ties))
      .select(col("n_days"), col("k").as("k_treatments"),
        when(den > 0, g6(w)).as("w"),
        when(den > 0,
          g4(nL.cast("double") * (kL - 1L).cast("double") * w))
          .as("chi2"))
  }

  /** Breusch–Pagan heteroskedasticity test on the daily-volume trend
    * residuals — "does the VARIANCE around the q419 trend line grow
    * with time?" (Durbin–Watson checks residual correlation; this
    * checks residual scale — the two standard OLS residual
    * diagnostics): regress e² on t and report LM = n·R²_aux.
    * Residuals are quantized to the 1e-2 grid BEFORE squaring (the
    * coarser-than-q419 grid keeps u = e² and its centered moments
    * inside decimal(38,0)/HUGEINT at large daily volumes — u is a
    * FOURTH power of the data), so every cross-day moment is an exact
    * integer and both engines fold identically; only R² divides.
    * Output one row: `n_days, r2_aux, lm` (1e-6 / 1e-4).
    *
    * Scale shape: corpus → day grid once (persisted); two bounded
    * folds (trend moments, then auxiliary moments).
    */
  def breuschPaganDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = Caches.persist(grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y")))
    val mom = series.agg(count(lit(1)).as("__k"),
      sum("t").as("__st"), sum(col("t") * col("t")).as("__stt"),
      sum(col("t") * col("__y")).as("__sty"), sum("__y").as("__sy"))
    val k = col("__k").cast("double")
    val st = col("__st").cast("double")
    val den = k * col("__stt").cast("double") - st * st
    val c1 = (k * col("__sty").cast("double") -
      st * col("__sy").cast("double")) / den
    val c0 = (col("__sy").cast("double") - c1 * st) / k
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val aux = series.crossJoin(broadcast(mom))
      .select(col("t"), col("__k"), den.as("__den"),
        (col("__y").cast("double") - (c0 + c1 * col("t").cast("double")))
          .as("__e"))
      .select(col("t"), col("__k"), col("__den"),
        when(col("__e") >= 0, floor(col("__e") * 1e2 + 0.5))
          .otherwise(-floor(-col("__e") * 1e2 + 0.5)).cast("long")
          .as("__e2"))
      .select(col("t"), col("__k"), col("__den"),
        (col("__e2") * col("__e2")).as("__u"))
      .agg(max("__k").as("n_days"), max("__den").as("__d"),
        sum(dec(col("t"))).as("__sx"),
        sum(dec(col("t")) * col("t")).as("__sxx"),
        sum(dec(col("t")) * col("__u")).as("__sxu"),
        sum(dec(col("__u"))).as("__su"),
        sum(dec(col("__u")) * col("__u")).as("__suu"))
    val m = col("n_days").cast("double")
    val sxxC = m * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val suuC = m * col("__suu").cast("double") -
      col("__su").cast("double") * col("__su").cast("double")
    val sxuC = m * col("__sxu").cast("double") -
      col("__sx").cast("double") * col("__su").cast("double")
    val r2 = sxuC * sxuC /
      (when(sxxC > 0d && suuC > 0d, sxxC) * suuC)
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    def g4(x: Column): Column = floor(x * 1e4 + 0.5) / 1e4 + lit(0d)
    val ok = col("__d") > 0d && sxxC > 0d && suuC > 0d &&
      col("n_days") > 2L
    aux.select(col("n_days"),
      when(ok, g6(r2)).as("r2_aux"),
      when(ok, g4(m * r2)).as("lm"))
  }

  /** Dickey–Fuller unit-root t-statistic (lag-0 form) on the daily
    * volume — "does the series mean-revert, or does it wander?": fit
    * Δy_t = α + β·y_{t−1} and report t(β̂); β near 0 (t near 0) means
    * a random walk, strongly negative t means reversion. The
    * stationarity screen that belongs before q422's PACF (whose AR
    * closed forms presume it). With A = mΣx²−(Σx)², B = mΣxz−ΣxΣz,
    * C = mΣz²−(Σz)² over the m = n−1 (x = y_{t−1}, z = Δy) pairs, the
    * t-statistic collapses to t = B·sqrt((m−2)/(A·C − B²)) — A, B, C
    * exact decimal(38,0)/HUGEINT, one division chain at the end.
    * Output one row: `n_days, n_pairs, beta, t_stat` (1e-6 / 1e-4
    * sign-aware).
    *
    * Scale shape: corpus → day grid once; one lag window over the
    * bounded grid; one fold.
    */
  def dickeyFullerDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = ev.groupBy("__d").agg(count(lit(1)).as("__y"))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0")).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y"))
    val w = Window.orderBy("t")
    val pairs = series
      .withColumn("__py", lag("__y", 1).over(w))
      .where(col("__py").isNotNull)
      .select(col("__py").as("__x"), (col("__y") - col("__py")).as("__z"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val mom = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(dec(col("__x"))).as("__sx"),
      sum(dec(col("__x")) * col("__x")).as("__sxx"),
      sum(dec(col("__x")) * col("__z")).as("__sxz"),
      sum(dec(col("__z"))).as("__sz"),
      sum(dec(col("__z")) * col("__z")).as("__szz"))
    val mI = dec(col("n_pairs"))
    val aI = mI * col("__sxx") - col("__sx") * col("__sx")
    val bI = mI * col("__sxz") - col("__sx") * col("__sz")
    val cI = mI * col("__szz") - col("__sz") * col("__sz")
    val disc = aI * cI - bI * bI
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    def g4(x: Column): Column =
      when(x >= 0, floor(x * 1e4 + 0.5)).otherwise(-floor(-x * 1e4 + 0.5)) /
        1e4 + lit(0d)
    val beta = bI.cast("double") / when(aI > 0, aI.cast("double"))
    val t = bI.cast("double") *
      sqrt((col("n_pairs") - 2L).cast("double") /
        when(disc > 0, disc.cast("double")))
    mom.select((col("n_pairs") + 1L).as("n_days"), col("n_pairs"),
      when(aI > 0, g6(beta)).as("beta"),
      when(aI > 0 && disc > 0 && col("n_pairs") > 2L, g4(t))
        .as("t_stat"))
  }

  /** Pettitt change-point test on daily volumes — the NONPARAMETRIC
    * member of the change-point family (q293's CUSUM assumes a mean
    * shift in level, q415's Chow a linear model, the binary-seg
    * `changepoint` a variance criterion; Pettitt only assumes
    * exchangeability under H0). U_t = Σ_{i≤t}Σ_{j>t} sgn(y_i − y_j),
    * K = max|U_t|, split at the first argmax. With doubled midranks
    * R2 = 2·below + cnt + 1 off the value grid the pair sums collapse
    * to a cumulative window and land on U DIRECTLY (2S_t − t(T+1)
    * with S the midrank prefix sum — sgn ties contribute 0 exactly as
    * midranks average them out):
    *   U_t = Σ_{i≤t} R2_i − t·(T+1),
    * so every U is an exact integer and both engines agree bitwise.
    * `p_exponent` = 6K²/(T³+T²) is emitted instead of the usual
    * p ≈ 2·e^{−x} — same information, no cross-engine libm exp.
    * Output one row: `(n_days, k_stat, cp_t, p_exponent)` (K integer,
    * cp_t the 1-based day ordinal of the first max, exponent 1e-6).
    * Empty input ⇒ empty result.
    *
    * Scale shape: one corpus pass to the day counts; ranks and the
    * cumulative U window run on the TIME-BOUNDED grid (T days).
    */
  def pettittDaily(df: DataFrame, tsNsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = df.select(expr(s"$tsNsCol div ${DayNs}L").as("__d"))
    val cnts0 = Caches.persist(
      ev.groupBy("__d").agg(count(lit(1)).as("__y")))
    val bounds = cnts0.agg(min("__d").as("__d0"), max("__d").as("__d1"))
    val grid = bounds.select(col("__d0"),
      explode(sequence(col("__d0"), col("__d1"))).as("__d"))
    val series = Caches.persist(grid.join(cnts0, Seq("__d"), "left")
      .select((col("__d") - col("__d0") + 1L).as("t"),
        coalesce(col("__y"), lit(0L)).as("__y")))
    val vgrid = series.groupBy("__y").agg(count(lit(1)).as("__c"))
    val wv = Window.orderBy("__y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vgrid
      .withColumn("__below", coalesce(sum("__c").over(wv), lit(0L)))
      .select(col("__y"),
        (lit(2L) * col("__below") + col("__c") + 1L).as("__r2"))
    val wt = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    val nAll = series.agg(count(lit(1)).as("__T"))
    val u = series.join(ranked, Seq("__y"))
      .withColumn("__s2", sum("__r2").over(wt))
      .crossJoin(broadcast(nAll))
      .where(col("t") < col("__T"))
      .select(col("t"),
        (col("__s2") - col("t") * (col("__T") + 1L)).as("__u"),
        col("__T"))
    val k = u.agg(max(abs(col("__u"))).as("__k"))
    def g6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6 + lit(0d)
    u.crossJoin(broadcast(k))
      .where(abs(col("__u")) === col("__k"))
      .agg(max("__T").as("n_days"), max("__k").as("__kb"),
        min("t").as("cp_t"))
      .select(col("n_days"),
        col("__kb").cast("double").as("k_stat"), col("cp_t"),
        g6(lit(6d) * (col("__kb") * col("__kb")).cast("double") /
          (col("n_days") * col("n_days") * (col("n_days") + 1L))
            .cast("double")).as("p_exponent"))
  }
}

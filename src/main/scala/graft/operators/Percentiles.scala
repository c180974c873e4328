package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed percentile operators.
  *
  * Spark's built-in exact `percentile(...)` aggregate buffers every
  * value of a group in executor memory — fine for small groups, fatal
  * when a group holds billions of rows at the 100 TB scale point.
  * [[exact]] computes the same interpolated order statistic (SQL type-7,
  * = DuckDB `quantile_cont` = Spark `percentile`) from a
  * RANGE-PARTITIONED GLOBAL SORT on (group key, value): the shuffle
  * sort is Tungsten-managed (spills to disk), a single giant group
  * spreads across many partitions instead of pinning one task (the
  * limitation of a `partitionBy(key)` window sort), and per-group
  * global ranks are reconstructed from per-partition offsets — the
  * classic distributed order-statistic construction. The interpolation
  * candidate rows are filtered out before a tiny final aggregate.
  *
  * [[approxWithBounds]] is the sketch path (`percentile_approx`,
  * Greenwald-Khanna, rank error ≤ n/accuracy) with the exact rank-window
  * bounds attached so callers — and the correctness gate — can assert
  * the approximation honors its contract.
  */
object Percentiles {

  /** Interpolated percentiles over the non-null values of `value`, one
    * row per group: `keys*, <name per p>, n_values`. Groups with no
    * non-null values are omitted (SQL aggregates would emit NULL).
    */
  def exact(df: DataFrame, keys: Seq[String], value: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val packed = rankCandidates(df, keys, value, ps, extraRanks = 0)
    val outs = ps.map { case (p, name) =>
      val h = hOf(p)
      (col(s"_lo_$name") +
        (col(s"_hi_$name") - col(s"_lo_$name")) * (h - floor(h))).as(name)
    }
    packed.select(keys.map(col) ++ outs :+ col("_n").as("n_values"): _*)
  }

  /** `percentile_approx` per group joined with exact order-statistic
    * bounds at the sketch's guaranteed rank tolerance
    * (`±(ceil(n/accuracy)+1)` ranks): output carries, per percentile,
    * `<name>` (the sketch value) and `<name>_ok` (true iff the sketch
    * honored its rank-error contract). The exact side reuses the
    * global-sort rank plan; the sketch side is a plain
    * partial-aggregable sketch merge — both scale-safe.
    */
  def approxWithBounds(df: DataFrame, keys: Seq[String], value: String,
      ps: Seq[(Double, String)], accuracy: Int = 10000): DataFrame = {
    val kcols = keys.map(col)
    val approxAggs = ps.map { case (p, name) =>
      percentile_approx(col(value), lit(p), lit(accuracy)).as(name)
    }
    val approx = df.groupBy(kcols: _*).agg(approxAggs.head, approxAggs.tail: _*)

    val bounds = rankCandidates(df, keys, value, ps,
      extraRanks = 1, accuracy = accuracy)
      .select(kcols ++ ps.flatMap { case (_, name) =>
        Seq(col(s"_lo_$name").as(s"_min_$name"), col(s"_hi_$name").as(s"_max_$name"))
      } :+ col("_n"): _*)

    // Left join from the sketch side with null-safe key equality: a
    // group whose key is NULL, or whose values are all NULL (no bounds
    // row — rankCandidates drops null values), must still appear — like
    // a plain percentile_approx aggregate — with NULL `_ok` flags and
    // n_values = 0 rather than silently vanishing on an inner
    // using-column join.
    val boundsR = bounds.select(
      keys.map(k => col(k).as(s"_bk_$k")) ++
        ps.flatMap { case (_, n) => Seq(col(s"_min_$n"), col(s"_max_$n")) }
        :+ col("_n"): _*)
    val joined =
      if (keys.isEmpty) approx.crossJoin(boundsR)
      else approx.join(boundsR,
        keys.map(k => col(k) <=> col(s"_bk_$k")).reduce(_ && _), "left")
    val oks = ps.map { case (_, name) =>
      col(name).between(col(s"_min_$name"), col(s"_max_$name")).as(s"${name}_ok")
    }
    joined.select(keys.map(k => approx(k)) ++
      ps.map { case (_, n) => approx(n) } ++ oks
      :+ coalesce(col("_n"), lit(0L)).as("n_values"): _*)
  }

  /** 1-based interpolation rank h = 1 + (n-1)p (type-7). */
  private def hOf(p: Double): Column = lit(1d) + (col("_n") - 1d) * lit(p)

  /** Above this many (partition, group) stats rows the rank stage
    * dispatches to the per-group window plan instead of broadcasting
    * the stats table back onto the scan — overridable via
    * `spark.graft.percentiles.maxDriverStats`. 200k rows of small
    * tuples is a few tens of MB of broadcast; the same guard shape
    * as `VcfApi.buildGeneIndex`'s `maxDriverIds`.
    */
  private val DefaultMaxDriverStats = 200000L

  /** Global per-group ranks WITHOUT a per-group window: range-partition
    * + sort the whole input on (keys, value) — one wide stage whose
    * parallelism is independent of group count — then rebuild each
    * row's rank inside its group as
    * `offset(partition, group) + position within partition`, where the
    * offsets come from a cheap per-(partition, group) count pass. The
    * sorted layout keeps that stats table at O(#groups + #partitions)
    * rows (each partition holds a contiguous (key, value) range) —
    * small exactly when groups are FEW and huge, the shape this plan
    * exists for. A HIGH-cardinality group key inverts the trade: the
    * stats table would bloat the driver, but each group is small, so
    * the classic hash-partitioned per-group window is the right plan —
    * the stats row count (measured distributed, one tiny agg job over
    * the already-persisted sort) dispatches between them.
    * Output: input columns + `_rn` (1-based rank in group), `_n`
    * (group size).
    */
  private[graft] def globalSortRanks(df: DataFrame, keys: Seq[String],
      value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val kcols = keys.map(col)
    // the stats pass and the rank pass both read the sort (persisted
    // into the caller's scope)
    val base = Caches.persist(df.where(col(value).isNotNull)
      .select(kcols :+ col(value).cast("double").as("_v"): _*)
      .orderBy(kcols :+ col("_v"): _*))

    // Rank reconstruction stays DECLARATIVE (no rdd round-trip — that
    // would deserialize every UnsafeRow to GenericRow and back, and it
    // measurably dominated the exact-quantile gates): within a cached
    // partition `monotonically_increasing_id()` is the partition id in
    // the high bits plus a CONSECUTIVE record counter, and after the
    // range-partitioned sort each (partition, group) run is contiguous
    // — so `_mid - min(_mid) over the run` IS the 0-based rank within
    // the run. The per-run min rides along in the same tiny stats
    // aggregate that sizes the runs; re-evaluation over the persisted
    // cache is order-stable, so both passes see identical ids.
    val withMid = base
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mid", monotonically_increasing_id())
    val statsDf = Caches.persist(withMid
      .groupBy(col("_pid") +: kcols: _*)
      .agg(count(lit(1)).as("_c"), min(col("_mid")).as("_mid0"),
        max(col("_mid")).as("_mid1")))
    val maxStats = spark.conf.getOption("spark.graft.percentiles.maxDriverStats")
      .map(_.toLong).getOrElse(DefaultMaxDriverStats)
    // One tiny job over the persisted stats yields BOTH the cardinality
    // dispatch and an INVARIANT GUARD on the id layout this plan leans
    // on: within each contiguous (partition, group) run the ids must be
    // consecutive (max − min + 1 = count). If a cached partition was
    // recomputed (eviction, executor loss) or a Spark upgrade changes
    // monotonically_increasing_id's layout, the run check fails and we
    // fall back to the always-correct per-group window plan instead of
    // silently corrupting ranks.
    val st = statsDf.agg(count(lit(1)).as("_rows"),
      coalesce(sum(when(col("_mid1") - col("_mid0") + 1L =!= col("_c"),
        1L).otherwise(0L)), lit(0L)).as("_bad")).head()
    if ((keys.nonEmpty && st.getLong(0) > maxStats) || st.getLong(1) > 0L) {
      // HIGH-cardinality group key (the stats table itself is big, but
      // each group is small — the classic hash-partitioned per-group
      // window is the right plan), or the id-consecutiveness invariant
      // failed (window plan as the safe fallback).
      val w = Window.partitionBy(kcols: _*).orderBy(col("_v"))
      return base
        .withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_n",
          count(lit(1)).over(Window.partitionBy(kcols: _*)))
    }
    // Per-(partition, group) offsets and group totals from windows over
    // the persisted stats table only (O(#groups + #partitions) rows):
    // offset = rows of the group in earlier partitions.
    val wOff = Window.partitionBy(kcols: _*).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(kcols: _*)
    val offs = statsDf
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .withColumn("_gn", sum(col("_c")).over(wTot))
      .select(col("_pid").as("_spid") +:
        keys.map(k => col(k).as(s"_sk_$k")) ++:
        Seq(col("_mid0"), col("_off"), col("_gn")): _*)
    // Null-safe key equality: a NULL group key is a real group here
    // (the maps-based predecessor kept it; a plain equi-join would
    // silently drop it).
    val cond = (Seq(col("_pid") === col("_spid")) ++
      keys.map(k => col(k) <=> col(s"_sk_$k"))).reduce(_ && _)
    withMid.join(broadcast(offs), cond)
      .select(base.columns.map(col) ++ Seq(
        (col("_off") + (col("_mid") - col("_mid0")) + lit(1L)).as("_rn"),
        col("_gn").as("_n")): _*)
  }

  /** Shared rank stage: rank the non-null values per group via
    * [[globalSortRanks]], keep only rows within `extraRanks` (+ sketch
    * tolerance when `accuracy` is set) of an interpolation rank, and
    * pack per-percentile lo/hi values with conditional aggregates.
    * Output: `keys*, _lo_<name>, _hi_<name>..., _n`.
    */
  private def rankCandidates(df: DataFrame, keys: Seq[String], value: String,
      ps: Seq[(Double, String)], extraRanks: Int,
      accuracy: Int = 0): DataFrame = {
    val kcols = keys.map(col)
    val ranked = globalSortRanks(df, keys, value)

    // rank slack: 0 for exact; the GK sketch guarantee (±n/accuracy,
    // rounded out) + extraRanks for the bounds variant
    val k: Column =
      if (accuracy > 0) ceil(col("_n") / lit(accuracy)) + lit(extraRanks)
      else lit(extraRanks)

    val needed = ps.map { case (p, _) =>
      col("_rn").between(floor(hOf(p)) - k, ceil(hOf(p)) + k)
    }.reduce(_ || _)

    val aggs = ps.flatMap { case (p, name) =>
      Seq(
        min(when(col("_rn").between(floor(hOf(p)) - k, floor(hOf(p))), col("_v")))
          .as(s"_lo_$name"),
        max(when(col("_rn").between(ceil(hOf(p)), ceil(hOf(p)) + k), col("_v")))
          .as(s"_hi_$name"))
    } :+ max(col("_n")).as("_n")

    ranked.where(needed).groupBy(kcols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group winsorization report — clip a numeric column at the
    * [pLo, pHi] exact interpolated quantiles and report the effect:
    * `(groupCol, n, lo_cut, hi_cut, n_clipped_low, n_clipped_high,
    * mean_before, mean_after)`. The outlier-taming step a
    * quality-score or length feature gets before it feeds a sampler
    * (a single 10⁹-char document otherwise owns a mean).
    *
    * Scale shape: one exact-percentile aggregation per group (sort-
    * based, the auditable choice — swap [[approxWithBounds]] in when
    * groups are corpus-sized), broadcast of the |groups|-row cut table
    * back onto the scan, one combinable report aggregation.
    */
  def winsorizeReport(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    val cuts = df.groupBy(groupCol).agg(
      percentile(v, lit(pLo)).as("lo_cut"),
      percentile(v, lit(pHi)).as("hi_cut"))
    df.select(col(groupCol), v.as("__v"))
      .join(broadcast(cuts), Seq(groupCol))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        round(min(col("lo_cut")), 6).as("lo_cut"),
        round(min(col("hi_cut")), 6).as("hi_cut"),
        count(when(col("__v") < col("lo_cut"), lit(1))).as("n_clipped_low"),
        count(when(col("__v") > col("hi_cut"), lit(1))).as("n_clipped_high"),
        round(avg(col("__v")), 6).as("mean_before"),
        round(avg(greatest(least(col("__v"), col("hi_cut")), col("lo_cut"))), 6)
          .as("mean_after"))
  }

  /** Per-group vs global quantile alignment of a QUANTIZED score —
    * the score-harmonization audit run before mixing heterogeneously
    * scored sources: for each group and each decile d/10, the group's
    * exact type-1 quantile (min score whose cumulative count reaches
    * ⌈d·n/10⌉) next to the corpus-wide quantile and the gap. A source
    * whose scorer runs hot/cold shows a systematic gap column. The
    * rank threshold comparison is pure integers (`10·cum ≥ d·n`), so
    * quantile selection is bit-identical cross-engine. Emits
    * `(groupCol, decile, src_q, global_q, gap)` for deciles 1..9.
    *
    * `scoreQ` must be bounded-cardinality (e.g. a 3dp rounding):
    * per-(group, score) counts are one combinable agg, the cumulative
    * windows run over distinct scores per group (and over the global
    * distinct grid), and the decile probe is a 9-row broadcast cross —
    * nothing corpus-sized moves after the first aggregate.
    */
  def quantileAlign(df: DataFrame, groupCol: String,
      scoreQ: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val counts = Caches.persist(
      df.select(col(groupCol).as("__g"), scoreQ.as("__s"))
        .groupBy("__g", "__s").agg(count(lit(1)).as("__c")))
    val dec = broadcast((1 to 9).toDF("decile"))
    def quantiles(c: DataFrame, parts: Seq[String]): DataFrame = {
      val w = Window.partitionBy(parts.map(col): _*).orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = c.groupBy(parts.map(col): _*).agg(sum("__c").as("__n"))
      val cums = c.withColumn("__cum", sum("__c").over(w))
      val joined =
        if (parts.isEmpty) cums.crossJoin(broadcast(tot))
        else cums.join(broadcast(tot), parts)
      joined.crossJoin(dec)
        .where(col("__cum") * 10 >= col("decile") * col("__n"))
        .groupBy((parts.map(col) :+ col("decile")): _*)
        .agg(min("__s").as("__q"))
    }
    val src = quantiles(counts, Seq("__g"))
    val glob = quantiles(
      counts.groupBy("__s").agg(sum("__c").as("__c")), Seq.empty)
    src.join(broadcast(glob.select(col("decile"), col("__q").as("__gq"))),
        Seq("decile"))
      .select(col("__g").as(groupCol), col("decile"),
        col("__q").as("src_q"), col("__gq").as("global_q"),
        round(col("__q") - col("__gq"), 6).as("gap"))
  }

  /** Weighted quantiles per group — the revenue-weighted latency /
    * quantity-weighted price statistic `quantile_cont` can't express:
    * the p-quantile is the smallest value whose CUMULATIVE weight
    * reaches p·W (inverse-CDF convention, no interpolation — the
    * returned value always occurs in the data). Ties in the value
    * column cannot change the answer (the threshold crossing lands
    * inside the tie block, and the block shares one value). Exactness:
    * integer-valued weights sum exactly in doubles below 2^53, so the
    * `cum ≥ p·W` comparison is engine-exact. Output:
    * `(keys…, w_total, one column per requested quantile)`.
    *
    * Scale shape: one key-partitioned ordered window for the running
    * weight (per-partition state bounded by a group's rows), the total
    * from the same exchange, then one combinable min-aggregate per
    * quantile. No collect, no interpolation join.
    */
  def weightedQuantiles(df: DataFrame, keys: Seq[String], value: String,
      weight: String, ps: Seq[(Double, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(keys.map(col): _*)
    val w = part.orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = df
      .withColumn("__cw", sum(col(weight)).over(w))
      .withColumn("__tw", sum(col(weight)).over(part))
    val outs = ps.map { case (p, name) =>
      min(when(col("__cw") >= lit(p) * col("__tw"), col(value))).as(name)
    }
    cum.groupBy(keys.map(col): _*)
      .agg(first(col("__tw")).as("w_total"), outs: _*)
  }
}

package graft.operators

import graft.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Data profiling: the survey pass a pipeline runs before touching a
  * new 100 TB corpus — per-column row/null/distinct counts plus typed
  * extrema. Counts/extrema run in ONE wide aggregation (a per-column
  * loop of `df.select(...).agg(...)` would scan the input once per
  * column). Numeric extrema land in `min_num`/`max_num`, string
  * extrema in `min_str`/`max_str`; other types profile counts only.
  *
  * Exact distinct counts deliberately do NOT use N `count(DISTINCT)`
  * aggregates in the wide agg: Catalyst plans those as an Expand that
  * replicates every input row N+1 times (measured 7× slower at four
  * columns). Instead the requested columns melt to narrow
  * `(column, value)` pairs — `stack` is row-local — and two map-side-
  * combinable aggregations count distinct values per column.
  */
object Profile {

  /** One output row per requested column:
    * `column, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
    * max_str`. `n_distinct` is exact; pass `approxDistinct = true` to
    * use HLL (`approx_count_distinct`) when exact cardinality would
    * dominate the job at scale.
    */
  def profile(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val schema = df.schema
    val aggs = cols.flatMap { c =>
      val f = schema(c)
      Seq(
        count(lit(1)).as(s"__rows_$c"),
        count(when(col(c).isNull, lit(1))).as(s"__nulls_$c")) ++
        (if (approxDistinct) Seq(approx_count_distinct(col(c)).as(s"__dist_$c"))
         else Seq.empty) ++ (f.dataType match {
        case _: NumericType => Seq(
          min(col(c)).cast("double").as(s"__minn_$c"),
          max(col(c)).cast("double").as(s"__maxn_$c"))
        case StringType => Seq(
          min(col(c)).as(s"__mins_$c"),
          max(col(c)).as(s"__maxs_$c"))
        case _ => Seq.empty
      })
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single wide row into one row per column
    val rows = cols.map { c =>
      val f = schema(c)
      val (minN, maxN) = f.dataType match {
        case _: NumericType => (col(s"__minn_$c"), col(s"__maxn_$c"))
        case _ => (lit(null).cast("double"), lit(null).cast("double"))
      }
      val (minS, maxS) = f.dataType match {
        case StringType => (col(s"__mins_$c"), col(s"__maxs_$c"))
        case _ => (lit(null).cast("string"), lit(null).cast("string"))
      }
      struct(
        lit(c).as("column"),
        col(s"__rows_$c").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        (if (approxDistinct) col(s"__dist_$c") else lit(null).cast("long"))
          .as("n_distinct"),
        minN.as("min_num"), maxN.as("max_num"),
        minS.as("min_str"), maxS.as("max_str"))
    }
    val base = wide.select(explode(array(rows: _*)).as("p")).select("p.*")
    if (approxDistinct) base
    else {
      // melt → distinct-per-column; `+ 0` folds -0.0 into 0.0 so the
      // string key equates the values aggregate keys would equate
      val stackArgs = cols.map { c =>
        val v = schema(c).dataType match {
          case _: NumericType => s"CAST((`$c` + 0) AS STRING)"
          case _ => s"CAST(`$c` AS STRING)"
        }
        s"'$c', $v"
      }.mkString(", ")
      val dist = df
        .selectExpr(s"stack(${cols.length}, $stackArgs) AS (`column`, v)")
        .where(col("v").isNotNull)
        .groupBy("column", "v").agg(count(lit(1)).as("_c"))
        .groupBy("column").agg(count(lit(1)).as("n_distinct"))
      base.drop("n_distinct")
        .join(broadcast(dist), Seq("column"), "left")
        .select(col("column"), col("n_rows"), col("n_nulls"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          col("min_num"), col("max_num"), col("min_str"), col("max_str"))
    }
  }

  /** Pairwise two-sample Kolmogorov–Smirnov distances between the
    * per-group distributions of a numeric column — D = max |F_a(x) −
    * F_b(x)| over the pooled value grid. The distribution-drift matrix
    * a corpus monitor reads to spot a source whose length (or score)
    * profile shifted between dumps; nonparametric, so it catches shape
    * changes a mean/variance check misses. Emits `(group_a, group_b,
    * ks)` for `group_a < group_b`, rounded.
    *
    * Scale shape: per-(group, value) counts are one combinable agg;
    * the step CDFs densify over the DISTINCT-value grid (bounded for
    * lengths/scores — never corpus-sized) via a groups × grid cross of
    * two dimension tables, cumulative-sum windows partitioned by
    * group. The CDF table is persisted (both sides of the pair join
    * read it); the pair join fans out |groups| per grid row.
    */
  def ksMatrix(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val grid = counts.select("__v").distinct()
    val groups = counts.select("__g").distinct()
    val totals = counts.groupBy("__g").agg(sum("__c").as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cdf = Caches.persist(
      groups.crossJoin(grid)
        .join(counts, Seq("__g", "__v"), "left")
        .withColumn("__c", coalesce(col("__c"), lit(0L)))
        .withColumn("__cum", sum(col("__c")).over(w))
        .join(broadcast(totals), Seq("__g"))
        .select(col("__g"), col("__v"), (col("__cum") / col("__n")).as("__f")))
    cdf.as("a")
      .join(cdf.as("b"),
        col("a.__v") === col("b.__v") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg(round(max(abs(col("a.__f") - col("b.__f"))), 6).as("ks"))
  }

  /** Gini coefficient of the per-key row-count distribution — the
    * "how concentrated is this corpus on a few heavy keys" inequality
    * number (0 = uniform, →1 = one key holds everything), e.g. docs
    * per domain or events per user. Uses the exact sorted-rank
    * formula G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ) with x ascending —
    * but NEVER ranks individual keys: keys collapse to one row per
    * DISTINCT count value, and each tie block's rank-weighted mass is
    * the closed form x·(m·cum_before + m(m+1)/2) (every term within a
    * block has the same x, so the block sum is order-free). The whole
    * numerator is integer arithmetic — both engines reach the final
    * division bit-identically. Emits one row:
    * `(n_keys, total, gini)`.
    *
    * Scale shape: one combinable count per key, one count-of-counts
    * agg (distinct-count-value-bounded, ≤ a few thousand rows for any
    * real skew profile), a cumulative window over those rows, one
    * fold. No global sort of keys at any size.
    */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val byKey = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__x"))
    val byCount = byKey.groupBy("__x").agg(count(lit(1)).as("__m"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val blocks = byCount
      .withColumn("__cb", coalesce(sum("__m").over(w), lit(0L)))
      .agg(sum("__m").as("n_keys"),
        sum(col("__x") * col("__m")).as("total"),
        // m(m+1)/2 via shiftright: Spark's `/` is double division,
        // which would break the integer-exact numerator
        sum(col("__x") * (col("__m") * col("__cb")
          + shiftright(col("__m") * (col("__m") + 1), 1))).as("__s1"))
    blocks.select(col("n_keys"), col("total"),
      round((lit(2d) * col("__s1") - (col("n_keys") + lit(1d)) * col("total"))
        / (col("n_keys").cast("double") * col("total")), 6).as("gini"))
  }

  /** Population Stability Index per group — the industry-standard
    * drift score (credit-scoring lineage; the one monitoring stacks
    * alert on at 0.1/0.25): each group's distribution of a numeric
    * column against the pooled corpus distribution over the corpus's
    * own decile grid, `PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b)` with p =
    * group share and q = corpus share of the bin. Complements
    * [[ksMatrix]] (pairwise, sup-norm) with a one-number-per-group
    * reference comparison that weights tail mass by log-odds. Bin
    * shares are +0.5 Laplace-smoothed so empty bins contribute their
    * log-odds penalty instead of ±∞ (10 bins ⇒ +5 on each
    * denominator). Emits `(group, n, psi)`, psi rounded to 6.
    *
    * Scale shape: one exact-decile pass ([[Percentiles]] rank-window
    * machinery, no sort materialization), one row-local bin
    * assignment against the broadcast 9-cut row, ONE combinable
    * (group, bin) count; everything after runs on the
    * |groups| × 10 metadata grid.
    */
  def populationStability(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val vals = Caches.persist(
      df.select(col(groupCol).as("__g"),
          col(valueCol).cast("double").as("__v"))
        .where(col("__v").isNotNull))
    val cuts = Percentiles.exact(vals.select("__v"), Seq.empty, "__v",
        (1 to 9).map(i => i / 10.0 -> s"__p$i"))
      .select((1 to 9).map(i => col(s"__p$i")): _*)
    val bin = (1 to 9).map(i =>
      when(col("__v") > col(s"__p$i"), lit(1)).otherwise(lit(0)))
      .reduce(_ + _)
    val counts = vals.crossJoin(broadcast(cuts))
      .groupBy(col("__g"), bin.as("__bin"))
      .agg(count(lit(1)).as("__c"))
    val grpTot = counts.groupBy("__g").agg(sum("__c").as("__n"))
    val binTot = counts.groupBy("__bin").agg(sum("__c").as("__cb"))
    val tot = counts.agg(sum("__c").as("__nn"))
    val grid = grpTot.select(col("__g"), col("__n"),
      explode(sequence(lit(0), lit(9))).as("__bin"))
    val p = (col("__c") + 0.5) / (col("__n") + 5.0)
    val q = (col("__cb") + 0.5) / (col("__nn") + 5.0)
    grid
      .join(counts, Seq("__g", "__bin"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .join(broadcast(binTot), Seq("__bin"), "left")
      .withColumn("__cb", coalesce(col("__cb"), lit(0L)))
      .crossJoin(broadcast(tot))
      .groupBy(col("__g").as("group"))
      .agg(max("__n").as("n"),
        round(sum((p - q) * log(p / q)), 6).as("psi"))
  }
}

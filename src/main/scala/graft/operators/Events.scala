package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log operators (batch forms; streaming counterparts live in
  * `graft.streaming`). Event time is an int64 nanosecond epoch column
  * (`ts_ns`) — integer arithmetic end-to-end, so results are exact and
  * engine-independent.
  */
object Events {

  /** Tumbling-window aggregation: bucket = floor(ts_ns / windowNs).
    * Equivalent to Structured Streaming's `window()` grouping in batch.
    */
  def tumblingAgg(df: DataFrame, tsNs: String, windowNs: Long, keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    df.withColumn("window_start_ns", (col(tsNs) - pmod(col(tsNs), lit(windowNs))))
      .groupBy((col("window_start_ns") +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Hopping (sliding) window aggregation: windows of `windowNs`
    * advancing every `hopNs` (hopNs ≤ windowNs ⇒ each event lands in
    * `windowNs / hopNs` windows). The event explodes to its member
    * window starts row-locally (`sequence` over hop-aligned starts —
    * the same expansion Structured Streaming's `window(col, len,
    * slide)` plans), then aggregates exactly like tumbling. Integer ns
    * arithmetic throughout — engine-exact.
    */
  def hoppingAgg(df: DataFrame, tsNs: String, windowNs: Long, hopNs: Long,
      keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(hopNs > 0 && windowNs > 0 && windowNs % hopNs == 0,
      "windowNs must be a positive multiple of hopNs")
    val ts = col(tsNs)
    // earliest window containing ts starts at the hop-aligned point
    // > ts - windowNs; latest starts at the hop-aligned point <= ts
    val first = ts - pmod(ts, lit(hopNs)) - lit(windowNs - hopNs)
    val last = ts - pmod(ts, lit(hopNs))
    df.withColumn("window_start_ns",
        explode(sequence(first, last, lit(hopNs))))
      .groupBy((col("window_start_ns") +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapNs`. Returns the input
    * plus `session_id` (per-user ordinal, starting at 1).
    *
    * Scale: one shuffle on userCol (the window partition); sessions are
    * derived with lag + a running sum, both within-partition.
    */
  def sessionize(df: DataFrame, userCol: String, tsNs: String, gapNs: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsNs))
    val isNew = when(
      col(tsNs) - lag(col(tsNs), 1).over(w) > gapNs || lag(col(tsNs), 1).over(w).isNull,
      lit(1L)).otherwise(lit(0L))
    df.withColumn("__new", isNew)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new")
  }

  /** Funnel analysis: per-user earliest ordered completion of `stages`
    * (each stage strictly after the previous one; stages ≥ 2 must land
    * within `horizonNs` of the stage-1 time), then stage-level user
    * counts and conversion from stage 1.
    *
    * The chained per-stage minima (t_i = earliest `stages(i)` event
    * after t_{i-1}) are windows all partitioned by `userCol`: ONE
    * exchange, k sequential Window operators over it, and the final
    * per-user groupBy reuses the same hash partitioning — no second
    * shuffle. The stage summary is a single-row combinable aggregate
    * unpivoted row-locally with `stack`, so the whole funnel costs one
    * shuffle regardless of corpus size or stage count.
    */
  def funnel(df: DataFrame, userCol: String, tsNs: String, typeCol: String,
      stages: Seq[String], horizonNs: Long): DataFrame = {
    require(stages.size >= 2, "funnel needs at least two stages")
    val w = Window.partitionBy(userCol)
    val staged = stages.zipWithIndex.foldLeft(df) { case (acc, (stage, i)) =>
      val t =
        if (i == 0) min(when(col(typeCol) === stage, col(tsNs))).over(w)
        else min(when(col(typeCol) === stage &&
          col(s"__t${i - 1}").isNotNull && col(tsNs) > col(s"__t${i - 1}") &&
          col(tsNs) - col("__t0") <= horizonNs, col(tsNs))).over(w)
      acc.withColumn(s"__t$i", t)
    }
    val perUser = staged.groupBy(col(userCol))
      .agg(max(col("__t0")).as("__t0"),
        stages.indices.drop(1).map(i => max(col(s"__t$i")).as(s"__t$i")): _*)
    val counts = perUser.agg(
      count(col("__t0")).as("__n0"),
      stages.indices.drop(1).map(i => count(col(s"__t$i")).as(s"__n$i")): _*)
    val stackArgs = stages.zipWithIndex
      .map { case (s, i) => s"${i + 1}, '$s', __n$i" }.mkString(", ")
    counts.select(expr(
        s"stack(${stages.size}, $stackArgs) AS (stage_idx, stage, n_users)"))
      .withColumn("conversion",
        round(col("n_users") / first(col("n_users")).over(
          Window.orderBy(col("stage_idx"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)), 4))
      .orderBy("stage_idx")
  }

  /** Cohort retention: users bucketed by the epoch-aligned period of
    * their first event (`cohort_start_ns`), activity counted as
    * distinct users per (cohort, periods-since-cohort) cell.
    *
    * Scale: the first-event time is a window min over the same
    * `userCol` partitioning the per-(user, cohort, offset) distinct
    * reuses, so the heavy input shuffles once on user; the final cell
    * aggregate runs over the already-deduped (users × periods) frame.
    */
  def cohortRetention(df: DataFrame, userCol: String, tsNs: String,
      periodNs: Long): DataFrame = {
    val w = Window.partitionBy(userCol)
    df.withColumn("__first", min(col(tsNs)).over(w))
      .select(col(userCol),
        (col("__first") - pmod(col("__first"), lit(periodNs))).as("cohort_start_ns"),
        ((col(tsNs) - pmod(col(tsNs), lit(periodNs))) -
          (col("__first") - pmod(col("__first"), lit(periodNs)))).divide(periodNs)
          .cast("long").as("period_offset"))
      .distinct()
      .groupBy("cohort_start_ns", "period_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order transition matrix: per user, consecutive event-type
    * pairs in (ts, tie-break) order, counted per (from, to) with the
    * row-conditional probability.
    *
    * Scale: one shuffle on user for the lead window; the (from, to)
    * aggregate is combinable; the per-`from` probability window runs on
    * the ≤ |types|² aggregated frame, so its low-cardinality partition
    * skew is irrelevant.
    */
  def transitions(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsNs), col(tieBreak))
    df.withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
  }

  /** Stationary distribution of the first-order event-type Markov
    * chain: power iteration of vᵀP where P is the [[transitions]]
    * matrix — the long-run share of time the user population spends in
    * each state, independent of where sessions start (the steady-state
    * complement of the raw transition counts).
    *
    * Chain hygiene: the state space is the set of types observed as a
    * transition SOURCE; transitions into never-source (absorbing-tail)
    * states are dropped and each row renormalizes over what remains —
    * a dangling state would otherwise soak up mass with no outflow.
    *
    * Determinism (the grmPca integer-grid pattern): P entries quantize
    * to a 1e-6 grid, v to 1e-12; per-round products accumulate in
    * decimal(38,0) and the L1 renormalizer is a 1-row collect that
    * re-enters as a literal — bit-identical replay in any engine, and
    * one job per round (the lazy checkpoint is materialized by the
    * normalizer aggregate; superseded rounds' blocks are dropped).
    * Output: `state, stationary` (1e-12 grid, sums to ~1).
    */
  def markovStationary(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String, iters: Int = 12): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val w = Window.partitionBy(userCol).orderBy(col(tsNs), col(tieBreak))
    val pairs = df.withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .select(col(typeCol).as("from"), col("__next").as("to"))
    val states = Caches.persist(pairs.select(col("from").as("s")).distinct())
    val kept = pairs.join(states.select(col("s").as("to")), Seq("to"), "left_semi")
    val cnt = kept.groupBy("from", "to").agg(count(lit(1)).as("__n"))
    val totals = cnt.groupBy("from").agg(sum("__n").as("__tot"))
    // eager localCheckpoint on the |states|²-bounded transition grid,
    // pre-partitioned on the round-join key: the persisted form kept
    // the corpus-pass lineage, which all `iters` rounds re-analyzed;
    // the checkpoint makes per-round planning O(1) and the grid
    // crosses an exchange once (released after the loop)
    val p = cnt.join(totals, Seq("from"))
      .select(col("from"), col("to"),
        floor(col("__n").cast("double") / col("__tot") * 1e6 + 0.5)
          .cast("long").as("__p6"))
      .repartition(col("from"))
      .localCheckpoint(true)
    var v = states.select(col("s"), lit(1000000000000L).as("__v12"))
    var prev: DataFrame = null
    for (_ <- 1 to iters) {
      val wp = p.join(v.withColumnRenamed("s", "from"), Seq("from"))
        .groupBy(col("to").as("s"))
        .agg(sum((col("__p6") * col("__v12")).cast("decimal(38,0)"))
          .as("__w18"))
        .localCheckpoint(false)
      val sRow = wp.agg(sum(col("__w18")).cast("double")).head()
      val total = if (sRow.isNullAt(0)) 0d else sRow.getDouble(0)
      v = wp.select(col("s"),
        when(lit(total) <= 0d, 0L)
          .otherwise(floor(col("__w18").cast("double") / lit(total)
            * 1e12 + 0.5)).cast("long").as("__v12"))
      if (prev != null) Caches.unpersistCheckpoint(prev)
      prev = wp
    }
    Caches.unpersistCheckpoint(p)
    states.join(v, Seq("s"), "left")
      .na.fill(0L, Seq("__v12"))
      .select(col("s").as("state"),
        (col("__v12").cast("double") / 1e12).as("stationary"))
      .orderBy("state")
  }

  /** Markov-chain (removal-effect) attribution — Anderl et al. 2014,
    * the de-facto data-driven attribution model that position rules
    * (q216 last-touch, q233 U-shaped) approximate: model user journeys
    * as a first-order chain over channels with absorbing CONV (first
    * conversion) and NULL (journey end); a channel's credit is the
    * share of total conversion probability that disappears when the
    * channel is removed (all transitions into it redirect to NULL).
    *
    * Scale shape: the corpus-sized work is ONE windowed journey pass +
    * one (from, to) count aggregate; the chain itself is
    * |channels|²-bounded metadata (the d×d-covariance precedent of
    * pcaProject) and collects to the driver, where the absorption
    * fixed-point p = P·(p ⊕ CONV) runs in EXACT integer arithmetic —
    * P on the 1e-6 grid, p on 1e-12, BigInt products,
    * (w + 500000) / 1000000 integer re-gridding, `iters` rounds. The
    * oracle unrolls the identical integer recursion per removal
    * variant, so results hash-match with no float in the path.
    * Output: `channel, p_conv, p_conv_removed, removal_effect`.
    */
  def markovAttribution(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String, convType: String,
      iters: Int = 16): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val Start = "__START__"
    val Conv = "__CONV__"
    val Null = "__NULL__"
    val w = Window.partitionBy("__u")
    val wSeq = Window.partitionBy("__u").orderBy(col("__t"), col("__id"))
    val base = df.select(col(userCol).as("__u"), col(typeCol).as("__e"),
        col(tsNs).as("__t"), col(tieBreak).as("__id"))
      .select(col("__u"), col("__e"), row_number().over(wSeq).as("__rn"))
      .withColumn("__fpRn",
        min(when(col("__e") === convType, col("__rn"))).over(w))
    val keptCond = col("__e") =!= convType &&
      (col("__fpRn").isNull || col("__rn") < col("__fpRn"))
    val wk = Window.partitionBy("__u").orderBy("__rn")
    val seq2 = base.filter(keptCond).select(col("__u"), col("__e"),
      row_number().over(wk).as("__kr"),
      lead("__e", 1).over(wk).as("__next"),
      col("__fpRn").isNotNull.as("__conv"))
    val trans = seq2.filter(col("__kr") === 1)
        .select(lit(Start).as("f"), col("__e").as("t2"))
      .unionByName(seq2.filter(col("__next").isNotNull)
        .select(col("__e").as("f"), col("__next").as("t2")))
      .unionByName(seq2.filter(col("__next").isNull)
        .select(col("__e").as("f"),
          when(col("__conv"), lit(Conv)).otherwise(lit(Null)).as("t2")))
      .unionByName(base.groupBy("__u")
        .agg(max(when(col("__e") === convType, 1).otherwise(0)).as("__c"),
          max(when(keptCond, 1).otherwise(0)).as("__k"))
        .filter(col("__c") === 1 && col("__k") === 0)
        .select(lit(Start).as("f"), lit(Conv).as("t2")))
    val cnt = trans.groupBy("f", "t2").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // 1e-6-grid transition probabilities (floor(n/tot·1e6 + ½) — the
    // same expression the oracle renders)
    val totals = cnt.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val p6: Map[(String, String), Long] = cnt.map { case (f, t2, n) =>
      (f, t2) -> math.floor(n.toDouble / totals(f) * 1e6 + 0.5).toLong
    }.toMap
    val channels = cnt.map(_._1).filter(_ != Start).distinct.sorted
    val states = Start +: channels
    def solve(excluded: Option[String]): Long = {
      var p: Map[String, BigInt] = states.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          val w18 = p6.collect {
            case ((f, t2), pr) if f == s && !excluded.contains(t2) =>
              if (t2 == Conv) BigInt(pr) * BigInt(1000000000000L)
              else if (t2 == Null) BigInt(0)
              else BigInt(pr) * p.getOrElse(t2, BigInt(0))
          }.sum
          s -> (w18 + 500000) / 1000000
        }.toMap
      }
      p(Start).toLong
    }
    val pFull = solve(None)
    val rows = channels.map { ch =>
      val pRem = solve(Some(ch))
      val eff =
        if (pFull > 0)
          Some(math.floor((1d - pRem.toDouble / pFull) * 1e6 + 0.5) / 1e6)
        else None
      (ch, pFull.toDouble / 1e12, pRem.toDouble / 1e12, eff)
    }
    rows.toSeq
      .toDF("channel", "p_conv", "p_conv_removed", "removal_effect")
      .orderBy("channel")
  }

  /** Shapley-value attribution over journey channel SETS — the
    * cooperative-game counterpart of [[markovAttribution]] (the two
    * standard data-driven models; position rules approximate both).
    * Each user journey (events before the first conversion) is a
    * coalition of touched channels; the characteristic value
    * v(S) = conversions among journeys whose touch set ⊆ S, and
    * channel c's credit is the exact Shapley sum
    * Σ_{S ∌ c} |S|!·(n−|S|−1)!·(v(S∪c) − v(S)) / n!.
    *
    * Scale shape: one windowed journey pass + one aggregate to the
    * ≤2ⁿ (mask → journeys, conversions) table, which collects to the
    * driver (n = |channels| is type-cardinality-bounded, like the d×d
    * covariance); the subset enumeration is exact INTEGER arithmetic —
    * factorial weights stay scaled by n!, so `phi_scaled` is an exact
    * integer both engines reproduce, and only the final normalization
    * touches doubles. Output:
    * `channel, n_journeys, phi_scaled, shapley` where
    * shapley = phi_scaled / (n! · journeys), 1e-6 floor grid.
    */
  def shapleyAttribution(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String, convType: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("__u")
    val wSeq = Window.partitionBy("__u").orderBy(col("__t"), col("__id"))
    val base = df.select(col(userCol).as("__u"), col(typeCol).as("__e"),
        col(tsNs).as("__t"), col(tieBreak).as("__id"))
      .select(col("__u"), col("__e"), row_number().over(wSeq).as("__rn"))
      .withColumn("__fpRn",
        min(when(col("__e") === convType, col("__rn"))).over(w))
    val keptCond = col("__e") =!= convType &&
      (col("__fpRn").isNull || col("__rn") < col("__fpRn"))
    // one row per journey: touched-channel set + converted flag
    // (direct conversions with no prior touches form the empty set)
    val journeys = base.groupBy("__u")
      .agg(sort_array(collect_set(when(keptCond, col("__e")))).as("__chs"),
        max(when(col("__e") === convType, 1).otherwise(0)).as("__conv"))
    val perSet = journeys.groupBy("__chs")
      .agg(count(lit(1)).as("n"), sum("__conv").as("nc"))
      .collect()
      .map(r => (r.getSeq[String](0), r.getLong(1), r.getLong(2)))
    val channels = perSet.flatMap(_._1).distinct.sorted
    val n = channels.length
    require(n >= 1 && n <= 20, s"channel cardinality $n out of range")
    val idx = channels.zipWithIndex.toMap
    val maskOf = (chs: Seq[String]) => chs.map(c => 1L << idx(c)).sum
    val conv = perSet.map { case (chs, _, nc) => maskOf(chs) -> nc }
      .groupBy(_._1).map { case (m, g) => m -> g.map(_._2).sum }
    val totalJ = perSet.map(_._2).sum
    def fact(k: Int): BigInt = (1 to k).foldLeft(BigInt(1))(_ * _)
    // v(S) = conversions of journeys with mask ⊆ S
    def v(s: Long): BigInt =
      conv.collect { case (m, c) if (m & ~s) == 0 => BigInt(c) }.sum
    val rows = channels.map { c =>
      val bit = 1L << idx(c)
      var phi = BigInt(0)
      for (s <- 0L until (1L << n) if (s & bit) == 0) {
        val size = java.lang.Long.bitCount(s)
        phi += fact(size) * fact(n - size - 1) * (v(s | bit) - v(s))
      }
      val shap =
        if (totalJ > 0)
          Some(math.floor(phi.toDouble / fact(n).toDouble / totalJ
            * 1e6 + 0.5) / 1e6)
        else None
      (c, totalJ, phi.toLong, shap)
    }
    rows.toSeq.toDF("channel", "n_journeys", "phi_scaled", "shapley")
      .orderBy("channel")
  }

  /** Next-event prediction evaluation — the simplest behavioral-model
    * baseline, trained and scored entirely in-engine: learn the
    * majority next event per current event on the TRAIN users
    * (`md5(user) mod 2 = 0`, the cross-engine-stable split), predict
    * on the held-out users, and report per-current-event accuracy.
    * Majority ties break lexicographically. Emits one row per
    * from-type observed in the test set:
    * `(from_type, predicted, n_test, n_correct, accuracy)`; from-types
    * unseen in training predict NULL and score 0 correct.
    *
    * Scale shape: the (user-partitioned) lead window builds
    * transitions in one shuffle; the model is |types|² counts and
    * broadcasts to the test join; accuracy is a combinable agg. Pure
    * integer counts → exact replay.
    */
  def nextEventEval(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsNs), col(tieBreak))
    // both the model and the test score read the transition pairs —
    // persist (caller's scope) or the lead window re-shuffles the corpus twice
    val pairs = Caches.persist(df
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .withColumn("__train",
        pmod(graft.functions.md5Long(col(userCol)), lit(2L)) === 0))
    val model = pairs.where(col("__train"))
      .groupBy(col(typeCol).as("from_type"), col("__next").as("pred"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rn", row_number().over(Window.partitionBy("from_type")
        .orderBy(col("__n").desc, col("pred").asc)))
      .where(col("__rn") === 1)
      .select("from_type", "pred")
    pairs.where(!col("__train"))
      .select(col(typeCol).as("from_type"), col("__next"))
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy("from_type")
      .agg(min("pred").as("predicted"), // constant per from_type
        count(lit(1)).as("n_test"),
        sum(when(col("__next") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_test"), 6))
  }

  /** As-of join: for each left row, the single most recent right row
    * with right.ts <= left.ts (per key), within `toleranceNs` (≤ 0
    * disables the bound).
    *
    * Implementation is the union-tag trick — a sort-merge friendly
    * reformulation that avoids a range theta-join: tag both sides, sort
    * by (key, ts, tag) within key partitions, carry the last right row
    * forward with `last(..., ignoreNulls)` over an unbounded-preceding
    * window, then keep left rows. One shuffle on the key, no
    * broadcast-nested-loop, skew governed by key cardinality.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String,
      rightValCols: Seq[String], toleranceNs: Long = 0L): DataFrame = {

    // the right row travels as ONE struct, so ts and value columns can
    // never desync: last(..., ignoreNulls) skips left-side rows (whole
    // struct null) but carries a right row even when some of its value
    // fields are null
    val rStructType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType) +:
        rightValCols.map(c => org.apache.spark.sql.types.StructField(
          c, right.schema(c).dataType)))

    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(rStructType))
    val rTagged = right
      .select(
        (keyCols.map(col) :+ col(rightTs).as("__ts")) :+
          struct((col(rightTs).cast("long").as("ts") +:
            rightValCols.map(col)): _*).as("__r"): _*)
      .withColumn("__side", lit(0))

    val unioned = lTagged.select(
      (keyCols.map(col) :+ col("__ts") :+ col("__side") :+ col("__r")) ++
        left.columns.filterNot(keyCols.contains).map(col): _*
    ).unionByName(rTagged, allowMissingColumns = true)

    // rows sort right-before-left at equal ts, so "<=" semantics hold
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)

    val carried = unioned
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))

    val bounded =
      if (toleranceNs > 0)
        carried.withColumn("__ok",
          col("__asof").isNotNull &&
            (col("__ts") - col("__asof.ts") <= toleranceNs))
      else carried.withColumn("__ok", col("__asof").isNotNull)

    bounded.where(col("__side") === 1)
      .select(
        (left.columns.map(col) :+
          when(col("__ok"), col("__asof.ts")).otherwise(lit(null)).as("asof_ts")) ++
          rightValCols.map(c =>
            when(col("__ok"), col(s"__asof.$c")).otherwise(lit(null)).as(s"asof_$c")): _*)
  }

  /** Volume-anomaly detection over tumbling windows — the ops-monitor
    * query that pages on a traffic spike or outage: per (key, window)
    * counts z-scored against the key's own window-count distribution;
    * windows with |z| ≥ `zThreshold` are anomalies. Returns the
    * flagged windows: `(keys…, window_start_ns, n, z)`.
    *
    * Scale shape: one tumbling count agg (map-side combinable), one
    * |keys|-group moments agg over the WINDOW COUNTS (window-count
    * cardinality = time-range/window — bounded, not event-bounded),
    * broadcast join back, row-local z.
    */
  def volumeAnomalies(df: DataFrame, tsNs: String, windowNs: Long,
      keys: Seq[String], zThreshold: Double = 2.0): DataFrame = {
    val counts = df
      .withColumn("window_start_ns",
        col(tsNs) - pmod(col(tsNs), lit(windowNs)))
      .groupBy((keys.map(col) :+ col("window_start_ns")): _*)
      .agg(count(lit(1)).as("n"))
    val moments = counts.groupBy(keys.map(col): _*)
      .agg(avg("n").as("__mu"), stddev_pop(col("n")).as("__sd"))
    counts.join(broadcast(moments), keys)
      .withColumn("z",
        when(col("__sd") > 0, (col("n") - col("__mu")) / col("__sd"))
          .otherwise(lit(0d)))
      .where(abs(col("z")) >= zThreshold)
      .select((keys.map(col) :+ col("window_start_ns") :+ col("n") :+
        round(col("z"), 6).as("z")): _*)
  }

  /** Per-key inter-event-time statistics — cadence profiling: mean and
    * (population) std of the gaps between consecutive events, plus the
    * Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 = perfectly
    * periodic, 0 = Poisson, →1 = bursty). Keys with fewer than two
    * events have no gaps and drop out. Emits `(keyCol, n_gaps,
    * mean_gap_s, std_gap_s, burstiness)`.
    *
    * Scale shape: one lag window partitioned by key (the sessionize
    * shuffle), one combinable per-key agg.
    */
  /** Time-weighted average value per key (TWAP — the
    * finance/metrics average that weights each observation by how
    * long it REMAINED the current value, not by its count):
    * `Σ vᵢ·(tᵢ₊₁ − tᵢ) / Σ (tᵢ₊₁ − tᵢ)` over the key's time-ordered
    * events (ties broken by `idCol`, default `event_id`; the last
    * observation carries
    * no interval). Values quantize to integer CENTS and intervals to
    * integer MILLISECONDS, so both sums are int64-exact under any
    * partition order (cents·ms ≤ 10⁵·span_ms ≪ 2⁶³); the output is
    * the floor-grid 4dp dollar ratio of the two exact integers. NULL
    * when the key has no positive-length interval.
    *
    * Scale shape: one per-key lead window + ONE combinable
    * aggregation — the standard event-time window class.
    */
  def twap(df: DataFrame, keyCol: String, tsNs: String,
      valueCol: String, idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsNs), col(idCol))
    df.where(col(valueCol).isNotNull)
      .select(col(keyCol), col(idCol), col(tsNs),
        floor(col(valueCol).cast("double") * 100d + 0.5).cast("long")
          .as("__c"))
      .withColumn("__dt_ns", lead(col(tsNs), 1).over(w) - col(tsNs))
      .withColumn("__dt_ms", expr("__dt_ns div 1000000"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"),
        sum(col("__c") * col("__dt_ms")).as("__swc"),
        sum("__dt_ms").as("__sdt"))
      .select(col(keyCol), col("n_events"),
        when(col("__sdt") > 0L,
          floor(col("__swc").cast("double") / col("__sdt") / 100d * 1e4
            + 0.5) / 1e4).as("twap"))
  }

  def interEventStats(df: DataFrame, keyCol: String,
      tsNs: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsNs))
    // moments from EXACT integer sums — float avg/stddev_pop
    // accumulate in engine- and partition-order-dependent ways, and
    // the r9 sf0.1 full gate caught exactly one user landing on a 6dp
    // rounding boundary because of it. Σgap (int64: per-key Σ ≤ the
    // corpus time span) and Σgap² (decimal(38,0): (30 days in ns)² ≈
    // 7·10³⁰ ≪ 10³⁸) reduce exactly under any order; the mean/variance
    // algebra then runs on identical doubles in both engines, and the
    // outputs land on a floor-grid (floor of identical doubles can't
    // diverge, unlike round).
    val gaps = df
      .withColumn("__gap_ns", col(tsNs) - lag(col(tsNs), 1).over(w))
      .where(col("__gap_ns").isNotNull)
    val agg = gaps.groupBy(keyCol)
      .agg(count(lit(1)).as("n_gaps"),
        sum("__gap_ns").as("__s1"),
        sum(col("__gap_ns").cast("decimal(38,0)") *
          col("__gap_ns").cast("decimal(38,0)")).as("__s2"))
    val n = col("n_gaps").cast("double")
    val mu = col("__s1").cast("double") / n // ns
    val sd = sqrt(greatest(
      col("__s2").cast("double") / n - mu * mu, lit(0d))) // ns
    def grid6(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    agg.select(col(keyCol), col("n_gaps"),
      grid6(mu / 1e9).as("mean_gap_s"),
      grid6(sd / 1e9).as("std_gap_s"),
      when(sd + mu === 0d, lit(0d))
        .otherwise(grid6((sd - mu) / (sd + mu))).as("burstiness"))
  }

  /** Exponential time-decay activity score per key — the recency
    * weighting a freshness-aware sampler or engagement ranker applies:
    * each event contributes `value · 2^(−age/halfLife)`, ages measured
    * from the corpus' max timestamp (so the score is a pure function
    * of the data, reproducible across runs and engines — no wall-clock
    * `now()`). Emits `(keyCol, n_events, last_ts_us, decayed_value,
    * decayed_count)` — `decayed_count` is the half-life-discounted
    * event count (value ≡ 1).
    *
    * Scale shape: one 1-row max-ts aggregate broadcast-crossed in (the
    * house pattern for corpus constants), then ONE combinable per-key
    * aggregation — map-side partials, shuffle carries |keys| rows.
    */
  /** Rolling distinct-count per period — "7-day active users by day":
    * for every trailing window of `periods` periods ending at period p,
    * the EXACT distinct count of `keyCol`, plus the single-period
    * count. Distinct-over-sliding-windows does not decompose into
    * per-period distinct counts (unlike sums), so the exact path
    * dedupes to (period, key) grain first — active-keys × periods
    * rows, ≪ events — then explodes each pair to the `periods` report
    * periods it participates in and re-aggregates. Partial trailing
    * windows at the range start are suppressed (first full window =
    * min period + periods − 1). For corpora where even (period, key)
    * is too wide, [[Sketches.hllByGroup]] per period + window-merge is
    * the sketch path; this operator is the exact gold standard it is
    * audited against.
    *
    * Scale shape: shuffle 1 dedupes events to (period, key); the ×
    * `periods` explode multiplies the DEDUPED grain only; shuffle 2 is
    * the distinct re-count per report period. Bounds ride a 1-row
    * broadcast.
    */
  def rollingDistinct(df: DataFrame, keyCol: String, tsNs: String,
      periodNs: Long, periods: Int): DataFrame = {
    require(periods >= 1, "periods must be >= 1")
    val pairs = df
      .select(expr(s"$tsNs div $periodNs").as("p"), col(keyCol).as("k"))
      .distinct()
    val bounds = broadcast(pairs.agg(min("p").as("__p0"), max("p").as("__p1")))
    pairs
      .withColumn("period", explode(sequence(col("p"), col("p") + lit(periods - 1L))))
      .groupBy("period")
      .agg(countDistinct(when(col("period") === col("p"), col("k"))).as("n_distinct_1"),
        countDistinct(col("k")).as("n_distinct_w"))
      .crossJoin(bounds)
      .where(col("period").between(col("__p0") + lit(periods - 1L), col("__p1")))
      .select(col("period"), (col("period") * periodNs).as("period_start_ns"),
        col("n_distinct_1"), col("n_distinct_w"))
  }

  /** CUSUM change-point detection over per-key tumbling-window volumes
    * (Page 1954) — detects SUSTAINED level shifts that
    * [[volumeAnomalies]]' per-window z-test misses (ten consecutive
    * windows at +1σ never trip a 2σ spike test but are decisive
    * evidence of a shift). Counts are taken on a GAP-FILLED window
    * grid (a silent window is evidence, not absence), standardized
    * per key, then the one-sided CUSUM statistics
    *   S⁺ᵢ = max(0, S⁺ᵢ₋₁ + zᵢ − slack)   (upward shifts)
    *   S⁻ᵢ = max(0, S⁻ᵢ₋₁ − zᵢ − slack)   (downward shifts)
    * are computed DECLARATIVELY via the running-minimum identity
    * S⁺ᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ) with Cᵢ = Σ_{k≤i}(z_k − slack) —
    * two ordered windows instead of an inherently sequential loop.
    * Emits one row per key: window count and the peak statistic +
    * its window start for each direction (ties → earliest window).
    *
    * Scale shape: the grid is keys × (time-range / windowNs) —
    * time-bounded, not event-bounded — so the per-key ordered windows
    * run over series whose length is fixed by the observation window,
    * independent of corpus size. One count shuffle at (key, window)
    * grain, one key-partitioned window pass, one combinable argmax agg.
    */
  /** Per-key tumbling counts on a gap-filled window grid, with the
    * window re-indexed to 0 at the range start (`t`) — shared by the
    * CUSUM / trend / diurnal family. A silent window enters as an
    * explicit zero.
    */
  private def gridCounts(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val counts = df
      .select(col(keyCol).as("k"), expr(s"$tsNs div $windowNs").as("w"))
      .groupBy("k", "w").agg(count(lit(1)).as("n"))
    val bounds = broadcast(df.agg(
      expr(s"min($tsNs) div $windowNs").as("__w0"),
      expr(s"max($tsNs) div $windowNs").as("__w1")))
    val grid = counts.select("k").distinct()
      .crossJoin(bounds)
      .select(col("k"), explode(sequence(col("__w0"), col("__w1"))).as("w"),
        col("__w0"))
    grid.join(counts, Seq("k", "w"), "left")
      .select(col("k"), col("w"), (col("w") - col("__w0")).as("t"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-key volume trend — ordinary-least-squares slope/intercept of
    * window counts over time, the "is this source growing or dying"
    * number a crawl scheduler ranks feeds by. Computed from the four
    * classic sums with the window index re-based to t = 0..T:
    *   slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²)
    * All sums are INTEGER (counts × window ordinals), so both engines
    * reach the final division bit-identically — no float accumulation
    * anywhere. Gap-filled grid (a silent window is a real zero —
    * skipping it would bias the slope up). Emits `(keyCol, n_windows,
    * total, slope, intercept)`; slope is per window.
    *
    * Scale shape: one (key, window) count shuffle, one combinable
    * 4-sum aggregate per key. Series length is time-bounded.
    */
  def volumeTrend(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = gridCounts(df, keyCol, tsNs, windowNs)
    val agg = g.groupBy("k").agg(
      count(lit(1)).as("nw"),
      sum("t").as("st"), sum("n").as("sy"),
      sum(col("t") * col("n")).as("sty"),
      sum(col("t") * col("t")).as("stt"))
    val den = (col("nw") * col("stt") - col("st") * col("st")).cast("double")
    val slope = when(den > 0,
      (col("nw") * col("sty") - col("st") * col("sy")).cast("double") / den)
      .otherwise(lit(0d))
    agg.withColumn("__sl", slope)
      .select(col("k").as(keyCol), col("nw").as("n_windows"),
        col("sy").as("total"),
        round(col("__sl"), 8).as("slope"),
        round((col("sy").cast("double") - col("__sl") * col("st"))
          / col("nw"), 6).as("intercept"))
  }

  /** Per-key QUADRATIC volume trend — least-squares fit of
    * y = a0 + a1·t + a2·t² to gap-filled window counts, the curvature
    * companion of [[volumeTrend]] ("growing, but decelerating?"). The
    * normal equations are solved in the CENTERED parametrization
    * u = 2t − (W−1): the gap-filled grid is complete, so Σu = Σu³ = 0
    * structurally and the 3×3 system collapses to a diagonal-plus-2×2
    * solve with no matrix inversion. The eight per-key sums
    * (Σt^j, Σt^j·y) are pure INTEGER aggregates; every derived
    * quantity after them is the same fixed double expression in both
    * engines, so results replay exactly. Emits
    * `(keyCol, n_windows, total, a0, a1, a2)` with a1/a2 per window.
    *
    * Scale shape: identical to [[volumeTrend]] — one (key, window)
    * count shuffle, one combinable 8-sum aggregate, row-local algebra
    * after. Window ordinals are time-bounded; int64 exactness of the
    * sums holds to ~100k windows (Σt⁴ < 2⁶³), far past any real
    * monitoring horizon at sane window widths.
    */
  def volumeTrendQuadratic(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = gridCounts(df, keyCol, tsNs, windowNs)
    val agg = g.groupBy("k").agg(
      count(lit(1)).as("nw"),
      sum("t").as("st"), sum(col("t") * col("t")).as("st2"),
      sum(col("t") * col("t") * col("t")).as("st3"),
      sum(col("t") * col("t") * col("t") * col("t")).as("st4"),
      sum("n").as("t0"), sum(col("t") * col("n")).as("t1"),
      sum(col("t") * col("t") * col("n")).as("t2"))
    // centered sums from the raw ones (c = W−1, u = 2t−c):
    //   Σu²  = 4Σt² − 4cΣt + c²W          Σu·y  = 2Σty − cΣy
    //   Σu⁴  = 16Σt⁴ − 32cΣt³ + 24c²Σt² − 8c³Σt + c⁴W
    //   Σu²y = 4Σt²y − 4cΣty + c²Σy
    val W = col("nw").cast("double")
    val c = W - lit(1d)
    val st = col("st").cast("double"); val st2 = col("st2").cast("double")
    val st3 = col("st3").cast("double"); val st4 = col("st4").cast("double")
    val t0 = col("t0").cast("double"); val t1 = col("t1").cast("double")
    val t2 = col("t2").cast("double")
    val s2u = lit(4d) * st2 - lit(4d) * c * st + c * c * W
    val s4u = lit(16d) * st4 - lit(32d) * c * st3 + lit(24d) * c * c * st2 -
      lit(8d) * c * c * c * st + c * c * c * c * W
    val t1u = lit(2d) * t1 - c * t0
    val t2u = lit(4d) * t2 - lit(4d) * c * t1 + c * c * t0
    val denA2 = W * s4u - s2u * s2u
    val a2u = when(denA2 > 0, (W * t2u - s2u * t0) / denA2).otherwise(lit(0d))
    val a1u = when(s2u > 0, t1u / s2u).otherwise(lit(0d))
    agg
      .withColumn("_a2u", a2u).withColumn("_a1u", a1u)
      .withColumn("_a0u", (t0 - col("_a2u") * s2u) / W)
      .select(col("k").as(keyCol), col("nw").as("n_windows"),
        col("t0").as("total"),
        round(col("_a0u") - col("_a1u") * c + col("_a2u") * c * c, 6).as("a0"),
        round(lit(2d) * col("_a1u") - lit(4d) * col("_a2u") * c, 8).as("a1"),
        round(lit(4d) * col("_a2u"), 8).as("a2"))
  }

  /** Time-to-event durations for [[kaplanMeier]]: per user, windows
    * from the FIRST event to the first event satisfying `eventPred`
    * (e.g. the first purchase). Users who never trigger are CENSORED
    * at the corpus' last timestamp — their duration is a lower bound,
    * which is exactly what the KM estimator consumes. Emits
    * `(duration, censored)`, one row per user.
    */
  def timeToEvent(df: DataFrame, userCol: String, tsNs: String,
      eventPred: Column, windowNs: Long): DataFrame = {
    val perUser = df.groupBy(col(userCol))
      .agg(min(col(tsNs)).as("__first"),
        min(when(eventPred, col(tsNs))).as("__hit"))
    val horizon = broadcast(df.agg(max(col(tsNs)).as("__end")))
    perUser.crossJoin(horizon)
      .select(
        expr(s"(coalesce(__hit, __end) - __first) div $windowNs")
          .as("duration"),
        col("__hit").isNull.as("censored"))
  }

  /** Kaplan-Meier survival curve over right-censored durations (one
    * row per subject: how many windows until the event, and whether
    * observation ended before the event — censored subjects carry a
    * LOWER BOUND; dropping them biases survival down, counting them
    * as events biases it up, KM uses them correctly). For each
    * distinct uncensored duration t:
    * `S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)` with `dᵢ` events at tᵢ and `nᵢ`
    * subjects at risk (duration ≥ tᵢ, censored included). Emits one
    * row per event time: `(duration, n_at_risk, n_events, survival)`.
    *
    * Scale shape: one count aggregate to the distinct-duration grid
    * (time-bounded); the product is `exp` of a cumulative `ln` sum
    * over that grid — no sequential loop. Counts are integers; only
    * S(t) itself is float, rounded.
    */
  def kaplanMeier(durations: DataFrame, durationCol: String,
      censoredCol: String): DataFrame = {
    val lives = durations.select(col(durationCol).as("__life"),
      col(censoredCol).as("__cens"))
    val counts = lives.groupBy("__life")
      .agg(sum(when(col("__cens"), 0L).otherwise(1L)).as("__d"),
        count(lit(1)).as("__c"))
    val total = counts.agg(sum("__c").as("__n"))
    // at risk at t = total − #{lifetime < t} (cumulative EXCLUSIVE)
    val w = Window.orderBy("__life")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wInc = Window.orderBy("__life")
      .rowsBetween(Window.unboundedPreceding, 0)
    counts.crossJoin(broadcast(total))
      .withColumn("__below", coalesce(sum("__c").over(w), lit(0L)))
      .withColumn("__risk", col("__n") - col("__below"))
      // d = n_at_risk (everyone left dies here) makes the factor 0;
      // ln(0) is NULL in Spark and −inf elsewhere — carry it as an
      // explicit extinction flag instead of a log
      .withColumn("__lnS",
        sum(when(col("__d") > 0 && col("__d") < col("__risk"),
          log(lit(1d) - col("__d").cast("double") / col("__risk")))
          .otherwise(lit(0d))).over(wInc))
      .withColumn("__dead",
        max(when(col("__d") === col("__risk"), 1).otherwise(0)).over(wInc))
      .where(col("__d") > 0)
      .select(col("__life").as("duration"), col("__risk").as("n_at_risk"),
        col("__d").as("n_events"),
        when(col("__dead") === 1, lit(0d))
          .otherwise(round(exp(col("__lnS")), 6)).as("survival"))
  }

  /** Hour-of-day seasonality strength per key: the fraction of the
    * gap-filled hourly-count variance explained by the hour-of-day
    * profile — `SS_between/SS_total` (the η² of a one-way layout on
    * hour-of-day). 0 = no diurnal pattern, →1 = volume is pure
    * seasonality; the number that says whether [[diurnalProfile]]'s
    * shape actually matters. Computed purely from integer sums
    * (per-hour Σx and counts, global Σx, Σx²):
    * `η² = (Σ_h s_h²/c_h − S²/N) / (Σx² − S²/N)`. Emits
    * `(keyCol, n_windows, strength)`.
    */
  def seasonalityStrength(df: DataFrame, keyCol: String,
      tsNs: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val g = gridCounts(df, keyCol, tsNs, hourNs)
      .withColumn("__h", pmod(col("w"), lit(24L)))
    val byHour = g.groupBy("k", "__h")
      .agg(sum("n").as("__s"), count(lit(1)).as("__c"))
    val byKey = g.groupBy("k")
      .agg(sum("n").as("__S"), sum(col("n") * col("n")).as("__S2"),
        count(lit(1)).as("__N"))
    val between = byHour
      .groupBy("k")
      .agg(sum(col("__s").cast("double") * col("__s") / col("__c")).as("__b"))
    byKey.join(between, Seq("k"))
      .select(col("k").as(keyCol), col("__N").as("n_windows"),
        round(
          when(col("__S2").cast("double")
            - col("__S").cast("double") * col("__S") / col("__N") > 0,
            (col("__b") - col("__S").cast("double") * col("__S") / col("__N"))
              / (col("__S2").cast("double")
                - col("__S").cast("double") * col("__S") / col("__N")))
            .otherwise(lit(0d)), 6).as("strength"))
  }

  /** SAX motif mining over a key's volume series (Lin/Keogh Symbolic
    * Aggregate approXimation): gap-filled window counts are z-scored
    * against the key's own series moments, averaged into PAA frames
    * of `paa` windows, discretized to a 4-letter alphabet at the
    * standard N(0,1) quartile breakpoints (±0.674489…, 0), and every
    * sliding word of `wordLen` letters is counted — repeated motifs
    * are the recurring volume shapes (daily ramps, batch-job spikes).
    * Emits `(keyCol, motif, n)` for motifs occurring ≥ `minCount`
    * times.
    *
    * Scale shape: after the (key, window) count shuffle everything is
    * windows-bounded per key: moment fold, PAA aggregate (integer
    * sums ÷ counts), one collect_list-free sliding explode via
    * per-frame lead windows.
    */
  def saxMotifs(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long, paa: Int = 4, wordLen: Int = 3,
      minCount: Long = 2): DataFrame = {
    require(paa >= 1 && wordLen >= 2, "need paa >= 1 and wordLen >= 2")
    val g = gridCounts(df, keyCol, tsNs, windowNs)
    val moments = g.groupBy("k")
      .agg(sum("n").as("__S"), sum(col("n") * col("n")).as("__S2"),
        count(lit(1)).as("__N"))
      .withColumn("__mu", col("__S").cast("double") / col("__N"))
      .withColumn("__var",
        col("__S2").cast("double") / col("__N") - col("__mu") * col("__mu"))
    val frames = g.withColumn("__f", expr(s"t div $paa"))
      .groupBy("k", "__f")
      .agg(sum("n").as("__fs"), count(lit(1)).as("__fc"))
    val bp = 0.6744897501960817d
    val letter = {
      val sd = when(col("__var") > 0, sqrt(col("__var"))).otherwise(lit(1d))
      val z = (col("__fs").cast("double") / col("__fc") - col("__mu")) / sd
      when(z < -bp, lit("a")).when(z < 0, lit("b"))
        .when(z < bp, lit("c")).otherwise(lit("d"))
    }
    val lettered = frames.join(broadcast(moments), Seq("k"))
      .select(col("k"), col("__f"), letter.as("__l"))
    val wOrd = Window.partitionBy("k").orderBy("__f")
    val words = lettered
      .select(col("k"),
        (0 until wordLen).map(i => lead(col("__l"), i).over(wOrd))
          .reduce(concat(_, _)).as("motif"))
      .where(length(col("motif")) === wordLen)
    words.groupBy(col("k").as(keyCol), col("motif"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Last-touch conversion attribution: each conversion event (type
    * = `convType`) credits the user's most recent PRIOR non-conversion
    * event's type — the standard marketing-attribution baseline.
    * Emits one row per credited type:
    * `(event_type, n_conversions, share)`; conversions with no prior
    * touch are dropped (reported by the share denominator counting
    * only attributed conversions).
    *
    * Scale shape: ONE user-partitioned window pass (`last(…, ignore
    * nulls)` over the preceding frame) — no self-join — then a
    * types-sized aggregate and a 1-row total broadcast.
    */
  def lastTouchAttribution(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, convType: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsNs), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    val credited = df
      .withColumn("__credit",
        last(when(col(typeCol) =!= convType, col(typeCol)),
          ignoreNulls = true).over(w))
      .where(col(typeCol) === convType && col("__credit").isNotNull)
      .groupBy(col("__credit").as("event_type"))
      .agg(count(lit(1)).as("n_conversions"))
    val total = credited.agg(sum("n_conversions").as("__tot"))
    credited.crossJoin(broadcast(total))
      .select(col("event_type"), col("n_conversions"),
        round(col("n_conversions").cast("double") / col("__tot"), 6)
          .as("share"))
  }

  /** Mann-Kendall trend test per key — the NON-parametric "is this
    * series trending" companion of [[volumeTrend]]'s OLS (robust to
    * outliers and any monotone transform): over gap-filled window
    * counts, `S = Σ_{i<j} sign(x_j − x_i)`, tie-corrected variance
    * `Var·18 = W(W−1)(2W+5) − Σ_t t(t−1)(2t+5)`, and the
    * continuity-corrected `z = (S − sign(S))/√Var`. S and 18·Var are
    * pure integers. Emits `(keyCol, n_windows, s, z)`.
    *
    * Scale shape: the pair enumeration is a self-join of the
    * per-key WINDOW grid (time-bounded, e.g. 30 daily windows → 435
    * pairs/key), never of the events.
    */
  def mannKendall(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = Caches.persist(gridCounts(df, keyCol, tsNs, windowNs))
    val s = g.as("a").join(g.as("b"),
        col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .groupBy(col("a.k").as("k"))
      .agg(sum(signum(col("b.n") - col("a.n")).cast("long")).as("__s"))
    val ties = g.groupBy("k", "n").agg(count(lit(1)).as("__t"))
      .groupBy("k")
      .agg(count(lit(1)).as("__dv"),
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tt"),
        sum("__t").as("__w"))
    s.join(ties, Seq("k"))
      .withColumn("__var18",
        col("__w") * (col("__w") - 1) * (col("__w") * 2 + 5) - col("__tt"))
      .select(col("k").as(keyCol), col("__w").as("n_windows"),
        col("__s").as("s"),
        round(when(col("__var18") > 0,
          (col("__s") - signum(col("__s"))).cast("double")
            / sqrt(col("__var18").cast("double") / 18d))
          .otherwise(lit(0d)), 6).as("z"))
  }

  /** Theil-Sen slope per key — the robust median-of-pairwise-slopes
    * trend estimator (breakdown point 29%, vs OLS's 0): over the
    * gap-filled window grid, the exact median of
    * `(x_j − x_i)/(j − i)` across all i < j pairs (even counts
    * average the two central order statistics). Emits
    * `(keyCol, n_pairs, slope)`.
    *
    * Scale shape: pairs come from the bounded window grid (435 pairs
    * for 30 windows); the median is two order statistics off a
    * per-key rank window over those pairs.
    */
  def theilSen(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = Caches.persist(gridCounts(df, keyCol, tsNs, windowNs))
    val slopes = g.as("a").join(g.as("b"),
        col("a.k") === col("b.k") && col("a.t") < col("b.t"))
      .select(col("a.k").as("k"),
        ((col("b.n") - col("a.n")).cast("double")
          / (col("b.t") - col("a.t"))).as("__sl"),
        col("a.t").as("__i"), col("b.t").as("__j"))
    val w = Window.partitionBy("k").orderBy(col("__sl").asc,
      col("__i").asc, col("__j").asc)
    val ranked = slopes.withColumn("__r", row_number().over(w))
    val m = ranked.groupBy("k").agg(count(lit(1)).as("n_pairs"))
    ranked.join(broadcast(m), Seq("k"))
      // median ranks ⌊(m+1)/2⌋ / ⌊(m+2)/2⌋ (equal when m is odd);
      // integer div — Spark's `/` would yield fractional doubles
      .where(col("__r") === expr("(n_pairs + 1) div 2")
        || col("__r") === expr("(n_pairs + 2) div 2"))
      .groupBy(col("k").as(keyCol), col("n_pairs"))
      .agg(round(avg("__sl"), 8).as("slope"))
  }

  /** Per-key diurnal (hour-of-day) activity profile: for each key and
    * UTC hour-of-day, the mean window count across the observation
    * range and its ratio to the key's overall mean — the seasonality
    * fingerprint that separates "traffic doubled" from "it's noon".
    * Gap-filled so quiet hours average in their zeros. Each mean is a
    * SINGLE integer-sum ÷ count division — no float accumulation, so
    * cross-engine exact before the rounding. Emits `(keyCol,
    * hour_of_day, n_windows, avg_n, ratio)`.
    */
  def diurnalProfile(df: DataFrame, keyCol: String, tsNs: String): DataFrame = {
    val hourNs = 3600L * 1000 * 1000 * 1000
    val g = gridCounts(df, keyCol, tsNs, hourNs)
    val byHod = g.withColumn("hour_of_day", pmod(col("w"), lit(24L)))
      .groupBy("k", "hour_of_day")
      .agg(count(lit(1)).as("n_windows"), sum("n").as("__s"))
    val overall = g.groupBy("k")
      .agg(sum("n").as("__st"), count(lit(1)).as("__nt"))
    byHod.join(broadcast(overall), "k")
      .select(col("k").as(keyCol), col("hour_of_day"), col("n_windows"),
        round(col("__s").cast("double") / col("n_windows"), 6).as("avg_n"),
        when(col("__st") > 0,
          round((col("__s").cast("double") / col("n_windows"))
            / (col("__st").cast("double") / col("__nt")), 6))
          .otherwise(lit(0d)).as("ratio"))
  }

  def cusumShifts(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long, slack: Double = 0.5): DataFrame = {
    val filled = gridCounts(df, keyCol, tsNs, windowNs)
      .select("k", "w", "n")
    val moments = filled.groupBy("k")
      .agg(avg("n").as("__mu"), stddev_pop(col("n")).as("__sd"))
    val z = when(col("__sd") > 0,
      (col("n") - col("__mu")) / col("__sd")).otherwise(lit(0d))
    val cum = Window.partitionBy("k").orderBy("w")
      .rowsBetween(Window.unboundedPreceding, 0)
    val scored = filled.join(broadcast(moments), "k")
      .withColumn("__cp", sum(z - lit(slack)).over(cum))
      .withColumn("__cn", sum(-z - lit(slack)).over(cum))
      .withColumn("__sp", col("__cp") - least(lit(0d), min(col("__cp")).over(cum)))
      .withColumn("__sn", col("__cn") - least(lit(0d), min(col("__cn")).over(cum)))
    // struct-max argmax with −w: peak value first, EARLIEST window on ties
    scored.groupBy("k")
      .agg(count(lit(1)).as("n_windows"),
        max(struct(col("__sp").as("s"), (-col("w")).as("nw"))).as("__mp"),
        max(struct(col("__sn").as("s"), (-col("w")).as("nw"))).as("__mn"))
      .select(col("k").as(keyCol), col("n_windows"),
        round(col("__mp.s"), 4).as("max_shift_up"),
        (-col("__mp.nw") * windowNs).as("window_up_ns"),
        round(col("__mn.s"), 4).as("max_shift_down"),
        (-col("__mn.nw") * windowNs).as("window_down_ns"))
  }

  def decayedActivity(df: DataFrame, keyCol: String, tsNs: String,
      valueCol: String, halfLifeNs: Long): DataFrame = {
    val tmax = broadcast(df.agg(max(col(tsNs)).as("__tmax")))
    val weighted = df.crossJoin(tmax)
      .withColumn("__w",
        pow(lit(0.5),
          (col("__tmax") - col(tsNs)).cast("double") / halfLifeNs.toDouble))
    weighted.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        // integer div — Column./ is double division, and an epoch-ns
        // max (~1.7e18) exceeds a double's 2^53 exact-integer range
        expr(s"cast(max($tsNs) as long) div 1000").as("last_ts_us"),
        round(sum(col(valueCol) * col("__w")), 6).as("decayed_value"),
        round(sum(col("__w")), 6).as("decayed_count"))
  }

  /** Robust volume-outlier windows by median/MAD — the heavy-tail-safe
    * companion of [[volumeAnomalies]] (whose mean/σ both move under the
    * very outliers being hunted): flag windows whose modified z-score
    * 0.6745·|n − median| / MAD exceeds `threshold` (Iglewicz–Hoaglin
    * 3.5 default). A key whose MAD is 0 (over half its windows share
    * one count) falls back to flagging any deviating window, with NULL
    * robust_z. Output: `(keyCol, t, n, med, mad, robust_z)`.
    *
    * Exactness: window counts are integers and both engines use the
    * same linearly-interpolated median (type-7), so med/MAD land on
    * the exact half-integer grid — every comparison replays
    * bit-identically. Scale shape: one (key, window) count shuffle,
    * two per-key median aggregates over the time-bounded grid (the
    * grid is persisted — two consumers), joins back on the bounded
    * key dimension.
    */
  def madOutliers(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long, threshold: Double = 3.5): DataFrame = {
    val g = Caches.persist(gridCounts(df, keyCol, tsNs, windowNs))
    val med = g.groupBy("k").agg(expr("percentile(n, 0.5d)").as("med"))
    val dev = Caches.persist(
      g.join(med, Seq("k")).withColumn("dev", abs(col("n") - col("med"))))
    val mad = dev.groupBy("k").agg(expr("percentile(dev, 0.5d)").as("mad"))
    dev.join(mad, Seq("k"))
      .where((col("mad") > 0
          && lit(0.6745) * col("dev") / col("mad") > threshold)
        || (col("mad") === 0 && col("dev") > 0))
      .select(col("k").as(keyCol), col("t"), col("n"),
        round(col("med"), 1).as("med"), round(col("mad"), 1).as("mad"),
        when(col("mad") > 0,
          round(lit(0.6745) * col("dev") / col("mad"), 4)).as("robust_z"))
  }

  /** Single best changepoint per key — the split s of the gap-filled
    * window grid maximizing the between-segment sum-of-squares
    * reduction gain(s) = (L·T − s·S)² / (s·(T−s)·T) (L = left prefix
    * sum, S = total, T = windows; the standard binary-segmentation
    * step statistic). Ties break to the EARLIEST split. Output:
    * `(keyCol, split_t, n_windows, mean_left, mean_right, gain)` —
    * split_t is the first window index of the right segment.
    *
    * Exactness: L·T − s·S is computed in int64 (exact to S·T < 2⁶³)
    * and cast to double before the one square/division, so both
    * engines perform the identical float ops. Scale shape: one
    * (key, window) count shuffle, one key-partitioned prefix-sum
    * window over the time-bounded grid, one combinable struct-max
    * argmax per key.
    */
  def changepoint(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = gridCounts(df, keyCol, tsNs, windowNs)
    val wAll = Window.partitionBy("k")
    val wCum = Window.partitionBy("k").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = g
      .withColumn("__L", sum("n").over(wCum))
      .withColumn("__tot", sum("n").over(wAll))
      .withColumn("__T", count(lit(1)).over(wAll))
      .withColumn("__s", col("t") + 1)
      .where(col("__s") < col("__T"))
    val num = (col("__L") * col("__T") - col("__s") * col("__tot"))
      .cast("double")
    val gain = num * num /
      (col("__s") * (col("__T") - col("__s")) * col("__T")).cast("double")
    val cand = p.select(col("k"),
      struct(gain.as("g"), (-col("__s")).as("negs"), col("__L").as("l"),
        col("__tot").as("ss"), col("__T").as("tt")).as("__c"))
    cand.groupBy("k").agg(max("__c").as("b"))
      .select(col("k").as(keyCol),
        (-col("b.negs")).as("split_t"),
        col("b.tt").as("n_windows"),
        round(col("b.l").cast("double") / -col("b.negs"), 4).as("mean_left"),
        round((col("b.ss") - col("b.l")).cast("double")
          / (col("b.tt") + col("b.negs")), 4).as("mean_right"),
        round(col("b.g"), 4).as("gain"))
  }

  /** Truncated-kernel EWMA spike detection: the one-step-ahead
    * exponentially-weighted prediction of each window's count from its
    * `lookback` predecessors (weights ∝ 0.5^age, renormalized over the
    * lags that exist, so the series head is handled exactly), flagging
    * windows where n > spikeFactor·max(pred, 1). The bounded kernel is
    * what makes the recurrence declarative — an infinite-tail EWMA is
    * inherently sequential, while 0.5-decay truncated at 16 lags
    * carries < 0.003% of the dropped tail's weight. Output:
    * `(keyCol, t, n, pred, ratio)` for flagged windows only.
    *
    * Exactness: weights are dyadic (0.5^j) and counts integer, so the
    * weighted sums are exact in both engines regardless of fold order.
    * Scale shape: one (key, window) count shuffle + ONE key-partitioned
    * window operator evaluating all `lookback` lags over the
    * time-bounded grid.
    */
  def ewmaSpikes(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long, lookback: Int = 16,
      spikeFactor: Double = 3.0): DataFrame = {
    val g = gridCounts(df, keyCol, tsNs, windowNs)
    val w = Window.partitionBy("k").orderBy("t")
    val terms = (1 to lookback).map { j =>
      val x = lag(col("n"), j).over(w)
      val c = lit(math.pow(0.5, j - 1))
      (when(x.isNotNull, c * x).otherwise(lit(0d)),
        when(x.isNotNull, c).otherwise(lit(0d)))
    }
    val den = terms.map(_._2).reduce(_ + _)
    // series head (t = 0) has no lags: den = 0 ⇒ NULL pred, never
    // NaN — 0/0 would flow as NaN through both engines' comparisons
    // with DIFFERENT orderings
    val pred = when(den > 0, terms.map(_._1).reduce(_ + _) / den)
    g.withColumn("__pred", pred)
      .where(col("__pred").isNotNull
        && col("n") > lit(spikeFactor) * greatest(col("__pred"), lit(1d)))
      .select(col("k").as(keyCol), col("t"), col("n"),
        round(col("__pred"), 6).as("pred"),
        round(col("n") / greatest(col("__pred"), lit(1d)), 4).as("ratio"))
  }

  /** RFM segmentation — the classic customer-value grid: per user,
    * Recency (time from last conversion to the corpus max), Frequency
    * (conversion count) and Monetary (cents total) are each scored
    * 1–5 against the population's interpolated quintile cutpoints
    * (score 5 = most recent / most frequent / highest spend; values
    * beyond cutpoint i add/remove a point — the cutpoint rule, not
    * ntile, so scoring is a broadcast row-local map instead of a
    * global sort). Output: one row per populated (r, f, m) cell with
    * user count and average spend.
    *
    * Exactness: recency is integer ns, frequency an integer count,
    * monetary an exact integer cents sum (never a float-summed
    * total), and both engines evaluate the identical interpolated-
    * quantile formula on them. Scale shape: one user-keyed combinable
    * aggregate, a 1-row quantile aggregate broadcast back, a
    * row-local scoring map, and a ≤125-group final aggregate.
    */
  def rfmSegments(df: DataFrame, userCol: String, tsNs: String,
      valueCol: String, typeCol: String,
      convType: String = "purchase"): DataFrame = {
    val purch = df.where(col(typeCol) === convType)
    val tmax = broadcast(purch.agg(max(col(tsNs)).as("__tmax")))
    // consumed by BOTH the cutpoint aggregate and the scoring pass —
    // persist or the user-grain corpus aggregate runs twice
    val users = Caches.persist(purch.groupBy(col(userCol))
      .agg(max(col(tsNs)).as("__last"),
        count(lit(1)).as("freq"),
        sum(round(col(valueCol) * 100).cast("long")).as("cents"))
      .crossJoin(tmax)
      .withColumn("rec", col("__tmax") - col("__last")))
    val cuts = broadcast(users.agg(
      expr("percentile(rec, array(0.2d, 0.4d, 0.6d, 0.8d))").as("qr"),
      expr("percentile(freq, array(0.2d, 0.4d, 0.6d, 0.8d))").as("qf"),
      expr("percentile(cents, array(0.2d, 0.4d, 0.6d, 0.8d))").as("qm")))
    def above(v: Column, cut: Column): Column =
      (0 to 3).map(i => when(v > cut(i), 1).otherwise(0)).reduce(_ + _)
    users.crossJoin(cuts)
      .select(col(userCol), col("cents"),
        (lit(5) - above(col("rec"), col("qr"))).as("r_score"),
        (lit(1) + above(col("freq"), col("qf"))).as("f_score"),
        (lit(1) + above(col("cents"), col("qm"))).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        // round to integer CENTS first: rounding an inexact x.xx5
        // double at 2dp diverges across engines (decimal-string
        // HALF_UP vs binary-value rounding); integer rounding is
        // unambiguous, and cents/100 is then the same double in both
        (round(sum(col("cents")).cast("double") / count(lit(1)))
          / 100).as("avg_spend"))
  }

  /** Top session paths — the most common ordered event-type sequences
    * per session (path mining's frequency table): sessions come from
    * [[sessionize]], each session's first `maxLen` events (ordered by
    * time, ties by `idCol` so the path string is deterministic) are
    * joined into a `a>b>c` path, and the `topK` paths by session count
    * are returned (ties by path string). Output: `(path, n_sessions)`.
    *
    * Scale shape: the sessionize window and the per-session pack
    * aggregate share one user-keyed exchange; path counting is a
    * combinable aggregate on the path string; the final top-k is a
    * TakeOrdered, never a full sort.
    */
  def sessionPaths(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, idCol: String, gapNs: Long,
      maxLen: Int = 5, topK: Int = 20): DataFrame = {
    val sess = sessionize(df, userCol, tsNs, gapNs)
    val paths = sess.groupBy(col(userCol), col("session_id"))
      .agg(sort_array(collect_list(
        struct(col(tsNs), col(idCol), col(typeCol).as("ty")))).as("__evs"))
      .select(concat_ws(">",
        slice(transform(col("__evs"), e => e("ty")), 1, maxLen)).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** Autocorrelation function of per-key window counts at lags
    * 1..`maxLag` — the "does yesterday predict today" audit behind
    * seasonality and burst scheduling. Over the gap-filled grid
    * ([[gridCounts]]): with W windows and S = Σn per key, the W-scaled
    * deviation `dev_t = W·n_t − S` is a pure INTEGER multiple of the
    * mean-centered value, and
    *   acf(k) = Σ_t dev_t·dev_{t+k} / Σ_t dev_t²
    * (numerator over the W−k overlapping pairs, denominator over the
    * full series — the standard biased estimator). Both sums are
    * int64-exact, so each engine reaches the single final division
    * bit-identically. Emits `(keyCol, lag, n_pairs, acf)`.
    *
    * Scale shape: one (key, window) count shuffle; everything after
    * runs on the TIME-BOUNDED grid (keys × windows, independent of
    * event count) — the lag join is a self-equi-join of that grid on
    * (key, t+lag) with the lag list exploded from a literal. Int64
    * headroom: sums bound by W·(W·n_max)², safe while W·n_max < ~3·10⁹
    * (e.g. 90 daily windows × 30M events/day/key); beyond that swap
    * the two sums to DECIMAL(38,0) — the algebra is unchanged.
    */
  def acf(df: DataFrame, keyCol: String, tsNs: String, windowNs: Long,
      maxLag: Int): DataFrame = {
    val g = Caches.persist(gridCounts(df, keyCol, tsNs, windowNs))
    val stats = g.groupBy("k")
      .agg(count(lit(1)).as("__w"), sum("n").as("__s"))
    val dev = Caches.persist(
      g.join(stats, Seq("k"))
        .select(col("k"), col("t"),
          (col("__w") * col("n") - col("__s")).as("d")))
    val den = dev.groupBy("k").agg(sum(col("d") * col("d")).as("__den"))
    val fan = dev.select(col("k"), col("t"), col("d"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val num = fan.as("a")
      .join(dev.as("b"),
        col("a.k") === col("b.k") && col("b.t") === col("a.t") + col("a.lag"))
      .groupBy(col("a.k").as("k"), col("a.lag").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.d") * col("b.d")).as("__num"))
    // per-key aggregates are key-cardinality-bounded, not 1-row — no
    // broadcast hint (AQE handles the small case)
    num.join(den, Seq("k"))
      .select(col("k").as(keyCol), col("lag"), col("n_pairs"),
        when(col("__den") > 0,
          round(col("__num").cast("double") / col("__den"), 6))
          .otherwise(lit(0d)).as("acf"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * first/last-heavy credit split marketers contrast with
    * [[lastTouchAttribution]]: for each conversion, the non-conversion
    * touches since the user's previous conversion form the journey;
    * the first and last touch get 0.4 each and the middles split the
    * remaining 0.2 evenly (one touch → 1.0, two → 0.5/0.5). Journeys
    * with no preceding touch are dropped (as in last-touch). Emits
    * per-type `(event_type, n_touches, credit)` with credit rounded at
    * 4dp — `round`, not the floor-grid used elsewhere: credit sums
    * frequently land EXACTLY on the 1e-4 grid (integer sums when every
    * journey has ≤ 2 touches), where floor(x·1e4 + 0.5) flips on a
    * one-ulp-low sum while round() is stable; round's own danger zone
    * (grid midpoints) is unreachable for these rationals.
    *
    * Scale shape: two user-partitioned window passes (running
    * conversion index; journey position/extent), then one combinable
    * per-type aggregate — no self-joins, state bounded by a user's
    * events.
    */
  def positionAttribution(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, convType: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsNs), col(tieBreak))
    val conv = when(col(typeCol) === convType, 1L).otherwise(0L)
    // journey j = touches between conversion j-1 (exclusive) and j
    val marked = df
      .withColumn("__j", sum(conv).over(w) - conv + 1)
      .where(col(typeCol) =!= convType)
    val jw = Window.partitionBy(col(userCol), col("__j"))
    val pos = marked
      .withColumn("__rn",
        row_number().over(jw.orderBy(col(tsNs), col(tieBreak))))
      .withColumn("__m", count(lit(1)).over(jw))
    // keep only journeys that END in a conversion: journey j exists
    // iff the user has at least j conversions
    val nConv = df.where(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(count(lit(1)).as("__nc"))
    val credited = pos.join(nConv, Seq(userCol))
      .where(col("__j") <= col("__nc"))
      .withColumn("__credit",
        when(col("__m") === 1, lit(1d))
          .when(col("__m") === 2, lit(0.5))
          .when(col("__rn") === 1 || col("__rn") === col("__m"), lit(0.4))
          .otherwise(lit(0.2) / (col("__m") - 2)))
    credited.groupBy(col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("__credit")), 4).as("credit"))
  }

  /** Index of dispersion (variance-to-mean ratio) of per-key window
    * counts — the Poisson overdispersion test ("is this traffic bursty
    * beyond chance"): over the gap-filled grid with W windows,
    * S = Σn and Q = Σn², the unbiased D = s²/x̄ =
    * (W·Q − S²) / ((W−1)·S). Everything is int64 until the single
    * division, and the overdispersion verdict compares the INTEGER
    * numerator against the integer denominator — engine-exact. Emits
    * `(keyCol, n_windows, mean_rate, dispersion, overdispersed)`.
    *
    * Scale shape: one (key, window) count shuffle, one combinable
    * 3-sum aggregate over the time-bounded grid.
    */
  def dispersionIndex(df: DataFrame, keyCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val g = Caches.persist(gridCounts(df, keyCol, tsNs, windowNs))
    g.groupBy("k")
      .agg(count(lit(1)).as("__w"), sum("n").as("__s"),
        sum(col("n") * col("n")).as("__q"))
      .select(col("k").as(keyCol), col("__w").as("n_windows"),
        round(col("__s").cast("double") / col("__w"), 6).as("mean_rate"),
        when(col("__w") > 1 && col("__s") > 0,
          round((col("__w") * col("__q") - col("__s") * col("__s"))
              .cast("double")
            / ((col("__w") - 1) * col("__s")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("dispersion"),
        ((col("__w") * col("__q") - col("__s") * col("__s"))
          > (col("__w") - 1) * col("__s")).as("overdispersed"))
  }

  /** Circular peak-hour statistics per key — the time-of-day mean done
    * RIGHT: averaging 23:00 and 01:00 must give midnight, not noon, so
    * each event maps to an angle θ = 2π·(ts mod day)/day and the key
    * reports the circular mean hour atan2(Σsin, Σcos) and the resultant
    * length R = |Σe^{iθ}|/n ∈ [0,1] (1 = all events at one instant,
    * 0 = uniform around the clock — the concentration score q177's
    * per-hour histogram doesn't summarize). Output:
    * `(keyCol, n, peak_hour, concentration)`.
    *
    * Determinism: the two float sums round at 6dp BEFORE atan2/sqrt,
    * so both engines feed the transcendentals identical doubles.
    *
    * Scale shape: one combinable 3-sum aggregate; row-local
    * trigonometry.
    */
  def circularPeakHour(df: DataFrame, keyCol: String,
      tsNs: String): DataFrame = {
    val dayNs = 86400L * 1000 * 1000 * 1000
    val theta = pmod(col(tsNs), lit(dayNs)).cast("double")
      .divide(lit(dayNs.toDouble)).multiply(lit(2 * math.Pi))
    df.withColumn("__th", theta)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        round(sum(cos(col("__th"))), 6).as("__c"),
        round(sum(sin(col("__th"))), 6).as("__s"))
      .select(col(keyCol), col("n"),
        round(pmod(atan2(col("__s"), col("__c")) / (2 * math.Pi) * 24
          + 24, lit(24d)), 4).as("peak_hour"),
        round(sqrt(col("__c") * col("__c") + col("__s") * col("__s"))
          / col("n"), 6).as("concentration"))
  }

  /** Transition latency — [[q122-style transition counts]] with TIME:
    * for each consecutive event-type pair inside a user's stream, the
    * count and the exact integer mean gap plus min/max — the
    * "how long after a view does the purchase come" table funnels
    * quote. Emits `(from_type, to_type, n, mean_gap_sec, min_gap_sec,
    * max_gap_sec)`.
    *
    * Scale shape: one user-partitioned lag window, one combinable
    * pair aggregate; int64 gap sums → single division.
    */
  def transitionLatency(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsNs), col(tieBreak))
    df.withColumn("__pt", lag(col(typeCol), 1).over(w))
      .withColumn("__gap", col(tsNs) - lag(col(tsNs), 1).over(w))
      .where(col("__pt").isNotNull)
      .groupBy(col("__pt").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"), sum("__gap").as("__s"),
        min("__gap").as("__mn"), max("__gap").as("__mx"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("__s").cast("double") / col("n") / 1e9, 4)
          .as("mean_gap_sec"),
        round(col("__mn") / 1e9, 4).as("min_gap_sec"),
        round(col("__mx") / 1e9, 4).as("max_gap_sec"))
  }

  /** Per-entity inter-event regularity — the coefficient of variation
    * of an entity's gaps between events of one type (CV ≈ 1 Poisson,
    * ≪ 1 subscription-like periodic, ≫ 1 bursty): the churn-model
    * feature behind "is this customer on a schedule". Gaps are floored
    * to integer SECONDS before squaring (an ns² would overflow int64
    * past ~107 days), and CV = √(n·Σg² − (Σg)²) / Σg uses one sqrt
    * over the integer core. Emits `(userCol, n_gaps, mean_gap_sec,
    * cv)` for entities with ≥ `minGaps` gaps.
    *
    * Scale shape: one filtered user-partitioned lag window, one
    * combinable 3-sum aggregate. Int64-safe while n·g_sec² < 9·10¹⁸
    * (gaps to ~95k years).
    */
  def interEventRegularity(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, ofType: String, tieBreak: String,
      minGaps: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsNs), col(tieBreak))
    val gaps = df.where(col(typeCol) === ofType)
      .withColumn("__gap",
        expr(s"($tsNs - lag($tsNs, 1) OVER (PARTITION BY $userCol " +
          s"ORDER BY $tsNs, $tieBreak)) div 1000000000"))
      .where(col("__gap").isNotNull)
    gaps.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_gaps"), sum("__gap").as("__s"),
        sum(col("__gap") * col("__gap")).as("__q"))
      .where(col("n_gaps") >= minGaps)
      .select(col(userCol), col("n_gaps"),
        round(col("__s").cast("double") / col("n_gaps"), 4)
          .as("mean_gap_sec"),
        when(col("__s") > 0,
          round(sqrt((col("n_gaps") * col("__q") - col("__s") * col("__s"))
            .cast("double")) / col("__s"), 6))
          .otherwise(lit(null).cast("double")).as("cv"))
  }

  /** Floor-clamped running balance — the inventory/credit-ledger
    * computation that LOOKS inherently sequential (balance never drops
    * below zero; a blocked withdrawal is lost, not deferred) made
    * declarative by the running-min identity:
    *   clamped_t = prefix_t − min(0, min_{s≤t} prefix_s)
    * — the same trick as the CUSUM monitor, two ordered windows over
    * one exchange instead of a stateful fold. Deltas are integer cents
    * (round(value·100)), so every engine agrees exactly. Emits one row
    * per entity: `(userCol, n_events, final_balance_cents,
    * lost_to_floor_cents)` — lost = −min(0, min prefix) (how much the
    * clamp absorbed).
    */
  def clampedBalance(df: DataFrame, userCol: String, tsNs: String,
      tieBreak: String, delta: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsNs), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cents = round(delta * 100).cast("long")
    df.withColumn("__d", cents)
      .withColumn("__p", sum("__d").over(w))
      .withColumn("__rm", min("__p").over(w))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col(tsNs), col(tieBreak),
          (col("__p") - least(col("__rm"), lit(0L))).as("bal"))).as("__last"),
        (-least(min("__rm"), lit(0L))).as("lost_to_floor_cents"))
      .select(col(userCol), col("n_events"),
        col("__last.bal").as("final_balance_cents"),
        col("lost_to_floor_cents"))
  }

  /** First-seen growth curve — daily (or any window) NEW-entity counts
    * and the cumulative total, the "user growth" chart every product
    * dashboard opens with. Periods are gap-filled (a day with no new
    * users is a real zero, and the cumulative line stays flat through
    * it). Output: `(period, new_users, cum_users)` with period = the
    * window ordinal (ts div windowNs).
    *
    * Scale shape: one user-grain min-aggregate (first touch), one slim
    * (period) count, a gap-filled grid from the 1-row bounds
    * broadcast, and one cumulative window over the TIME-BOUNDED period
    * axis (never over raw events).
    */
  def firstSeenGrowth(df: DataFrame, userCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val firsts = df.groupBy(col(userCol))
      .agg(expr(s"min($tsNs) div $windowNs").as("p"))
      .groupBy("p").agg(count(lit(1)).as("new_users"))
    val bounds = broadcast(df.agg(
      expr(s"min($tsNs) div $windowNs").as("__p0"),
      expr(s"max($tsNs) div $windowNs").as("__p1")))
    val grid = bounds
      .select(explode(sequence(col("__p0"), col("__p1"))).as("p"))
    val w = Window.orderBy("period")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(firsts, Seq("p"), "left")
      .select(col("p").as("period"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
  }

  /** Growth accounting (the new/retained/resurrected/churned MAU
    * decomposition): per period, active entities classify by their
    * previous active period — never seen (new), active last period
    * (retained), active before a gap (resurrected) — and an entity
    * churns at p+1 when its next active period is not p+1. Output per
    * period on the gap-filled grid: `(period, n_active, n_new,
    * n_retained, n_resurrected, n_churned)`; identities
    * `n_active = n_new + n_retained + n_resurrected` and
    * `churned(p) = active(p−1) − retained(p)` hold by construction.
    *
    * Scale shape: one distinct to (entity, period) grain, one
    * entity-partitioned lag/lead window (state bounded by an entity's
    * active periods), two slim period-grain aggregates joined on the
    * time-bounded grid. All counts integer — engine-exact.
    */
  def userStateAccounting(df: DataFrame, userCol: String, tsNs: String,
      windowNs: Long): DataFrame = {
    val acts = df
      .select(col(userCol).as("u"), expr(s"$tsNs div $windowNs").as("p"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("p")
    val marked = acts
      .withColumn("__prev", lag(col("p"), 1).over(w))
      .withColumn("__next", lead(col("p"), 1).over(w))
    val states = marked.groupBy(col("p"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("__prev").isNull, lit(1))).as("n_new"),
        count(when(col("__prev") === col("p") - 1, lit(1))).as("n_retained"),
        count(when(col("__prev").isNotNull && col("__prev") < col("p") - 1,
          lit(1))).as("n_resurrected"))
    val bounds = broadcast(acts.agg(min("p").as("__p0"), max("p").as("__p1")))
    val churn = marked.crossJoin(bounds)
      .where(col("p") < col("__p1") &&
        (col("__next").isNull || col("__next") > col("p") + 1))
      .groupBy((col("p") + 1).as("p"))
      .agg(count(lit(1)).as("n_churned"))
    val grid = bounds
      .select(explode(sequence(col("__p0"), col("__p1"))).as("p"))
    grid.join(states, Seq("p"), "left").join(churn, Seq("p"), "left")
      .select(col("p").as("period"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** Slowly-changing-dimension (type 2) history build from a change
    * log — the warehouse "effective dating" operator: per entity,
    * consecutive runs of the same `attrCol` value collapse into one
    * version row with `[valid_from_ns, valid_to_ns)` validity (NULL
    * valid_to = current version; an as-of join against the result is
    * `valid_from ≤ t AND (t < valid_to OR valid_to IS NULL)`). Output:
    * `(userCol, version, attrCol, valid_from_ns, valid_to_ns, n_events,
    * is_current)`.
    *
    * Scale shape: one entity-partitioned window pass (change marking +
    * running version number), one (entity, version) combinable
    * aggregate, one second window over the VERSION grain (rows = number
    * of changes, not events) for the interval close-off. No self-joins.
    */
  def scd2Intervals(df: DataFrame, userCol: String, tsNs: String,
      attrCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsNs), col(tieBreak))
    val prev = lag(col(attrCol), 1).over(w)
    val marked = df
      .withColumn("__chg",
        when(prev.isNull || prev =!= col(attrCol), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val runs = marked.groupBy(col(userCol), col("version"), col(attrCol))
      .agg(min(col(tsNs)).as("valid_from_ns"), count(lit(1)).as("n_events"))
    val vw = Window.partitionBy(col(userCol)).orderBy(col("version"))
    runs
      .withColumn("valid_to_ns", lead(col("valid_from_ns"), 1).over(vw))
      .withColumn("is_current", col("valid_to_ns").isNull)
      .select(col(userCol), col("version"), col(attrCol),
        col("valid_from_ns"), col("valid_to_ns"), col("n_events"),
        col("is_current"))
  }

  /** Inter-arrival statistics per key — the Poisson-process health
    * check behind capacity planning: consecutive-event gaps (ordered by
    * time with `tieBreak`), their exact integer mean, the exponential
    * MLE rate λ = 1/mean (per second), and the exact interpolated
    * median gap. Output: `(keyCol, n_gaps, mean_gap_sec, lambda_per_sec,
    * p50_gap_sec)`.
    *
    * Scale shape: one key-partitioned window pass for the gaps, one
    * combinable sum/count aggregate; the median reuses
    * [[Percentiles.exact]] (two shuffles at (key, value) grain). Gap
    * sums are int64-exact, so both engines reach each division
    * bit-identically.
    */
  def interArrival(df: DataFrame, keyCol: String, tsNs: String,
      tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsNs), col(tieBreak))
    val gaps = Caches.persist(df
      .withColumn("__gap", col(tsNs) - lag(col(tsNs), 1).over(w))
      .where(col("__gap").isNotNull)
      .select(col(keyCol), col("__gap")))
    val stats = gaps.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"), sum("__gap").as("__sum"))
    val med = Percentiles.exact(gaps, Seq(keyCol), "__gap",
      Seq(0.5 -> "__p50"))
    stats.join(med.select(col(keyCol), col("__p50")), Seq(keyCol))
      .select(col(keyCol), col("n_gaps"),
        round(col("__sum").cast("double") / col("n_gaps") / 1e9, 6)
          .as("mean_gap_sec"),
        round(col("n_gaps").cast("double") * 1e9 / col("__sum"), 6)
          .as("lambda_per_sec"),
        round(col("__p50") / 1e9, 6).as("p50_gap_sec"))
  }

  /** Session entry/exit audit — per entry event-type: session count,
    * bounce rate (single-event sessions) and the modal exit type with
    * its share. The landing-page report over [[sessionize]]'s output.
    * Output: `(entry_type, n_sessions, n_bounces, bounce_rate,
    * top_exit_type, top_exit_share)`.
    *
    * Scale shape: sessionize's one user-partitioned window, a
    * (user, session) combinable pack into first/last/count, then two
    * small aggregates at (entry, exit) grain with a rank window over
    * the exit-type distribution (bounded by the type cardinality).
    */
  def sessionEntryExit(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String, gapNs: Long): DataFrame = {
    val sess = sessionize(df, userCol, tsNs, gapNs)
    val packed = sess.groupBy(col(userCol), col("session_id"))
      .agg(
        min(struct(col(tsNs), col(tieBreak), col(typeCol))).as("__first"),
        max(struct(col(tsNs), col(tieBreak), col(typeCol))).as("__last"),
        count(lit(1)).as("__n"))
      .select(col("__first")(typeCol).as("entry_type"),
        col("__last")(typeCol).as("exit_type"), col("__n"))
    val byPair = packed.groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("__np"),
        count(when(col("__n") === 1, lit(1))).as("__nb"))
    val byEntry = byPair.groupBy("entry_type")
      .agg(sum("__np").as("n_sessions"), sum("__nb").as("n_bounces"))
    val rw = Window.partitionBy(col("entry_type"))
      .orderBy(col("__np").desc, col("exit_type").asc)
    val topExit = byPair
      .withColumn("__rk", row_number().over(rw))
      .where(col("__rk") === 1)
      .select(col("entry_type"), col("exit_type").as("top_exit_type"),
        col("__np").as("__topn"))
    byEntry.join(topExit, Seq("entry_type"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") / col("n_sessions"), 6)
          .as("bounce_rate"),
        col("top_exit_type"),
        round(col("__topn").cast("double") / col("n_sessions"), 6)
          .as("top_exit_share"))
  }

  /** Purged + embargoed temporal split — the leakage-safe
    * train/test protocol for time-ordered data (the purging/embargo
    * discipline from the financial-ML cross-validation literature,
    * applied to a user-event stream): the time axis is cut at
    * fractions `trainFrac` < `testFrac` of the observed [min, max]
    * span; rows before the first cut are `train`, rows inside the gap
    * are `purged` (events whose labels/aggregates straddle the
    * boundary poison both sides), rows after the second cut are
    * `test` — EXCEPT rows of any user who was active inside the purge
    * window, which are `embargoed`: that user's post-gap behavior is
    * correlated with state built during the gap, the cross-boundary
    * leak a row-wise time cut misses. Emits every input row with its
    * `split` label so downstream writers can fan out by partition.
    *
    * Scale shape: the span bounds are a 1-row aggregate broadcast
    * back; splits are map-side comparisons on integer nanoseconds
    * (exact integer cut arithmetic — no float timestamps); the
    * embargo set is a distinct-user semi-join (users-sized, hashed) —
    * no shuffle ever carries more than the distinct purge-window
    * users beyond the one broadcast.
    */
  def embargoSplit(df: DataFrame, userCol: String, tsNs: String,
      trainFrac: (Int, Int) = (3, 5), testFrac: (Int, Int) = (7, 10))
      : DataFrame = {
    require(trainFrac._2 > 0 && testFrac._2 > 0)
    require(trainFrac._1.toLong * testFrac._2 <= testFrac._1.toLong * trainFrac._2,
      "train cut must not sit after the test cut")
    val bounds = df.agg(min(col(tsNs)).as("__mn"), max(col(tsNs)).as("__mx"))
    // integer cut points: mn + span·num div den, ALL in int64 ns — `/`
    // would promote to double, and epoch-ns magnitudes (~1.7e18) sit
    // far past 2^53 where doubles quantize to 128 ns steps; `div`
    // keeps both engines' cuts bit-identical (span ~3e16 ns/year ×
    // a small numerator stays far from int64 overflow)
    val withCuts = df.crossJoin(broadcast(bounds))
      .withColumn("__t0", col("__mn") +
        expr(s"((__mx - __mn) * ${trainFrac._1}) div ${trainFrac._2}"))
      .withColumn("__t1", col("__mn") +
        expr(s"((__mx - __mn) * ${testFrac._1}) div ${testFrac._2}"))
    val purgeUsers = withCuts
      .where(col(tsNs) > col("__t0") && col(tsNs) <= col("__t1"))
      .select(col(userCol)).distinct()
    withCuts
      .join(purgeUsers.withColumn("__embargoed", lit(true)), Seq(userCol), "left")
      .withColumn("split",
        when(col(tsNs) <= col("__t0"), lit("train"))
          .when(col(tsNs) <= col("__t1"), lit("purged"))
          .when(col("__embargoed"), lit("embargoed"))
          .otherwise(lit("test")))
      .drop("__mn", "__mx", "__t0", "__t1", "__embargoed")
  }

  /** Eventually-follows matrix (the process-mining relation behind
    * every discovered process map): for each ordered type pair
    * (a, b), how many users have SOME a-event strictly before some
    * b-event — i.e. min ts(a) < max ts(b)? Unlike [[transitions]]
    * (immediate successor) this sees skipped steps, and unlike
    * [[funnel]] it needs no fixed step list. `share` normalizes by
    * the users that have both types at all. Pure integer/timestamp
    * comparisons. Output per pair:
    * `from_type, to_type, n_follows, n_both, share` (1e-6 grid).
    *
    * Scale shape: one (user × type) min/max aggregate, then a
    * per-user type×type self-join bounded by the type-count square —
    * never event-pair work.
    */
  def eventuallyFollows(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String): DataFrame = {
    val per = df.groupBy(col(userCol).as("__u"), col(typeCol).as("__ty"))
      .agg(min(col(tsNs)).as("__mn"), max(col(tsNs)).as("__mx"))
    val a = per.select(col("__u"), col("__ty").as("from_type"),
      col("__mn"))
    val b = per.select(col("__u"), col("__ty").as("to_type"),
      col("__mx"))
    val joined = a.join(b, Seq("__u"))
      .where(col("from_type") =!= col("to_type"))
    val counts = joined.groupBy("from_type", "to_type")
      .agg(sum(when(col("__mn") < col("__mx"), 1L).otherwise(0L))
        .as("n_follows"), count(lit(1)).as("n_both"))
    def g6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    counts.select(col("from_type"), col("to_type"), col("n_follows"),
      col("n_both"),
      g6(col("n_follows").cast("double") / col("n_both")).as("share"))
      .orderBy("from_type", "to_type")
  }

  /** Entropy rate of the first-order event-type Markov chain —
    * H(next | current) in nats, the one-number predictability of user
    * behavior (0 = deterministic next step, ln k = uniform chaos; the
    * sequence-domain sibling of q359's Theil U, which conditions on a
    * static attribute instead). Reduces to the q146 ln-sum identity
    * over transition counts: H = (B − A)/N with A = Σ_ij c·ln c,
    * B = Σ_i n_i·ln n_i — each term quantized to the 1e-6 grid before
    * its cross-partition sum. The normalizer ln(k) is computed from
    * the same identity's integers in both engines. Output one row:
    * `n_transitions, n_states, h_rate, h_max, predictability`
    * (1e-6 grids; predictability = 1 − H/ln k).
    *
    * Scale shape: one windowed lead per user (the [[transitions]]
    * pass), then type²-grain algebra.
    */
  def markovEntropyRate(df: DataFrame, userCol: String, tsNs: String,
      typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsNs), col(tieBreak))
    def lnTerm(c: Column): Column =
      floor(c.cast("double") * log(c.cast("double")) * 1e6 + 0.5)
        .cast("long")
    // persisted: three aggregates (A, B, n_states) derive from it — the
    // per-user lead-window corpus pass must run once, not three times
    val cells = Caches.persist(
      df.withColumn("__next", lead(col(typeCol), 1).over(w))
        .where(col("__next").isNotNull)
        .groupBy(col(typeCol).as("__f"), col("__next").as("__t"))
        .agg(count(lit(1)).as("__c")))
    val a = cells.agg(sum(lnTerm(col("__c"))).as("__la"),
      sum("__c").as("__N"))
    val b = cells.groupBy("__f").agg(sum("__c").as("__nf"))
      .agg(sum(lnTerm(col("__nf"))).as("__lb"))
    // state count over the FULL state set (sources ∪ targets): a type
    // appearing only as a transition target still belongs to the
    // chain, and H(next|cur) ≤ ln|targets| ≤ ln k keeps
    // predictability in [0, 1] — normalizing by source-only
    // cardinality could push it negative.
    val k = cells.select(col("__f").as("__s"))
      .union(cells.select(col("__t").as("__s")))
      .agg(count_distinct(col("__s")).as("n_states"))
    val nD = col("__N").cast("double")
    val h = (col("__lb").cast("double") - col("__la").cast("double")) /
      1e6 / nD
    val hMax = log(col("n_states").cast("double"))
    def g6(x: Column): Column =
      when(x >= 0, floor(x * 1e6 + 0.5)).otherwise(-floor(-x * 1e6 + 0.5)) /
        1e6 + lit(0d)
    a.crossJoin(b).crossJoin(k)
      .select(col("__N").as("n_transitions"), col("n_states"),
        g6(h).as("h_rate"), g6(hMax).as("h_max"),
        when(col("n_states") > 1, g6(lit(1d) - h / hMax))
          .as("predictability"))
  }

  /** Viterbi decoding of per-user event sequences under a fixed
    * 2-state HMM — the max-probability hidden-state path score, the
    * sequence-labeling primitive behind engagement/churn segmentation
    * ("is this user's recent cadence better explained by the ACTIVE
    * or the LAPSING regime?"). The observation alphabet is the
    * inter-event gap bucket (0: < 1 h, 1: < 1 d, 2: ≥ 1 d; a user's
    * first event observes the neutral bucket 1), and the model is a
    * broadcast-scale constant: log-probabilities pre-rounded to
    * integer micro-nats, so the whole DP is exact int64 arithmetic
    * and both engines reach bit-identical scores.
    *
    *   dp_1[k]   = π[k] + B[k][o_1]
    *   dp_t[k]   = max_j(dp_{t-1}[j] + A[j][k]) + B[k][o_t]
    *
    * Emits one row per user: `(user_id, n_steps, best_state,
    * best_logprob_micro)` — the Viterbi path score max_k dp_T[k] and
    * its terminal state (ties → state 0). Sequences are truncated to
    * the first `maxLen` events (deterministic ts/id order) BEFORE the
    * pack, so per-user state is bounded.
    *
    * Scale shape: one user-keyed exchange shared by the ordering
    * window and the pack aggregate; the DP itself is a per-row
    * `aggregate` over a ≤ maxLen array — partition-local, no further
    * shuffle, model constants inlined as literals (a K-state model is
    * metadata-scale; K=2 keeps the recurrence readable, the array
    * algebra generalizes).
    */
  def viterbiDecode(df: DataFrame, userCol: String, tsNs: String,
      idCol: String, maxLen: Int = 64): DataFrame = {
    val HourNs = 3600L * 1000 * 1000 * 1000
    val DayNs = 24L * HourNs
    // ln p in micro-nats: pi = (.6, .4); A = ((.7,.3),(.4,.6));
    // B[active] = (.6,.3,.1) over gap buckets, B[lapsing] = (.2,.3,.5)
    val pi0 = -510826L; val pi1 = -916291L
    val a00 = -356675L; val a01 = -1203973L
    val a10 = -916291L; val a11 = -510826L
    val b0 = array(lit(-510826L), lit(-1203973L), lit(-2302585L))
    val b1 = array(lit(-1609438L), lit(-1203973L), lit(-693147L))
    val w = Window.partitionBy(userCol).orderBy(col(tsNs), col(idCol))
    val gap = col(tsNs) - lag(col(tsNs), 1).over(w)
    val obs = when(gap.isNull, lit(1)).when(gap < HourNs, lit(0))
      .when(gap < DayNs, lit(1)).otherwise(lit(2))
    val packed = df
      .withColumn("__seq", row_number().over(w))
      .withColumn("__o", obs.cast("int"))
      .where(col("__seq") <= maxLen)
      .groupBy(col(userCol).as("user_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("__seq").as("s"),
          col("__o").as("o")))), e => e("o")).as("__obs"))
    val first = element_at(col("__obs"), 1)
    val init = array(
      lit(pi0) + element_at(b0, first + 1),
      lit(pi1) + element_at(b1, first + 1))
    val dp = aggregate(
      slice(col("__obs"), 2, maxLen), init,
      (acc, o) => array(
        greatest(element_at(acc, 1) + a00, element_at(acc, 2) + a10) +
          element_at(b0, o + 1),
        greatest(element_at(acc, 1) + a01, element_at(acc, 2) + a11) +
          element_at(b1, o + 1)))
    packed.select(col("user_id"),
      size(col("__obs")).cast("long").as("n_steps"),
      when(element_at(dp, 1) >= element_at(dp, 2), 0L).otherwise(1L)
        .as("best_state"),
      greatest(element_at(dp, 1), element_at(dp, 2))
        .as("best_logprob_micro"))
      .orderBy("user_id")
  }
}

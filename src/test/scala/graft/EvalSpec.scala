package graft

import org.apache.spark.sql.functions._
import graft.operators.Eval

class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("rankingEval: hand-computed nDCG/MRR/P@k on a 4-doc corpus") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana"),
      (3L, "apple"),
      (4L, "date fig")).toDF("doc_id", "text")
    val out = Eval.rankingEval(docs, "text", "doc_id",
      queries = Seq(1 -> Seq("apple", "banana", "cherry")), k = 10)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // docs 1-3 match ≥1 term; rel = distinct-terms−1 ⇒ 2, 1, 0
    assert(r.getAs[Long]("n_ranked") == 3)
    // rarest-term idf dominance ranks doc 1 first ⇒ first relevant at 1
    assert(r.getAs[Double]("mrr") == 1.0)
    // 2 of the 10 cut-off slots hold a relevant doc
    assert(r.getAs[Double]("precision_at_k") == 0.2)
    // ideal ordering is rel 2 then rel 1: (2²−1)/ln2 + (2¹−1)/ln3
    val idcg = BigDecimal(3d / math.log(2) + 1d / math.log(3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("idcg") == idcg)
    // the BM25 order IS the ideal order here, so nDCG is exactly 1
    assert(r.getAs[Double]("ndcg") == 1.0)
    assert(r.getAs[Double]("dcg") == r.getAs[Double]("idcg"))
  }

  test("rocAuc: perfect separation → 1, pure ties → 0.5, mixed hand case") {
    val df = Seq(
      // group a: positives strictly above negatives
      ("a", 0.9, true), ("a", 0.8, true), ("a", 0.2, false), ("a", 0.1, false),
      // group b: labels independent of the (all-tied) score
      ("b", 0.5, true), ("b", 0.5, false), ("b", 0.5, true), ("b", 0.5, false),
      // group c: one inversion among 2 pos / 2 neg ⇒ AUC = 3/4
      ("c", 0.9, true), ("c", 0.8, false), ("c", 0.7, true), ("c", 0.1, false))
      .toDF("g", "s", "y")
    val out = Eval.rocAuc(df, "g", col("s"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"), r.getAs[Double]("auc")))
      .toMap
    assert(out("a") == ((2L, 2L, 1.0)))
    assert(out("b") == ((2L, 2L, 0.5)))
    assert(out("c") == ((2L, 2L, 0.75)))
  }

  test("calibration: bin edges, clamp at 1.0, exact ECE") {
    val df = Seq(
      (0.05, true), (0.05, false), // bin 0: mean 0.05, frac_pos 0.5
      (0.95, true), // bin 9
      (1.0, true) // exactly 1.0 clamps into bin 9, not a phantom bin 10
    ).toDF("s", "y")
    val rows = Eval.calibration(df, col("s"), col("y"), bins = 10)
      .orderBy("bin").collect()
    assert(rows.map(_.getAs[Int]("bin")).toSeq == Seq(0, 9))
    val b0 = rows(0); val b9 = rows(1)
    assert(b0.getAs[Long]("n") == 2 && b0.getAs[Double]("mean_pred") == 0.05
      && b0.getAs[Double]("frac_pos") == 0.5)
    assert(b9.getAs[Long]("n") == 2 && b9.getAs[Double]("mean_pred") == 0.975
      && b9.getAs[Double]("frac_pos") == 1.0)
    // ECE = (2·|0.05−0.5| + 2·|0.975−1|)/4 = (0.9 + 0.05)/4
    assert(b0.getAs[Double]("ece") == 0.2375)
    assert(b9.getAs[Double]("ece") == 0.2375)
  }

  test("rankCorrelation: identity → +1/+1, reversal → −1/−1") {
    val a = (1L to 4L).map(i => (i, i)).toDF("id", "ra")
    val bSame = (1L to 4L).map(i => (i, i)).toDF("id", "rb")
    val bRev = (1L to 4L).map(i => (i, 5 - i)).toDF("id", "rb")
    val same = Eval.rankCorrelation(a, bSame, "id", "ra", "rb", depth = 8)
      .collect().head
    assert(same.getAs[Long]("n_common") == 4)
    assert(same.getAs[Double]("overlap_frac") == 0.5)
    assert(same.getAs[Double]("spearman_rho") == 1.0)
    assert(same.getAs[Double]("kendall_tau") == 1.0)
    val rev = Eval.rankCorrelation(a, bRev, "id", "ra", "rb", depth = 8)
      .collect().head
    assert(rev.getAs[Double]("spearman_rho") == -1.0)
    assert(rev.getAs[Double]("kendall_tau") == -1.0)
    Caches.releaseUnscoped()
  }

  test("selectionCurve: tie blocks kept whole, hand-computed deciles") {
    // scores 0.9×2 docs (10 tok), 0.5×3 (20 tok), 0.1×5 (2 tok)
    val rows = Seq.fill(2)((0.9, 10L)) ++ Seq.fill(3)((0.5, 20L)) ++
      Seq.fill(5)((0.1, 2L))
    val df = rows.toDF("s", "m")
    val got = Eval.selectionCurve(df, col("s"), col("m"))
      .orderBy("decile").collect()
      .map(r => (r.getAs[Int]("decile"), r.getAs[Double]("cutoff_score"),
        r.getAs[Long]("n_docs_kept"), r.getAs[Long]("n_tokens_kept")))
    assert(got.length == 10)
    assert(got(0) == ((1, 0.9, 2L, 20L)))
    assert(got(1) == ((2, 0.9, 2L, 20L)))
    assert(got(2) == ((3, 0.5, 5L, 80L)))
    assert(got(4) == ((5, 0.5, 5L, 80L)))
    assert(got(5) == ((6, 0.1, 10L, 90L)))
    assert(got(9) == ((10, 0.1, 10L, 90L)))
  }

  test("bootstrapCi: constant metric collapses the interval to the mean") {
    val df = (1L to 40L).map(i => ("g", i, 7L)).toDF("src", "id", "v")
    val r = Eval.bootstrapCi(df, "src", "id", col("v"), reps = 32).collect().head
    assert(r.getAs[Long]("n") == 40)
    assert(r.getAs[Double]("mean") == 7.0)
    assert(r.getAs[Double]("ci_lo") == 7.0)
    assert(r.getAs[Double]("ci_hi") == 7.0)
  }

  test("bootstrapCi: md5-deterministic (re-run identical) and ordered bounds") {
    val df = (1L to 60L).map(i => ("g", i, i)).toDF("src", "id", "v")
    val a = Eval.bootstrapCi(df, "src", "id", col("v"), reps = 32).collect().head
    val b = Eval.bootstrapCi(df, "src", "id", col("v"), reps = 32).collect().head
    assert(a == b)
    assert(a.getAs[Double]("ci_lo") <= a.getAs[Double]("ci_hi"))
    // the interval surrounds the point estimate for a symmetric metric
    assert(a.getAs[Double]("ci_lo") < a.getAs[Double]("mean"))
    assert(a.getAs[Double]("ci_hi") > a.getAs[Double]("mean"))
  }

  test("benfordAudit: digits from exact cents, χ² recomputed independently") {
    val df = Seq(1.23, 0.19, 20.45, 9.99, 0.87, 19.00).toDF("price")
    val out = Eval.benfordAudit(df, round(col("price") * 100).cast("long"))
      .orderBy("digit").collect()
    // cents 123, 19, 2045, 999, 87, 1900 → digits 1,1,2,9,8,1
    assert(out.map(r => r.getAs[Int]("digit") -> r.getAs[Long]("n")).toSeq ==
      Seq(1 -> 3L, 2 -> 1L, 8 -> 1L, 9 -> 1L))
    val n = Map(1 -> 3d, 2 -> 1d, 8 -> 1d, 9 -> 1d)
    val chi2 = (1 to 9).map { d =>
      val e = 6d * math.log10(1d + 1d / d)
      val o = n.getOrElse(d, 0d)
      math.pow(o - e, 2) / e
    }.sum
    // the audit's χ² only spans observed digits; unobserved digits
    // contribute their expectation: χ²_full = χ²_observed + Σ_miss e
    val missing = Seq(3, 4, 5, 6, 7).map(d => 6d * math.log10(1d + 1d / d)).sum
    val got = out.head.getAs[Double]("chi2")
    assert(math.abs(got - (chi2 - missing)) < 1e-6)
  }

  test("anovaF: hand-computed two-group decomposition") {
    // a = {1,2,3}, b = {5,6,7} (dollars): means 2 and 6, grand 4,
    // SSB = 3*4 + 3*4 = 24, SSW = 2 + 2 = 4, F = (24/1)/(4/4) = 24
    val df = Seq(("a", 1d), ("a", 2d), ("a", 3d),
      ("b", 5d), ("b", 6d), ("b", 7d)).toDF("g", "v")
    val r = graft.operators.Eval.anovaF(df, "g", "v").collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 24.0 && r.getDouble(3) == 4.0)
    assert(r.getDouble(4) == 24.0)
    assert(r.getDouble(5) == 0.8571) // eta^2 = 24/28
  }

  test("welchT: hand-computed symmetric pair; singleton group dropped") {
    val df = Seq(("a", 1d), ("a", 2d), ("a", 3d),
      ("b", 5d), ("b", 6d), ("b", 7d), ("c", 9d)).toDF("g", "v")
    val out = graft.operators.Eval.welchT(df, "g", "v").collect()
    assert(out.length == 1) // c has n = 1 -> excluded
    val r = out(0)
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getDouble(4) == 2.0 && r.getDouble(5) == 6.0)
    // va = vb = 1, sem = 2/3: t = -4/sqrt(2/3) = -4.899, df = 4
    assert(r.getDouble(6) == -4.899 && r.getDouble(7) == 4.0)
  }

  test("Forecast.periodogramDaily: 7-day impulse train peaks at period 7") {
    val day = 86400L * 1000 * 1000 * 1000
    // 35 days: baseline 3 events/day, +5 extra every 7th day
    val rows = (0 until 35).flatMap { t =>
      val n = if (t % 7 == 0) 8 else 3
      (0 until n).map(i => Tuple1(t * day + i))
    }
    val df = rows.toDF("ts")
    val power = graft.operators.Forecast.periodogramDaily(
        df, "ts", Seq(2, 3, 5, 7, 10, 15), maxDays = 36)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    // exact 5 complete cycles at p = 7: P(7) = (5·5)² = 625; period 5
    // also divides 35 so its constant leakage cancels exactly; the
    // other candidates keep incomplete-cycle leakage but stay far below
    assert(power(7) > 600.0, s"P(7) = ${power(7)}")
    assert(power(5) == 0.0, power.toString)
    assert(power.filterNot(_._1 == 7).values.forall(_ < 300.0),
      power.toString)
    assert(power(7) == power.values.max)
    // span guard trips when the literal table is too small
    intercept[IllegalArgumentException] {
      graft.operators.Forecast.periodogramDaily(
        df, "ts", Seq(7), maxDays = 20).collect()
    }
  }

  test("hurstDaily: hand-computed R/S on a linear ramp") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // day d carries d+1 events, d = 0..7 ⇒ y = [1..8]
    val rows = for (d <- 0 until 8; i <- 1 to d + 1)
      yield (d * DayNs + i, 1)
    val df = rows.toDF("tsns", "x")
    val out = graft.operators.Forecast.hurstDaily(df, "tsns", Seq(2, 4))
      .collect()
    val byN = out.map(r => r.getAs[Int]("block_size") -> r).toMap
    // n=2 blocks [a,a+1]: R = 0.5, S = 0.5 ⇒ R/S = 1 in all 4 blocks
    assert(byN(2).getAs[Long]("n_blocks") == 4)
    assert(byN(2).getAs[Double]("mean_rs") == 1.0)
    // n=4: R = 2, S = √1.25 ⇒ R/S = 1.788854 (1e-6 grid) in both
    assert(byN(4).getAs[Long]("n_blocks") == 2)
    assert(byN(4).getAs[Double]("mean_rs") == 1.788854)
    // slope over the 2 grid points, replayed exactly
    val tab = graft.operators.Forecast.hurstLnTable(Seq(2, 4)).toMap
    val y4 = math.floor(math.log(1788854d / 1e6) * 1e6 + 0.5)
    val slope = y4 / (tab(4) - tab(2)).toDouble
    val expected = math.floor(slope * 1e4 + 0.5) / 1e4
    assert(byN(2).getAs[Double]("hurst") == expected)
    assert(byN(4).getAs[Double]("hurst") == expected)
  }

  test("ccfDaily: anti-correlated daily series at every lag") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // view counts [1,2,3,4], purchase counts [4,3,2,1]
    val rows =
      (for (d <- 0 until 4; i <- 1 to d + 1)
        yield (d * DayNs + i, "view")) ++
      (for (d <- 0 until 4; i <- 1 to 4 - d)
        yield (d * DayNs + 100 + i, "purchase"))
    val df = rows.toDF("tsns", "ty")
    val out = graft.operators.Forecast
      .ccfDaily(df, "tsns", "ty", "view", "purchase", maxLag = 1)
      .collect().map(r => r.getAs[Int]("lag") ->
        (r.getAs[Long]("n_overlap"), r.getAs[Double]("r"))).toMap
    assert(out(0) == ((4L, -1.0)))
    assert(out(1) == ((3L, -1.0))) // [1,2,3] vs [3,2,1]
    assert(out(-1) == ((3L, -1.0))) // [2,3,4] vs [4,3,2]
  }

  test("seasonalIndicesDaily: period-3 pattern, zero-centered indices") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // y = [3,1,1,3,1,1,3]: constant MA(3) trend 5/3 everywhere
    val y = Seq(3, 1, 1, 3, 1, 1, 3)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val out = graft.operators.Forecast
      .seasonalIndicesDaily(rows.toDF("tsns", "x"), "tsns", period = 3)
      .collect().map(r => r.getAs[Long]("phase") ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("raw_index"),
          r.getAs[Double]("seasonal"))).toMap
    assert(out(0L) == ((1L, 1.333333, 1.333333)))
    assert(out(1L) == ((2L, -0.666667, -0.666667)))
    assert(out(2L) == ((2L, -0.666667, -0.666667)))
  }

  test("spectralEntropyDaily: pure alternation concentrates all power") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val y = Seq(3, 1, 3, 1, 3, 1, 3, 1)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val r = graft.operators.Forecast
      .spectralEntropyDaily(rows.toDF("tsns", "x"), "tsns", Seq(2, 4))
      .collect().head
    assert(r.getAs[Long]("n_periods") == 2)
    assert(r.getAs[Long]("k_positive") == 1) // period 4 has zero power
    assert(r.getAs[Double]("entropy") == 0.0)
    assert(r.getAs[Double]("entropy_norm") == 0.0)
    assert(r.getAs[Double]("max_share") == 1.0)
  }

  test("ols2: exact linear fit recovered, collinear group goes NULL") {
    // g1: y = 10 + 2·x1 + 3·x2 exactly; g2: x2 = x1 (singular normal eqs)
    val rows = Seq(
      ("g1", 1L, 1L, 15L), ("g1", 2L, 1L, 17L), ("g1", 1L, 2L, 18L),
      ("g1", 3L, 2L, 22L), ("g1", 2L, 3L, 23L), ("g1", 4L, 1L, 21L),
      ("g2", 1L, 1L, 5L), ("g2", 2L, 2L, 8L), ("g2", 3L, 3L, 11L))
      .toDF("g", "x1", "x2", "y")
    val out = Eval.ols2(rows, "g", col("y"), col("x1"), col("x2"))
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    val g1 = out("g1")
    assert(g1.getAs[Long]("n") == 6)
    assert(g1.getAs[Double]("b0") == 10.0)
    assert(g1.getAs[Double]("b1") == 2.0)
    assert(g1.getAs[Double]("b2") == 3.0)
    assert(g1.getAs[Double]("r2") == 1.0)
    assert(out("g2").isNullAt(out("g2").fieldIndex("b0")))
  }

  test("giniSplit: hand-computed best threshold over 4 buckets") {
    val df = Seq((100L, "R"), (200L, "N"), (300L, "R"), (400L, "N"),
      (500L, "R"), (600L, "N")).toDF("x", "f")
    val r = Eval.giniSplit(df, col("x"), col("f") === "R", bins = 4)
      .collect().head
    assert(r.getAs[Long]("n") == 6 && r.getAs[Long]("n_pos") == 3)
    // candidates: thr 200 → 0.5, thr 300 → 4/9, thr 400 → 0.5
    assert(r.getAs[Long]("best_threshold") == 300)
    assert(r.getAs[Long]("n_left") == 3)
    assert(r.getAs[Double]("gini_root") == 0.5)
    assert(r.getAs[Double]("gini_split") == 0.444444)
    assert(r.getAs[Double]("gain") == 0.055556)
  }

  test("kendallTauDaily: perfectly anti-ordered series gives tau -1") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows =
      (for (d <- 0 until 4; i <- 1 to d + 1)
        yield (d * DayNs + i, "view")) ++
      (for (d <- 0 until 4; i <- 1 to 4 - d)
        yield (d * DayNs + 100 + i, "purchase"))
    val r = graft.operators.Forecast.kendallTauDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase")
      .collect().head
    assert(r.getAs[Long]("n_days") == 4 && r.getAs[Long]("n_pairs") == 6)
    assert(r.getAs[Long]("concordant") == 0)
    assert(r.getAs[Long]("discordant") == 6)
    assert(r.getAs[Long]("ties_a") == 0 && r.getAs[Long]("ties_b") == 0)
    assert(r.getAs[Double]("tau_b") == -1.0)
  }

  test("friedmanDaily: constant within-day ordering maxes chi2") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // both days: a=3, b=2, c=1 events → ranks 3/2/1 every day
    val rows = for (d <- 0 until 2; (ty, n) <- Seq("a" -> 3, "b" -> 2,
      "c" -> 1); i <- 1 to n) yield (d * DayNs + i * 10 + ty.hashCode % 7, ty)
    val r = graft.operators.Forecast.friedmanDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty").collect().head
    assert(r.getAs[Long]("n_blocks") == 2)
    assert(r.getAs[Long]("k_treatments") == 3)
    // 12/(2·3·4)·(36+16+4) − 3·2·4 = 28 − 24 = 4 (the n(k−1) max)
    assert(r.getAs[Double]("chi2_f") == 4.0)
    assert(r.getAs[Double]("tie_correction") == 1.0)
    assert(r.getAs[Double]("chi2_adj") == 4.0)
  }

  test("effectSizes: hand-computed d, g and Cliff's delta") {
    // A = {1,2,3}, B = {2,3,4}: unit variances, means 2 vs 3
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0)).toDF("g", "v")
    val r = Eval.effectSizes(df, "g", "v").collect().head
    assert(r.getAs[String]("group_a") == "a" &&
      r.getAs[String]("group_b") == "b")
    assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 3)
    assert(r.getAs[Double]("cohens_d") == -1.0) // (2−3)/1
    assert(r.getAs[Double]("hedges_g") == -0.8) // −1·(1 − 3/15)
    // gt = 1 (3>2), ties = 2, lt = 6 ⇒ (1−6)/9
    assert(r.getAs[Double]("cliffs_delta") == -0.555556)
  }

  test("leveneMean: hand-computed W on unequal spreads") {
    // A: |z| ≡ 1; B: z = {2,2,0,4} ⇒ ssb 2, ssw 8, F = 2/(8/6)
    val df = Seq(("a", 0.0), ("a", 2.0), ("a", 0.0), ("a", 2.0),
      ("b", 0.0), ("b", 0.0), ("b", 2.0), ("b", 6.0)).toDF("g", "v")
    val r = Eval.leveneMean(df, "g", "v").collect().head
    assert(r.getAs[Long]("k_groups") == 2 && r.getAs[Long]("n") == 8)
    assert(r.getAs[Double]("w_stat") == 1.5)
  }

  test("dtwDiurnal: one-bin shift warps to half the rigid cost") {
    val H6 = 6L * 3600 * 1000 * 1000 * 1000 // one 4-bin slot
    // views all in bin 0, purchases all in bin 1 (same shape, shifted)
    val rows = (1 to 5).map(i => (i * 1000L, "view")) ++
      (1 to 5).map(i => (H6 + i * 1000L, "purchase"))
    val r = graft.operators.Forecast.dtwDiurnal(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase",
      bins = 4).collect().head
    assert(r.getAs[Int]("n_bins") == 4)
    assert(r.getAs[Long]("dtw_dist_sq") == 25L)
    assert(r.getAs[Long]("diag_dist_sq") == 50L)
    assert(r.getAs[Double]("warp_gain") == 0.5)
  }

  test("fleissKappa: hand-computed agreement, incomplete item excluded") {
    val rows = Seq(
      (1, "a", 1), (1, "b", 1), (1, "c", 1),
      (2, "a", 1), (2, "b", 1), (2, "c", 0),
      (3, "a", 0), (3, "b", 0), (3, "c", 0),
      (4, "a", 1), (4, "b", 0), (4, "c", 0),
      (5, "a", 1), (5, "b", 1) // missing rater c → excluded
    ).toDF("i", "r", "x")
    val r = Eval.fleissKappa(rows, "i", "r", col("x") === 1)
      .collect().head
    assert(r.getAs[Long]("n_items") == 4)
    assert(r.getAs[Long]("m_raters") == 3)
    assert(r.getAs[Long]("n_excluded") == 1)
    assert(r.getAs[Double]("p_bar") == 0.666667) // 16/24
    assert(r.getAs[Double]("p_e") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.333333)
  }

  test("gumbelMaximaDaily: weekly maxima moments and return levels") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // week w peaks at 3 + w on its first day; other days 1 event
    val rows = for (d <- 0 until 28;
      i <- 1 to (if (d % 7 == 0) 3 + d / 7 else 1))
      yield (d * DayNs + i, 1)
    val r = graft.operators.Forecast.gumbelMaximaDaily(
      rows.toDF("tsns", "x"), "tsns").collect().head
    assert(r.getAs[Long]("n_blocks") == 4)
    assert(r.getAs[Double]("mean_max") == 4.5)
    val (c6pi, gamma, f4, _) = graft.operators.Forecast.gumbelConstants
    val sd = math.sqrt(5d / 3)
    def g4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    assert(r.getAs[Double]("sd_max") == g4(sd))
    val beta = sd * c6pi
    val mu = 4.5 - gamma * beta
    assert(r.getAs[Double]("beta") == g4(beta))
    assert(r.getAs[Double]("mu") == g4(mu))
    assert(r.getAs[Double]("ret4") == g4(mu + beta * f4))
  }

  test("wilcoxonSignedRank: hand-computed ranks, W and z") {
    // unit diffs (purchase − view): +1, −2, +3 ⇒ W+ = 4, W− = 2
    val rows = Seq((1, "p", 2.0), (1, "v", 1.0),
      (2, "p", 1.0), (2, "v", 3.0),
      (3, "p", 4.0), (3, "v", 1.0)).toDF("u", "ty", "v")
    val r = Eval.wilcoxonSignedRank(rows, "u", "v",
      col("ty") === "p", col("ty") === "v").collect().head
    assert(r.getAs[Long]("n_nonzero") == 3)
    assert(r.getAs[Double]("w_plus") == 4.0)
    assert(r.getAs[Double]("w_minus") == 2.0)
    // z = (4 − 3)/√3.5
    assert(r.getAs[Double]("z") == 0.534522)
  }

  test("oddsRatioPanel: hand-computed OR/RR, no Haldane when full") {
    val rows = Seq((1, 1, 1), (2, 1, 1), (3, 1, 0), (4, 0, 1),
      (5, 0, 0), (6, 0, 0), (7, 0, 0), (8, 0, 0)).toDF("u", "e", "o")
    val r = Eval.oddsRatioPanel(rows, "u", col("e") === 1,
      col("o") === 1).collect().head
    assert(r.getAs[Long]("a") == 2 && r.getAs[Long]("b") == 1)
    assert(r.getAs[Long]("c") == 1 && r.getAs[Long]("d") == 4)
    assert(r.getAs[Double]("odds_ratio") == 8.0)
    val se = math.sqrt(1d / 2 + 1d / 1 + 1d / 1 + 1d / 4)
    assert(r.getAs[Double]("log_or_se") ==
      math.floor(se * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("relative_risk") == 3.333333) // (2/3)/(1/5)
    assert(r.getAs[Double]("or_ci_lo") ==
      math.floor(math.exp(math.log(8d) - 1.96 * se) * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("or_ci_hi") ==
      math.floor(math.exp(math.log(8d) + 1.96 * se) * 1e6 + 0.5) / 1e6)
  }

  test("dbscan1d: core island, border absorbed, isolated noise") {
    // values (in cents already): dense band 10-12, border 14, far 20
    val rows = (Seq.fill(3)(10L) ++ Seq.fill(3)(11L) ++
      Seq.fill(3)(12L) ++ Seq(14L) ++ Seq.fill(2)(20L)).toDF("c")
    val got = Eval.dbscan1d(rows, col("c"), eps = 2L, minPts = 5L)
      .collect().map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("min_value"),
          r.getAs[Long]("max_value"))).toMap
    assert(got(1L) == ((10L, 10L, 14L))) // 9 core pts + the border 14
    assert(got(-1L) == ((2L, 20L, 20L))) // isolated pair is noise
    assert(got.size == 2)
  }

  test("ipwEffect: stratified weighting removes the confounded sign") {
    // per-stratum ATE is +10 in both strata, but treatment is rare in
    // the high-outcome stratum ⇒ naive diff goes NEGATIVE; IPW = 10
    val rows = Seq(
      ("s1", 1, 10L), ("s1", 1, 20L), ("s1", 0, 0L), ("s1", 0, 10L),
      ("s2", 1, 100L), ("s2", 0, 80L), ("s2", 0, 90L), ("s2", 0, 100L),
      ("s3", 1, 50L), ("s3", 1, 60L) // all-treated: positivity violation
    ).toDF("st", "t", "y")
    val r = Eval.ipwEffect(rows, "st", col("t") === 1, col("y"))
      .collect().head
    assert(r.getAs[Long]("n") == 8)
    assert(r.getAs[Long]("n_treated") == 3)
    assert(r.getAs[Long]("n_excluded_strata") == 1)
    assert(r.getAs[Double]("naive_diff") == -12.666667)
    assert(r.getAs[Double]("ipw_ate") == 10.0)
  }

  test("seasonalEsdDaily: planted spike is the round-1 anomaly") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // period-3 pattern [3,1,1] over 9 days with a 50-event spike on
    // day 4 — the weekly-shape removal must still surface day 4 first
    val y = Seq(3, 1, 1, 3, 50, 1, 3, 1, 1)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val out = graft.operators.Forecast.seasonalEsdDaily(
      rows.toDF("tsns", "x"), "tsns", period = 3, maxAnomalies = 2)
      .collect()
    assert(out.length == 2)
    assert(out.head.getAs[Int]("round") == 1)
    assert(out.head.getAs[Long]("t") == 4L)
    assert(out.head.getAs[Double]("residual") > 10.0)
    // rounds pick distinct days
    assert(out.map(_.getAs[Long]("t")).distinct.length == 2)
  }

  test("haarEnergyDaily: pure alternation concentrates at level 1") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // 2 events on even days, 0 on odd, over the full 32-day window
    val rows = for (d <- 0 until 32 if d % 2 == 0; i <- 1 to 2)
      yield (d * DayNs + i, 1)
    val got = graft.operators.Forecast.haarEnergyDaily(
      rows.toDF("tsns", "x"), "tsns")
      .collect().map(r => r.getAs[Int]("level") ->
        (r.getAs[Long]("n_coeffs"), r.getAs[Double]("energy"),
          r.getAs[Double]("share"))).toMap
    assert(got(1) == ((16L, 16.0, 0.941176))) // 16 unit diffs
    assert(got(2) == ((8L, 0.0, 0.0)))
    assert(got(5) == ((1L, 0.0, 0.0)))
    assert(got(0) == ((1L, 1.0, 0.058824))) // the DC mean² term
  }

  test("ljungBoxDaily: hand-computed Q on an alternating series") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val y = Seq(1, 2, 1, 2)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val r = graft.operators.Forecast.ljungBoxDaily(
      rows.toDF("tsns", "x"), "tsns", maxLag = 3).collect().head
    assert(r.getAs[Long]("n_days") == 4)
    assert(r.getAs[Int]("max_lag") == 3)
    // ρ = (−.75, .5, −.25) ⇒ Q = 4·6·(0.1875+0.125+0.0625) = 9
    assert(r.getAs[Double]("q_stat") == 9.0)
  }

  test("grubbs: hand-computed max deviation and G") {
    val df = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val r = Eval.grubbs(df, "v").collect().head
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("mean") == 4.0)
    assert(r.getAs[Double]("sd") == 4.082483) // √(50/3)
    assert(r.getAs[Long]("outlier_value") == 1000L) // 10.00 in cents
    assert(r.getAs[Double]("g_stat") == 1.4697) // 6/√(50/3)
  }

  test("jackknifeRatio: hand-computed pseudo-ratios and CI") {
    // units (a=num, b=den): pseudo-ratios 12.5 / 10 / 7.5
    val df = Seq((1, 10L, 2L), (2, 20L, 2L), (3, 30L, 2L))
      .toDF("u", "a", "b")
    val r = Eval.jackknifeRatio(df, "u", col("a"), col("b"))
      .collect().head
    assert(r.getAs[Long]("n_units") == 3)
    assert(r.getAs[Double]("ratio") == 10.0)
    assert(r.getAs[Double]("jk_se") == 2.886751) // √((2/3)·12.5)
    assert(r.getAs[Double]("ci_lo") == 4.341967)
    assert(r.getAs[Double]("ci_hi") == 15.658033)
  }

  test("markovEntropyRate: deterministic chain is fully predictable") {
    // a→b→a→b: every next state is determined ⇒ H(next|cur) = 0
    val rows = Seq((1L, 10L, "a", 1L), (1L, 20L, "b", 2L),
      (1L, 30L, "a", 3L), (1L, 40L, "b", 4L), (2L, 5L, "c", 5L))
      .toDF("u", "tsns", "ty", "id")
    val r = graft.operators.Events.markovEntropyRate(rows, "u", "tsns",
      "ty", "id").collect().head
    assert(r.getAs[Long]("n_transitions") == 3)
    assert(r.getAs[Long]("n_states") == 2)
    assert(r.getAs[Double]("h_rate") == 0.0)
    assert(r.getAs[Double]("h_max") == 0.693147) // ln 2
    assert(r.getAs[Double]("predictability") == 1.0)
  }

  test("matrixProfileDaily: alternating series, phase-match neighbors") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // y alternates 1/2 over 10 days: same-phase windows at d² = 0,
    // cross-phase at 5; exclusion zone |i−j| ≥ 3
    val y = Seq(1, 2, 1, 2, 1, 2, 1, 2, 1, 2)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val got = graft.operators.Forecast.matrixProfileDaily(
      rows.toDF("tsns", "x"), "tsns", m = 5)
      .collect().map(r => (r.getAs[Long]("window_start"),
        r.getAs[Long]("nn_index"), r.getAs[Long]("dist_sq"))).toSeq
    assert(got == Seq((0L, 4L, 0L), (1L, 5L, 0L), (2L, 5L, 5L),
      (3L, 0L, 5L), (4L, 0L, 0L), (5L, 1L, 0L)), s"got $got")
  }

  test("hillTail: hand-quantized ln terms on a 4-point tail") {
    val df = Seq(100000L, 10000L, 10000L, 1000L).toDF("x")
    val r = Eval.hillTail(df, col("x"), k = 4).collect().head
    assert(r.getAs[Int]("k") == 4)
    assert(r.getAs[Long]("threshold") == 1000L)
    val s9 = math.floor(math.log(100d) * 1e9 + 0.5).toLong +
      2 * math.floor(math.log(10d) * 1e9 + 0.5).toLong
    val hill = s9.toDouble / 1e9 / 3
    assert(r.getAs[Double]("hill_mean") ==
      math.floor(hill * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("tail_index") ==
      math.floor(1d / hill * 1e4 + 0.5) / 1e4)
  }

  test("naiveForecastErrorsDaily: linear ramp, hand errors") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = for (d <- 0 until 14; i <- 1 to d + 1)
      yield (d * DayNs + i, 1)
    val r = graft.operators.Forecast.naiveForecastErrorsDaily(
      rows.toDF("tsns", "x"), "tsns").collect().head
    assert(r.getAs[Long]("n") == 7)
    assert(r.getAs[Double]("mae_naive1") == 1.0)
    assert(r.getAs[Double]("rmse_naive1") == 1.0)
    assert(r.getAs[Double]("mae_snaive") == 7.0)
    assert(r.getAs[Double]("rmse_snaive") == 7.0)
    assert(r.getAs[Double]("mase") == 7.0)
  }

  test("cochranQ: hand-computed 4-block 3-treatment case") {
    // Cj = (3,2,1), N = 6, ΣRi² = 14 ⇒ Q = 2·(42−36)/4 = 3
    val rows = Seq(
      (1, "a", 1), (1, "b", 1), (1, "c", 0),
      (2, "a", 1), (2, "b", 0), (2, "c", 0),
      (3, "a", 1), (3, "b", 1), (3, "c", 1),
      (4, "a", 0), (4, "b", 0), (4, "c", 0)).toDF("b", "t", "x")
    val r = Eval.cochranQ(rows, "b", "t", col("x") === 1)
      .collect().head
    assert(r.getAs[Long]("n_blocks") == 4)
    assert(r.getAs[Long]("k_treatments") == 3)
    assert(r.getAs[Double]("q_stat") == 3.0)
  }

  test("simpsonsAudit: within-stratum positive, pooled negative") {
    val rows = Seq(("A", 1L, 5L), ("A", 2L, 6L),
      ("B", 8L, 1L), ("B", 9L, 2L)).toDF("st", "x", "y")
    val out = Eval.simpsonsAudit(rows, "st", col("x"), col("y"))
      .collect().map(r => r.getAs[String]("stratum") ->
        (r.getAs[Int]("cov_sign"), r.getAs[Double]("r"),
          r.getAs[Boolean]("reverses_pooled"))).toMap
    assert(out("A") == ((1, 1.0, true)))
    assert(out("B") == ((1, 1.0, true)))
    assert(out("__all")._1 == -1 && !out("__all")._3)
    assert(out("__all")._2 < 0)
  }

  test("runsTestDaily: perfect alternation, hand-computed z") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val y = Seq(1, 2, 1, 2, 1)
    val rows = for (d <- y.indices; i <- 1 to y(d))
      yield (d * DayNs + i, 1)
    val r = graft.operators.Forecast.runsTestDaily(
      rows.toDF("tsns", "x"), "tsns").collect().head
    assert(r.getAs[Long]("n_moves") == 4)
    assert(r.getAs[Long]("n_up") == 2 && r.getAs[Long]("n_down") == 2)
    assert(r.getAs[Long]("runs") == 4)
    assert(r.getAs[Double]("expected_runs") == 3.0)
    assert(r.getAs[Double]("z") == 1.224745) // 1/√(2/3), floor grid
  }

  test("isotonicCalibration: violator pooled, fit monotone and exact") {
    // raw rates [0.5, 0.0, 0.5, 1.0] → PAVA pools buckets 0-1 to 0.25
    val df = Seq((0L, 1), (0L, 0), (1L, 0), (1L, 0),
      (2L, 1), (2L, 0), (3L, 1), (3L, 1)).toDF("x", "y")
    val out = Eval.isotonicCalibration(df, col("x"), col("y") === 1,
      bins = 4).collect()
    val fit = out.map(r => r.getAs[Long]("bucket") ->
      (r.getAs[Double]("raw_rate"), r.getAs[Double]("fitted_rate")))
      .toMap
    assert(fit(0L) == ((0.5, 0.25)))
    assert(fit(1L) == ((0.0, 0.25)))
    assert(fit(2L) == ((0.5, 0.5)))
    assert(fit(3L) == ((1.0, 1.0)))
  }

  test("signFlipTest: zero diffs give p = 1; basics deterministic") {
    // u1/u2: purchase mean == view mean ⇒ d = 0 ⇒ every rep extreme
    val zero = Seq((1L, "p", 5.0), (1L, "v", 5.0),
      (2L, "p", 3.0), (2L, "v", 3.0),
      (3L, "p", 9.0) // purchase-only unit is excluded
    ).toDF("u", "ty", "v")
    val r0 = Eval.signFlipTest(zero, "u", "v",
      col("ty") === "p", col("ty") === "v", reps = 50).collect().head
    assert(r0.getAs[Long]("n_units") == 2)
    assert(r0.getAs[Double]("t_obs") == 0.0)
    assert(r0.getAs[Long]("n_extreme") == 50)
    assert(r0.getAs[Double]("p_value") == 1.0)
    // two units, diffs {1, 2}: only same-sign flips reach |3| ⇒ p ≈ ½
    val two = Seq((1L, "p", 2.0), (1L, "v", 1.0),
      (2L, "p", 5.0), (2L, "v", 3.0)).toDF("u", "ty", "v")
    val r2 = Eval.signFlipTest(two, "u", "v",
      col("ty") === "p", col("ty") === "v", reps = 200).collect().head
    assert(r2.getAs[Double]("t_obs") == 3.0)
    val p = r2.getAs[Double]("p_value")
    assert(p > 0.3 && p < 0.7, s"p = $p")
  }

  test("mcnemar: hand-computed discordant cells, chi2 and correction") {
    // 10 units: both 2, a-only 3, b-only 1, neither 4
    val df = Seq(
      (1, 1, 1), (2, 1, 1), (3, 1, 0), (4, 1, 0), (5, 1, 0),
      (6, 0, 1), (7, 0, 0), (8, 0, 0), (9, 0, 0), (10, 0, 0))
      .toDF("u", "a", "b")
    val r = Eval.mcnemar(df, "u", col("a") === 1, col("b") === 1)
      .collect().head
    assert(r.getAs[Long]("n_units") == 10)
    assert(r.getAs[Long]("n_both") == 2)
    assert(r.getAs[Long]("n_a_only") == 3)
    assert(r.getAs[Long]("n_b_only") == 1)
    assert(r.getAs[Long]("n_neither") == 4)
    assert(r.getAs[Double]("chi2") == 1.0) // (3−1)²/4
    assert(r.getAs[Double]("chi2_cc") == 0.25) // (|2|−1)²/4
    // no discordant pairs → NULL statistics, not a division blow-up
    val deg = Eval.mcnemar(Seq((1, 1, 1), (2, 0, 0)).toDF("u", "a", "b"),
      "u", col("a") === 1, col("b") === 1).collect().head
    assert(deg.isNullAt(deg.fieldIndex("chi2")))
  }

  test("logRank: hand-computed O/E/V on a 6-subject two-group case") {
    // g1: 1*, 2*, 3 censored; g0: 1*, 4*, 5 censored (* = event)
    val df = Seq(
      (1, 1L, 1), (1, 2L, 1), (1, 3L, 0),
      (0, 1L, 1), (0, 4L, 1), (0, 5L, 0))
      .toDF("g", "t", "e")
    val r = Eval.logRank(df, "g", "t", "e").collect().head
    assert(r.getAs[Long]("n_group1") == 3 && r.getAs[Long]("n_group0") == 3)
    assert(r.getAs[Long]("deaths_total") == 4)
    assert(r.getAs[Long]("o1") == 2)
    // E: t=1 ⇒ 2·(3/6)=1; t=2 ⇒ 1·(2/4)=0.5; t=4 ⇒ 1·0=0
    assert(r.getAs[Double]("e1") == 1.5)
    // V: t=1 ⇒ 2·.5·.5·(4/5)=0.4; t=2 ⇒ 1·.5·.5·1=0.25; t=4 ⇒ 0
    assert(r.getAs[Double]("variance") == 0.65)
    assert(r.getAs[Double]("chi2") == 0.384615) // 0.25/0.65 on 1e-6 grid
  }

  test("averagePrecision: tie-blocked step AP, hand-computed") {
    val df = Seq((5, 1), (4, 0), (3, 1), (3, 1), (2, 0), (1, 1))
      .toDF("s", "y")
    val r = Eval.averagePrecision(df, col("s"), col("y") === 1)
      .collect().head
    assert(r.getAs[Long]("n_pos") == 4 && r.getAs[Long]("n_neg") == 2)
    // terms: 1·(1/1) + 2·(3/4) + 1·(4/6) = 3.16666667 ⇒ /4
    assert(r.getAs[Double]("pr_auc") == 0.791667)
    assert(r.getAs[Double]("prevalence") == 0.666667)
  }

  test("brierDecomposition: constant-p bins make the identity exact") {
    // bin 2: p=0.20, 1/4 positive; bin 8: p=0.80, 3/4 positive
    val df = Seq(
      (20L, 1), (20L, 0), (20L, 0), (20L, 0),
      (80L, 1), (80L, 1), (80L, 1), (80L, 0)).toDF("p", "y")
    val r = Eval.brierDecomposition(df, col("p"), col("y") === 1)
      .collect().head
    assert(r.getAs[Long]("n") == 8)
    assert(r.getAs[Double]("brier") == 0.19)
    assert(r.getAs[Double]("reliability") == 0.0025)
    assert(r.getAs[Double]("resolution") == 0.0625)
    assert(r.getAs[Double]("uncertainty") == 0.25)
    // p constant within each bin ⇒ REL − RES + UNC reconstructs Brier
    assert(r.getAs[Double]("residual") == 0.0)
  }

  test("mannKendallDaily: strict increase has S = n(n-1)/2, no ties") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = for (d <- 0 until 4; i <- 1 to d + 1)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.mannKendallDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 4 && r.getAs[Long]("s_stat") == 6)
    assert(r.getAs[Long]("n_value_groups") == 4)
    // var18 = n(n-1)(2n+5) with a zero tie sum = 4*3*13
    assert(r.getAs[Long]("var18") == 156)
    val expZ = math.floor(5d / math.sqrt(156d / 18d) * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("z") == expZ)
  }

  test("mannKendallDaily: tied days enter the tie-corrected variance") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(2, 2, 3)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.mannKendallDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("s_stat") == 2)
    assert(r.getAs[Long]("n_value_groups") == 2)
    // 3*2*11 - [tie group of 2: 2*1*9] = 66 - 18
    assert(r.getAs[Long]("var18") == 48)
  }

  test("grangerDaily: lagged cause beats the autoregression") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val a = Seq(5, 1, 4, 2, 3, 1, 5, 2)
    // b follows a with one day of lag, one value perturbed so the
    // unrestricted fit is near-exact but not exact
    val b = Seq(1, 5, 1, 4, 2, 3, 1, 6)
    val rows =
      (for ((c, d) <- a.zipWithIndex; i <- 1 to c)
        yield (d * DayNs + i, "view")) ++
      (for ((c, d) <- b.zipWithIndex; i <- 1 to c)
        yield (d * DayNs + 100 + i, "purchase"))
    val r = graft.operators.Forecast.grangerDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase")
      .collect().head
    assert(r.getAs[Long]("n_obs") == 7)
    assert(r.getAs[Double]("sse_u") < r.getAs[Double]("sse_r"))
    assert(r.getAs[Double]("f_stat") > 5d)
  }

  test("grangerDaily: constant effect series degenerates to NULLs") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows =
      (for (d <- 0 until 5; i <- 1 to d + 1)
        yield (d * DayNs + i, "view")) ++
      (for (d <- 0 until 5; i <- 1 to 2)
        yield (d * DayNs + 100 + i, "purchase"))
    val r = graft.operators.Forecast.grangerDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase")
      .collect().head
    // x1 is constant ⇒ mxx = 0 ⇒ every statistic is NULL
    assert(r.isNullAt(r.fieldIndex("sse_r")))
    assert(r.isNullAt(r.fieldIndex("f_stat")))
  }

  test("spearmanDaily: anti-ordered series gives rho -1") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows =
      (for (d <- 0 until 4; i <- 1 to d + 1)
        yield (d * DayNs + i, "view")) ++
      (for (d <- 0 until 4; i <- 1 to 4 - d)
        yield (d * DayNs + 100 + i, "purchase"))
    val r = graft.operators.Forecast.spearmanDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase")
      .collect().head
    assert(r.getAs[Long]("n_days") == 4)
    assert(r.getAs[Double]("rho") == -1.0)
  }

  test("spearmanDaily: constant series degenerates to NULL rho") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows =
      (for (d <- 0 until 3; i <- 1 to d + 1)
        yield (d * DayNs + i, "view")) ++
      (for (d <- 0 until 3; i <- 1 to 2)
        yield (d * DayNs + 100 + i, "purchase"))
    val r = graft.operators.Forecast.spearmanDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty", "view", "purchase")
      .collect().head
    assert(r.isNullAt(r.fieldIndex("rho")))
  }

  test("diurnalStationarity: identical hour profiles give chi2 0") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    // day 5 -> (5+4)%7 = 2 (Tuesday, weekday); day 3 -> 0 (Sunday)
    val rows = (for (i <- 1 to 4) yield (5 * DayNs + i, "e")) ++
      (for (i <- 1 to 2) yield (3 * DayNs + i, "e"))
    val r = graft.operators.Forecast.diurnalStationarity(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_events") == 6)
    assert(r.getAs[Long]("n_weekend_events") == 2)
    assert(r.getAs[Long]("n_cells_used") == 2)
    assert(r.getAs[Double]("chi2") == 0.0)
    assert(r.getAs[Double]("cramers_v") == 0.0)
  }

  test("diurnalStationarity: disjoint hours give chi2 = n, V = 1") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val HourNs = 3600L * 1000 * 1000 * 1000
    // weekday events at hour 0, weekend events at hour 1 — perfect
    // association, so chi2 = n (2 effective rows) and V = 1
    val rows = (for (i <- 1 to 4) yield (5 * DayNs + i, "e")) ++
      (for (i <- 1 to 2) yield (3 * DayNs + HourNs + i, "e"))
    val r = graft.operators.Forecast.diurnalStationarity(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_cells_used") == 4)
    assert(r.getAs[Double]("chi2") == 6.0)
    assert(r.getAs[Double]("cramers_v") == 1.0)
  }

  test("jarqueBeraDaily: symmetric light-tailed hand moments") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 2, 3, 4)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.jarqueBeraDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 4)
    // symmetric series: m3 = 0 exactly
    assert(r.getAs[Double]("skewness") == 0.0)
    // mirror the moment algebra for kurtosis / JB
    val n = 4d; val mean = 10d / n
    val m2 = 30d / n - mean * mean
    val m4 = 354d / n - 4d * mean * (100d / n) +
      6d * (mean * mean) * (30d / n) - 3d * (mean * mean * mean * mean)
    val kurt = m4 / (m2 * m2)
    assert(r.getAs[Double]("kurtosis") ==
      math.floor(kurt * 1e6 + 0.5) / 1e6)
    val jb = n / 6d * (0d + (kurt - 3d) * (kurt - 3d) / 4d)
    assert(r.getAs[Double]("jb_stat") == math.floor(jb * 1e4 + 0.5) / 1e4)
  }

  test("durbinWatsonDaily: exact-linear series has no residual, NULL dw") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = for (d <- 0 until 5; i <- 1 to d + 1)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.durbinWatsonDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 5)
    assert(r.isNullAt(r.fieldIndex("dw")))
  }

  test("durbinWatsonDaily: alternating residuals push dw toward 4") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(2, 1, 4, 3, 6, 5)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.durbinWatsonDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    // mirror the closed form + 1e-6 residual grid
    val ts = (0 until 6).map(_.toDouble); val ys = counts.map(_.toDouble)
    val k = 6d; val st = ts.sum; val stt = ts.map(t => t * t).sum
    val sty = ts.zip(ys).map { case (t, y) => t * y }.sum; val sy = ys.sum
    val c1 = (k * sty - st * sy) / (k * stt - st * st)
    val c0 = (sy - c1 * st) / k
    val e6 = ts.zip(ys).map { case (t, y) =>
      val e = y - (c0 + c1 * t)
      if (e >= 0) math.floor(e * 1e6 + 0.5).toLong
      else -math.floor(-e * 1e6 + 0.5).toLong
    }
    val see = e6.map(e => e * e).sum.toDouble
    val sdd = e6.sliding(2).map { case Seq(p, c) => (c - p) * (c - p) }
      .sum.toDouble
    val exp = math.floor(sdd / see * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("dw") == exp)
    assert(r.getAs[Double]("dw") > 2.5)
  }

  test("chowDaily: level jump between exactly-linear halves") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = (0 until 8).map(t => if (t < 4) t + 1 else t + 11)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.chowDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 8 && r.getAs[Long]("break_t") == 4)
    assert(r.getAs[Double]("sse_a") == 0.0)
    assert(r.getAs[Double]("sse_b") == 0.0)
    assert(r.getAs[Double]("sse_pooled") > 10d)
    // both half-fits are exact ⇒ the F denominator is 0 ⇒ NULL
    assert(r.isNullAt(r.fieldIndex("f_stat")))
  }

  test("chowDaily: identical halves give a small F (no break)") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 2, 1, 2, 1, 2, 1, 2)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.chowDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    // mirror the closed form on the hand series
    def sse(ts: Seq[Int], ys: Seq[Int]): Double = {
      val k = ts.size.toDouble
      val st = ts.sum.toDouble; val stt = ts.map(t => t * t).sum.toDouble
      val sty = ts.zip(ys).map { case (t, y) => t * y }.sum.toDouble
      val sy = ys.sum.toDouble; val syy = ys.map(y => y * y).sum.toDouble
      val c1 = (k * sty - st * sy) / (k * stt - st * st)
      val c0 = (sy - c1 * st) / k
      syy - (c0 * sy + c1 * sty)
    }
    val ys = counts
    val sseP = sse(0 until 8, ys)
    val sseA = sse(0 until 4, ys.take(4))
    val sseB = sse(4 until 8, ys.drop(4))
    val expF = math.floor(
      ((sseP - sseA - sseB) / 2d) / ((sseA + sseB) / 4d) * 1e4 + 0.5) / 1e4
    assert(r.getAs[Double]("f_stat") == expF)
    assert(r.getAs[Double]("f_stat") < 1d)
  }

  test("coxStuartDaily: strict increase makes every pair positive") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 2, 3, 4, 5, 6) // T=6: pairs (1,4)(2,5)(3,6)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.coxStuartDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 6 && r.getAs[Long]("n_pairs") == 3)
    assert(r.getAs[Long]("n_pos") == 3 && r.getAs[Long]("n_neg") == 0)
    assert(r.getAs[Long]("n_ties") == 0)
    val expZ = math.floor((3d - 1d) / math.sqrt(3d) * 1e6 + 0.5) / 1e6
    assert(r.getAs[Double]("z") == expZ)
  }

  test("coxStuartDaily: odd T drops the middle day; balanced signs → z 0") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(3, 1, 2, 1, 5) // T=5, h=3: (3,1)−, (1,5)+
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.coxStuartDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_pairs") == 2)
    assert(r.getAs[Long]("n_pos") == 1 && r.getAs[Long]("n_neg") == 1)
    assert(r.getAs[Double]("z") == 0d)
  }

  test("coxStuartDaily: all-tied pairs leave z NULL") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = for (d <- 0 until 4; i <- 1 to 2)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.coxStuartDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_ties") == 2)
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("pacfDaily: matches the Durbin-Levinson closed forms by hand") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(5, 1, 4, 2, 3, 1, 5, 2)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.pacfDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    val n = counts.size; val s = counts.sum
    val z = counts.map(y => (y.toLong * n - s).toDouble)
    def mom(k: Int): Double =
      (0 until n - k).map(t => z(t) * z(t + k)).sum
    val zz = z.map(v => v * v).sum
    val (r1, r2, r3) = (mom(1) / zz, mom(2) / zz, mom(3) / zz)
    val p22den = 1d - r1 * r1
    val p22 = (r2 - r1 * r1) / p22den
    val p21 = r1 * (1d - p22)
    val p33 = (r3 - p21 * r2 - p22 * r1) / (1d - p21 * r1 - p22 * r2)
    def g6(x: Double): Double =
      if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6
      else -math.floor(-x * 1e6 + 0.5) / 1e6
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Double]("r1") == g6(r1))
    assert(r.getAs[Double]("pacf1") == g6(r1))
    assert(r.getAs[Double]("pacf2") == g6(p22))
    assert(r.getAs[Double]("pacf3") == g6(p33))
  }

  test("pacfDaily: constant series degenerates to NULLs") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = for (d <- 0 until 6; i <- 1 to 3)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.pacfDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.isNullAt(r.fieldIndex("r1")))
    assert(r.isNullAt(r.fieldIndex("pacf3")))
  }

  test("bartlett: equal group variances give exactly 0") {
    // both groups have unbiased variance numerator 20000 cents² —
    // the grid ln terms cancel term for term
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Eval.bartlett(df, "g", "v").collect().head
    assert(r.getAs[Long]("k_groups") == 2 && r.getAs[Long]("n") == 6)
    assert(r.getAs[Double]("t_stat") == 0d)
    // C = 1 + (1/2 + 1/2 − 1/4) / 3
    assert(r.getAs[Double]("c_factor") == 1.25)
  }

  test("bartlett: unequal variances give a positive statistic") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 1.0), ("b", 5.0), ("b", 9.0)).toDF("g", "v")
    val r = Eval.bartlett(df, "g", "v").collect().head
    assert(r.getAs[Double]("t_stat") > 0d)
  }

  test("bartlett: a zero-variance group makes the statistic NULL") {
    val df = Seq(("a", 1.0), ("a", 2.0),
      ("b", 5.0), ("b", 5.0)).toDF("g", "v")
    val r = Eval.bartlett(df, "g", "v").collect().head
    assert(r.isNullAt(r.fieldIndex("t_stat")))
  }

  test("holmAdjust: hand step-down on four p-values") {
    val df = Seq((1L, 0.01), (2L, 0.02), (3L, 0.04), (4L, 0.5))
      .toDF("id", "p_raw")
    val out = Eval.holmAdjust(df, "id", "p_raw", alpha = 0.05)
      .orderBy("rank").collect()
    // adjusted: 4·.01, max(·,3·.02), max(·,2·.04), max(·,min(1·.5,1))
    assert(out.map(_.getAs[Double]("p_holm")).toSeq ==
      Seq(0.04, 0.06, 0.08, 0.5))
    assert(out.map(_.getAs[Boolean]("significant")).toSeq ==
      Seq(true, false, false, false))
  }

  test("holmAdjust: monotone and capped at 1") {
    val df = Seq((1L, 0.9), (2L, 0.8), (3L, 0.95)).toDF("id", "p_raw")
    val out = Eval.holmAdjust(df, "id", "p_raw", alpha = 0.05)
      .orderBy("rank").collect()
    val hs = out.map(_.getAs[Double]("p_holm")).toSeq
    assert(hs == hs.sorted && hs.forall(_ <= 1d))
    // 3·0.8 caps at 1.0 on rank 1 and the running max propagates it
    assert(hs == Seq(1.0, 1.0, 1.0))
  }

  test("bradleyTerry: symmetric record gives strength 1 for both") {
    val duels = Seq(("a", "b"), ("b", "a")).toDF("w", "l")
    val out = Eval.bradleyTerry(duels, "w", "l", iters = 2)
      .orderBy("item").collect()
    assert(out.map(_.getAs[Double]("strength")).toSeq == Seq(1.0, 1.0))
    assert(out.map(_.getAs[Long]("wins")).toSeq == Seq(1L, 1L))
    assert(out.map(_.getAs[Long]("comparisons")).toSeq == Seq(2L, 2L))
  }

  test("bradleyTerry: dominance orders strengths; zero wins → 0") {
    val duels = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"))
      .toDF("w", "l")
    val out = Eval.bradleyTerry(duels, "w", "l", iters = 2)
      .orderBy("item").collect()
    val m = out.map(r => r.getAs[String]("item") ->
      (r.getAs[Long]("wins"), r.getAs[Long]("comparisons"),
        r.getAs[Double]("strength"))).toMap
    assert(m("a")._1 == 3 && m("a")._2 == 3)
    assert(m("b")._1 == 1 && m("b")._2 == 3)
    assert(m("c")._1 == 0 && m("c")._2 == 2)
    assert(m("a")._3 > m("b")._3 && m("b")._3 > m("c")._3)
    assert(m("c")._3 == 0d)
    // normalized to mean 1 on the 1e-6 grid
    val mean = out.map(_.getAs[Double]("strength")).sum / 3d
    assert(math.abs(mean - 1d) < 1e-5)
  }

  test("fisherExact: lady-tasting-tea 2x2 matches the exact tails") {
    // n=8, r1=c1=4, a=3: p_left = 1 − C(4,4)C(4,0)/C(8,4) = 69/70,
    // two-sided (symmetric distribution) = 1 − P(k=2) = 34/70
    val rows = Seq(
      (true, true), (true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false), (false, false))
      .map { case (a, b) => ("s", a, b) }
    val r = Eval.fisherExact(rows.toDF("g", "fa", "fb"), "g", "fa", "fb")
      .collect().head
    assert(r.getAs[Long]("n") == 8 && r.getAs[Long]("n_a") == 4)
    assert(r.getAs[Long]("n_ab") == 3)
    assert(r.getAs[Boolean]("exact_ok"))
    assert(math.abs(r.getAs[Double]("p_two") - 34d / 70d) < 1e-4)
    assert(math.abs(r.getAs[Double]("p_left") - 69d / 70d) < 1e-4)
  }

  test("fisherExact: degenerate margin gives p = 1; big span flags") {
    val deg = Seq(("s", false, true), ("s", false, false))
    val r = Eval.fisherExact(deg.toDF("g", "fa", "fb"), "g", "fa", "fb")
      .collect().head
    assert(r.getAs[Double]("p_two") == 1d)
    // maxEnum below the span → NULL p, exact_ok false
    val big = (1 to 20).map(i => ("s", i % 2 == 0, i % 3 == 0))
    val r2 = Eval.fisherExact(big.toDF("g", "fa", "fb"), "g", "fa",
      "fb", maxEnum = 2L).collect().head
    assert(!r2.getAs[Boolean]("exact_ok"))
    assert(r2.isNullAt(r2.fieldIndex("p_two")))
  }

  test("cochranArmitage: hand case z = 2 on a perfect dose trend") {
    // doses 0,1,2 each n=2 with successes 0,1,2: T = 12, rad = 216,
    // z = 12/sqrt(216/6) = 2
    val rows = Seq((0L, false), (0L, false), (1L, true), (1L, false),
      (2L, true), (2L, true))
    val r = Eval.cochranArmitage(rows.toDF("dose", "hit"), "dose",
      "hit").collect().head
    assert(r.getAs[Long]("k_doses") == 3 && r.getAs[Long]("n") == 6)
    assert(r.getAs[Long]("t_num") == 12)
    assert(r.getAs[Double]("z") == 2d)
    assert(r.getAs[Double]("chi2") == 4d)
  }

  test("cochranArmitage: flat rates give z 0; one dose gives NULL") {
    val flat = Seq((0L, true), (0L, false), (1L, true), (1L, false))
    val r = Eval.cochranArmitage(flat.toDF("d", "h"), "d", "h")
      .collect().head
    assert(r.getAs[Long]("t_num") == 0 && r.getAs[Double]("z") == 0d)
    val one = Seq((0L, true), (0L, false))
    val r2 = Eval.cochranArmitage(one.toDF("d", "h"), "d", "h")
      .collect().head
    assert(r2.isNullAt(r2.fieldIndex("z")))
  }

  test("brownForsythe: hand medians and F on two 3-point groups") {
    // g1 {1,2,3}: med 2, spreads (half-cents) 200,0,200;
    // g2 {1,2,9}: med 2, spreads 200,0,1400
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 1.0), ("b", 2.0), ("b", 9.0)).toDF("g", "v")
    val r = Eval.brownForsythe(df, "g", "v").collect().head
    val sb2 = math.floor(400d * 400 / 3 * 1e2 + 0.5) +
      math.floor(1600d * 1600 / 3 * 1e2 + 0.5)
    val grand = 2000d * 2000 / 6
    val ssb = sb2 / 1e2 - grand
    val sst = (80000d + 2000000d) - grand
    val f = (ssb / 1d) / ((sst - ssb) / 4d)
    assert(r.getAs[Long]("k_groups") == 2 && r.getAs[Long]("n") == 6)
    assert(r.getAs[Long]("df1") == 1 && r.getAs[Long]("df2") == 4)
    assert(r.getAs[Double]("f_stat") == math.floor(f * 1e4 + 0.5) / 1e4)
  }

  test("brownForsythe: even-sized group averages the two middles") {
    // {1,2,3,10}: med2 = 200+300 = 500 (median 2.5)
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val r = Eval.brownForsythe(df, "g", "v").collect().head
    // spreads a: |200−500|,|400−500|,|600−500|,|2000−500| =
    // 300,100,100,1500 — F is finite and positive
    assert(r.getAs[Long]("n") == 7)
    assert(r.getAs[Double]("f_stat") > 0d)
  }

  test("tukeyHsd: two shifted groups give q = diff/sqrt(mse/3)") {
    // {1,2,3} vs {3,4,5}: means 2,4, pooled MSE = 1,
    // q = −2/sqrt(1/2·(1/3+1/3)) = −3.4641
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 3.0), ("b", 4.0), ("b", 5.0)).toDF("g", "v")
    val r = Eval.tukeyHsd(df, "g", "v").collect().head
    assert(r.getAs[String]("group_a") == "a")
    assert(r.getAs[Double]("mean_diff") == -2d)
    val q = -2d / math.sqrt(1d / 2d * (1d / 3 + 1d / 3))
    assert(r.getAs[Double]("q_stat") == -math.floor(-q * 1e4 + 0.5) / 1e4)
  }

  test("dunnTest: tie-free hand ranks on two 2-point groups") {
    // values 1,2|3,4 → mean ranks 1.5, 3.5; sig² = (4·5/12)(1/2+1/2)
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
    val r = Eval.dunnTest(df, "g", "v").collect().head
    assert(r.getAs[Double]("mean_rank_a") == 1.5d)
    assert(r.getAs[Double]("mean_rank_b") == 3.5d)
    val z = -2d / math.sqrt(20d / 12d)
    assert(r.getAs[Double]("z") == -math.floor(-z * 1e6 + 0.5) / 1e6)
  }

  test("mantelHaenszel: two identical strata pool to the common OR") {
    // each stratum a=2,b=1,c=1,d=2: OR_MH = (2·4/6)/(2·1/6) = 4;
    // CMH χ² = (|4−3|−.5)²/0.9
    val stratum = Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false))
    val rows = (stratum.map(x => ("s1", x._1, x._2)) ++
      stratum.map(x => ("s2", x._1, x._2)))
    val r = Eval.mantelHaenszel(rows.toDF("g", "e", "o"), "g", "e", "o")
      .collect().head
    assert(r.getAs[Long]("k_strata") == 2 && r.getAs[Long]("sum_a") == 4)
    assert(r.getAs[Double]("or_mh") == 4d)
    assert(r.getAs[Double]("chi2_cmh") ==
      math.floor(0.25 / 0.9 * 1e4 + 0.5) / 1e4)
  }

  test("cramerVonMises: hand CDF gaps on {1,2} vs {1,3}") {
    // gaps 0, .5, 0 over grid 100,200,300; Σcnt·gap² = .25;
    // T = .25·4/16 = 0.0625
    val df = Seq((1.0, true), (2.0, true), (1.0, false), (3.0, false))
      .toDF("v", "s")
    val r = Eval.cramerVonMises(df, "v", "s").collect().head
    assert(r.getAs[Long]("n") == 2 && r.getAs[Long]("m") == 2)
    assert(r.getAs[Long]("n_grid") == 3)
    assert(r.getAs[Double]("t_stat") == 0.0625)
  }

  test("cramerVonMises: identical samples give T = 0") {
    val df = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "s")
    val r = Eval.cramerVonMises(df, "v", "s").collect().head
    assert(r.getAs[Double]("t_stat") == 0d)
  }

  test("pageTrendDaily: dominant first type gives the hand z") {
    // A > B every one of 3 days; lexicographic scores j(A)=1, j(B)=2:
    // L = 12, E = 13.5, Var = 0.75 → z = −1.5/sqrt(.75)
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = (for (d <- 0 until 3; i <- 1 to 3)
      yield (d * DayNs + i, "A")) ++
      (for (d <- 0 until 3) yield (d * DayNs + 1L, "B"))
    val r = graft.operators.Forecast.pageTrendDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty").collect().head
    assert(r.getAs[Long]("n_days") == 3)
    assert(r.getAs[Long]("k_treatments") == 2)
    assert(r.getAs[Double]("l_stat") == 12d)
    val z = -1.5d / math.sqrt(0.75)
    assert(r.getAs[Double]("z") == -math.floor(-z * 1e6 + 0.5) / 1e6)
  }

  test("kendallWDaily: perfect day-over-day concordance gives W = 1") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val rows = (for (d <- 0 until 3; i <- 1 to 3)
      yield (d * DayNs + i, "A")) ++
      (for (d <- 0 until 3) yield (d * DayNs + 1L, "B"))
    val r = graft.operators.Forecast.kendallWDaily(
      rows.toDF("tsns", "ty"), "tsns", "ty").collect().head
    assert(r.getAs[Double]("w") == 1d)
    assert(r.getAs[Double]("chi2") == 3d)
  }

  test("breuschPaganDaily: hand moments on a 4-day series") {
    // counts 1,3,2,6: residuals .1,.7,−1.7,.9 → e2 grid
    // 10,70,−170,90; R² = 96000²/(20·1935360000)
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 3, 2, 6)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.breuschPaganDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    val r2 = 96000d * 96000 / (20d * 1935360000d)
    assert(r.getAs[Long]("n_days") == 4)
    assert(r.getAs[Double]("r2_aux") == math.floor(r2 * 1e6 + 0.5) / 1e6)
    assert(r.getAs[Double]("lm") == math.floor(4 * r2 * 1e4 + 0.5) / 1e4)
  }

  test("breuschPaganDaily: an exact linear fit leaves NULLs") {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 2, 3, 4)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.breuschPaganDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.isNullAt(r.fieldIndex("lm")))
  }

  test("dickeyFullerDaily: hand A/B/C moments") {
    // counts 2,1,3,1,4: A=11, B=−26, C=68, disc=72 →
    // β = −26/11, t = −26·sqrt(2/72)
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(2, 1, 3, 1, 4)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.dickeyFullerDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Long]("n_days") == 5 && r.getAs[Long]("n_pairs") == 4)
    assert(r.getAs[Double]("beta") ==
      -math.floor(26d / 11d * 1e6 + 0.5) / 1e6)
    val t = -26d * math.sqrt(2d / 72d)
    assert(r.getAs[Double]("t_stat") == -math.floor(-t * 1e4 + 0.5) / 1e4)
  }

  test("dickeyFullerDaily: zero discriminant leaves t NULL") {
    // counts 1,2,1,2: perfectly alternating Δ on two x values —
    // AC = B² exactly
    val DayNs = 86400L * 1000 * 1000 * 1000
    val counts = Seq(1, 2, 1, 2)
    val rows = for ((c, d) <- counts.zipWithIndex; i <- 1 to c)
      yield (d * DayNs + i, "e")
    val r = graft.operators.Forecast.dickeyFullerDaily(
      rows.toDF("tsns", "ty"), "tsns").collect().head
    assert(r.getAs[Double]("beta") == -2d)
    assert(r.isNullAt(r.fieldIndex("t_stat")))
  }
}

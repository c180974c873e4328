package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout, Skew}
import graft.vcf.{Bgzf, SyntheticVcf, Tabix, ToyVcf, VcfApi, VcfBuild, VcfHeader, VcfReader}

/** Specs for the scale techniques: salted skew joins and bucketed
  * co-located joins.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin ≡ plain join on skewed keys") {
    // one hot key with 5k rows, 50 cold keys
    val left = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (2 to 51).map(k => (k.toLong, k * 1000L))).toDF("k", "id")
    val right = (1 to 51).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
    val got = Skew.saltedJoin(left, right, Seq("k"), "id", salt = 8)
      .select("k", "id", "name").as[(Long, Long, String)].collect().sorted.toSeq
    val want = left.join(right, "k")
      .select("k", "id", "name").as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == want && got.size == 5050)
  }

  test("saltedJoinAuto: probe fires on a Zipfian key, stays off on uniform") {
    // the q285 contract: a hot key (90% of rows) must trip the
    // one-aggregate probe and the salted plan must equal the plain
    // join; a uniform key must NOT pay the ×salt replication
    // hot key 0 carries 90% of rows; the cold tail spreads over ~200
    // distinct keys so the max/mean ratio actually reflects the skew
    val zipf = (1 to 2000).map(i =>
      (if (i % 10 < 9) 0L else i.toLong, i.toLong)).toDF("k", "id")
    val uniform = (1 to 2000).map(i => ((i % 50).toLong, i.toLong)).toDF("k", "id")
    val dim = (0 until 2001).map(k => (k.toLong, s"d$k")).toDF("k", "name")
    assert(Skew.probeSalt(zipf, Seq("k")) > 0, "probe must fire on the hot key")
    assert(Skew.probeSalt(uniform, Seq("k")) == 0,
      "probe must stay off on a uniform key")
    val got = Skew.saltedJoinAuto(zipf, dim, Seq("k"), "id")
      .select("k", "id", "name").as[(Long, Long, String)].collect().sorted.toSeq
    val want = zipf.join(dim, "k")
      .select("k", "id", "name").as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == want && got.size == 2000)
    // uniform path plans the plain join — no __salt column anywhere
    val plainPlan = Skew.saltedJoinAuto(uniform, dim, Seq("k"), "id")
      .queryExecution.optimizedPlan.toString
    assert(!plainPlan.contains("__salt"), plainPlan)
  }

  test("semDedup/editDistancePairs candidate joins are equi, never all-pairs") {
    // the quadratic-taming claim IS the plan: the within-cluster /
    // within-block self-joins must hash on the cluster/block key —
    // a CartesianProduct or non-equi BroadcastNestedLoopJoin here
    // means pairwise cosine/Levenshtein over the whole corpus
    val emb = (0 until 64).map(i =>
        (i.toLong, Seq.tabulate(4)(j => if (j == i % 4) 1f else 0.01f * i)))
      .toDF("vec_id", "embedding")
    val sem = Dedup.semDedup(emb, "embedding", "vec_id",
      nLists = 4, iters = 1, threshold = 0.999, dims = 4)
    sem.collect()
    val semPlan = sem.queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct") &&
      !semPlan.contains("BroadcastNestedLoopJoin"), semPlan)

    val docs = (0 until 50).map(i => (i.toLong, s"pfx${i % 5} common tail $i"))
      .toDF("doc_id", "text")
    val fuzzy = Dedup.editDistancePairs(docs, "text", "doc_id")
    fuzzy.collect()
    val fuzzyPlan = fuzzy.queryExecution.executedPlan.toString
    assert(!fuzzyPlan.contains("CartesianProduct") &&
      !fuzzyPlan.contains("BroadcastNestedLoopJoin"), fuzzyPlan)
    Caches.releaseUnscoped()
  }

  test("hybridRrf truncates both rankings with TakeOrdered before windows") {
    // the rank windows are constant-size (depth rows) because each
    // ranking is TakeOrdered-truncated FIRST — a global-sort Exchange
    // feeding a corpus-sized single-partition window would be the
    // non-scalable shape
    val docs = (0 until 300).map(i => (i.toLong, s"spark data term$i"))
      .toDF("doc_id", "text")
    val emb = (0 until 300).map(i =>
        (i.toLong, Seq.tabulate(4)(j => (i * 7 % 13 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val out = operators.TextAnalysis.hybridRrf(docs, "text", "doc_id",
      emb, "embedding", "vec_id", Seq("spark", "data"), 0L, k = 10, depth = 25)
    assert(out.count() == 10)
    val plan = out.queryExecution.executedPlan.toString
    // lexical + semantic truncations (the final top-k is a third)
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pqKnn: queries broadcast over the code-only scan, ADC rank truncates map-side") {
    val df = (0 until 400).map(i =>
        (i.toLong, Seq.tabulate(8)(j => ((i * 7 + j) % 13).toDouble)))
      .toDF("vec_id", "embedding")
    val out = operators.Similarity.pqKnn(df, df.where($"vec_id" < 3),
      "embedding", "vec_id", k = 5, m = 2, ksub = 4, iters = 1, dims = 8)
    assert(out.count() == 15)
    val plan = out.queryExecution.executedPlan.toString
    // queries broadcast against the encoded corpus — never a shuffled
    // cartesian over raw vectors
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // rank<=k pushes a partial WindowGroupLimit below the query_id
    // exchange: per-partition top-k, so no query ever gathers the corpus
    assert(plan.contains("WindowGroupLimit"), plan)
    // the ONE shuffle is the rank exchange; encode + ADC scoring are
    // map-only over the corpus
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("VcfReader.parse plan size is O(1) in sample count") {
    // the genotype zip must not plant per-sample expression nodes: at
    // 1,000 samples a per-sample array(struct(...)) tree made Catalyst
    // replan + re-codegen ~5k nodes per action (30 min of driver time
    // on a 100k-variant build). Pin: plan node count at 1,000 samples
    // stays within a constant margin of the 3-sample plan.
    def planNodes(n: Int): Int = {
      val h = VcfHeader.parse(SyntheticVcf.header(n))
      val df = VcfReader.parse(
        Seq((SyntheticVcf.line(0, n, 10), 0, 0L)).toDF("value", "file", "offset"), h,
        Seq("<lines>"))
      df.queryExecution.analyzed
        .collect { case p => p.expressions.map(_.collect { case _ => 1 }.sum).sum }
        .sum
    }
    val small = planNodes(3)
    val wide = planNodes(1000)
    assert(wide <= small + 10, s"3 samples -> $small nodes, 1000 -> $wide")
  }

  test("VcfBuild.variantGeno plan size is O(1) in sample count") {
    // the sample-name literal and its zip moved from the parse to the
    // genotype explode; the same O(1) bound must hold there
    def planNodes(n: Int): Int = {
      val h = VcfHeader.parse(SyntheticVcf.header(n))
      val parsed = VcfReader.parse(
        Seq((SyntheticVcf.line(0, n, 10), 0, 0L)).toDF("value", "file", "offset"), h,
        Seq("<lines>"))
      VcfBuild.variantGeno(VcfBuild.withVariantIds(parsed), h)
        .queryExecution.analyzed
        .collect { case p => p.expressions.map(_.collect { case _ => 1 }.sum).sum }
        .sum
    }
    val small = planNodes(3)
    val wide = planNodes(1000)
    assert(wide <= small + 10, s"3 samples -> $small nodes, 1000 -> $wide")
  }

  test("the build's sorted staging row stays narrow") {
    // the global sort and the staging cache carry each variant's sample
    // columns as ONE string; a per-sample struct array there repeats
    // every sample name in every row and grows the sort's shuffle and
    // the cache several-fold
    import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
    val staged = VcfBuild.withVariantIds(
      SyntheticVcf.generate(spark, 10, nSamples = 4, nGenes = 2).df)
    assert(staged.schema("genotypes").dataType == StringType, staged.schema)
    // the input position breaks sort ties, then drops before the cache
    assert(!staged.columns.exists(Set("_file", "_offset", "file", "offset")), staged.schema)
    assert(!staged.schema.exists(_.dataType match {
      case ArrayType(_: StructType, _) => true
      case _ => false
    }), staged.schema)
  }

  test("burdenReport is one (sample, symbol) aggregate: no distinct, one geno-side shuffle") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Caches.scoped {
      val t = VcfBuild.build(SyntheticVcf.generate(spark, 200, nSamples = 4, nGenes = 5))
      val out = VcfApi.burdenReport(t.geno, t.impact.get, t.info, afMax = 0.1)
      out.collect()
      val plan = out.queryExecution.executedPlan
      assert(!plan.toString.contains("count(distinct"), plan)
      // shuffle keys by column name; only geno-side exchanges carry `sample`
      val keys = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.map { case a: Attribute => a.name; case e => e.sql }
      }
      assert(keys.filter(_.contains("sample")) == Seq(Seq("sample", "symbol")), plan)
    }
  }

  test("lookup point queries compile nothing once warm: new ids or genes reuse the code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft_codegen_pin")
    val n = 3000
    (1 to n).flatMap(i => Seq("S1", "S2").map(s => (i.toLong, s, i % 3)))
      .toDF("variant_id", "sample", "gt").write.parquet(s"$dir/geno")
    (1 to n).map(i => (i.toLong, (i % 100) / 1000.0))
      .toDF("variant_id", "af").write.parquet(s"$dir/info")
    // genes of 5, 6 and 7 ids (`isin` inlines up to 10 literals into
    // the generated code), the rest in one large gene
    val impact = (1 to n).map(i => (i.toLong,
      if (i <= 5) "A5" else if (i <= 11) "B6" else if (i <= 18) "C7" else "BIG"))
      .toDF("variant_id", "symbol")
    val geno = spark.read.parquet(s"$dir/geno")
    val info = spark.read.parquet(s"$dir/info")
    val idx = VcfApi.buildGeneIndex(impact)
    def ids(k: Int, from: Long) = (0 until k).map(i => from + 2L * i)
    // ToyVcf as tabix-indexed BGZF, for range reads
    val toy = s"$dir/toy.vcf.gz"
    Bgzf.writeLocalFile(toy, ToyVcf.lines)
    val toyPath = new org.apache.hadoop.fs.Path(toy)
    Tabix.build(toyPath.getFileSystem(spark.sessionState.newHadoopConf()), toyPath)
    def range(chr: String, beg: Long, end: Long) =
      VcfReader.readRange(spark, toy, chr, beg, end).df.collect()
    // per lookup kind: one warm-up call, then fresh arguments that must
    // add no compile
    val kinds: Seq[(String, () => Any, Seq[() => Any])] = Seq(
      ("id_pull", () => VcfApi.pullByIds(geno, ids(3, 100)).collect(),
        Seq(1, 5, 7, 50, 1500).map(k => () => VcfApi.pullByIds(geno, ids(k, 1)).collect())),
      ("gene_filter", () => VcfApi.filterByGeneIndexed(idx, info, "C7", 0.05).collect(),
        Seq("A5", "B6").map(g => () => VcfApi.filterByGeneIndexed(idx, info, g, 0.05).collect())),
      ("gene_pull", () => VcfApi.pullByGene(impact, info, geno, "C7", 0.05).collect(),
        Seq("A5", "B6").map(g => () => VcfApi.pullByGene(impact, info, geno, g, 0.05).collect())),
      ("region", () => range("1", 100L, 200L),
        Seq(("1", 150L, 300L), ("2", 1L, 260L), ("2", 390L, 1000L))
          .map { case (c, b, e) => () => range(c, b, e) }))
    for ((kind, warmUp, calls) <- kinds) {
      warmUp()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      calls.foreach(_())
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
        s"$kind: a fresh call compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before} classes")
    }
  }

  test("sampleToTokenBudget never windows over a bare group (skew-immune plan)") {
    // one giant group next to small ones: the correctness is covered by
    // the OperatorsSpec equivalence test; here we pin the PLAN — every
    // window partitions on (group, priority-bucket), so no group can
    // serialize into a single task at corpus scale
    val docs = ((0 until 2000).map(i => (i.toLong, "big", "tok " * 5)) ++
      (2000 until 2100).map(i => (i.toLong, s"s${i % 4}", "tok " * 3)))
      .toDF("doc_id", "source", "text")
    val out = operators.Mixture.sampleToTokenBudget(
      docs, "text", "doc_id", "source", budget = 500L)
    out.collect() // materialize so AQE finalizes the plan
    val windows = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("_bucket")),
      s"found a window not partitioned by priority bucket:\n${windows.mkString("\n")}")
  }

  test("minHashLsh salted candidate join ≡ plain on a boilerplate-hot bucket") {
    // 150 near-identical boilerplate docs land in ONE LSH bucket per
    // band (the pathological 100TB case: license headers); 30 distinct
    // docs ride along. Salting must spread the bucket without changing
    // the candidate/verified pair set.
    val boiler = (1 to 150).map(i =>
      (i.toLong, "this software is provided as is without warranty of any kind " +
        s"express or implied marker$i"))
    val distinct = (1 to 30).map(i =>
      (1000L + i, s"unique document $i about topic ${i * 37} with words ${i * 13} and ${i * 7}"))
    val docs = (boiler ++ distinct).toDF("id", "text")

    val plain = operators.Dedup.minHashLsh(docs, "text", "id", threshold = 0.3,
        saltHotBuckets = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    val salted = operators.Dedup.minHashLsh(docs, "text", "id", threshold = 0.3,
        saltHotBuckets = 8)
    // the salted plan really shuffles on (band, bucket, __salt)
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))
    val got = salted.select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(got == plain && got.size > 1000) // boilerplate pairs survive verify

    // DEFAULT parameters: the skew profile must detect the hot bucket
    // and salt on its own — no caller knob
    val auto = operators.Dedup.minHashLsh(docs, "text", "id", threshold = 0.3)
    assert(auto.queryExecution.executedPlan.toString.contains("__salt"),
      "auto mode must salt the boilerplate-hot bucket by itself")
    assert(auto.select("id_a", "id_b").as[(Long, Long)]
      .collect().sorted.toSeq == plain)
    // and a uniform corpus must NOT pay the salting replication
    val uniform = operators.Dedup.minHashLsh(
      distinct.toDF("id", "text"), "text", "id", threshold = 0.3)
    assert(!uniform.queryExecution.executedPlan.toString.contains("__salt"),
      "auto mode must not salt a uniform key distribution")
    Caches.releaseUnscoped()
  }

  test("keySkewProfile flags the hot key") {
    val df = ((1 to 1000).map(_ => 1L) ++ (2 to 20).map(_.toLong)).toDF("k")
    val hot = Skew.keySkewProfile(df, Seq("k"))
      .filter($"is_hot").select("k").as[Long].collect().toSeq
    assert(hot == Seq(1L))
  }

  test("custom BroadcastIntervalJoinExec ≡ naive theta join, and is planned") {
    val rnd = new scala.util.Random(13)
    val left = (1 to 400).map { i =>
      val s = rnd.nextInt(10000).toLong
      (i.toLong, if (rnd.nextBoolean()) "k1" else "k2", s, s + rnd.nextInt(400))
    }.toDF("lid", "k", "ls", "le")
    val right = (1 to 60).map { i =>
      val s = rnd.nextInt(10000).toLong
      (i.toLong, if (rnd.nextBoolean()) "k1" else "k2", s, s + rnd.nextInt(1500))
    }.toDF("rid", "k", "rs", "re")

    val execDf = operators.RangeJoin.overlapExec(
      left, right, Seq("k"), "ls", "le", "rs", "re")
    assert(execDf.queryExecution.executedPlan.toString
      .contains("BroadcastIntervalJoin"))
    val got = execDf.select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val naive = left.as("a").join(right.as("b"),
        $"a.k" === $"b.k" && $"a.ls" <= $"b.re" && $"a.le" >= $"b.rs")
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive && got.nonEmpty)

    // empty key list ⇒ single group (pure interval join)
    val noKey = operators.RangeJoin.overlapExec(
      left, right, Seq.empty, "ls", "le", "rs", "re")
    val naiveNoKey = left.join(right, $"ls" <= $"re" && $"le" >= $"rs").count()
    assert(noKey.count() == naiveNoKey)
  }

  test("PruneIntervalJoinColumns pushes pruning through the custom join") {
    val left = Seq((1L, 10L, 20L, "x", 1.0, "pad1"))
      .toDF("lid", "ls", "le", "extra1", "extra2", "extra3")
    val right = Seq((1L, 15L, 35L, "y", 2.0))
      .toDF("rid", "rs", "re", "rextra1", "rextra2")
    val joined = operators.RangeJoin.overlapExec(
        left, right, Seq.empty, "ls", "le", "rs", "re")
      .select("lid", "rid")
    val widths = joined.queryExecution.optimizedPlan.collect {
      case j: plans.IntervalJoinPlan => (j.left.output.size, j.right.output.size)
    }
    // pruned to join columns + projected ids: (lid, ls, le) and (rid, rs, re)
    assert(widths == Seq((3, 3)), s"got $widths")
    assert(joined.as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
  }

  test("overlapAuto picks exec for small builds, binned for large") {
    val left = Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("lid", "ls", "le")
    val right = Seq((1L, 15L, 35L)).toDF("rid", "rs", "re")
    val auto = operators.RangeJoin.overlapAuto(
      left, right, Seq.empty, "ls", "le", "rs", "re")
    assert(auto.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    assert(auto.count() == 2)
    val binned = operators.RangeJoin.overlapAuto(
      left, right, Seq.empty, "ls", "le", "rs", "re", broadcastRows = 0)
    assert(!binned.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    assert(binned.count() == 2)
  }

  test("overlapExec falls back to the binned plan above the build bound") {
    // the two-layer guard's upper layer: when plan statistics prove
    // the build side exceeds spark.graft.intervalJoin.maxBuild*,
    // overlapExec must return the binned decomposition — same rows,
    // no BroadcastIntervalJoin node — instead of trusting the caller
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong, s, s + rnd.nextInt(300))
    }.toDF("lid", "ls", "le")
    val right = (1 to 120).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong, s, s + rnd.nextInt(900))
    }.toDF("rid", "rs", "re")
    val key = plans.BroadcastIntervalJoinExec.MaxBuildBytesKey
    spark.conf.set(key, "64")
    try {
      val guarded = operators.RangeJoin.overlapExec(
        left, right, Seq.empty, "ls", "le", "rs", "re")
      assert(!guarded.queryExecution.executedPlan.toString
        .contains("BroadcastIntervalJoin"),
        "fallback did not engage — custom node still planned")
      // plan equivalence: the fallback's rows == the broadcast path's
      val got = guarded.select("lid", "rid")
        .as[(Long, Long)].collect().sorted.toSeq
      spark.conf.unset(key)
      val want = operators.RangeJoin.overlapExec(
          left, right, Seq.empty, "ls", "le", "rs", "re")
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("BroadcastIntervalJoinExec refuses an over-bound build at runtime") {
    // the lower layer: a caller constructing IntervalJoinPlan directly
    // (bypassing overlapExec's stats check) must hit the in-operator
    // row guard with a pointer to RangeJoin.overlap — never an
    // unbounded driver collect
    import org.apache.spark.sql.GraftBridge
    val left = Seq((1L, 10L, 20L)).toDF("lid", "ls", "le")
    val right = (1 to 500).map(i => (i.toLong, 10L, 30L))
      .toDF("rid", "rs", "re")
    GraftBridge.addStrategy(spark, plans.IntervalJoinStrategy)
    val lp = GraftBridge.logicalPlan(left)
    val rp = GraftBridge.logicalPlan(right)
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).get
    val df = GraftBridge.ofRows(spark, plans.IntervalJoinPlan(
      lp, rp, Nil, Nil, a(lp, "ls"), a(lp, "le"), a(rp, "rs"), a(rp, "re")))
    val key = plans.BroadcastIntervalJoinExec.MaxBuildRowsKey
    spark.conf.set(key, "100")
    try {
      val ex = intercept[Exception](df.count())
      def rootMsg(t: Throwable): String =
        (Option(t.getMessage).getOrElse("")) +
          Option(t.getCause).map(rootMsg).getOrElse("")
      assert(rootMsg(ex).contains("RangeJoin.overlap"), rootMsg(ex))
    } finally spark.conf.unset(key)
    // and with the default bound the same plan runs fine
    assert(df.count() == 500)
  }

  test("overlapAuto dispatch is statistics-based: no job, no plan re-execution") {
    val left = (1 to 200).map(i => (i.toLong, i * 10L, i * 10L + 5))
      .toDF("lid", "ls", "le")
    val right = (1 to 50).map(i => (i.toLong, i * 40L, i * 40L + 100))
      .toDF("rid", "rs", "re")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // both dispatch decisions must come from plan statistics alone —
      // the old implementation ran an eager right.count() job here
      val auto = operators.RangeJoin.overlapAuto(
        left, right, Seq.empty, "ls", "le", "rs", "re")
      val binned = operators.RangeJoin.overlapAuto(
        left, right, Seq.empty, "ls", "le", "rs", "re", broadcastRows = 0)
      // listener delivery is async: give any submitted job's events a
      // generous window to surface before asserting none did
      val deadline = System.nanoTime() + 500L * 1000 * 1000
      while (jobs == 0 && System.nanoTime() < deadline) Thread.sleep(25)
      assert(jobs == 0, s"dispatch ran $jobs job(s); must be stats-only")
      assert(auto.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
      assert(!binned.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
      assert(auto.count() == binned.count())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("interval probe binary-searches: sub-linear candidates on dense builds") {
    val n = 5000
    // dense single-key build side: n disjoint intervals sorted by start
    val right = (0 until n).map(i => (i.toLong, i * 10L, i * 10L + 8))
      .toDF("rid", "rs", "re")
    // each probe overlaps exactly one build interval, spread across the range
    val left = (0 until 100).map(i => (i.toLong, i * 490L, i * 490L + 3))
      .toDF("lid", "ls", "le")
    val df = operators.RangeJoin.overlapExec(
      left, right, Seq.empty, "ls", "le", "rs", "re")
    // collect() (not count()) so the metrics land on THIS plan instance
    assert(df.collect().length == 100)
    val exec = df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.BroadcastIntervalJoinExec => e
    }.get
    val steps = exec.metrics("probeSteps").value
    // a from-index-0 linear scan would examine ~ sum(position of match)
    // ≈ 100 probes × n/2 = 250k candidates; binary search lands at the
    // match so each probe examines O(1) from there
    assert(steps > 0 && steps <= 100 * 4, s"probeSteps $steps not sub-linear")
  }

  test("VcfApi.overlapJoin dispatches both branches through overlapAuto") {
    val tables = VcfBuild.build(VcfReader.fromLines(spark, ToyVcf.lines))
    val regions = Seq(("1", 150L, 350L), ("2", 100L, 200L)).toDF("chr", "start", "end")
    val auto = graft.vcf.VcfApi.overlapJoin(tables.info, regions)
    assert(auto.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    val ids = auto.select("variant_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L, 4L))
    val binned = graft.vcf.VcfApi.overlapJoin(tables.info, regions, broadcastRows = 0)
    assert(!binned.queryExecution.executedPlan.toString.contains("BroadcastIntervalJoin"))
    assert(binned.select("variant_id").as[Long].collect().sorted.toSeq == ids)
  }

  test("chr-partitioned info layout prunes directories for range pulls") {
    val dir = java.nio.file.Files.createTempDirectory("vcfchr").toString
    val tables = VcfBuild.build(VcfReader.fromLines(spark, ToyVcf.lines))
    tables.write(dir, partitionByChr = true)
    val info = spark.read.parquet(s"$dir/variant_info")
    val pulled = graft.vcf.VcfApi.pullByRange(info, "1", 150L, 350L)
    // partition filter reaches the scan: only the chr=1 directory read
    val scan = pulled.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("chr"))
    assert(pulled.select("variant_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("Layout.compact merges a many-small-file table, contents intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    spark.range(1000).selectExpr("id", "id % 7 AS k")
      .repartition(20).write.parquet(dir) // 20 tiny files
    val before = spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
    val rep = Layout.compact(spark, dir, targetBytes = 1L << 30)
    assert(rep.filesBefore == 20 && rep.filesAfter == 1 && rep.rows == 1000L)
    val after = spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
    assert(after == before)
    // sorted variant restores clustering while compacting
    val rep2 = Layout.compact(spark, dir, targetBytes = 10000L, sortWithinFiles = Seq("k"))
    assert(rep2.filesAfter >= 1 && rep2.rows == 1000L)
    val ks = spark.read.parquet(dir).select("k").as[Long].collect()
    assert(ks.length == 1000)
  }

  test("runtime bloom filter injects on a selective dim join (SMJ path)") {
    // the built-in scale path for selective joins too big to broadcast:
    // Catalyst builds a bloom filter from the filtered dim side and
    // pushes might_contain onto the fact scan — verify our parquet
    // layout composes with it when thresholds make it legal
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    spark.range(200000).selectExpr("id", "id % 1000 AS fk")
      .write.parquet(s"$dir/fact")
    spark.range(1000).selectExpr("id AS k", "id % 10 AS grp")
      .write.parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").where(col("grp") === 3)
      val joined = fact.join(dim, fact("fk") === dim("k"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter in:\n$plan")
      assert(joined.count() == 200000L / 10)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Layout.upsert: updates replace by key, inserts append, swap intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "name", "v").write.parquet(dir)
    val updates = Seq((2L, "B", 21), (4L, "d", 40)).toDF("k", "name", "v")
    val (before, nUp, after) = Layout.upsert(spark, dir, updates, Seq("k"))
    assert(before == 3L && nUp == 2L && after == 4L)
    val got = spark.read.parquet(dir).orderBy("k")
      .as[(Long, String, Int)].collect().toSeq
    assert(got == Seq((1L, "a", 10), (2L, "B", 21), (3L, "c", 30), (4L, "d", 40)))
  }

  test("Dedup.ingestNovel: batch-internal dups and seen fingerprints drop") {
    import graft.functions.textFingerprint
    val seen = Seq((0L, "already ingested doc")).toDF("doc_id", "text")
      .select(textFingerprint(col("text")).as("fp"))
    val batch = Seq(
      (10L, "already ingested doc"), // seen historically → drop
      (11L, "fresh doc one"), (12L, "fresh doc one"), // in-batch dup → keep min id
      (13L, "fresh doc two")).toDF("doc_id", "text")
    val got = Dedup.ingestNovel(batch, "text", "doc_id", seen)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
  }

  test("leakageSafeSplit never force-broadcasts the corpus-bounded cluster map") {
    // `comps` has one row per document in any near-dup pair — on a web
    // corpus that is O(corpus) rows, so a broadcast() HINT on the
    // join-back is a driver OOM at scale. The join must be unhinted:
    // with auto-broadcast disabled it has to plan as a shuffled join
    // (a hint would survive the -1 threshold and still produce a
    // BroadcastHashJoin). The only legal broadcast in the q110 plan is
    // the 1-row `spanning` crossing (BroadcastNestedLoopJoin).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0 until 40).map(i =>
          (i.toLong, if (i % 2 == 0) s"shared shingle body $i" else s"unique text $i here"))
        .toDF("doc_id", "text")
      val out = operators.TextAnalysis.leakageSafeSplit(docs, "text", "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"cluster-map join is force-broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled cluster-map join in:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Caches.releaseUnscoped()
    }
  }

  test("bucketedCoLocatedJoin plans with NO exchange on either side") {
    // the layout's whole point: the shuffle is paid at write time, so
    // the join must be a SortMergeJoin reading bucketed scans with no
    // Exchange. autoBroadcast is disabled so a small side can't dodge
    // the assertion via BroadcastHashJoin.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = (1 to 100).map(i => (i.toLong, s"o$i")).toDF("k", "a")
      val right = (1 to 300).map(i => ((i % 100 + 1).toLong, i.toLong))
        .toDF("k", "b")
      val joined = Layout.bucketedCoLocatedJoin(left, right, "k", 4,
        "scalespec_blj")
      val rows = joined.collect()
      assert(rows.length == 300)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // cleanup half of the per-driver-unique naming contract: after
      // the result is consumed, dropBucketedTables removes both
      // catalog tables (no stale graft_blj-style tables accumulate)
      val before = spark.catalog.listTables().collect()
        .count(_.name.startsWith("scalespec_blj"))
      assert(before == 2, s"expected 2 bucketed tables, saw $before")
      Layout.dropBucketedTables(spark, "scalespec_blj")
      val after = spark.catalog.listTables().collect()
        .count(_.name.startsWith("scalespec_blj"))
      assert(after == 0, s"bucketed tables survived drop: $after")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("importanceWeights persists its bucket counts (one pass per corpus)") {
    // docFeats feeds the raw model AND the scoring join; tgtBuckets
    // feeds the ratio join AND the totals. Unpersisted, Catalyst
    // re-tokenizes each corpus per consumer — at 100 TB that doubles
    // the dominant cost. The executed plan must read both through the
    // cache, and the only nested-loop joins are the 1-row totals
    // crossings.
    val raw = (0 until 30).map(i => (i.toLong, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text")
    val tgt = Seq(Tuple1("alpha beta target"), Tuple1("gamma delta"))
      .toDF("text")
    val out = operators.Mixture.importanceWeights(raw, tgt, "text", "doc_id", 32)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"bucket counts not persisted:\n$plan")
    Caches.releaseUnscoped()
  }

  test("Layout.zorder clusters BOTH dimensions tighter than hash layout") {
    import org.apache.spark.sql.functions.{col, max, min, spark_partition_id}
    // 100×100 grid; a good 2-D layout keeps each output partition's
    // x-range AND y-range compact, so min/max stats prune on either
    val grid = spark.range(10000)
      .select((col("id") % 100).as("x"), (col("id") / 100).cast("long").as("y"))
    def avgSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = df.withColumn("p", spark_partition_id())
        .groupBy("p")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .select("sx", "sy").as[(Long, Long)].collect()
      (spans.map(_._1).sum.toDouble / spans.length,
        spans.map(_._2).sum.toDouble / spans.length)
    }
    val (zx, zy) = avgSpans(Layout.zorder(grid, "x", "y", numFiles = 8, bits = 8))
    val (hx, hy) = avgSpans(grid.repartition(8))
    // hash layout spans ~the full 0..99 range in both dims; z-order
    // bands must be materially tighter in BOTH
    assert(zx < hx * 0.8 && zy < hy * 0.8, s"z spans ($zx,$zy) vs hash ($hx,$hy)")
  }

  test("covarianceMatrix runs ONE corpus pass: d-row aggregate is persisted") {
    // the d-group aggregate feeds both the cell explode and the means
    // branch; unpersisted, each branch re-runs the 64× posexplode over
    // the full corpus — at 100 TB that doubles the dominant cost
    val emb = (0 until 50).map(i => Tuple1(Seq(i.toDouble, 2d * i, 1d)))
      .toDF("embedding")
    val out = operators.Similarity.covarianceMatrix(emb, "embedding", dims = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"per-dimension sums not persisted:\n$plan")
    Caches.releaseUnscoped()
  }

  test("sourceJsDivergence persists (source,term,count): one corpus explode") {
    // counts feeds totals AND both self-join sides via dist — three
    // consumers of a full-corpus explode+agg without the persist
    val docs = (0 until 30).map(i => (i.toLong, s"alpha beta w${i % 5}", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = operators.TextAnalysis.sourceJsDivergence(docs, "text", "source")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"term counts not persisted:\n$plan")
    Caches.releaseUnscoped()
  }

  test("blocklistScreen keeps the term-dimension join broadcast under -1 threshold") {
    // the blocklist is bounded BY CONSTRUCTION (a term list), so its
    // join must carry an explicit broadcast hint that survives
    // auto-broadcast being disabled — the exploded token stream must
    // never shuffle on the term key
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0 until 20).map(i => (i.toLong, s"big data w$i fast"))
        .toDF("doc_id", "text")
      val out = operators.TextAnalysis.blocklistScreen(docs, "text", "doc_id",
        Seq("big" -> "size", "fast" -> "perf"))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"blocklist join lost its broadcast hint:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pairLift persists the distinct (basket,item) projection") {
    val baskets = (0 until 40).map(i => (i.toLong % 10, s"item${i % 4}"))
      .toDF("basket", "item")
    val out = operators.Itemsets.pairLift(baskets, "basket", "item")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"(basket,item) projection not persisted:\n$plan")
    Caches.releaseUnscoped()
  }

  test("rankingEval: rank cutoff plans a WindowGroupLimit, hits table persisted") {
    // the per-query ranking must be a map-side top-`depth` (partial
    // WindowGroupLimit below the query_id exchange), never a sort of
    // every scored doc into one partition; and the (query,doc,term)
    // hit table feeds both df-counts and scoring, so it must persist
    // rather than re-explode the corpus
    val docs = (0 until 200).map(i => (i.toLong,
      s"alpha ${if (i % 3 == 0) "beta" else "x"} term$i"))
      .toDF("doc_id", "text")
    val out = operators.Eval.rankingEval(docs, "text", "doc_id",
      Seq(1 -> Seq("alpha", "beta")), k = 5, depth = 20)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("InMemoryTableScan"), plan)
    Caches.releaseUnscoped()
  }

  test("sample-blocked kinship ≡ unblocked, per-cell pair volume ≤ ⌈S/B⌉²") {
    // 14 samples × 9 variants with a deterministic genotype mix and a
    // couple of missing calls; blocked (B = 4) IBS / KING / GRM must be
    // row-identical to the plain variant-keyed self-join, and no grid
    // cell of the decomposition may hold more than ⌈S/B⌉² pairs of one
    // variant — the bound that keeps biobank-width kinship from
    // stragglering on a single S² task
    val geno = (for {
      v <- 1 to 9; s <- 0 until 14
      g = (v * 7 + s * 3) % 4 match {
        case 3 => None; case d => Some(d.toDouble)
      }
    } yield (v.toLong, f"S$s%02d", g)).toDF("variant_id", "sample", "gt")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    }
    assert(canon(graft.vcf.VcfApi.ibsReport(geno, sampleBlocks = 4)) ==
      canon(graft.vcf.VcfApi.ibsReport(geno)))
    assert(canon(graft.vcf.VcfApi.kingReport(geno, sampleBlocks = 4)) ==
      canon(graft.vcf.VcfApi.kingReport(geno)))
    assert(canon(graft.vcf.VcfApi.grmReport(geno, sampleBlocks = 4)) ==
      canon(graft.vcf.VcfApi.grmReport(geno)))
    // cell-volume bound straight off the shared grid join
    val base = geno.where($"gt".isNotNull)
      .select($"variant_id", $"sample", $"gt".as("g"))
    val a = base.select($"variant_id", $"sample".as("sample_a"), $"g".as("ga"))
    val b = base.select($"variant_id", $"sample".as("sample_b"), $"g".as("gb"))
    val cells = graft.vcf.VcfApi.samplePairGrid(a, b,
        includeDiagonal = false, sampleBlocks = 4)
      .groupBy("variant_id", "_ba", "_bb").count()
      .agg(max("count")).as[Long].head()
    val bound = math.ceil(14 / 4.0).toLong // ⌈S/B⌉²
    assert(cells <= bound * bound,
      s"cell volume $cells exceeds ${bound * bound}")
  }

  test("64×64 kinship grid: per-cell bound holds, KING identical to unblocked") {
    // the EXACT grid a 50k-sample kinship run uses (B = 64):
    // 200 samples → no cell may exceed ⌈200/64⌉² = 16 pairs of one
    // variant, and the blocked KING stays row-identical
    val geno = (for {
      v <- 1 to 2; s <- 0 until 200
    } yield (v.toLong, f"S$s%03d", ((v * 13 + s * 7) % 3).toDouble))
      .toDF("variant_id", "sample", "gt")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    }
    assert(canon(graft.vcf.VcfApi.kingReport(geno, sampleBlocks = 64)) ==
      canon(graft.vcf.VcfApi.kingReport(geno)))
    val a = geno.select($"variant_id", $"sample".as("sample_a"), $"gt".as("ga"))
    val b = geno.select($"variant_id", $"sample".as("sample_b"), $"gt".as("gb"))
    val cells = graft.vcf.VcfApi.samplePairGrid(a, b,
        includeDiagonal = false, sampleBlocks = 64)
      .groupBy("variant_id", "_ba", "_bb").count()
      .agg(max("count")).as[Long].head()
    // the exact per-cell ceiling is (largest hash block)² — ⌈S/B⌉² only
    // under perfectly balanced hashing, and at S/B ≈ 3 the binomial
    // spread is material (it vanishes at the 50k-row run's S/B ≈ 781)
    val maxBlock = geno.select($"sample").distinct()
      .select(pmod(xxhash64($"sample"), lit(64L)).as("b"))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    assert(cells <= maxBlock * maxBlock,
      s"cell volume $cells exceeds block ceiling ${maxBlock * maxBlock}")
    // hash balance sanity: no block hoards a straggler's worth of
    // samples (≤ 4× the balanced share at this tiny S/B ratio)
    assert(maxBlock <= 4 * math.ceil(200 / 64.0).toLong,
      s"xxhash block skew: max block $maxBlock samples")
  }

  test("zipfFit ranks via TakeOrdered, never a global-sort Exchange") {
    val docs = (0 until 100).map(i => s"w${i % 17} w${i % 5} common")
      .toDF("text")
    val out = operators.TextAnalysis.zipfFit(docs, "text", topN = 10)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("Events.viterbiDecode: one user-keyed exchange, DP stays map-side") {
    import spark.implicits._
    val df = (0 until 200).map(i =>
      (i.toLong % 10, i.toLong * 1000000000L, i.toLong))
      .toDF("user_id", "ts", "event_id")
    val out = operators.Events.viterbiDecode(df, "user_id", "ts", "event_id")
    val plan = out.queryExecution.executedPlan.toString
    // the ordering window and the pack aggregate share the single
    // user-keyed hash exchange; the DP aggregate() is a projection —
    // no second shuffle, no sort beyond the final orderBy's range
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- cache ownership: a scope releases only what it registered ----

  /** Every row of the build's three data tables, sorted: an exact,
    * order-independent fingerprint of what a build produced.
    */
  private def buildRows(t: graft.vcf.VcfTables): Seq[Seq[String]] =
    Seq(t.info, t.impact.get, t.geno).map(_.collect().map(_.toString).sorted.toSeq)

  private def synthLines(n: Int, from: Int): Seq[String] =
    SyntheticVcf.header(4) ++ (from until from + n).map(i => SyntheticVcf.line(i, 4, 10))

  test("Caches: two scopes holding one plan — closing one keeps the other's cache") {
    import org.apache.spark.storage.StorageLevel
    def plan() = spark.range(0, 500).selectExpr("id", "id * 7 AS x", "'own' AS tag")
    // the premise: Spark keeps ONE entry for equal plans, and a bare
    // unpersist (what a hand-written registry calls) drops it for both
    val p1 = plan().persist(); val p2 = plan().persist()
    p1.unpersist(false)
    assert(p2.storageLevel == StorageLevel.NONE)

    val a = new Caches; val b = new Caches
    val dfA = a { Caches.persist(plan()) }
    val dfB = b { Caches.persist(plan()) }
    assert(dfA.count() == 500)
    assert(a.release() == 1)
    assert(dfB.storageLevel != StorageLevel.NONE, "closing A dropped B's cache")
    assert(dfB.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    // the root scope's release never touches an entry a scope holds
    Caches.persist(plan())
    assert(Caches.releaseUnscoped() >= 1)
    assert(dfB.storageLevel != StorageLevel.NONE, "releaseUnscoped dropped B's cache")
    assert(b.release() == 1)
    assert(dfB.storageLevel == StorageLevel.NONE)
  }

  test("Caches: a thread started inside a scope registers into it") {
    import org.apache.spark.storage.StorageLevel
    val scope = new Caches
    var df: org.apache.spark.sql.DataFrame = null
    scope {
      val t = new Thread(() => { df = Caches.persist(spark.range(0, 77).toDF("inherited")) })
      t.start(); t.join()
    }
    assert(df.storageLevel != StorageLevel.NONE)
    assert(scope.release() == 1)
    assert(df.storageLevel == StorageLevel.NONE)
    intercept[IllegalStateException](scope.exit())
  }

  test("VcfPipeline.run leaves a build held in another scope cached and intact") {
    val xLines = synthLines(300, 0)
    val want = Caches.scoped { buildRows(VcfBuild.build(VcfReader.fromLines(spark, xLines))) }
    val dir = java.nio.file.Files.createTempDirectory("graft_own_pipe")
    val yFile = dir.resolve("y.vcf")
    java.nio.file.Files.write(yFile, ToyVcf.lines.mkString("\n").getBytes("UTF-8"))
    val a = new Caches
    try {
      val x = a { VcfBuild.build(VcfReader.fromLines(spark, xLines)) }
      assert(x.info.count() == 300)
      vcf.VcfPipeline.run(spark, yFile.toString, dir.resolve("db").toString)
      // X's staging sort is still the cached scan behind all its tables
      Seq(x.info, x.impact.get, x.geno).foreach { t =>
        assert(t.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
          "the pipeline's release dropped another build's staging cache")
      }
      assert(buildRows(x) == want)
    } finally a.release()
    assert(spark.read.parquet(dir.resolve("db/variant_info").toString).count() == 6)
  }

  test("two concurrent builds on two threads equal two sequential builds") {
    val inputs = Seq(synthLines(200, 0), synthLines(200, 1000), synthLines(200, 0))
    def built(lines: Seq[String]): Seq[Seq[String]] =
      Caches.scoped { buildRows(VcfBuild.build(VcfReader.fromLines(spark, lines))) }
    val sequential = inputs.map(built)
    // the first and last input are the same plan: two scopes share one
    // Spark cache entry, and the first to finish must not drop it
    val results = new Array[Seq[Seq[String]]](inputs.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = inputs.zipWithIndex.map { case (lines, i) =>
      new Thread(() => try results(i) = built(lines) catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(results.toSeq == sequential)
  }

  test("Par.all: the first failure cancels a running sibling job and is rethrown at once") {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    val siblingJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val siblingEnds = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val siblingEnded = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.par") == "sibling")) {
          siblingJobs.add(e.jobId); siblingStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (siblingJobs.contains(e.jobId)) { siblingEnds.add(e); siblingEnded.countDown() }
    }
    val poolThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val siblingMs = 100 * 100 // 100 rows of 100 ms on each of 4 slots
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException](Par.all(spark)(Seq(
        () => {
          poolThreads.add(Thread.currentThread())
          sc.setLocalProperty("graft.test.par", "sibling")
          sc.setInterruptOnCancel(true) // kill the sleeping tasks, not just the job
          spark.range(0, 400, 1, 4).map { x => Thread.sleep(100); x.longValue }.count()
        },
        () => {
          poolThreads.add(Thread.currentThread())
          assert(siblingStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("first failure")
        })))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(e.getMessage == "first failure")
      assert(ms < siblingMs / 2, s"rethrown after $ms ms; the sibling job runs $siblingMs ms")
      // the scheduler fails the job's waiter before it posts the job's
      // end, so the event can trail the call's return
      assert(siblingEnded.await(10, java.util.concurrent.TimeUnit.SECONDS))
      org.apache.spark.SpecAccess.drainListeners(sc)
      assert(siblingEnds.size == siblingJobs.size &&
        siblingEnds.stream().noneMatch(_.jobResult == JobSucceeded),
        "the sibling's job was not cancelled")
      poolThreads.forEach(_.join(1000))
      assert(poolThreads.size == 2 && poolThreads.stream().noneMatch(_.isAlive),
        "a pool thread outlived the call")
    } finally sc.removeSparkListener(listener)
    // the caller's own thread never carries the pool's job tag
    assert(sc.getJobTags().isEmpty)
  }

  test("a file read filters header lines with a column predicate, not a typed lambda") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, TypedFilter}
    val dir = java.nio.file.Files.createTempDirectory("graft_comment_filter")
    val plain = dir.resolve("toy.vcf")
    java.nio.file.Files.write(plain, ToyVcf.lines.mkString("\n").getBytes("UTF-8"))
    val bgzf = dir.resolve("toy.vcf.gz").toString
    vcf.Bgzf.writeLocalFile(bgzf, ToyVcf.lines)
    for (path <- Seq(plain.toString, bgzf)) {
      val qe = VcfReader.read(spark, path).df.queryExecution
      Seq(qe.analyzed, qe.optimizedPlan).foreach { plan =>
        assert(plan.find {
          case _: TypedFilter | _: DeserializeToObject => true
          case _ => false
        }.isEmpty, s"$path:\n$plan")
      }
    }
  }
}

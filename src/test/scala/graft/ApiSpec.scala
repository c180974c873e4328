package graft

import graft.vcf._

/** Typed-model and pipeline-driver specs. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tables = VcfBuild.build(VcfReader.fromLines(spark, ToyVcf.lines))

  test("typed Dataset views of the fixed core") {
    import VcfModel._
    val core = VcfModel.coreOf(tables).collect().sortBy(_.variant_id)
    assert(core.length == 6)
    assert(core.head == VariantCore(1, "1", 100, 100, "A", "G", Some(50.0), Some("PASS")))
    val g = VcfModel.genotypesOf(tables)
      .filter(_.variant_id == 3).collect().sortBy(_.sample)
    assert(g.map(_.gt).toSeq == Seq(None, Some(1.0)))
    val imp = VcfModel.impactsOf(tables).get
    assert(imp.filter(_.is_lof).map(_.variant_id).collect().distinct.sorted.toSeq ==
      Seq(2L, 5L))
  }

  test("filterByGeneIndexed ≡ filterByGene (and empty for unknown genes)") {
    val impact = tables.impact.get
    val idx = VcfApi.buildGeneIndex(impact)
    assert(idx.genes.toSet == Set("GENE1", "GENE2", "GENE3"))
    for (g <- Seq("GENE1", "GENE2", "GENE3")) {
      val a = VcfApi.filterByGene(impact, tables.info, g, afMax = 0.8)
        .select("variant_id", "symbol", "af")
        .collect().map(_.toString).sorted.toSeq
      val b = VcfApi.filterByGeneIndexed(idx, tables.info, g, afMax = 0.8)
        .select("variant_id", "symbol", "af")
        .collect().map(_.toString).sorted.toSeq
      assert(a == b && a.nonEmpty, s"$g: $a != $b")
    }
    assert(VcfApi.filterByGeneIndexed(idx, tables.info, "NOPE").count() == 0)
  }

  /** The one shape of every id lookup's plan: no join, a pushed
    * `In(variant_id, …)` scan filter, and no scan at all for no ids.
    */
  private def assertIdScan(df: org.apache.spark.sql.DataFrame, empty: Boolean, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftSemi") && !plan.contains("BroadcastExchange"),
      s"$what: the id filter must not join:\n$plan")
    if (empty) assert(!plan.contains("FileScan"), s"$what: no ids must scan nothing:\n$plan")
    else assert(plan.contains("In(variant_id"), s"$what: the ids must reach the scan:\n$plan")
  }

  test("filterByGeneIndexed giant gene: one pushed INSET predicate in both index forms") {
    // a 1,500-id gene plans the same single id predicate as a small
    // one, from the driver map and from the spilled index alike, and
    // stays ≡ to the join-based filterByGene
    val n = 2500
    val impact = (1 to n)
      .map(i => (i.toLong, if (i <= 1500) "BIG" else s"G${i % 7}"))
      .toDF("variant_id", "symbol")
    val dir = java.nio.file.Files.createTempDirectory("geneidx")
    (1 to n).map(i => (i.toLong, (i % 100) / 100.0)).toDF("variant_id", "af")
      .write.parquet(s"$dir/info")
    val info = spark.read.parquet(s"$dir/info")
    val spilled = VcfApi.buildGeneIndex(impact, maxDriverIds = 100L)
    for (idx <- Seq(VcfApi.buildGeneIndex(impact), spilled)) {
      val form = if (idx.spill.isDefined) "spilled" else "driver"
      assert(idx.idsOf("BIG").length == 1500, form)
      for ((g, afMax) <- Seq("BIG" -> 0.5, "G3" -> 0.5, "BIG" -> 0.0, "NOPE" -> 0.5)) {
        val indexed = VcfApi.filterByGeneIndexed(idx, info, g, afMax)
        val a = VcfApi.filterByGene(impact, info, g, afMax)
          .select("variant_id").as[Long].collect().sorted.toSeq
        val b = indexed.select("variant_id").as[Long].collect().sorted.toSeq
        assert(a == b, s"$form $g $afMax")
        assert(b.nonEmpty == (g != "NOPE" && afMax > 0), s"$form $g $afMax")
        assertIdScan(indexed, empty = g == "NOPE", s"$form $g $afMax")
      }
    }
    spilled.spill.foreach(_.unpersist(false))
  }

  test("pullByIds: one pushed INSET predicate at every id count") {
    // 0 to 3,000 ids (all of them) return exactly the requested
    // variants' genotype rows through the same single id predicate
    val dir = java.nio.file.Files.createTempDirectory("pullids")
    (1 to 3000).flatMap(i => Seq("S1", "S2").map(s => (i.toLong, s, 1)))
      .toDF("variant_id", "sample", "gt").write.parquet(s"$dir/geno")
    val geno = spark.read.parquet(s"$dir/geno")
    for (n <- Seq(0, 1, 5, 50, 1000, 1001, 3000)) {
      // 7 is coprime to 3000: n distinct ids spread over the table
      val ids = (0 until n).map(i => (i * 7L) % 3000 + 1)
      val pulled = VcfApi.pullByIds(geno, ids)
      val got = pulled.select("variant_id", "sample").as[(Long, String)].collect().sorted.toSeq
      assert(got == ids.sorted.flatMap(i => Seq((i, "S1"), (i, "S2"))), s"$n ids")
      assertIdScan(pulled, empty = n == 0, s"$n ids")
    }
    assert(VcfApi.pullByIds(geno, Nil).schema == geno.schema)
  }

  test("buildGeneIndex spills to a DataFrame-backed index above the driver cap") {
    val n = 2500
    val impact = (1 to n)
      .map(i => (i.toLong, if (i <= 1500) "BIG" else s"G${i % 7}"))
      .toDF("variant_id", "symbol")
    val info = (1 to n).map(i => (i.toLong, (i % 100) / 100.0))
      .toDF("variant_id", "af")
    // cap below the pair count → the driver map must stay empty and
    // lookups serve from the cached (symbol, variant_id) DataFrame
    val idx = VcfApi.buildGeneIndex(impact, maxDriverIds = 100L)
    assert(idx.ids.isEmpty && idx.spill.isDefined)
    // gene enumeration comes from the spill DataFrame
    assert(idx.genes.toSet == (0 until 7).map(i => s"G$i").toSet + "BIG")
    val a = VcfApi.filterByGene(impact, info, "BIG", afMax = 0.5)
      .select("variant_id").as[Long].collect().sorted.toSeq
    val b = VcfApi.filterByGeneIndexed(idx, info, "BIG", afMax = 0.5)
      .select("variant_id").as[Long].collect().sorted.toSeq
    assert(a == b && b.nonEmpty)
    assert(VcfApi.filterByGeneIndexed(idx, info, "NOPE").count() == 0)
    // same inputs under the cap still produce the driver-map form
    val driver = VcfApi.buildGeneIndex(impact)
    assert(driver.spill.isEmpty && driver.ids("BIG").length == 1500)
    idx.spill.foreach(_.unpersist(false))
  }

  test("VcfPipeline.run: end-to-end from a file, rerun-safe") {
    val dir = java.nio.file.Files.createTempDirectory("vcfpipe").toString
    val vcfFile = s"$dir/toy.vcf"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vcfFile),
      ToyVcf.lines.mkString("\n").getBytes("UTF-8"))
    val out = s"$dir/db"
    VcfPipeline.run(spark, vcfFile, out)
    VcfPipeline.run(spark, vcfFile, out) // idempotent rerun
    assert(spark.read.parquet(s"$out/variant_info").count() == 6)
    assert(spark.read.parquet(s"$out/variant_geno").count() == 12)
  }

  test("VcfPipeline.run: a fingerprint killed before its rename does not block the build") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("vcfmark").toString
    val vcfFile = s"$dir/toy.vcf"
    Files.write(Paths.get(vcfFile), ToyVcf.lines.mkString("\n").getBytes("UTF-8"))
    val out = s"$dir/db"
    // a torn fingerprint write leaves only its temp name, never `_input`
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(s"$out/_input.tmp"), vcfFile.take(3).getBytes("UTF-8"))
    assert(VcfPipeline.run(spark, vcfFile, out).size == 9)
    assert(Files.exists(Paths.get(s"$out/_input")) && !Files.exists(Paths.get(s"$out/_input.tmp")))
    assert(new String(Files.readAllBytes(Paths.get(s"$out/_input")), "UTF-8").contains(vcfFile))
    assert(VcfPipeline.run(spark, vcfFile, out).isEmpty)
  }

  test("VcfPipeline.run resumes from the last committed stage after a kill") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("vcfresume").toString
    val vcfFile = s"$dir/toy.vcf"
    // two more records on rs2's key, differing in QUAL and GT: only the
    // sort's tie-break orders them, and a resume must reproduce it
    val rs2 = ToyVcf.lines.find(_.startsWith("1\t200\t")).get.split("\t").take(9)
    val lines = ToyVcf.lines ++ Seq(
      (rs2.updated(5, "7") ++ Seq("0|1:3", "1|1:4")).mkString("\t"),
      (rs2.updated(5, "8") ++ Seq("./.:0", "0|0:5")).mkString("\t"))
    Files.write(Paths.get(vcfFile), lines.mkString("\n").getBytes("UTF-8"))
    val out = s"$dir/db"
    assert(VcfPipeline.run(spark, vcfFile, out).size == 9)

    // (relative name → (size, mtime)) + content digest: "skipped" must
    // mean byte-identical files never touched, not rewritten-same
    def files(sub: String): Map[String, (Long, Long)] = {
      val root = Paths.get(s"$out/$sub")
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    }
    def digest(sub: String): String = {
      val root = Paths.get(s"$out/$sub")
      val md = java.security.MessageDigest.getInstance("MD5")
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .toSeq.sortBy(_.toString)
        .foreach(p => md.update(Files.readAllBytes(p)))
      md.digest().map(b => f"$b%02x").mkString
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val infoSig = files("variant_info")
    val infoMd5 = digest("variant_info")
    val clean = Caches.scoped(rows(VcfBuild.build(VcfReader.read(spark, vcfFile)).geno))
    assert(rows(spark.read.parquet(s"$out/variant_geno")) == clean)

    // kill mid-geno-write: a torn output has no _SUCCESS marker (the
    // committer writes it last), and the build's own marker is never
    // reached; drop both markers and a data file
    val genoDir = Paths.get(s"$out/variant_geno")
    Files.delete(genoDir.resolve("_SUCCESS"))
    Files.delete(Paths.get(s"$out/_SUCCESS"))
    Files.walk(genoDir).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-"))
      .foreach(Files.delete)
    // completed tables byte-identical and untouched; torn one recommitted
    // from a fresh sort, with the committed ids
    assert(VcfPipeline.run(spark, vcfFile, out) == Seq("variant_geno"))
    assert(files("variant_info") == infoSig && digest("variant_info") == infoMd5,
      "resume rewrote a committed table")
    assert(Files.exists(genoDir.resolve("_SUCCESS")))
    assert(rows(spark.read.parquet(s"$out/variant_geno")) == clean,
      "the rewritten rows disagree with a clean build's")

    // a complete outDir: nothing to do, and no Spark job to learn that
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.SpecAccess.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      assert(VcfPipeline.run(spark, vcfFile, out).isEmpty)
      org.apache.spark.SpecAccess.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark job(s) on a complete outDir")

    // an edited input must not resume into the old build's tables
    Files.write(Paths.get(vcfFile), lines.init.mkString("\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](VcfPipeline.run(spark, vcfFile, out))
    assert(e.getMessage.contains(out) && e.getMessage.contains(vcfFile), e.getMessage)
    assert(files("variant_info") == infoSig)
  }

  test("VcfPipeline.main rejects unknown flags and a dangling argument with the usage line") {
    Seq(
      Array("--vcf", "x.vcf", "--out", "db", "--mode", "table"),
      Array("--vcf", "x.vcf", "--out"),
      Array("--vcf", "x.vcf")
    ).foreach { args =>
      val e = intercept[IllegalArgumentException](VcfPipeline.main(args))
      assert(e.getMessage.startsWith("usage: VcfPipeline --vcf <path> --out <dir>"),
        e.getMessage)
    }
  }

  test("VcfPipeline.run writes a multiallelic TSV report then aborts") {
    val dir = java.nio.file.Files.createTempDirectory("vcfpipe2").toString
    val bad = ToyVcf.lines.map(l =>
      if (l.startsWith("1\t100")) l.replace("\tG\t", "\tG,C\t") else l)
    val vcfFile = s"$dir/bad.vcf"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(vcfFile), bad.mkString("\n").getBytes("UTF-8"))
    val out = s"$dir/db"
    intercept[IllegalArgumentException](VcfPipeline.run(spark, vcfFile, out))
    val report = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$out/multiallelic_sites")
    assert(report.count() == 1)
    assert(report.select("alt").as[String].head == "G,C")
  }

  test("GraftSession.getOrCreate registers graft functions") {
    val s = GraftSession.getOrCreate()
    assert(s.sql("SELECT graft_cosine(array(1.0d), array(1.0d))")
      .collect()(0).getDouble(0) == 1.0)
  }

  test("VcfApi.hweReport: equilibrium population scores χ² = 0") {
    import spark.implicits._
    // 25/50/25 at p = 0.5 is EXACTLY Hardy-Weinberg ⇒ χ² = 0; a
    // het-depleted 40/20/40 departs
    val eq = (Seq.fill(25)(0d) ++ Seq.fill(50)(1d) ++ Seq.fill(25)(2d))
      .map((1L, "s", _)) ++
      (Seq.fill(40)(0d) ++ Seq.fill(20)(1d) ++ Seq.fill(40)(2d))
        .map((2L, "s", _))
    val geno = eq.toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.hweReport(geno).orderBy("variant_id").collect()
    assert(got(0).getAs[Double]("p_ref") == 0.5)
    assert(got(0).getAs[Double]("hwe_chi2") == 0.0)
    // 40/20/40: e = (25, 50, 25) ⇒ χ² = 9 + 18 + 9 = 36
    assert(got(1).getAs[Double]("hwe_chi2") == 36.0)
  }

  test("VcfApi.tsTvReport: classifies sites, counts alt carriers only") {
    import spark.implicits._
    val info = Seq(
      (1L, "1", 100L, "SNP", "A", "G", 0.5),   // transition
      (2L, "1", 200L, "SNP", "C", "A", 0.5),   // transversion
      (3L, "1", 300L, "INDEL", "G", "GA", 0.5) // excluded
    ).toDF("variant_id", "chr", "start", "vt", "ref", "alt", "af")
    val geno = Seq(
      (1L, "s1", 2d), (1L, "s2", 1d),
      (2L, "s1", 1d), (2L, "s2", 0d),
      (3L, "s1", 2d), (3L, "s2", 2d)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.tsTvReport(geno, info)
      .orderBy("sample").collect()
    // s1: ts at v1, tv at v2 ⇒ 1/1 = 1.0; s2: ts only ⇒ NULL ratio
    // (no transversions); the INDEL site never counts for either
    assert(got(0).getLong(1) == 1 && got(0).getLong(2) == 1 &&
      got(0).getDouble(3) == 1.0)
    assert(got(1).getLong(1) == 1 && got(1).getLong(2) == 0 &&
      got(1).isNullAt(3))
  }

  test("VcfApi.ldReport: r² over shared-called samples, bucket probe") {
    import spark.implicits._
    val info = Seq(
      (1L, "1", 100L), (2L, "1", 150L), (3L, "1", 260L), (4L, "1", 400L)
    ).toDF("variant_id", "chr", "start")
    def g(v: Long, doses: Seq[Option[Double]]) =
      doses.zipWithIndex.map { case (d, i) => (v, s"s$i", d) }
    val geno = (
      g(1L, Seq(0d, 0d, 1d, 1d, 2d, 2d).map(Some(_))) ++
      g(2L, Seq(0d, 0d, 1d, 1d, 2d, 2d).map(Some(_))) ++
      g(3L, Seq(0d, 1d, 0d, 1d, 0d, 1d).map(Some(_))) ++
      g(4L, Seq(Some(2d), Some(2d), None, None, Some(0d), Some(0d)))
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.ldReport(geno, info, maxDist = 200L)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        if (r.isNullAt(4)) -1d else r.getDouble(4)))
    // (1,2) perfect LD; (1,3)/(2,3) independent ⇒ 0 (v3 is in the NEXT
    // 200-bp bucket — pins the neighbor-bucket probe); (3,4) n=4 over
    // the shared-called mask ⇒ 0; (1,4)/(2,4) beyond maxDist: absent
    assert(got.toSeq == Seq(
      (1L, 2L, 6L, 1.0), (1L, 3L, 6L, 0.0), (2L, 3L, 6L, 0.0),
      (3L, 4L, 4L, 0.0)))
  }

  test("VcfApi.ibsReport: gap histogram + deterministic variant cap") {
    import spark.implicits._
    val geno = Seq(
      (1L, "a", 0d), (1L, "b", 2d), (1L, "c", 1d),
      (2L, "a", 1d), (2L, "b", 1d), (2L, "c", 0d),
      (3L, "a", 2d), (3L, "b", 2d), (3L, "c", 2d)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.ibsReport(geno)
      .orderBy("sample_a", "sample_b").collect()
    // (a,b): gaps 2,0,0 ⇒ ibs0=1 ibs2=2, frac = (0+1+1)/3
    assert(got(0).getLong(3) == 1 && got(0).getLong(5) == 2 &&
      got(0).getAs[Double]("ibs_frac") == 0.6667)
    // (a,c): gaps 1,1,0 ⇒ frac = (0.5+0.5+1)/3
    assert(got(1).getAs[Double]("ibs_frac") == 0.6667)
    // cap ≥ #variants is the identity; equal caps replay identically
    val capped = graft.vcf.VcfApi.ibsReport(geno, maxVariants = 3L)
      .orderBy("sample_a", "sample_b").collect()
    assert(capped.toSeq == got.toSeq)
    val s1 = graft.vcf.VcfApi.ibsReport(geno, maxVariants = 2L)
      .orderBy("sample_a", "sample_b").collect()
    val s2 = graft.vcf.VcfApi.ibsReport(geno, maxVariants = 2L)
      .orderBy("sample_a", "sample_b").collect()
    assert(s1.toSeq == s2.toSeq && s1.forall(_.getLong(2) == 2L))
  }

  test("VcfApi.alleleFrequencySpectrum: folded maf bins") {
    import spark.implicits._
    val info = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0).map(Tuple1(_))
      .toDF("af")
    val got = graft.vcf.VcfApi.alleleFrequencySpectrum(info)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // maf: 0, .05, .25, .5, .25, .05, 0 ⇒ bin 0×4? no: 0,0.05→bin 0;
    // 1.0,0.95 fold to 0,0.05→bin 0; 0.25×2→bin 2; 0.5→bin 5
    assert(got.toSeq == Seq((0L, 0.0, 4L), (2L, 0.2, 2L), (5L, 0.5, 1L)))
  }

  test("VcfApi.kingReport: duplicates score φ = 0.5, het-free pairs NULL") {
    import spark.implicits._
    // b duplicates a; c is a het-free constant hom-alt
    val geno = Seq(
      (1L, "a", 0d), (1L, "b", 0d), (1L, "c", 2d),
      (2L, "a", 1d), (2L, "b", 1d), (2L, "c", 2d),
      (3L, "a", 1d), (3L, "b", 1d), (3L, "c", 2d),
      (4L, "a", 2d), (4L, "b", 2d), (4L, "c", 2d)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.kingReport(geno)
      .orderBy("sample_a", "sample_b").collect()
    // (a,b) duplicates: N_Aa,Aa=2, opp-homo 0, hets 2+2 ⇒ φ = 2/4
    assert(got(0).getAs[Double]("phi") == 0.5)
    assert(got(0).getAs[Long]("n_het_het") == 2 &&
      got(0).getAs[Long]("n_opp_homo") == 0)
    // (a,c): opp-homo at v1 ⇒ φ = (0 − 2)/(2 + 0) = −1
    assert(got(1).getAs[Double]("phi") == -1.0)
    // (b,c) same by symmetry; and a het-free pair is undefined
    val homOnly = geno.where($"gt" =!= 1d)
    val nulls = graft.vcf.VcfApi.kingReport(homOnly)
      .where($"sample_a" === "a" && $"sample_b" === "b")
      .collect().head
    assert(nulls.isNullAt(nulls.fieldIndex("phi")))
    // the md5-deterministic variant cap replays identically
    val s1 = graft.vcf.VcfApi.kingReport(geno, maxVariants = 2L).collect()
    val s2 = graft.vcf.VcfApi.kingReport(geno, maxVariants = 2L).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
  }

  test("VcfApi.grmReport: standardized products, monomorphic sites excluded") {
    import spark.implicits._
    // v1 is polymorphic (p = 0.5); v2 is monomorphic hom-alt (excluded)
    val geno = Seq(
      (1L, "a", 0d), (1L, "b", 2d),
      (2L, "a", 2d), (2L, "b", 2d)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.grmReport(geno)
      .orderBy("sample_a", "sample_b").collect()
    // only v1 contributes: (g−1)²/0.5 diag = 2; cross = (−1·1)/0.5 = −2
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getAs[Double]("grm"))).toSeq == Seq(
      ("a", "a", 1L, 2.0), ("a", "b", 1L, -2.0), ("b", "b", 1L, 2.0)))
  }

  test("VcfApi.mendelReport: feasible-range edges, missing calls, trio scope") {
    import spark.implicits._
    // one site per classic error code plus the passes that bracket it
    val geno = Seq(
      (1L, "F", Some(0d)), (1L, "M", Some(0d)), (1L, "C", Some(2d)), // 0×0→hom-alt: err
      (2L, "F", Some(0d)), (2L, "M", Some(0d)), (2L, "C", Some(0d)), // 0×0→hom-ref: ok
      (3L, "F", Some(2d)), (3L, "M", Some(2d)), (3L, "C", Some(0d)), // 2×2→hom-ref: err
      (4L, "F", Some(0d)), (4L, "M", Some(2d)), (4L, "C", Some(1d)), // 0×2→het: ok
      (5L, "F", Some(0d)), (5L, "M", Some(2d)), (5L, "C", Some(2d)), // 0×2→hom: err
      (6L, "F", Some(2d)), (6L, "M", Some(1d)), (6L, "C", Some(0d)), // hom×het→opp hom: err
      (7L, "F", Some(2d)), (7L, "M", Some(1d)), (7L, "C", Some(1d)), // hom×het→het: ok
      (8L, "F", None), (8L, "M", Some(1d)), (8L, "C", Some(2d)), // father uncalled: drop
      // a non-family sample must never produce a trio row
      (1L, "Z", Some(1d)), (3L, "Z", Some(1d))
    ).toDF("variant_id", "sample", "gt")
    val trios = Seq(("F", "M", "C")).toDF("father", "mother", "child")
    val got = graft.vcf.VcfApi.mendelReport(geno, trios).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("F", "M", "C")))
    assert(r.getAs[Long]("n_tested") == 7 && r.getAs[Long]("n_errors") == 4)
    assert(r.getAs[Double]("error_rate") == 0.5714)
    // a trio with no jointly-called site is omitted, not zero-row'd
    val none = graft.vcf.VcfApi.mendelReport(
      geno.where($"variant_id" === 8L), trios).collect()
    assert(none.isEmpty)
  }

  test("VcfApi.prsReport: mean imputation, absent weights drop, sum semantics") {
    import spark.implicits._
    // v1: a called 2, b missing — p̂ = 1 ⇒ b imputes dosage 2p̂ = 2
    // v2: both called; v9 weighted but absent from geno
    val geno = Seq(
      (1L, "a", Some(2d)), (1L, "b", None),
      (2L, "a", Some(1d)), (2L, "b", Some(0d))
    ).toDF("variant_id", "sample", "gt")
    val w = Seq((1L, 1.0), (2L, 3.0), (9L, 100.0)).toDF("variant_id", "weight")
    val got = graft.vcf.VcfApi.prsReport(geno, w).orderBy("sample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("score"))).toSeq
    // a: 1·2 + 3·1 = 5 (2 used); b: 1·(2·1.0) + 3·0 = 2 (1 used, 1 imputed)
    assert(got == Seq(("a", 2L, 0L, 5.0), ("b", 1L, 1L, 2.0)))
    // an ALL-missing variant imputes to dosage 0 (p̂ undefined → 0)
    val allMiss = Seq((1L, "a", None: Option[Double]), (1L, "b", None))
      .toDF("variant_id", "sample", "gt")
    val g2 = graft.vcf.VcfApi.prsReport(allMiss, Seq((1L, 5.0))
      .toDF("variant_id", "weight")).orderBy("sample").collect()
    assert(g2.forall(_.getAs[Double]("score") == 0.0))
  }

  test("VcfApi.tdtReport: transmission counts, error exclusion, informativeness") {
    import spark.implicits._
    val geno = Seq(
      // v1 double-het, child hom-alt: both het parents transmit alt
      (1L, "F", Some(1d)), (1L, "M", Some(1d)), (1L, "C", Some(2d)),
      // v2 double-het, child het: one alt, one ref
      (2L, "F", Some(1d)), (2L, "M", Some(1d)), (2L, "C", Some(1d)),
      // v3 het×hom-alt, child het: het father transmitted ref
      (3L, "F", Some(1d)), (3L, "M", Some(2d)), (3L, "C", Some(1d)),
      // v4 hom×hom: uninformative, no row
      (4L, "F", Some(0d)), (4L, "M", Some(2d)), (4L, "C", Some(1d)),
      // v5 Mendel error (0×0→het child): excluded, no row
      (5L, "F", Some(0d)), (5L, "M", Some(0d)), (5L, "C", Some(1d)),
      // v6 het×hom-ref but child uncalled: trio cell dropped
      (6L, "F", Some(1d)), (6L, "M", Some(0d)), (6L, "C", None)
    ).toDF("variant_id", "sample", "gt")
    val trios = Seq(("F", "M", "C")).toDF("father", "mother", "child")
    val got = graft.vcf.VcfApi.tdtReport(geno, trios).orderBy("variant_id")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_informative"),
        r.getAs[Long]("t"), r.getAs[Long]("u"), r.getAs[Double]("chisq")))
      .toSeq
    assert(got == Seq((1L, 1L, 2L, 0L, 2.0), (2L, 1L, 1L, 1L, 0.0),
      (3L, 1L, 0L, 1L, 1.0)))
  }

  test("VcfApi.concordanceReport: one-sided calls, nonref restriction, NULL rate") {
    import spark.implicits._
    val a = Seq((1L, "x", Some(0d)), (2L, "x", Some(1d)), (3L, "x", None))
      .toDF("variant_id", "sample", "gt")
    val b = Seq((1L, "x", Some(0d)), (2L, "x", Some(2d)), (3L, "x", Some(1d)))
      .toDF("variant_id", "sample", "gt")
    val r = graft.vcf.VcfApi.concordanceReport(a, b).collect().head
    // both-called: v1 (0,0) match, v2 (1,2) mismatch; v3 b-only (A's
    // NULL gt ≡ absent); nonref cell = v2 only, 0 matches
    assert(r.getAs[Long]("n_both") == 2 && r.getAs[Long]("n_match") == 1)
    assert(r.getAs[Long]("n_mismatch") == 1 && r.getAs[Long]("n_a_only") == 0)
    assert(r.getAs[Long]("n_b_only") == 1)
    assert(r.getAs[Double]("concordance") == 0.5)
    assert(r.getAs[Double]("nonref_concordance") == 0.0)
    // an all-hom-ref concordant pair has NO nonref cells → NULL rate
    val hr = Seq((1L, "x", Some(0d))).toDF("variant_id", "sample", "gt")
    val r2 = graft.vcf.VcfApi.concordanceReport(hr, hr).collect().head
    assert(r2.getAs[Double]("concordance") == 1.0)
    assert(r2.isNullAt(r2.fieldIndex("nonref_concordance")))
  }

  test("VcfApi.ldDecay: distance bins, NULL-r² pairs counted not scored") {
    import spark.implicits._
    val info = Seq(
      (1L, "1", 100L), (2L, "1", 150L), (3L, "1", 260L), (4L, "1", 400L)
    ).toDF("variant_id", "chr", "start")
    def g(v: Long, doses: Seq[Option[Double]]) =
      doses.zipWithIndex.map { case (d, i) => (v, s"s$i", d) }
    val geno = (
      g(1L, Seq(0d, 0d, 1d, 1d, 2d, 2d).map(Some(_))) ++
      g(2L, Seq(0d, 0d, 1d, 1d, 2d, 2d).map(Some(_))) ++
      g(3L, Seq(0d, 1d, 0d, 1d, 0d, 1d).map(Some(_))) ++
      g(4L, Seq(Some(2d), Some(2d), None, None, Some(0d), Some(0d)))
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.ldDecay(geno, info, maxDist = 200L,
        binBp = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1d else r.getDouble(4)))
    // dists: (1,2)=50 → bin [0,99] r²=1; (2,3)=110, (3,4)=140,
    // (1,3)=160 → bin [100,199] r² {0,0,0} ⇒ mean 0
    assert(got.toSeq == Seq(
      (0L, 99L, 1L, 1L, 1.0), (100L, 199L, 3L, 3L, 0.0)))
  }

  test("VcfApi.grmPca: G·v = λ·v residual, unit norm, sign pin") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val samples = (0 until 6).map(i => s"s$i")
    val rows = for (v <- 1 to 40; s <- samples)
      yield (v.toLong, s, rnd.nextInt(3).toDouble)
    val geno = rows.toDF("variant_id", "sample", "gt")
    val out = graft.vcf.VcfApi.grmPca(geno, iters = 60).collect()
    val pc = out.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val lambda = out(0).getDouble(2)
    // unit norm (up to the 1e-12 loading grid)
    val norm = math.sqrt(pc.values.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    // sign pin: lexicographically-first sample loads non-negative
    assert(pc("s0") >= 0d)
    // eigenpair property vs the independently-computed GRM: all-called
    // fixture ⇒ G is a Gram matrix (PSD), power iteration converges to
    // the top eigenpair — residual ‖G·v − λ·v‖∞ must be tiny vs λ
    val gm = collection.mutable.Map[(String, String), Double]()
    graft.vcf.VcfApi.grmReport(geno).collect().foreach { r =>
      val (a, b, w) = (r.getString(0), r.getString(1), r.getDouble(3))
      gm((a, b)) = w; gm((b, a)) = w
    }
    assert(lambda > 0d)
    samples.foreach { a =>
      val gva = samples.map(b => gm.getOrElse((a, b), 0d) * pc(b)).sum
      assert(math.abs(gva - lambda * pc(a)) < 1e-3 * lambda,
        s"residual at $a: ${gva - lambda * pc(a)}")
    }
  }

  test("VcfApi.privateVariants: singleton vs private/shared doubleton") {
    import spark.implicits._
    val geno = Seq(
      (1L, "s1", Some(1d)), (1L, "s2", Some(0d)), (1L, "s3", Some(0d)),
      (2L, "s1", Some(2d)), (2L, "s2", Some(0d)), (2L, "s3", Some(0d)),
      (3L, "s1", Some(1d)), (3L, "s2", Some(1d)), (3L, "s3", Some(0d)),
      (4L, "s1", None), (4L, "s2", Some(1d)), (4L, "s3", Some(0d))
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.privateVariants(geno).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // v1: s1 singleton; v2: s1 private doubleton; v3: AC 2 over TWO
    // carriers → neither; v4: s2 singleton (AC over called gts);
    // s3 carries nothing but stays in the report with zeros
    assert(got == Seq(("s1", 1L, 1L), ("s2", 1L, 0L), ("s3", 0L, 0L)))
  }

  test("VcfApi.ldPrune: greedy chain needs one round per link; cap throws") {
    import spark.implicits._
    // four perfectly-correlated variants in one window: the greedy
    // keep/drop alternates down the chain (keep 100, drop 200+300+400
    // — all conflict with kept v1 since r²=1 pairwise)
    val dup = Seq(0d, 0d, 1d, 1d, 2d, 2d)
    val geno = (1 to 4).flatMap(v => dup.zipWithIndex.map {
      case (g, i) => (v.toLong, s"s$i", g)
    }).toDF("variant_id", "sample", "gt")
    val info = (1 to 4).map(v => (v.toLong, "1", v * 100L))
      .toDF("variant_id", "chr", "start")
    val got = graft.vcf.VcfApi.ldPrune(geno, info, 1000L, 0.5)
      .orderBy("variant_id").collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("kept"))).toSeq
    assert(got == Seq((1L, true), (2L, false), (3L, false), (4L, false)))
    // an anti-chain (alternating keep) needs chain-length rounds:
    // a 1-round cap must throw the REQUIRED-fixpoint error, not
    // silently emit partial decisions
    val e = intercept[IllegalArgumentException] {
      graft.vcf.VcfApi.ldPrune(geno, info, 150L, 0.5, maxRounds = 1)
        .collect()
    }
    assert(e.getMessage.contains("fixpoint"))
    // window 150: only adjacent pairs conflict ⇒ keep 1, drop 2,
    // keep 3 (its only conflict v2 is dropped), drop 4
    val alt = graft.vcf.VcfApi.ldPrune(geno, info, 150L, 0.5)
      .orderBy("variant_id").collect()
      .map(r => (r.getLong(0), r.getAs[Boolean]("kept"))).toSeq
    assert(alt == Seq((1L, true), (2L, false), (3L, true), (4L, false)))
  }

  test("VcfApi.severestConsequence: severity order, unknown-term rank, tie-breaks") {
    import spark.implicits._
    val impact = Seq(
      (1L, "stop_gained", "HIGH", "B"), (1L, "missense_variant", "MODERATE", "A"),
      // v2: two rows of the SAME worst term → alphabetically-first symbol
      (2L, "missense_variant", "MODERATE", "Z"),
      (2L, "missense_variant", "MODERATE", "A"),
      // v3: only an unknown term → still emitted (ranks last, alone)
      (3L, "weird_novel_term", "MODIFIER", "C")
    ).toDF("variant_id", "consequence", "impact", "symbol")
    val got = graft.vcf.VcfApi.severestConsequence(impact,
        Seq("stop_gained", "missense_variant"))
      .orderBy("variant_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
    assert(got == Seq((1L, "stop_gained", "B"),
      (2L, "missense_variant", "A"), (3L, "weird_novel_term", "C")))
  }

  test("VcfApi.fstReport: Hudson estimator, exclusions, out-of-pop samples") {
    import spark.implicits._
    val geno = Seq(
      // v1: pop1 (0,1,2) ⇒ p=.5 n=6; pop2 (0,0) ⇒ p=0 n=4
      (1L, "a", Some(0d)), (1L, "b", Some(1d)), (1L, "c", Some(2d)),
      (1L, "d", Some(0d)), (1L, "e", Some(0d)), (1L, "z", Some(2d)),
      // v2: monomorphic both ⇒ den=0, omitted
      (2L, "a", Some(0d)), (2L, "b", Some(0d)), (2L, "c", Some(0d)),
      (2L, "d", Some(0d)), (2L, "e", Some(0d)),
      // v3: pop2 fully missing ⇒ omitted (no inner-join row)
      (3L, "a", Some(1d)), (3L, "b", Some(1d)), (3L, "c", Some(1d)),
      (3L, "d", None), (3L, "e", None)
    ).toDF("variant_id", "sample", "gt")
    val pops = Seq(("a", "P1"), ("b", "P1"), ("c", "P1"),
      ("d", "P2"), ("e", "P2")).toDF("sample", "pop")
    val got = graft.vcf.VcfApi.fstReport(geno, pops, "P1", "P2").collect()
    assert(got.length == 1)
    val r = got.head
    // num = .25 − (.5·.5)/5 − 0 = .2; den = .5 ⇒ fst = .4
    assert(r.getLong(0) == 1L)
    assert(r.getAs[Long]("n1") == 6 && r.getAs[Long]("n2") == 4)
    assert(r.getAs[Double]("p1") == 0.5 && r.getAs[Double]("p2") == 0.0)
    assert(r.getAs[Double]("fst") == 0.4)
  }

  test("VcfApi.tajimaD: hand case n=4; invariant-only input → NULL D") {
    import spark.implicits._
    // v1 segregating (0,1), v2 invariant, v3 part-called → excluded
    val geno = Seq(
      (1L, "a", Some(0d)), (1L, "b", Some(1d)),
      (2L, "a", Some(0d)), (2L, "b", Some(0d)),
      (3L, "a", Some(1d)), (3L, "b", None)
    ).toDF("variant_id", "sample", "gt")
    val r = graft.vcf.VcfApi.tajimaD(geno).collect().head
    // n=4: π = 2·1·3/12 = 0.5; a1 = 1+½+⅓; θ = 1/a1; D hand-computed
    assert(r.getAs[Long]("n_samples") == 2 && r.getAs[Long]("n_sites") == 2)
    assert(r.getAs[Long]("s_segregating") == 1)
    assert(r.getAs[Double]("pi") == 0.5)
    assert(r.getAs[Double]("theta_w") == 0.545455)
    assert(r.getAs[Double]("tajima_d") == -0.612372)
    // invariant-only: S=0 ⇒ θ_W/D NULL, π = 0
    val inv = Seq((1L, "a", Some(0d)), (1L, "b", Some(0d)))
      .toDF("variant_id", "sample", "gt")
    val r2 = graft.vcf.VcfApi.tajimaD(inv).collect().head
    assert(r2.getAs[Double]("pi") == 0.0 && r2.isNullAt(4) && r2.isNullAt(5))
  }

  test("VcfApi.unrelatedSet: kept set is unrelated and maximal") {
    import spark.implicits._
    // two identical trios of samples ⇒ two conflict triangles
    val pat = Map("p" -> Seq(1, 0, 1), "q" -> Seq(1, 0, 1),
      "r" -> Seq(1, 0, 1), "x" -> Seq(0, 1, 2), "y" -> Seq(0, 1, 2),
      "z" -> Seq(0, 1, 2))
    val geno = pat.toSeq.flatMap { case (smp, gs) =>
      gs.zipWithIndex.map { case (g, i) => ((i + 1).toLong, smp, g.toDouble) }
    }.toDF("variant_id", "sample", "gt")
    val kept = graft.vcf.VcfApi.unrelatedSet(geno, phiCutoff = 0.4)
      .as[(String, Boolean)].collect().toMap
    assert(kept.size == 6)
    // exactly one survivor per identical-triple conflict triangle
    assert(Seq("p", "q", "r").count(kept) == 1, s"got $kept")
    assert(Seq("x", "y", "z").count(kept) == 1, s"got $kept")
  }

  test("VcfApi.cmhReport: no within-stratum association ⇒ χ²=0, OR=1") {
    import spark.implicits._
    // both strata have IDENTICAL case and control allele frequencies
    val geno = Seq(
      (1L, "a", 2d), (1L, "b", 1d), (1L, "c", 2d), (1L, "d", 1d),
      (1L, "e", 0d), (1L, "f", 1d), (1L, "g", 0d), (1L, "h", 1d)
    ).toDF("variant_id", "sample", "gt")
    val ph = Seq(
      ("a", true, "s1"), ("b", true, "s1"),
      ("c", false, "s1"), ("d", false, "s1"),
      ("e", true, "s2"), ("f", true, "s2"),
      ("g", false, "s2"), ("h", false, "s2")
    ).toDF("sample", "is_case", "stratum")
    val r = graft.vcf.VcfApi.cmhReport(geno, ph).collect().head
    assert(r.getAs[Long]("k_strata") == 2L)
    assert(r.getAs[Double]("chisq") == 0.0)
    assert(r.getAs[Double]("or_mh") == 1.0)
  }

  test("VcfApi.compHetCandidates: hets must share a GENE, homs excluded") {
    import spark.implicits._
    // sx: het in G1(v1) and G2(v2) — two genes, never a candidate;
    // sy: het v1 + HOM-ALT v3 in G1 — homs don't pair
    val geno = Seq(
      (1L, "sx", Some(1d)), (2L, "sx", Some(1d)), (3L, "sx", Some(0d)),
      (1L, "sy", Some(1d)), (2L, "sy", Some(0d)), (3L, "sy", Some(2d))
    ).toDF("variant_id", "sample", "gt")
    val impact = Seq((1L, "c1", "G1"), (3L, "c3", "G1"), (2L, "c2", "G2"))
      .toDF("variant_id", "consequence", "symbol")
    assert(graft.vcf.VcfApi.compHetCandidates(geno, impact).count() == 0)
  }

  test("VcfApi.hetReport: an all-het cohort scores F = −1") {
    import spark.implicits._
    val geno = Seq(
      (1L, "a", 1d), (1L, "b", 1d),
      (2L, "a", 1d), (2L, "b", 1d)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.hetReport(geno).orderBy("sample").collect()
    // p̂ = 0.5 at both sites ⇒ E_hom = 0.5·2 = 1; O_hom = 0 ⇒ F = −1
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getAs[Long]("m_sites") == 2 && r.getAs[Long]("o_hom") == 0)
      assert(r.getAs[Double]("e_hom") == 1.0 && r.getAs[Double]("f") == -1.0)
    }
  }

  test("VcfApi.imputeDosageReport: missing calls imputed at 2p̂") {
    import spark.implicits._
    val geno = Seq(
      (1L, "a", Some(0d)), (1L, "b", None), (1L, "c", Some(2d)),
      (2L, "a", None), (2L, "b", None), (2L, "c", None)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.imputeDosageReport(geno)
      .collect().map(r => r.getAs[Long]("variant_id") -> r).toMap
    val v1 = got(1L)
    assert(v1.getAs[Long]("n_called") == 2 &&
      v1.getAs[Long]("n_missing") == 1)
    assert(v1.getAs[Double]("af") == 0.5)
    assert(v1.getAs[Double]("mean_dosage") == 1.0) // (2 + 1·1)/3
    val v2 = got(2L)
    assert(v2.getAs[Long]("n_called") == 0)
    assert(v2.isNullAt(v2.fieldIndex("af")))
  }

  test("VcfApi.hweExact: het-deficient site matches the Wigginton sum") {
    import spark.implicits._
    // n=4, na=4, observed h=0: P(0)=6/70, P(2)=48/70, P(4)=16/70 ⇒
    // only h=0 is "no likelier" ⇒ p ≈ 6/70, midp ≈ 3/70
    val geno = Seq(
      (1L, "a", Some(2d)), (1L, "b", Some(2d)),
      (1L, "c", Some(0d)), (1L, "d", Some(0d))
    ).toDF("variant_id", "sample", "gt")
    val r = graft.vcf.VcfApi.hweExact(geno).collect().head
    assert(r.getAs[Long]("n_called") == 4)
    assert(r.getAs[Long]("het_obs") == 0)
    assert(r.getAs[Long]("minor_alleles") == 4)
    assert(math.abs(r.getAs[Double]("p_exact") - 6d / 70) < 2e-5)
    assert(math.abs(r.getAs[Double]("p_mid") - 3d / 70) < 2e-5)
    // a perfectly HWE-consistent site is not flagged: (0,1,1,2) has
    // h=2 the modal configuration ⇒ p_exact = 1
    val hwe = Seq((2L, "a", Some(0d)), (2L, "b", Some(1d)),
      (2L, "c", Some(1d)), (2L, "d", Some(2d)))
      .toDF("variant_id", "sample", "gt")
    val r2 = graft.vcf.VcfApi.hweExact(hwe).collect().head
    // all configurations are "no likelier" than the modal one; the
    // 1e-6 log grid leaves the total a hair under exactly 1
    assert(r2.getAs[Double]("p_exact") > 0.99999)
  }

  test("VcfApi.depthQc: per-sample stats, NULL dp rows excluded") {
    import spark.implicits._
    val geno = Seq(
      (1L, "A", Some(5L)), (2L, "A", Some(15L)), (3L, "A", None),
      (1L, "B", Some(20L)), (2L, "B", Some(10L))
    ).toDF("variant_id", "sample", "dp")
    val got = graft.vcf.VcfApi.depthQc(geno).collect()
      .map(r => r.getAs[String]("sample") -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("n_dp") == 2 && a.getAs[Double]("mean_dp") == 10.0)
    assert(a.getAs[Long]("min_dp") == 5 && a.getAs[Long]("max_dp") == 15)
    assert(a.getAs[Long]("n_low") == 1 && a.getAs[Double]("low_frac") == 0.5)
    val b = got("B")
    assert(b.getAs[Long]("n_low") == 0 && b.getAs[Double]("low_frac") == 0.0)
  }

  test("VcfApi.sampleTsTv: carried-only counting, indels out, NULL ratio") {
    import spark.implicits._
    val info = Seq((1L, "A", "G"), (2L, "A", "C"), (3L, "G", "GA"))
      .toDF("variant_id", "ref", "alt")
    val geno = Seq(
      (1L, "X", Some(1d)), (3L, "X", Some(2d)), (2L, "X", Some(0d)),
      (1L, "Y", Some(2d)), (2L, "Y", Some(1d)), (3L, "Y", None)
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.sampleTsTv(geno, info).collect()
      .map(r => r.getAs[String]("sample") -> r).toMap
    // X carries v1 (ts) and v3 (indel, excluded); v2 is hom-ref
    assert(got("X").getAs[Long]("n_ts") == 1)
    assert(got("X").getAs[Long]("n_tv") == 0)
    assert(got("X").isNullAt(got("X").fieldIndex("tstv")))
    assert(got("Y").getAs[Long]("n_ts") == 1)
    assert(got("Y").getAs[Long]("n_tv") == 1)
    assert(got("Y").getAs[Double]("tstv") == 1.0)
  }

  test("VcfApi.mutationSpectrum: purine folding, indels excluded") {
    import spark.implicits._
    val info = Seq(
      ("A", "G"), // folds to T>C (transition)
      ("G", "T"), // folds to C>A
      ("C", "G"), // stays C>G
      ("T", "AT"), // indel — excluded
      ("GA", "G") // multi-base ref — excluded
    ).toDF("ref", "alt")
    val got = graft.vcf.VcfApi.mutationSpectrum(info).collect()
      .map(r => r.getAs[String]("class") ->
        (r.getAs[Long]("n"), r.getAs[Double]("fraction"),
          r.getAs[Boolean]("is_transition"))).toMap
    assert(got.keySet == Set("C>A", "C>G", "T>C"))
    assert(got("C>A") == ((1L, 0.333333, false)))
    assert(got("C>G") == ((1L, 0.333333, false)))
    assert(got("T>C") == ((1L, 0.333333, true)))
  }

  test("VcfApi.inbreedingF: hand expectation terms and edge guards") {
    import spark.implicits._
    // v1 (gts 0,1): p=.25, e = 1 − .375·4/3 = .5; v2 (2,0): e = 1/3;
    // v3 single call (gt 1): e = 0; v4 monomorphic (2,2): e = 1
    val geno = Seq(
      (1L, "A", Some(0d)), (1L, "B", Some(1d)),
      (2L, "A", Some(2d)), (2L, "B", Some(0d)),
      (3L, "A", None), (3L, "B", Some(1d)),
      (4L, "A", Some(2d)), (4L, "B", Some(2d))
    ).toDF("variant_id", "sample", "gt")
    val got = graft.vcf.VcfApi.inbreedingF(geno).collect()
      .map(r => r.getAs[String]("sample") -> r).toMap
    val a = got("A")
    // A called at 1,2,4 (hom at 1,2,4): E = .5 + 1/3 + 1 = 1.833333,
    // F = (3 − E)/(3 − E) = 1
    assert(a.getAs[Long]("n_called") == 3 && a.getAs[Long]("o_hom") == 3)
    assert(a.getAs[Double]("e_hom") == 1.833333)
    assert(a.getAs[Double]("f") == 1d)
    val b = got("B")
    // B called at all 4 (hom at 2,4): E = .5 + 1/3 + 0 + 1 = 1.833333,
    // F = (2 − E)/(4 − E) ≈ 1/13
    assert(b.getAs[Long]("n_called") == 4 && b.getAs[Long]("o_hom") == 2)
    assert(math.abs(b.getAs[Double]("f") - 1d / 13d) < 1e-5)
    // all-monomorphic sample: L = E → F is NULL, not a crash
    val mono = Seq((1L, "A", Some(2d)), (1L, "B", Some(2d)))
      .toDF("variant_id", "sample", "gt")
    val m = graft.vcf.VcfApi.inbreedingF(mono).collect().head
    assert(m.isNullAt(m.fieldIndex("f")))
  }

  test("VcfApi.ldPrune: the caller's Caches scope frees every round checkpoint") {
    val dup = Seq(0d, 0d, 1d, 1d, 2d, 2d)
    val geno = (1 to 4).flatMap(v => dup.zipWithIndex.map {
      case (g, i) => (v.toLong, s"s$i", g)
    }).toDF("variant_id", "sample", "gt")
    val info = (1 to 4).map(v => (v.toLong, "1", v * 100L))
      .toDF("variant_id", "chr", "start")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    var madeInside = Set.empty[Int]
    val got = Caches.scoped {
      val r = VcfApi.ldPrune(geno, info, 150L, 0.5).orderBy("variant_id").collect()
        .map(row => (row.getLong(0), row.getAs[Boolean]("kept"))).toSeq
      madeInside = sc.getPersistentRDDs.keySet.toSet -- before
      r
    }
    assert(got == Seq((1L, true), (2L, false), (3L, true), (4L, false)))
    // the anti-chain needs several rounds, each one checkpoint
    assert(madeInside.size >= 2, madeInside)
    val left = madeInside & sc.getPersistentRDDs.keySet.toSet
    assert(left.isEmpty, s"RDDs persisted inside the scope outlived it: $left")
  }

  test("buildGeneIndex: the spilled index is released with the caller's scope") {
    import org.apache.spark.storage.StorageLevel
    val impact = (1 to 300).map(i => (i.toLong, s"G${i % 5}")).toDF("variant_id", "symbol")
    val info = (1 to 300).map(i => (i.toLong, 0.001)).toDF("variant_id", "af")
    val spill = Caches.scoped {
      val idx = VcfApi.buildGeneIndex(impact, maxDriverIds = 0L)
      assert(idx.ids.isEmpty && idx.spill.isDefined)
      assert(VcfApi.filterByGeneIndexed(idx, info, "G1").count() == 60)
      assert(idx.spill.get.storageLevel != StorageLevel.NONE)
      idx.spill.get
    }
    assert(spill.storageLevel == StorageLevel.NONE)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.vcf._

class VcfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vcf = VcfReader.fromLines(spark, ToyVcf.lines)
  private lazy val tables = VcfBuild.build(vcf)

  test("header parse: defs, samples, csq columns") {
    val h = vcf.header
    assert(h.samples == Seq("S1", "S2"))
    assert(h.infoDefs.map(_.id) == Seq("AC", "AF", "DP", "VT", "CSQ"))
    assert(h.formatDefs.map(_.id) == Seq("GT", "DP"))
    assert(h.contigs == Seq("1", "2"))
    assert(h.infoDef("AF").get.vcfType == "Float")
    // description with commas inside quotes parses intact
    assert(h.infoDef("AC").get.description == "Allele count in genotypes")
    assert(h.csqColumns.get == Seq(
      "consequence_annotations_from_ensembl_vep__format__allele",
      "consequence", "impact", "symbol", "gene", "biotype", "intron"))
  }

  test("parsed body: fixed fields, typed info, missing values") {
    val df = vcf.df
    assert(df.count() == 6)
    val r = df.filter($"pos" === 300).select("id", "qual", "filter", "dp").head
    assert(r.isNullAt(0)) // '.' id → null
    assert(r.getDouble(1) == 10.0)
    assert(r.getString(2) == "q10")
    assert(r.getLong(3) == 5)
    // Number=A arrays are native arrays pre-scalarization
    assert(df.select($"ac").schema.head.dataType.typeName == "array")
  }

  test("positions-only scan physically skips the sample-tail tokenization") {
    // S2 at the byte level: a chr/pos projection must keep only the
    // prefix-limited split (limit 9, stops before the genotype tail)
    // and reference NEITHER the full split NOR str_to_map — the
    // reference's ScanVcfParam(info=NA, samples=NA) behavior
    // RDD-backed lines: a LocalRelation input would be constant-folded
    // away before the projection shape could be observed
    import spark.implicits._
    val header = VcfHeader.parse(ToyVcf.lines.filter(_.startsWith("#")))
    val body = spark.createDataset(spark.sparkContext.parallelize(
      ToyVcf.lines.filterNot(_.startsWith("#"))))
    val parsed = VcfReader.parse(body, header)
    val narrow = parsed.select("chr", "pos")
    val plan = narrow.queryExecution.optimizedPlan.toString
    assert(plan.contains("split(value"), plan)
    assert(plan.contains(", 9)"), s"prefix-limited split missing:\n$plan")
    assert(!plan.contains(", -1)"),
      s"positions-only scan still tokenizes the full line:\n$plan")
    assert(!plan.contains("str_to_map"),
      s"positions-only scan still parses INFO:\n$plan")
    // the wide read takes the sample tail as one string: item 8 of the
    // prefix split, split once more at its first tab — never the
    // full-line split
    val wide = parsed.select("chr", "pos", "genotypes").queryExecution
      .optimizedPlan.toString
    assert(!wide.contains(", -1)"), s"wide read tokenizes the full line:\n$wide")
    assert(wide.contains(", 9)[8], \t, 2)"),
      s"sample tail not read through the limit-2 split of item 8:\n$wide")
  }

  test("variant ids are contiguous and (chr,pos)-ordered") {
    val ids = tables.info.select("variant_id", "chr", "start")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(ids.map(_._1).toSeq == (1L to 6L))
    assert(ids.map(t => (t._2, t._3)).toSeq ==
      Seq(("1", 100L), ("1", 200L), ("1", 300L), ("2", 150L), ("2", 250L), ("2", 400L)))
  }

  test("variant ids need no window and no broadcast join") {
    // the partition offsets are driver literals counted once over the
    // staging cache; only impact's clinvar re-join may broadcast
    Seq(tables.info, tables.geno).foreach { t =>
      val plan = t.queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.contains("BroadcastExchange"), plan)
    }
  }

  test("variant_id is the 1-based rank in (chr, pos, ref, alt) order") {
    import org.apache.spark.sql.expressions.Window
    def check(t: VcfTables, n: Long): Unit = {
      val rank = row_number().over(Window.orderBy("chr", "start", "ref", "alt"))
      val ranked = t.info.select($"variant_id", rank.cast("long").as("rank"))
      assert(ranked.count() == n)
      assert(ranked.where($"variant_id" =!= $"rank").count() == 0)
      assert(t.geno.select("variant_id").distinct().join(t.info, "variant_id").count() == n)
    }
    check(tables, 6)
    check(VcfBuild.build(SyntheticVcf.generate(spark, 300, nSamples = 37, nGenes = 10)), 300)
  }

  test("VcfTables.write: pool threads inherit the caller's local properties and scope") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        ops.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.op"))))
    }
    val dir = java.nio.file.Files.createTempDirectory("vcfpool").toString
    val persistent = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.op", "42")
    val written = try Caches.scoped {
      VcfBuild.build(VcfReader.fromLines(spark, ToyVcf.lines)).write(dir)
    } finally {
      sc.setLocalProperty("graft.test.op", null)
      org.apache.spark.SpecAccess.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    assert(written == Seq("variant_info", "variant_impact", "variant_geno", "gene_map",
      "samples", "meta_info", "meta_format", "meta_filter", "meta_contig"))
    assert(ops.size >= written.size && ops.stream().allMatch(_.contains("42")), ops)
    assert((sc.getPersistentRDDs.keySet -- persistent).isEmpty,
      "the scope left the build's staging cache behind")
  }

  test("README worked-example analog: one variant decomposes into 3 tables") {
    // variant 2 (1:200 C>T): info row, 2 impact rows (term split), 2 geno rows
    val info = tables.info.filter($"variant_id" === 2)
    assert(info.count() == 1)
    assert(info.select("ac", "af").as[(Long, Double)].head == ((2L, 0.5)))
    val imp = tables.impact.get.filter($"variant_id" === 2)
      .select("consequence", "is_lof", "is_splicing")
      .as[(String, Boolean, Boolean)].collect().sortBy(_._1)
    assert(imp.toSeq == Seq(
      ("splice_region_variant", true, true), ("stop_gained", true, false)))
    val gen = tables.geno.filter($"variant_id" === 2)
      .select("sample", "gt", "gt_raw").as[(String, Option[Double], String)]
      .collect().sortBy(_._1)
    assert(gen.toSeq == Seq(("S1", Some(2d), "1|1"), ("S2", Some(0d), "0|0")))
  }

  test("impact drops the allele column and keeps derived flags") {
    val cols = tables.impact.get.columns.toSeq
    assert(!cols.contains("consequence_annotations_from_ensembl_vep__format__allele"))
    assert(Seq("is_lof", "is_splicing", "is_exonic", "is_intronic").forall(cols.contains))
  }

  test("gene_map: distinct identity columns, empty → null") {
    val gm = tables.geneMap.get.as[(String, String)].collect().sorted
    assert(gm.toSeq == Seq(("GENE1", "ENSG1"), ("GENE2", "ENSG2"), ("GENE3", "ENSG3")))
  }

  test("samples + meta tables") {
    assert(tables.samples.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "S1"), (2L, "S2")))
    assert(tables.meta("info").count() == 5)
    assert(tables.meta("format").count() == 2)
    // one table per header section includes contig (02-build-db.R:113-127),
    // with the declared length kept and NULL where the header omits it
    assert(tables.meta("contig").columns.toSeq == Seq("name", "length"))
    assert(tables.meta("contig").as[(String, Option[String])].collect()
      .sortBy(_._1).toSeq == Seq(("1", Some("1000")), ("2", None)))
  }

  test("clinvar re-join: unnested onto impact, excluded from info") {
    val t = VcfBuild.build(VcfReader.fromLines(spark, ToyVcf.clinvarLines))
    assert(!t.info.columns.contains("clinvar_sig"))
    assert(!t.info.columns.contains("clinvar_disease_name"))
    val imp = t.impact.get
    assert(imp.columns.head == "variant_id")
    // rs1: 2 consequences × 2 sigs = 4 rows; un-annotated keep NULLs
    assert(imp.filter($"variant_id" === 1).count() == 4)
    assert(imp.filter($"variant_id" === 6 && $"clinvar_sig".isNull).count() == 1)
  }

  test("clinvar stays in variant_info when the VCF has no CSQ field") {
    // without CSQ there is no impact table to carry the clinvar columns:
    // the reference only relocates them inside its csq_exists branch
    val lines = Seq(
      "##INFO=<ID=clinvar_sig,Number=.,Type=String,Description=\"sig\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\tclinvar_sig=benign\tGT\t0|1")
    val t = VcfBuild.build(VcfReader.fromLines(spark, lines))
    assert(t.impact.isEmpty)
    assert(t.info.columns.contains("clinvar_sig"))
    assert(t.info.select(element_at($"clinvar_sig", 1)).head.getString(0) == "benign")
  }

  test("scalar (Number=1) clinvar INFO joins without unnest") {
    val lines = Seq(
      "##INFO=<ID=clinvar_sig,Number=1,Type=String,Description=\"sig\">",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|IMPACT|SYMBOL|Gene|BIOTYPE|INTRON\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\tclinvar_sig=benign;CSQ=G|missense_variant|MODERATE|G1|E1|protein_coding|\tGT\t0|1")
    val t = VcfBuild.build(VcfReader.fromLines(spark, lines))
    val r = t.impact.get.select("clinvar_sig").head
    assert(r.getString(0) == "benign")
  }

  test("case-insensitive duplicate INFO declarations: first wins (X11)") {
    val lines = Seq(
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "##INFO=<ID=dp,Number=1,Type=Float,Description=\"dup\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\tDP=7\tGT\t0|1")
    val v = VcfReader.fromLines(spark, lines)
    // exactly one dp column, typed from the first declaration (Integer)
    assert(v.df.columns.count(_ == "dp") == 1)
    assert(v.df.select("dp").head.getLong(0) == 7L)
  }

  test("heterogeneous per-row FORMAT resolves fields positionally") {
    val lines = Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\t.\tGT:DP\t0|1:9",
      "1\t20\t.\tC\tT\t5\tPASS\t.\tDP:GT\t8:1|1", // reversed key order
      "1\t30\t.\tG\tA\t5\tPASS\t.\tGT\t0|0")      // DP absent
    val v = VcfReader.fromLines(spark, lines)
    val geno = VcfBuild.variantGeno(VcfBuild.withVariantIds(v.df), v.header)
      .select("variant_id", "gt_raw", "dp")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(geno == Seq(
      (1L, "0|1", Some(9L)), (2L, "1|1", Some(8L)), (3L, "0|0", None)))
  }

  test("multiallelic guard throws on unnormalized input") {
    val bad = ToyVcf.lines.map(l =>
      if (l.startsWith("1\t100")) l.replace("\tG\t", "\tG,C\t") else l)
    val v = VcfReader.fromLines(spark, bad)
    val e = intercept[IllegalArgumentException](Caches.scoped(VcfBuild.build(v)))
    assert(e.getMessage.contains("1 multiallelic record(s) found (e.g. 1 100 A G,C)"),
      e.getMessage)
    assert(VcfBuild.multiallelicSites(v.df).count() == 1)
  }

  test("write + reread roundtrip with id pull") {
    val dir = java.nio.file.Files.createTempDirectory("vcfdb").toString
    tables.write(dir)
    val geno = spark.read.parquet(s"$dir/variant_geno")
    val pulled = VcfApi.pullByIds(geno, Seq(2L, 6L))
    assert(pulled.select("variant_id").distinct().as[Long].collect().sorted.toSeq ==
      Seq(2L, 6L))
    val info = spark.read.parquet(s"$dir/variant_info")
    val impact = spark.read.parquet(s"$dir/variant_impact")
    val hits = VcfApi.filterByGene(impact, info, "GENE2", afMax = 0.8)
    assert(hits.select("variant_id").as[Long].collect().sorted.toSeq == Seq(4L, 5L))
  }

  test("pullByGene composes filter and genotype fetch") {
    val g = VcfApi.pullByGene(tables.impact.get, tables.info, tables.geno,
      "GENE1", afMax = 0.6)
    assert(g.count() == 4) // variants 1,2 × 2 samples
  }

  test("overlapJoin matches naive interval predicate") {
    val regions = Seq(("1", 150L, 350L), ("2", 100L, 260L), ("1", 90L, 105L))
      .toDF("chr", "start", "end")
    val got = VcfApi.overlapJoin(tables.info, regions, binWidth = 100L)
      .select("variant_id", "rstart").as[(Long, Long)].collect().sorted.toSeq
    val naive = tables.info.as("v")
      .join(regions.as("r"),
        $"v.chr" === $"r.chr" && $"v.start" <= $"r.end" && $"v.end" >= $"r.start")
      .select($"variant_id", $"r.start").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive && got.nonEmpty)
  }
}

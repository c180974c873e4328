package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.vcf.{ToyVcf, VcfApi, VcfBuild, VcfReader, VcfTables}

/** VCF-domain gate: the reference engine's own data model (info /
  * impact / geno / gene_map, VCFdbR `README.md:70-100`) built by the
  * full `graft.vcf` pipeline from the embedded [[graft.vcf.ToyVcf]]
  * fixture, pinned by hand-computed golden-row VALUES oracles — the
  * analog of the reference README's worked example used as a spec
  * (SURVEY.md §5.3).
  */
object VcfQ {

  // Build once per JVM: the toy fixture is static, and every query
  // reads a different derived table of the same build. The staging
  // caches live in this never-released scope, not in the per-query
  // scope of whichever gate touches them first: releasing them would
  // turn every later gate's id assignment into two independent sorts.
  private val builds = new graft.Caches
  private val built = new java.util.concurrent.ConcurrentHashMap[String, VcfTables]
  private def once(key: String)(build: => VcfTables): VcfTables =
    built.computeIfAbsent(key, _ => builds { build })

  private def tables(s: SparkSession): VcfTables = once("toy") {
    VcfBuild.build(VcfReader.fromLines(s, ToyVcf.lines))
  }

  // Clinvar-annotated variant of the fixture: gates the INFO-side
  // clinvar unnest + left-join onto impact (02-build-db.R:286-305).
  private def tablesClinvar(s: SparkSession): VcfTables = once("clinvar") {
    VcfBuild.build(VcfReader.fromLines(s, ToyVcf.clinvarLines))
  }

  // Same fixture round-tripped through a bgzip file and the splittable
  // BGZF scan — gates the compressed-input path (S1) against the same
  // golden rows as the in-memory parse. Tiny blocks + tiny splits force
  // a genuinely multi-partition compressed read even on the toy file.
  private def tablesBgzf(s: SparkSession): VcfTables = once("bgzf") {
    val f = java.nio.file.Files
      .createTempFile("graft_toy_bgzf", ".vcf.gz").toFile
    f.deleteOnExit()
    graft.vcf.Bgzf.writeLocalFile(f.getAbsolutePath, ToyVcf.lines, blockData = 200)
    val vcf = VcfReader.read(s, f.getAbsolutePath, splitSize = Some(512L))
    require(vcf.df.rdd.getNumPartitions > 1,
      "BGZF scan must plan multiple input partitions")
    VcfBuild.build(vcf)
  }

  /** Trio fixture shared by q294 (Mendel errors) and q303 (TDT):
    * F1×M1 parents, children C1/C2, X1 a non-family sample that must
    * never enter the joins; v7 has a missing mother call.
    */
  private def familyFixture(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val geno = Seq(
      (1L, "F1", Some(0d)), (1L, "M1", Some(0d)), (1L, "C1", Some(1d)),
      (1L, "C2", Some(0d)), (1L, "X1", Some(1d)),
      (2L, "F1", Some(2d)), (2L, "M1", Some(2d)), (2L, "C1", Some(1d)),
      (2L, "C2", Some(2d)), (2L, "X1", Some(1d)),
      (3L, "F1", Some(0d)), (3L, "M1", Some(2d)), (3L, "C1", Some(0d)),
      (3L, "C2", Some(1d)), (3L, "X1", Some(1d)),
      (4L, "F1", Some(2d)), (4L, "M1", Some(1d)), (4L, "C1", Some(0d)),
      (4L, "C2", Some(1d)), (4L, "X1", Some(1d)),
      (5L, "F1", Some(1d)), (5L, "M1", Some(1d)), (5L, "C1", Some(2d)),
      (5L, "C2", Some(1d)), (5L, "X1", Some(1d)),
      (6L, "F1", Some(0d)), (6L, "M1", Some(2d)), (6L, "C1", Some(1d)),
      (6L, "C2", Some(2d)), (6L, "X1", Some(1d)),
      (7L, "F1", Some(2d)), (7L, "M1", None), (7L, "C1", Some(1d)),
      (7L, "C2", Some(2d)), (7L, "X1", Some(1d))
    ).toDF("variant_id", "sample", "gt")
    val trios = Seq(("F1", "M1", "C1"), ("F1", "M1", "C2"))
      .toDF("father", "mother", "child")
    (geno, trios)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_vcf_info" -> ((s, _) => {
      tables(s).info
        .select("variant_id", "chr", "start", "end", "ref", "alt",
          "qual", "filter", "ac", "af", "dp", "vt")
        .orderBy("variant_id")
    }),
    "q44_vcf_impact" -> ((s, _) => {
      tables(s).impact.get
        .select("variant_id", "consequence", "impact", "symbol", "gene",
          "biotype", "intron", "is_lof", "is_splicing", "is_exonic", "is_intronic")
        .orderBy("variant_id", "consequence")
    }),
    "q45_vcf_geno" -> ((s, _) => {
      tables(s).geno
        .select("variant_id", "sample", "gt", "gt_raw", "dp")
        .orderBy("variant_id", "sample")
    }),
    "q46_vcf_gene_filter" -> ((s, _) => {
      val t = tables(s)
      VcfApi.filterByGene(t.impact.get, t.info, "GENE1", afMax = 0.6)
        .select("variant_id", "symbol", "af")
        .orderBy("variant_id")
    }),
    "q47_vcf_range_pull" -> ((s, _) => {
      val t = tables(s)
      VcfApi.pullByRange(t.info, "1", 150L, 350L)
        .select("variant_id")
        .join(t.geno, Seq("variant_id"))
        .select("variant_id", "sample", "gt")
        .orderBy("variant_id", "sample")
    }),
    "q48_vcf_gene_map" -> ((s, _) => {
      tables(s).geneMap.get.orderBy("symbol")
    }),
    // one meta table per header section includes contig
    // (02-build-db.R:113-127); length NULL where the header omits it
    "q412_vcf_meta_contig" -> ((s, _) => {
      tables(s).meta("contig").orderBy("name")
    }),
    "q58_vcf_clinvar" -> ((s, _) => {
      val t = tablesClinvar(s)
      // info must NOT carry the clinvar INFO columns (they live on impact)
      require(!t.info.columns.contains("clinvar_sig"),
        "clinvar columns must be excluded from variant_info")
      t.impact.get
        .select("variant_id", "consequence", "clinvar_sig", "clinvar_disease_name")
        .orderBy("variant_id", "consequence", "clinvar_sig")
    }),
    "q59_vcf_bgzf_info" -> ((s, _) => {
      tablesBgzf(s).info
        .select("variant_id", "chr", "start", "end", "ref", "alt",
          "qual", "filter", "ac", "af", "dp", "vt")
        .orderBy("variant_id")
    }),
    "q70_vcf_export_roundtrip" -> ((s, _) => {
      // parse → BGZF export (parallel compress + tabix) → re-read →
      // rebuild: the derived info table must equal the q43 golden rows
      val f = java.nio.file.Files
        .createTempFile("graft_toy_export", ".vcf.gz").toFile
      f.deleteOnExit()
      graft.vcf.VcfExport.exportVcf(
        VcfReader.fromLines(s, ToyVcf.lines), f.getAbsolutePath, blockData = 256)
      val back = VcfReader.read(s, f.getAbsolutePath, splitSize = Some(512L))
      VcfBuild.build(back).info
        .select("variant_id", "chr", "start", "end", "ref", "alt",
          "qual", "filter", "ac", "af", "dp", "vt")
        .orderBy("variant_id")
    }),
    // ---- PLINK-style genotype QC over the long geno table ----
    "q88_vcf_sample_qc" -> ((s, _) => {
      VcfApi.sampleQc(tables(s).geno).orderBy("sample")
    }),
    "q89_vcf_variant_qc" -> ((s, _) => {
      VcfApi.variantQc(tables(s).geno).orderBy("variant_id")
    }),
    "q189_vcf_hwe" -> ((s, _) => {
      VcfApi.hweReport(tables(s).geno).orderBy("variant_id")
    }),
    // ---- sample-level Ts/Tv QC (alt-carrying SNP sites per sample) ----
    "q217_vcf_tstv" -> ((s, _) => {
      val t = tables(s)
      VcfApi.tsTvReport(t.geno, t.info).orderBy("sample")
    }),
    // ---- windowed LD r² over dosage vectors (maxDist = 200 bp) ----
    "q218_vcf_ld" -> ((s, _) => {
      val t = tables(s)
      VcfApi.ldReport(t.geno, t.info, maxDist = 200L)
        .orderBy("id_a", "id_b")
    }),
    // ---- pairwise IBS sample relatedness (PLINK --genome shape) ----
    "q219_vcf_ibs" -> ((s, _) => {
      VcfApi.ibsReport(tables(s).geno).orderBy("sample_a", "sample_b")
    }),
    // ---- KING-robust kinship (Manichaikul 2010 / plink2 --make-king) ----
    "q289_vcf_king" -> ((s, _) => {
      VcfApi.kingReport(tables(s).geno).orderBy("sample_a", "sample_b")
    }),
    // ---- genetic relationship matrix (GCTA --make-grm shape) ----
    "q292_vcf_grm" -> ((s, _) => {
      VcfApi.grmReport(tables(s).geno).orderBy("sample_a", "sample_b")
    }),
    // ---- per-sample heterozygosity / inbreeding F (plink --het) ----
    "q293_vcf_het" -> ((s, _) => {
      VcfApi.hetReport(tables(s).geno).orderBy("sample")
    }),
    // ---- GRM leading principal component (EIGENSTRAT PC1): join-based
    //      power iteration, integer-grid accumulation — the GRM is
    //      never collected ----
    "q339_vcf_grm_pca" -> ((s, _) => {
      VcfApi.grmPca(tables(s).geno, iters = 8)
    }),
    // ---- LD decay curve: mean r² by 50-bp distance bin ----
    "q340_vcf_ld_decay" -> ((s, _) => {
      VcfApi.ldDecay(tables(s).geno, tables(s).info,
        maxDist = 200L, binBp = 50L)
    }),
    // ---- windowed nucleotide diversity (vcftools --window-pi) ----
    "q352_vcf_pi_windows" -> ((s, _) => {
      VcfApi.piWindows(tables(s).geno, tables(s).info, windowBp = 200L)
    }),
    // ---- per-sample singleton / private-doubleton QC ----
    "q356_vcf_private" -> ((s, _) => {
      VcfApi.privateVariants(tables(s).geno)
    }),
    // ---- SNV mutation spectrum (pyrimidine-folded 6 classes) ----
    "q374_vcf_spectrum" -> ((s, _) => {
      VcfApi.mutationSpectrum(tables(s).info)
    }),
    // ---- mean-dosage imputation accounting (GRM/PCA preprocessing) ----
    "q384_vcf_impute" -> ((s, _) => {
      VcfApi.imputeDosageReport(tables(s).geno)
    }),
    // ---- per-sample Ts/Tv over carried SNVs (plink --sample-counts) ----
    "q389_vcf_sample_tstv" -> ((s, _) => {
      val t = tables(s)
      VcfApi.sampleTsTv(t.geno, t.info)
    }),
    // ---- per-sample depth QC from the typed FORMAT dp column ----
    "q394_vcf_depth" -> ((s, _) => {
      VcfApi.depthQc(tables(s).geno)
    }),
    // ---- exact Hardy-Weinberg test (plink --hardy midp analog) ----
    "q410_vcf_hwe_exact" -> ((s, _) => {
      VcfApi.hweExact(tables(s).geno)
    }),
    // ---- per-sample inbreeding coefficient (plink --het): observed
    //      vs HWE-expected homozygosity with the allele-count
    //      small-sample correction ----
    "q436_vcf_inbreeding" -> ((s, _) => {
      VcfApi.inbreedingF(tables(s).geno)
    }),
    // ---- Mendelian-error trio check (plink --mendel): a family
    //      fixture exercising every feasible-range edge — 0×0, 2×2,
    //      0×2 and hom×het violations, a missing-call exclusion, two
    //      trios sharing parents, and a non-family sample that must
    //      never enter the join ----
    "q294_vcf_mendel" -> ((s, _) => {
      val (geno, trios) = familyFixture(s)
      VcfApi.mendelReport(geno, trios).orderBy("father", "mother", "child")
    }),
    // ---- transmission disequilibrium test (plink --tdt) over the
    //      same family fixture: v4 (het mother, u=1 from C2; C1 is a
    //      Mendel error, excluded), v5 (double-het parents, C1
    //      transmits alt twice, C2 once each way), all other sites
    //      uninformative (no het parent) or excluded ----
    "q303_vcf_tdt" -> ((s, _) => {
      val (geno, trios) = familyFixture(s)
      VcfApi.tdtReport(geno, trios).orderBy("variant_id")
    }),
    // ---- most-severe consequence per variant (VEP --most_severe
    //      collapse) over the toy impact table ----
    "q314_vcf_worst_csq" -> ((s, _) => {
      VcfApi.severestConsequence(tables(s).impact.get, Seq(
          "frameshift_variant", "stop_gained", "splice_region_variant",
          "missense_variant", "synonymous_variant",
          "upstream_gene_variant", "intron_variant"))
        .orderBy("variant_id")
    }),
    // ---- Hudson Fst between two populations: fixed (v1), balanced
    //      het (v2, negative estimate kept), one-sided (v3), a
    //      missing call shrinking n1 to 2 (v4), pop1 fully missing
    //      (v5, excluded), plus a sample outside both pops ----
    // ---- unrelated-set selection (--king-cutoff): {a,b,c} mutually
    //      identical (φ=0.5 triangle), {d,e} identical pair, f
    //      unrelated to everyone; Luby keeps c (triangle), e (pair),
    //      f (isolated) under the md5 round-1 priorities ----
    "q331_vcf_unrelated_set" -> ((s, _) => {
      import s.implicits._
      val pat = Map("a" -> Seq(1, 0, 1, 2, 1), "b" -> Seq(1, 0, 1, 2, 1),
        "c" -> Seq(1, 0, 1, 2, 1), "d" -> Seq(1, 1, 0, 0, 2),
        "e" -> Seq(1, 1, 0, 0, 2), "f" -> Seq(0, 2, 2, 0, 0))
      val geno = pat.toSeq.sortBy(_._1).flatMap { case (smp, gs) =>
        gs.zipWithIndex.map { case (g, i) => ((i + 1).toLong, smp, g.toDouble) }
      }.toDF("variant_id", "sample", "gt")
      VcfApi.unrelatedSet(geno, phiCutoff = 0.4).orderBy("sample")
    }),
    // ---- CMH stratified association: v1 case-enriched in both
    //      strata (χ²=2.7391, OR_MH=13); v2 all-ref controls ⇒ OR
    //      denominator 0 ⇒ NULL, χ² still defined ----
    "q323_vcf_cmh" -> ((s, _) => {
      import s.implicits._
      val geno = Seq(
        (1L, "sa", 2d), (1L, "sb", 1d), (1L, "sc", 0d), (1L, "sd", 1d),
        (1L, "se", 1d), (1L, "sf", 0d), (1L, "sg", 0d), (1L, "sh", 0d),
        (2L, "sa", 2d), (2L, "sb", 2d), (2L, "sc", 0d), (2L, "sd", 0d),
        (2L, "se", 1d), (2L, "sf", 2d), (2L, "sg", 0d), (2L, "sh", 0d)
      ).toDF("variant_id", "sample", "gt")
      val phenos = Seq(
        ("sa", true, "s1"), ("sb", true, "s1"),
        ("sc", false, "s1"), ("sd", false, "s1"),
        ("se", true, "s2"), ("sf", true, "s2"),
        ("sg", false, "s2"), ("sh", false, "s2")
      ).toDF("sample", "is_case", "stratum")
      VcfApi.cmhReport(geno, phenos).orderBy("variant_id")
    }),
    // ---- compound-het candidates: sa hets {1,2} in G1, sc {1,2,3} in
    //      G1, sb {4,5} in G2; single hets and hom calls never pair;
    //      duplicate (v1,G1) impact rows count once ----
    "q319_vcf_comphet" -> ((s, _) => {
      import s.implicits._
      val geno = Seq(
        (1L, "sa", Some(1d)), (2L, "sa", Some(1d)), (3L, "sa", Some(0d)),
        (4L, "sa", Some(1d)), (5L, "sa", Some(0d)),
        (1L, "sb", Some(1d)), (2L, "sb", Some(2d)), (3L, "sb", None),
        (4L, "sb", Some(1d)), (5L, "sb", Some(1d)),
        (1L, "sc", Some(1d)), (2L, "sc", Some(1d)), (3L, "sc", Some(1d)),
        (4L, "sc", Some(0d)), (5L, "sc", Some(2d))
      ).toDF("variant_id", "sample", "gt")
      val impact = Seq(
        (1L, "missense_variant", "G1"), (1L, "intron_variant", "G1"),
        (2L, "stop_gained", "G1"), (3L, "missense_variant", "G1"),
        (4L, "frameshift_variant", "G2"), (5L, "missense_variant", "G2")
      ).toDF("variant_id", "consequence", "symbol")
      VcfApi.compHetCandidates(geno, impact).orderBy("symbol", "sample")
    }),
    // ---- Tajima's D neutrality test: 4 samples (n=8 alleles), six
    //      fully-called sites (v5 part-called + v8 uncalled excluded),
    //      S=4 segregating (v3 all-ref + v4 all-alt invariant),
    //      integer pi numerator 2·a·(n−a) summed = 110 ----
    "q315_vcf_tajima_d" -> ((s, _) => {
      import s.implicits._
      val geno = Seq(
        (1L, "a", Some(0d)), (1L, "b", Some(0d)), (1L, "c", Some(1d)),
        (1L, "d", Some(2d)),
        (2L, "a", Some(1d)), (2L, "b", Some(1d)), (2L, "c", Some(1d)),
        (2L, "d", Some(1d)),
        (3L, "a", Some(0d)), (3L, "b", Some(0d)), (3L, "c", Some(0d)),
        (3L, "d", Some(0d)),
        (4L, "a", Some(2d)), (4L, "b", Some(2d)), (4L, "c", Some(2d)),
        (4L, "d", Some(2d)),
        (5L, "a", Some(0d)), (5L, "b", Some(1d)), (5L, "c", None),
        (5L, "d", Some(2d)),
        (6L, "a", Some(2d)), (6L, "b", Some(0d)), (6L, "c", Some(0d)),
        (6L, "d", Some(0d)),
        (7L, "a", Some(1d)), (7L, "b", Some(0d)), (7L, "c", Some(0d)),
        (7L, "d", Some(1d)),
        (8L, "a", None), (8L, "b", None), (8L, "c", None), (8L, "d", None)
      ).toDF("variant_id", "sample", "gt")
      VcfApi.tajimaD(geno)
    }),
    "q309_vcf_fst" -> ((s, _) => {
      import s.implicits._
      val geno = Seq(
        (1L, "a", Some(0d)), (1L, "b", Some(0d)), (1L, "c", Some(2d)),
        (1L, "d", Some(2d)), (1L, "z", Some(1d)),
        (2L, "a", Some(1d)), (2L, "b", Some(1d)), (2L, "c", Some(1d)),
        (2L, "d", Some(1d)), (2L, "z", Some(0d)),
        (3L, "a", Some(0d)), (3L, "b", Some(2d)), (3L, "c", Some(0d)),
        (3L, "d", Some(0d)), (3L, "z", Some(2d)),
        (4L, "a", Some(0d)), (4L, "b", None), (4L, "c", Some(1d)),
        (4L, "d", Some(2d)), (4L, "z", Some(1d)),
        (5L, "a", None), (5L, "b", None), (5L, "c", Some(1d)),
        (5L, "d", Some(1d)), (5L, "z", Some(1d))
      ).toDF("variant_id", "sample", "gt")
      val pops = Seq(("a", "P1"), ("b", "P1"), ("c", "P2"), ("d", "P2"))
        .toDF("sample", "pop")
      VcfApi.fstReport(geno, pops, "P1", "P2").orderBy("variant_id")
    }),
    // ---- two-callset genotype concordance (picard shape): B flips
    //      S1's v2, misses S1's v5 + S2's v2, adds calls A lacks ----
    "q304_vcf_concordance" -> ((s, _) => {
      import s.implicits._
      val a = Seq(
        (1L, "S1", Some(0d)), (2L, "S1", Some(1d)), (3L, "S1", Some(2d)),
        (4L, "S1", None), (5L, "S1", Some(1d)),
        (1L, "S2", Some(1d)), (2L, "S2", Some(1d)), (3L, "S2", Some(0d)),
        (4L, "S2", Some(2d)), (5L, "S2", None)
      ).toDF("variant_id", "sample", "gt")
      val b = Seq(
        (1L, "S1", Some(0d)), (2L, "S1", Some(2d)), (3L, "S1", Some(2d)),
        (4L, "S1", Some(1d)), (5L, "S1", None),
        (1L, "S2", Some(1d)), (2L, "S2", None), (3L, "S2", Some(0d)),
        (4L, "S2", Some(2d)), (5L, "S2", Some(0d))
      ).toDF("variant_id", "sample", "gt")
      VcfApi.concordanceReport(a, b).orderBy("sample")
    }),
    // ---- LD pruning (plink --indep-pairwise, position-greedy):
    //      v1↔v2 and v2↔v3 conflict (r²=0.6667 > 0.5), v1↔v3 don't
    //      (0.1111) ⇒ keep v1, drop v2, keep v3 (the 2-round chain);
    //      v4/v5 sit past the 500bp window and correlate only 0.25 ----
    "q305_vcf_ldprune" -> ((s, _) => {
      import s.implicits._
      val dose = Map(
        1L -> Seq(0, 0, 0, 2, 2, 2), 2L -> Seq(0, 0, 1, 2, 2, 1),
        3L -> Seq(0, 0, 2, 2, 2, 0), 4L -> Seq(0, 1, 2, 0, 1, 2),
        5L -> Seq(0, 2, 1, 1, 0, 2))
      val geno = dose.toSeq.flatMap { case (v, gs) =>
        gs.zipWithIndex.map { case (g, i) => (v, s"s$i", g.toDouble) }
      }.toDF("variant_id", "sample", "gt")
      val info = Seq((1L, "1", 100L), (2L, "1", 200L), (3L, "1", 300L),
        (4L, "1", 5000L), (5L, "1", 5100L))
        .toDF("variant_id", "chr", "start")
      VcfApi.ldPrune(geno, info, maxDist = 500L, r2Max = 0.5)
        .orderBy("variant_id")
    }),
    // ---- polygenic score (plink --score 'sum' + mean imputation)
    //      over the toy geno: S1's missing v3 call imputes to 2p̂,
    //      weight rows for a variant absent from geno (id 7) vanish ----
    "q295_vcf_prs" -> ((s, _) => {
      import s.implicits._
      val weights = Seq((1L, 0.5), (3L, -1.0), (5L, 2.0), (7L, 10.0))
        .toDF("variant_id", "weight")
      VcfApi.prsReport(tables(s).geno, weights).orderBy("sample")
    }),
    // ---- folded allele-frequency spectrum ----
    "q220_vcf_afs" -> ((s, _) => {
      VcfApi.alleleFrequencySpectrum(tables(s).info).orderBy("bin")
    }),
    // ---- runs of homozygosity (gaps-and-islands over gt calls) ----
    "q231_vcf_roh" -> ((s, _) => {
      val t = tables(s)
      VcfApi.rohReport(t.geno, t.info, minSites = 2)
        .orderBy("sample", "chr", "start_pos")
    }),
    // ---- per-sample missingness / call-rate QC ----
    "q276_vcf_missingness" -> ((s, _) => {
      VcfApi.missingnessReport(tables(s).geno).orderBy("sample")
    }),
    // ---- rare-variant burden per (sample, gene) at af < 0.3 ----
    "q253_vcf_burden" -> ((s, _) => {
      val t = tables(s)
      VcfApi.burdenReport(t.geno, t.impact.get, t.info, afMax = 0.3)
        .orderBy("sample", "symbol")
    }),
    "q62_vcf_tabix_range" -> ((s, _) => {
      // tabix-indexed pre-ETL range read on a bgzipped copy of the toy
      // fixture: only index-selected blocks are planned, and the result
      // must equal the full-scan + overlap-filter golden rows
      val f = java.nio.file.Files
        .createTempFile("graft_toy_tabix", ".vcf.gz").toFile
      f.deleteOnExit()
      graft.vcf.Bgzf.writeLocalFile(f.getAbsolutePath, ToyVcf.lines, blockData = 200)
      val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      graft.vcf.Tabix.build(p.getFileSystem(s.sessionState.newHadoopConf()), p)
      VcfReader.readRange(s, f.getAbsolutePath, "1", 150L, 350L)
        .df.select("chr", "pos", "id", "ref", "alt", "qual", "filter")
        .orderBy("pos")
    }),

    "q97_vcf_multi_region" -> ((s, _) => {
      // batched multi-region tabix read (the reference's chunked-ETL
      // access shape): chunks from BOTH regions merge before planning,
      // shared blocks are read once, and the result equals the union of
      // the per-region overlap filters
      val f = java.nio.file.Files
        .createTempFile("graft_toy_tabix_multi", ".vcf.gz").toFile
      f.deleteOnExit()
      graft.vcf.Bgzf.writeLocalFile(f.getAbsolutePath, ToyVcf.lines, blockData = 200)
      val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      graft.vcf.Tabix.build(p.getFileSystem(s.sessionState.newHadoopConf()), p)
      VcfReader.readRegions(s, f.getAbsolutePath,
          Seq(("1", 100L, 250L), ("2", 200L, 500L)))
        .df.select("chr", "pos", "id", "ref", "alt", "qual", "filter")
        .orderBy("chr", "pos")
    }))

  /** q339 oracle: the grmPca power iteration replayed round-by-round in
    * SQL from the q292-pinned GRM golden values (×1e4 integer grid) —
    * HUGEINT accumulation, sign-aware integer-valued floors, the same
    * md5-parity start vector. Composition over an already-gated
    * operator's goldens, the q110/q69 pattern.
    */
  private val GrmPcaOracle: String = {
    val rounds = 1 to 8
    val stages = rounds.map { r =>
      s"""w$r AS MATERIALIZED (
            SELECT f.a, CAST(sum(f.g4 * v.v12) AS HUGEINT) AS w16
            FROM gfull f JOIN v${r - 1} v ON v.s = f.b GROUP BY f.a),
          m$r AS MATERIALIZED (
            SELECT a, CAST(CASE WHEN CAST(w16 AS DOUBLE) >= 0
              THEN floor(CAST(w16 AS DOUBLE) / 1e4 + 0.5)
              ELSE -floor(-CAST(w16 AS DOUBLE) / 1e4 + 0.5) END AS BIGINT)
              AS m12
            FROM w$r),
          n$r AS MATERIALIZED (
            SELECT sqrt(CAST(sum(CAST(m12 AS HUGEINT) * m12) AS DOUBLE))
              / 1e12 AS norm
            FROM m$r),
          v$r AS MATERIALIZED (
            SELECT m.a AS s,
              CAST(CASE WHEN n.norm <= 0 THEN 0
                WHEN CAST(m.m12 AS DOUBLE) / 1e12 / n.norm >= 0
                  THEN floor(CAST(m.m12 AS DOUBLE) / 1e12 / n.norm
                    * 1e12 + 0.5)
                ELSE -floor(-(CAST(m.m12 AS DOUBLE) / 1e12 / n.norm)
                  * 1e12 + 0.5) END AS BIGINT) AS v12
            FROM m$r m, n$r n)"""
    }.mkString(",\n          ")
    s"""WITH gfull(a, b, g4) AS (VALUES
            ('S1', 'S1', CAST(10000 AS BIGINT)), ('S1', 'S2', -10000),
            ('S2', 'S1', -10000), ('S2', 'S2', 8000)),
          v0 AS (
            SELECT s, CAST(CASE WHEN
                ('0x' || substr(md5('grmpca:' || s), 1, 15))::BIGINT % 2 = 0
              THEN 1000000000000 ELSE -1000000000000 END AS BIGINT) AS v12
            FROM (VALUES ('S1'), ('S2')) t(s)),
          $stages,
          flip AS (
            SELECT CASE WHEN v12 < 0 THEN -1 ELSE 1 END AS f
            FROM v8 ORDER BY s LIMIT 1)
         SELECT v.s AS sample,
           CAST(v.v12 * fl.f AS DOUBLE) / 1e12 AS pc1,
           floor(n8.norm * 1e6 + 0.5) / 1e6 AS lambda1
         FROM v8 v, flip fl, n8 ORDER BY sample"""
  }

  val oracle: Map[String, String] = Map(
    "q339_vcf_grm_pca" -> GrmPcaOracle,
    // hand-derived from the q218 LD golden rows binned at 50 bp:
    // bin [100,149]: pairs (1,2),(2,3),(4,5), scored r² {1.0, 1.0} from
    // (1,2)/(4,5), (2,3) NULL ⇒ mean 1.0; [150,199]: (5,6) NULL-only;
    // [200,249]: (1,3) NULL-only
    "q340_vcf_ld_decay" ->
      """SELECT * FROM (VALUES
          (CAST(100 AS BIGINT), CAST(149 AS BIGINT), CAST(3 AS BIGINT),
            CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE)),
          (150, 199, 1, 0, NULL),
          (200, 249, 1, 0, NULL))
         t(dist_from, dist_to, n_pairs, n_scored, mean_r2)
         ORDER BY dist_from""",
    // hand-computed from the q45 genotypes: fully-called sites only
    // (v3 misses S1); allele count n = 4, per-site numerator 2j(4−j)
    // with j = dosage sum: v1@1:100 j=1→6, v2@1:200 j=2→8,
    // v4@2:150 j=3→6, v5@2:250 j=1→6, v6@2:400 j=4→0; π = num/12
    "q352_vcf_pi_windows" ->
      """SELECT * FROM (VALUES
          ('1', CAST(0 AS BIGINT), CAST(199 AS BIGINT),
            CAST(1 AS BIGINT), CAST(0.5 AS DOUBLE)),
          ('1', 200, 399, 1, 0.666667),
          ('2', 0, 199, 1, 0.5),
          ('2', 200, 399, 1, 0.5),
          ('2', 400, 599, 1, 0.0))
         t(chr, win_start, win_end, n_sites, pi)
         ORDER BY chr, win_start""",
    // hand-computed from the q45 genotypes: singletons = AC 1 sites
    // (v5→S1; v1,v3→S2 — v3's AC is 1 over the CALLED genotypes),
    // private doubleton = AC 2 hom single-carrier (v2→S1)
    "q356_vcf_private" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
          ('S2', 2, 0))
         t(sample, n_singleton, n_private_doubleton)
         ORDER BY sample""",
    // hand-computed from the q45 genotype golden rows:
    // S1 gts (0,2,∅,2,1,2) dp (10,15,0,20,11,22); S2 gts (1,0,1,1,0,2)
    "q88_vcf_sample_qc" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(0.2 AS DOUBLE),
            CAST(1.4 AS DOUBLE), CAST(13.0 AS DOUBLE)),
          ('S2', 6, 0, 0.5, 0.8333, 13.0))
         t(sample, n_calls, n_missing, het_rate, mean_gt, mean_dp)
         ORDER BY sample""",
    "q89_vcf_variant_qc" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE),
            CAST(0.25 AS DOUBLE), CAST(1 AS BIGINT)),
          (2, 2, 1.0, 0.5,  0),
          (3, 1, 0.5, 0.5,  1),
          (4, 2, 1.0, 0.75, 1),
          (5, 2, 1.0, 0.25, 1),
          (6, 2, 1.0, 1.0,  0))
         t(variant_id, n_called, call_rate, alt_af, n_het)
         ORDER BY variant_id""",
    // hand-computed HWE from the q45 golden genotypes, e.g. v1 gts
    // (0,1): p = 3/4, expected (1.125, 0.75, 0.125) ⇒ χ² = 2/9;
    // monomorphic v6 (2,2): zero-expectation cells skipped ⇒ χ² = 0
    "q189_vcf_hwe" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0.75 AS DOUBLE),
            CAST(0.2222 AS DOUBLE)),
          (2, 2, 1, 0, 1, 0.5,  2.0),
          (3, 1, 0, 1, 0, 0.5,  1.0),
          (4, 2, 0, 1, 1, 0.25, 0.2222),
          (5, 2, 1, 1, 0, 0.75, 0.2222),
          (6, 2, 0, 0, 2, 0.0,  0.0))
         t(variant_id, n, n0, n1, n2, p_ref, hwe_chi2)
         ORDER BY variant_id""",
    // hand-computed from the q45 genotypes + q43 sites: transition
    // sites are v1 A→G, v2 C→T, v3 G→A, v4 T→C; v6 A→C is the one
    // transversion; v5 is an INDEL (excluded). S1 carries alt at
    // v2,v4 (ts) and v6 (tv) ⇒ 2/1; S2 at v1,v3,v4 and v6 ⇒ 3/1.
    "q217_vcf_tstv" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(2.0 AS DOUBLE)),
          ('S2', 3, 1, 3.0))
         t(sample, n_ts, n_tv, tstv)
         ORDER BY sample""",
    // hand-computed over the q45 dosage vectors (S1,S2): within-200bp
    // same-chr pairs are (1,2),(1,3),(2,3) on chr1 and (4,5),(5,6) on
    // chr2 ((4,6) is 250 bp apart). v3's S1 genotype is missing, so
    // (1,3)/(2,3) have n=1 ⇒ zero variance ⇒ NULL r²; (5,6) has
    // sb-variance 0 (v6 fixed hom-alt among shared samples) ⇒ NULL;
    // (1,2): doses (0,1)/(2,0) ⇒ r = −1 ⇒ r² = 1; (4,5): (2,1)/(1,0)
    // ⇒ r = 1 ⇒ r² = 1.
    "q218_vcf_ld" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(100 AS BIGINT),
            CAST(2 AS BIGINT), CAST(1.0 AS DOUBLE)),
          (1, 3, 200, 1, NULL),
          (2, 3, 100, 1, NULL),
          (4, 5, 100, 2, 1.0),
          (5, 6, 150, 2, NULL))
         t(id_a, id_b, dist, n, r2)
         ORDER BY id_a, id_b""",
    // hand-computed from the q45 genotypes: both-called variants for
    // (S1,S2) are 1,2,4,5,6 (v3 misses S1); dosage gaps 1,2,1,1,0 ⇒
    // ibs0=1 (v2), ibs1=3, ibs2=1 (v6); mean shared fraction
    // (0.5+0+0.5+0.5+1)/5 = 0.5.
    "q219_vcf_ibs" ->
      """SELECT * FROM (VALUES
          ('S1', 'S2', CAST(5 AS BIGINT), CAST(1 AS BIGINT),
            CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(0.5 AS DOUBLE)))
         t(sample_a, sample_b, n, ibs0, ibs1, ibs2, ibs_frac)
         ORDER BY sample_a, sample_b""",
    // hand-computed from the q45 genotypes: shared sites (1,2,4,5,6)
    // with dosage pairs (0,1),(2,0),(2,1),(1,0),(2,2) ⇒ both-het 0,
    // opposite-homozygote 1 (v2), S1 het at v5, S2 het at v1,v4;
    // φ = (0 − 2·1)/(1 + 2) = −2/3 ⇒ −0.6667 (negative = unrelated
    // under the toy's two-sample "population structure")
    "q289_vcf_king" ->
      """SELECT * FROM (VALUES
          ('S1', 'S2', CAST(5 AS BIGINT), CAST(0 AS BIGINT),
            CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
            CAST(-0.6667 AS DOUBLE)))
         t(sample_a, sample_b, n_shared, n_het_het, n_opp_homo,
           n_het_a, n_het_b, phi)
         ORDER BY sample_a, sample_b""",
    // hand-computed through the 1e-6 log-factorial grid: odd-na
    // variants have a single compatible h ⇒ p = 1, midp = 0.5; v2
    // (n=2, na=2, h=0): l6(h=0) = −1098612, l6(h=2) = −405465 ⇒
    // p9 = floor(exp(−1.098612)·1e9+0.5) = 333333430 ⇒ 0.333333,
    // midp (p9 − p9 div 2)/1e9 ⇒ 0.166667; v6 monomorphic excluded
    "q410_vcf_hwe_exact" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE),
            CAST(0.5 AS DOUBLE)),
          (2, 2, 0, 2, 0.333333, 0.166667),
          (3, 1, 1, 1, 1.0, 0.5),
          (4, 2, 1, 1, 1.0, 0.5),
          (5, 2, 1, 1, 1.0, 0.5))
         t(variant_id, n_called, het_obs, minor_alleles, p_exact, p_mid)
         ORDER BY variant_id""",
    // hand-computed through the 1e-9 expectation grid: per-variant
    // e = 1 − 2p(1−p)·2n/(2n−1) gives (v1..v6) = (.5, 1/3, 0, .5, .5,
    // 1). S1 (called at 1,2,4,5,6; hom at 1,2,4,6): E = 2.833333333,
    // F = (4−E)/(5−E) = 7/13 → 0.538462; S2 (all 6; hom at 2,5,6):
    // F = (3−E)/(6−E) = 1/19 → 0.052632 (1e-9-grid E shifts the 1e-6
    // rounding of both to the ...462/...632 cells)
    "q436_vcf_inbreeding" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
            CAST(2.833333 AS DOUBLE), CAST(0.538462 AS DOUBLE)),
          ('S2', 6, 3, 2.833333, 0.052632))
         t(sample, n_called, o_hom, e_hom, f)
         ORDER BY sample""",
    // hand-computed from the fixture DP values: S1 {10,15,0,20,11,22}
    // ⇒ mean 13, low(<10) = {0}; S2 {12,9,7,18,13,19} ⇒ mean 13,
    // low = {9,7}
    "q394_vcf_depth" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(6 AS BIGINT), CAST(13.0 AS DOUBLE),
            CAST(0 AS BIGINT), CAST(22 AS BIGINT), CAST(1 AS BIGINT),
            CAST(0.166667 AS DOUBLE)),
          ('S2', 6, 13.0, 7, 19, 2, 0.333333))
         t(sample, n_dp, mean_dp, min_dp, max_dp, n_low, low_frac)
         ORDER BY sample""",
    // hand-computed: S1 carries v2,v4 (transitions), v6 (transversion),
    // v5 (indel, excluded) ⇒ 2/1; S2 carries v1,v3,v4 (ts) + v6 ⇒ 3/1
    "q389_vcf_sample_tstv" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(2.0 AS DOUBLE)),
          ('S2', 3, 1, 3.0))
         t(sample, n_ts, n_tv, tstv)
         ORDER BY sample""",
    // hand-computed from the q45 dosages: v3 has S1 missing (./.) ⇒
    // af from the one call (1/2), imputed mean (1 + 2·0.5)/2 = 1;
    // all other variants fully called
    "q384_vcf_impute" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT),
            CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE)),
          (2, 2, 0, 0.5, 1.0),
          (3, 1, 1, 0.5, 1.0),
          (4, 2, 0, 0.75, 1.5),
          (5, 2, 0, 0.25, 0.5),
          (6, 2, 0, 1.0, 2.0))
         t(variant_id, n_called, n_missing, af, mean_dosage)
         ORDER BY variant_id""",
    // hand-computed: v1 A>G and v4 T>C fold to T>C; v2 C>T and v3 G>A
    // fold to C>T; v6 A>C folds to T>G; v5 is an indel (excluded) —
    // 5 SNVs ⇒ fractions .4/.4/.2, transitions C>T/T>C
    "q374_vcf_spectrum" ->
      """SELECT * FROM (VALUES
          ('C>T', CAST(2 AS BIGINT), CAST(0.4 AS DOUBLE), true),
          ('T>C', 2, 0.4, true),
          ('T>G', 1, 0.2, false))
         t(class, n, fraction, is_transition)
         ORDER BY class""",
    // hand-computed: cohort p̂ = (.25,.5,.5,.75,.25,1); v6 monomorphic
    // excluded, v3 missing for S1. Standardized products
    // (g−2p)(g'−2p)/(2p(1−p)): S1·S1 = (.667+2+.667+.667)/4 = 1;
    // S1·S2 = (−.667−2−.667−.667)/4 = −1;
    // S2·S2 = (.667+2+0+.667+.667)/5 = 0.8
    "q292_vcf_grm" ->
      """SELECT * FROM (VALUES
          ('S1', 'S1', CAST(4 AS BIGINT), CAST(1.0 AS DOUBLE)),
          ('S1', 'S2', 4, -1.0),
          ('S2', 'S2', 5, 0.8))
         t(sample_a, sample_b, m_variants, grm)
         ORDER BY sample_a, sample_b""",
    // hand-computed: polymorphic sites per sample — S1: v1,v2,v4,v5,
    // hom at v1,v2,v4 ⇒ O=3, E = .625+.5+.625+.625 = 2.375,
    // F = (3−2.375)/(4−2.375) = 0.3846; S2: v1–v5, hom at v2,v5 ⇒
    // O=2, E = 2.875, F = (2−2.875)/(5−2.875) = −0.4118
    "q293_vcf_het" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(4 AS BIGINT), CAST(3 AS BIGINT),
            CAST(2.375 AS DOUBLE), CAST(0.3846 AS DOUBLE)),
          ('S2', 5, 2, 2.875, -0.4118))
         t(sample, m_sites, o_hom, e_hom, f)
         ORDER BY sample""",
    // hand-computed per trio over jointly-called sites 1-6 (v7 drops —
    // M1 uncalled): C1 errs at v1 (0×0→het), v2 (2×2→het),
    // v3 (0×2→hom-ref), v4 (2×1→opposite hom) and passes v5 (het×het
    // is unconstrained) and v6 (0×2→het) ⇒ 4/6; C2's only err is v6
    // (0×2→hom-alt) ⇒ 1/6
    "q294_vcf_mendel" ->
      """SELECT * FROM (VALUES
          ('F1', 'M1', 'C1', CAST(6 AS BIGINT), CAST(4 AS BIGINT),
            CAST(0.6667 AS DOUBLE)),
          ('F1', 'M1', 'C2', 6, 1, 0.1667))
         t(father, mother, child, n_tested, n_errors, error_rate)
         ORDER BY father, mother, child""",
    // hand-computed: v4 (F=2 hom, M=1 het) — C1 g=0 is a Mendel error
    // (excluded), C2 g=1 ⇒ het mother transmitted ref ⇒ t=0,u=1;
    // v5 (both parents het) — C1 g=2 ⇒ both transmitted alt (t+=2),
    // C2 g=1 ⇒ one each (t+=1,u+=1) ⇒ t=3,u=1,chisq=(3−1)²/4=1;
    // v1/v2/v3/v6 have no het parent, v7's mother is uncalled
    "q303_vcf_tdt" ->
      """SELECT * FROM (VALUES
          (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT),
            CAST(1 AS BIGINT), CAST(1.0 AS DOUBLE)),
          (5, 2, 3, 1, 1.0))
         t(variant_id, n_informative, t, u, chisq)
         ORDER BY variant_id""",
    // hand-computed from the q44 impact rows: v1 missense beats
    // intron, v2 stop_gained beats splice_region, v5 frameshift
    // beats upstream; v4/v6 single-row
    "q314_vcf_worst_csq" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'missense_variant', 'MODERATE', 'GENE1'),
          (2, 'stop_gained', 'HIGH', 'GENE1'),
          (4, 'synonymous_variant', 'LOW', 'GENE2'),
          (5, 'frameshift_variant', 'HIGH', 'GENE2'),
          (6, 'missense_variant', 'MODERATE', 'GENE3'))
         t(variant_id, consequence, impact, symbol)
         ORDER BY variant_id""",
    // hand-computed Hudson estimates: v1 fixed difference (fst 1);
    // v2 p=.5 both ⇒ num = −2·(.25/3), den .5 ⇒ −1/3; v3 .5 vs 0 ⇒
    // (1/4 − 1/12)/(1/2) = 1/3; v4 n1=2 (term drops), (9/16 − 1/16)
    // / (3/4) = 2/3; v5 pop1 uncalled ⇒ omitted
    // md5-replayed Luby winners: c (triangle), e (pair), f isolated
    "q331_vcf_unrelated_set" ->
      """SELECT * FROM (VALUES
          ('a', false), ('b', false), ('c', true),
          ('d', false), ('e', true), ('f', true))
         t(sample, kept)
         ORDER BY sample""",
    // hand-computed via the 1e-9-quantized per-stratum terms
    "q323_vcf_cmh" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(2 AS BIGINT),
            CAST(2.7391 AS DOUBLE), CAST(13.0 AS DOUBLE)),
          (2, 2, 11.0645, NULL))
         t(variant_id, k_strata, chisq, or_mh)
         ORDER BY variant_id""",
    // hand-derived: phase-unaware het-pair candidates per (gene,sample)
    "q319_vcf_comphet" ->
      """SELECT * FROM (VALUES
          ('G1', 'sa', CAST(2 AS BIGINT), '1,2'),
          ('G1', 'sc', 3, '1,2,3'),
          ('G2', 'sb', 2, '4,5'))
         t(symbol, sample, n_het, het_variants)
         ORDER BY symbol, sample""",
    // hand-computed (Tajima 1989, n=8): a1=Σ1/i (i≤7)=2.592857…,
    // pi=110/56=1.964286, theta_w=4/a1=1.5427, D=1.192205
    "q315_vcf_tajima_d" ->
      """SELECT CAST(4 AS BIGINT) AS n_samples,
            CAST(6 AS BIGINT) AS n_sites,
            CAST(4 AS BIGINT) AS s_segregating,
            CAST(1.964286 AS DOUBLE) AS pi,
            CAST(1.5427 AS DOUBLE) AS theta_w,
            CAST(1.192205 AS DOUBLE) AS tajima_d""",
    "q309_vcf_fst" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT),
            CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
            CAST(1.0 AS DOUBLE)),
          (2, 4, 4, 0.5, 0.5, -0.3333),
          (3, 4, 4, 0.5, 0.0, 0.3333),
          (4, 2, 4, 0.0, 0.75, 0.6667))
         t(variant_id, n1, n2, p1, p2, fst)
         ORDER BY variant_id""",
    // hand-computed: S1 both-called {v1 (0,0) ✓, v2 (1,2) ✗, v3 (2,2)
    // ✓}, a-only v5, b-only v4; non-ref cells {v2, v3} with one match;
    // S2 both-called {v1, v3, v4} all match, a-only v2, b-only v5
    "q304_vcf_concordance" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0.6667 AS DOUBLE),
            CAST(0.5 AS DOUBLE)),
          ('S2', 3, 3, 0, 1, 1, 1.0, 1.0))
         t(sample, n_both, n_match, n_mismatch, n_a_only, n_b_only,
           concordance, nonref_concordance)
         ORDER BY sample""",
    // hand-computed greedy by position (window 500bp, r² > 0.5):
    // v1 kept (first), v2 conflicts kept-v1 ⇒ dropped, v3 conflicts
    // only dropped-v2 ⇒ kept, v4/v5 out of window / r²=0.25 ⇒ kept
    "q305_vcf_ldprune" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), '1', CAST(100 AS BIGINT), true),
          (2, '1', 200, false),
          (3, '1', 300, true),
          (4, '1', 5000, true),
          (5, '1', 5100, true))
         t(variant_id, chr, pos, kept)
         ORDER BY variant_id""",
    // hand-computed from the q45 genotypes: weighted variants present
    // in geno are 1, 3, 5 (w = .5, −1, 2; id 7 contributes nothing).
    // S1: .5·0 + (−1)·(2p̂₃ = 1.0, imputed — v3 call missing) + 2·1
    // = 1.0 with 2 used / 1 imputed; S2 (all called): .5·1 − 1·1 + 2·0
    // = −0.5
    "q295_vcf_prs" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(1.0 AS DOUBLE)),
          ('S2', 3, 0, -0.5))
         t(sample, n_used, n_imputed, score)
         ORDER BY sample""",
    // hand-computed from the q43 af column (0.25,0.5,0.25,0.75,0.25,1.0):
    // folded maf = (.25,.5,.25,.25,.25,0) ⇒ bins 2×4, 5×1, 0×1
    "q220_vcf_afs" ->
      """SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(1 AS BIGINT)),
          (2, 0.2, 4),
          (5, 0.5, 1))
         t(bin, maf_lo, n)
         ORDER BY bin""",
    // hand-derived from the q45 genotypes in q43 chromosome order:
    // S1 chr1 = hom(v1),hom(v2),missing → run 100-200 ×2;
    // S1 chr2 = hom,het,hom → two length-1 runs (dropped);
    // S2 chr1 = het,hom,het → dropped;
    // S2 chr2 = het,hom(v5),hom(v6) → run 250-400 ×2
    "q231_vcf_roh" ->
      """SELECT * FROM (VALUES
          ('S1', '1', CAST(100 AS BIGINT), CAST(200 AS BIGINT),
            CAST(2 AS BIGINT)),
          ('S2', '2', 250, 400, 2))
         t(sample, chr, start_pos, end_pos, n_sites)
         ORDER BY sample, chr, start_pos""",
    // hand-derived: S1 misses the v3 call (./.), S2 calls all six
    "q276_vcf_missingness" ->
      """SELECT * FROM (VALUES
          ('S1', CAST(6 AS BIGINT), CAST(5 AS BIGINT),
            CAST(0.8333 AS DOUBLE)),
          ('S2', 6, 6, 1.0))
         t(sample, n_sites, n_called, call_rate)
         ORDER BY sample""",
    // hand-derived: rare sites (af<0.3) = v1 (GENE1), v5 (GENE2+GENE3);
    // carriers: v1→S2 (gt 1), v5→S1 (gt 1)
    "q253_vcf_burden" ->
      """SELECT * FROM (VALUES
          ('S1', 'GENE2', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
          ('S1', 'GENE3', 1, 1),
          ('S2', 'GENE1', 1, 1))
         t(sample, symbol, n_sites, n_alleles)
         ORDER BY sample, symbol""",
    "q43_vcf_info" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), '1', CAST(100 AS BIGINT), CAST(100 AS BIGINT), 'A', 'G',  CAST(50 AS DOUBLE), 'PASS', CAST(1 AS BIGINT), CAST(0.25 AS DOUBLE), CAST(20 AS BIGINT), 'SNP'),
          (2, '1', 200, 200, 'C', 'T',  99, 'PASS', 2, 0.5,  30, 'SNP'),
          (3, '1', 300, 300, 'G', 'A',  10, 'q10',  1, 0.25, 5,  'SNP'),
          (4, '2', 150, 150, 'T', 'C',  80, 'PASS', 3, 0.75, 40, 'SNP'),
          (5, '2', 250, 250, 'G', 'GA', 60, 'PASS', 1, 0.25, 25, 'INDEL'),
          (6, '2', 400, 400, 'A', 'C',  70, 'PASS', 4, 1.0,  35, 'SNP'))
         t(variant_id, chr, start, "end", ref, alt, qual, filter, ac, af, dp, vt)
         ORDER BY variant_id""",
    "q44_vcf_impact" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'intron_variant', 'MODIFIER', 'GENE1', 'ENSG1', 'protein_coding', '1/4', false, false, false, true),
          (1, 'missense_variant',      'MODERATE', 'GENE1', 'ENSG1', 'protein_coding',       '', false, false, false, false),
          (2, 'splice_region_variant', 'HIGH',     'GENE1', 'ENSG1', 'protein_coding',       '', true,  true,  false, false),
          (2, 'stop_gained',           'HIGH',     'GENE1', 'ENSG1', 'protein_coding',       '', true,  false, false, false),
          (4, 'synonymous_variant',    'LOW',      'GENE2', 'ENSG2', 'protein_coding',       '', false, false, false, false),
          (5, 'frameshift_variant',    'HIGH',     'GENE2', 'ENSG2', 'protein_coding',       '', true,  false, false, false),
          (5, 'upstream_gene_variant', 'MODIFIER', 'GENE3', 'ENSG3', 'processed_pseudogene', '', false, false, false, false),
          (6, 'missense_variant',      'MODERATE', 'GENE3', 'ENSG3', 'protein_coding',       '', false, false, false, false))
         t(variant_id, consequence, impact, symbol, gene, biotype, intron,
           is_lof, is_splicing, is_exonic, is_intronic)
         ORDER BY variant_id, consequence""",
    "q45_vcf_geno" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'S1', CAST(0 AS DOUBLE), '0|0', CAST(10 AS BIGINT)),
          (1, 'S2', 1,    '0|1', 12),
          (2, 'S1', 2,    '1|1', 15),
          (2, 'S2', 0,    '0|0', 9),
          (3, 'S1', NULL, './.', 0),
          (3, 'S2', 1,    '0|1', 7),
          (4, 'S1', 2,    '1|1', 20),
          (4, 'S2', 1,    '1|0', 18),
          (5, 'S1', 1,    '0|1', 11),
          (5, 'S2', 0,    '0|0', 13),
          (6, 'S1', 2,    '1|1', 22),
          (6, 'S2', 2,    '1|1', 19))
         t(variant_id, sample, gt, gt_raw, dp)
         ORDER BY variant_id, sample""",
    "q46_vcf_gene_filter" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'GENE1', CAST(0.25 AS DOUBLE)),
          (2, 'GENE1', 0.5))
         t(variant_id, symbol, af)
         ORDER BY variant_id""",
    "q47_vcf_range_pull" ->
      """SELECT * FROM (VALUES
          (CAST(2 AS BIGINT), 'S1', CAST(2 AS DOUBLE)),
          (2, 'S2', 0),
          (3, 'S1', NULL),
          (3, 'S2', 1))
         t(variant_id, sample, gt)
         ORDER BY variant_id, sample""",
    "q48_vcf_gene_map" ->
      """SELECT * FROM (VALUES
          ('GENE1', 'ENSG1'),
          ('GENE2', 'ENSG2'),
          ('GENE3', 'ENSG3'))
         t(symbol, gene)
         ORDER BY symbol""",
    "q412_vcf_meta_contig" ->
      """SELECT * FROM (VALUES
          ('1', '1000'),
          ('2', CAST(NULL AS VARCHAR)))
         t(name, length)
         ORDER BY name""",
    // hand-computed: rs1's two sigs double its two impact rows; the
    // un-annotated variants keep left-join NULLs
    "q58_vcf_clinvar" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'intron_variant',        'likely_pathogenic', 'DiseaseA'),
          (1, 'intron_variant',        'pathogenic',        'DiseaseA'),
          (1, 'missense_variant',      'likely_pathogenic', 'DiseaseA'),
          (1, 'missense_variant',      'pathogenic',        'DiseaseA'),
          (2, 'splice_region_variant', 'benign',            'DiseaseB'),
          (2, 'stop_gained',           'benign',            'DiseaseB'),
          (4, 'synonymous_variant',    NULL, NULL),
          (5, 'frameshift_variant',    NULL, NULL),
          (5, 'upstream_gene_variant', NULL, NULL),
          (6, 'missense_variant',      NULL, NULL))
         t(variant_id, consequence, clinvar_sig, clinvar_disease_name)
         ORDER BY variant_id, consequence, clinvar_sig""",
    // identical golden rows to q43: the bgzf round-trip must be lossless
    "q59_vcf_bgzf_info" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), '1', CAST(100 AS BIGINT), CAST(100 AS BIGINT), 'A', 'G',  CAST(50 AS DOUBLE), 'PASS', CAST(1 AS BIGINT), CAST(0.25 AS DOUBLE), CAST(20 AS BIGINT), 'SNP'),
          (2, '1', 200, 200, 'C', 'T',  99, 'PASS', 2, 0.5,  30, 'SNP'),
          (3, '1', 300, 300, 'G', 'A',  10, 'q10',  1, 0.25, 5,  'SNP'),
          (4, '2', 150, 150, 'T', 'C',  80, 'PASS', 3, 0.75, 40, 'SNP'),
          (5, '2', 250, 250, 'G', 'GA', 60, 'PASS', 1, 0.25, 25, 'INDEL'),
          (6, '2', 400, 400, 'A', 'C',  70, 'PASS', 4, 1.0,  35, 'SNP'))
         t(variant_id, chr, start, "end", ref, alt, qual, filter, ac, af, dp, vt)
         ORDER BY variant_id""",
    // identical golden rows to q43: the export → re-read loop is lossless
    "q70_vcf_export_roundtrip" ->
      """SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), '1', CAST(100 AS BIGINT), CAST(100 AS BIGINT), 'A', 'G',  CAST(50 AS DOUBLE), 'PASS', CAST(1 AS BIGINT), CAST(0.25 AS DOUBLE), CAST(20 AS BIGINT), 'SNP'),
          (2, '1', 200, 200, 'C', 'T',  99, 'PASS', 2, 0.5,  30, 'SNP'),
          (3, '1', 300, 300, 'G', 'A',  10, 'q10',  1, 0.25, 5,  'SNP'),
          (4, '2', 150, 150, 'T', 'C',  80, 'PASS', 3, 0.75, 40, 'SNP'),
          (5, '2', 250, 250, 'G', 'GA', 60, 'PASS', 1, 0.25, 25, 'INDEL'),
          (6, '2', 400, 400, 'A', 'C',  70, 'PASS', 4, 1.0,  35, 'SNP'))
         t(variant_id, chr, start, "end", ref, alt, qual, filter, ac, af, dp, vt)
         ORDER BY variant_id""",
    // hand-computed: variants overlapping 1:150-350 are rs2 (200) and
    // the id-less q10 site (300); rs1 (100) and all of chr 2 are pruned
    "q62_vcf_tabix_range" ->
      """SELECT * FROM (VALUES
          ('1', CAST(200 AS BIGINT), 'rs2', 'C', 'T', CAST(99 AS DOUBLE), 'PASS'),
          ('1', 300, NULL, 'G', 'A', 10, 'q10'))
         t(chr, pos, id, ref, alt, qual, filter)
         ORDER BY pos""",
    // union of the two region overlap filters: 1:100-250 hits rs1/rs2
    // (pos 300 is out), 2:200-500 hits rs4/rs5 (pos 150 is out)
    "q97_vcf_multi_region" ->
      """SELECT * FROM (VALUES
          ('1', CAST(100 AS BIGINT), 'rs1', 'A', 'G', CAST(50 AS DOUBLE), 'PASS'),
          ('1', 200, 'rs2', 'C', 'T', 99, 'PASS'),
          ('2', 250, 'rs4', 'G', 'GA', 60, 'PASS'),
          ('2', 400, 'rs5', 'A', 'C', 70, 'PASS'))
         t(chr, pos, id, ref, alt, qual, filter)
         ORDER BY chr, pos""")
}

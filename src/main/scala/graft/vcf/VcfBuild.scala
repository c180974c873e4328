package graft.vcf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{emptyToNull, gt2snp}

/** Builders deriving the reference's relational model from a parsed VCF:
  * `variant_info`, `variant_impact`, `variant_geno`, `gene_map`,
  * `samples` (VCFdbR `pipeline/02-build-db.R`, `03-index-db.R`).
  *
  * Everything is one declarative plan per table; the only wide
  * operation in the whole build is the global sort backing the
  * deterministic `variant_id` assignment.
  */
object VcfBuild {

  /** VEP consequence terms the reference flags as exonic
    * (`02-build-db.R:192-211`).
    */
  val exonicImpacts: Seq[String] = Seq(
    "stop_gained", "exon_variant", "stop_lost", "frameshift_variant",
    "initiator_codon_variant", "inframe_deletion", "inframe_insertion",
    "missense_variant", "protein_altering_variant",
    "incomplete_terminal_codon_variant", "stop_retained_variant",
    "5_prime_UTR_premature_start_codon_variant", "synonymous_variant",
    "coding_sequence_variant", "5_prime_UTR_variant", "3_prime_UTR_variant",
    "transcript_ablation", "transcript_amplification", "feature_elongation",
    "feature_truncation")

  /** CSQ sub-columns the impact table drops (`02-build-db.R:284`):
    * population-frequency columns (`*_af`) and a fixed deny-list
    * (clinvar fields re-enter separately from INFO).
    */
  private val impactDropList = Set(
    "clin_sig", "pheno", "somatic", "pubmed",
    "consequence_annotations_from_ensembl_vep__format__allele")

  /** INFO-side clinvar fields: excluded from `variant_info` and
    * re-attached (unnested) onto `variant_impact`
    * (`02-build-db.R:286-305`, `:318`).
    */
  private val clinvarInfoCols = Seq("clinvar_sig", "clinvar_disease_name")

  /** Release what was cached outside any [[graft.Caches]] scope, such
    * as the staging of unscoped builds: a delegate to
    * [[graft.Caches.releaseUnscoped]], kept only because the benchmark
    * (`perfbench`) calls it. Once the benchmark calls
    * `Caches.releaseUnscoped` itself (ROADMAP item 1), delete it.
    */
  def clearCaches(): Int = graft.Caches.releaseUnscoped()

  /** Deterministic contiguous `variant_id` (1-based): the rank of each
    * record in a total order — a global sort on (chr, pos, ref, alt)
    * with ties broken on input position, so duplicate records get ids
    * in file order and every id is a function of the input files alone
    * (not of split sizes or partition counts) — assigned as partition
    * offset + position within the partition (X4,
    * `02-build-db.R:258-259`).
    *
    * Input position is (file name, split start,
    * `monotonically_increasing_id`), all taken BEFORE the sort. The id
    * encodes (input partition, line within it), and both in-memory
    * lines and the BGZF scan plan their partitions in (sorted path,
    * byte offset) order; there the file name and split start read as
    * the constants "" and -1. A file-source scan (plain text) packs
    * splits by size instead, so there those two lead. Spark computes
    * the keys in a projection below the sort and drops them above: the
    * cached rows are the parsed columns only.
    *
    * The SORTED scan persists into the caller's [[graft.Caches]]
    * scope: info, impact and geno all fan out from it, so the one
    * unavoidable wide stage — parse + global sort — runs exactly once.
    * One eager job then collects the per-partition row counts over that
    * cache, and counts the multiallelic records with them: the engine,
    * like the reference (`01-generate-variant-ranges-index.R:43-53`),
    * requires normalized input, so any such record fails the build
    * here with an [[IllegalArgumentException]] naming the count and one
    * site — no extra pass when the input is clean. That job is the one
    * that fills the cache, so nothing is thrown away: every later
    * consumer (and every concurrent table write) reads a materialized
    * cache instead of racing to compute the same partitions. The
    * driver takes the exclusive prefix sums (an empty partition carries
    * the running offset) and each row's id is a literal-array lookup on
    * its partition plus its position — no window, no join, and no
    * per-consumer re-run of the counts.
    *
    * INVARIANT: close that scope only after every output derived from
    * the build (info/impact/geno writes, collects) has been
    * materialized. The offsets are driver literals counted over the
    * cache's partition layout, and every derived plan must observe the
    * IDENTICAL layout for `monotonically_increasing_id`; the persist
    * guarantees that. Releasing it while derived plans are still lazy
    * silently reverts them to a fresh sort evaluation — safe today only
    * because the range partitioning happens to be deterministic, and
    * not a contract (a layout with more partitions fails the array
    * lookup loudly). The scope's holder count keeps a concurrent build
    * of the same input in another scope from releasing it.
    */
  def withVariantIds(parsed: DataFrame): DataFrame = {
    val keys = Seq(col("chr"), col("pos"), col("ref"), col("alt"),
      input_file_name(), input_file_block_start(), monotonically_increasing_id())
    // `spark.graft.stagingStorage` escapes to DISK_ONLY for giant
    // builds: the sorted rows carry the sample columns as one string
    // and columnar-cache at ~7 KB/row at 1,000 samples (about the VCF
    // line itself; the per-sample struct array this row once carried
    // cached at ~48 KB/row), and MEMORY_AND_DISK builds every in-flight
    // partition's batches ON HEAP before it can decide to spill — at
    // 1.4M×1000 the wide form GC-starved a 96 GB driver until its own
    // heartbeats expired. DISK_ONLY streams batches out and bounds heap
    // by in-flight partitions only; the layout invariant above cares
    // about partitioning, not residence.
    val level = org.apache.spark.storage.StorageLevel.fromString(
      parsed.sparkSession.conf.get("spark.graft.stagingStorage",
        "MEMORY_AND_DISK"))
    numberSorted(graft.Caches.persist(parsed.orderBy(keys: _*), level))
  }

  /** The id job of [[withVariantIds]] over its pinned sorted cache:
    * counts each partition's rows (and the multiallelic ones, which
    * fail the build), then adds `variant_id` = the partition's offset +
    * the row's position within it + 1. Returns `sorted`'s columns after
    * `variant_id`.
    */
  private[graft] def numberSorted(sorted: DataFrame): DataFrame = {
    // monotonically_increasing_id encodes (partition << 33 | position)
    // over the pinned cache partitioning — order-consistent with the
    // sort but non-contiguous; the offsets re-base each partition's
    // positions to a contiguous 1-based ordinal
    val withMid = sorted.withColumn("_mid", monotonically_increasing_id())
    val pid = shiftright(col("_mid"), 33)
    val pos = col("_mid").bitwiseAND(lit((1L << 33) - 1))
    val counts = withMid.groupBy(pid)
      .agg(count(lit(1)), count_if(col("alt").contains(","))).collect()
    val multiallelic = counts.map(_.getLong(2)).sum
    if (multiallelic > 0)
      throw new IllegalArgumentException(
        s"$multiallelic multiallelic record(s) found (e.g. " +
          s"${multiallelicSites(sorted).head().mkString(" ")}); normalize the VCF " +
          "first (e.g. bcftools norm -m-)")
    val offsets = partitionOffsets(counts.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    withMid
      .withColumn("variant_id",
        element_at(typedLit(offsets), (pid + 1).cast(IntegerType)) + pos + lit(1L))
      .select(col("variant_id") +: sorted.columns.map(col): _*)
  }

  /** Exclusive prefix sums of per-partition row counts, indexed by
    * partition id up to the last non-empty partition; a partition with
    * no rows (absent from `counts`) carries the running offset.
    */
  private[graft] def partitionOffsets(counts: Map[Long, Long]): Array[Long] = {
    val nParts = if (counts.isEmpty) 0L else counts.keys.max + 1
    (0L until nParts).scanLeft(0L)(_ + counts.getOrElse(_, 0L)).init.toArray
  }

  /** `variant_info`: one row per variant — genomic interval, fixed VCF
    * fields, one column per single-valued INFO field. Multi-valued
    * (Number=A/R/G) arrays are scalarized to their single element — the
    * engine, like the reference, requires normalized (no-multiallelic)
    * input, which [[withVariantIds]] validates; truly
    * list-valued INFO (Number=. or n>1) stays a native array column
    * (capability upgrade; the reference stringifies).
    *
    * `end = pos + length(ref) - 1` (GRanges closed-interval convention,
    * `02-build-db.R:316-335`).
    */
  def variantInfo(ids: DataFrame, header: VcfHeaderInfo): DataFrame = {
    val perAlt = Set("A", "R", "G")
    // fixed/derived columns win name collisions (e.g. the standard SV
    // INFO field END vs the computed interval end): keep-first duplicate
    // semantics, as in the reference's column dedupe (02-build-db.R:348)
    // clinvar INFO fields move onto variant_impact ONLY when a CSQ field
    // exists (the impact table is built, and the re-join carries them);
    // without CSQ the reference keeps them in variant_info — dropping
    // them unconditionally would lose the columns from the whole model
    // (02-build-db.R:286-305 runs inside the csq_exists branch).
    val dropClinvar = header.csqColumns.isDefined
    val infoCols: Seq[Column] = header.usableInfoDefs
      .filterNot(d => d.id == "CSQ" ||
        (dropClinvar && clinvarInfoCols.contains(d.id.toLowerCase)))
      .map { d =>
        val name = d.id.toLowerCase
        if (perAlt.contains(d.number)) element_at(col(name), 1).as(name)
        else col(name)
      }
    ids.select(
      (Seq(col("variant_id"), col("chr"),
        col("pos").as("start"),
        (col("pos") + length(col("ref")) - 1).as("end"),
        col("ref"), col("alt"), col("qual"), col("filter")) ++ infoCols): _*)
  }

  /** `variant_impact`: one row per variant × transcript × consequence
    * term — the CSQ explode/split pipeline (X3+X5+X6,
    * `02-build-db.R:269-306`) with the reference's derived flags:
    *   is_lof      = impact == "HIGH" && biotype == "protein_coding"
    *   is_splicing = consequence contains "splice"
    *   is_exonic   = biotype ∈ exonicImpacts   (the reference tests the
    *                 *biotype* column against consequence terms —
    *                 `02-build-db.R:282` — reproduced verbatim for parity)
    *   is_intronic = intron != ""
    * then drops `*_af` and the fixed deny-list columns.
    */
  def variantImpact(ids: DataFrame, header: VcfHeaderInfo): DataFrame = {
    val csqCols = header.csqColumns.getOrElse(
      throw new IllegalArgumentException("VCF has no CSQ INFO field"))
    val ann = ids
      .where(col("csq").isNotNull)
      .select(col("variant_id"), explode(col("csq")).as("_csq"))
      .withColumn("_parts", split(col("_csq"), "\\|", csqCols.size))
    val splitCols = csqCols.zipWithIndex.map { case (name, i) =>
      coalesce(col("_parts").getItem(i), lit("")).as(name)
    }
    val wide0 = ann.select((col("variant_id") +: splitCols): _*)
    val wide =
      if (csqCols.contains("consequence"))
        wide0.withColumn("consequence", explode(split(col("consequence"), "&")))
      else wide0
    def ifCols(needed: Seq[String], c: => Column): Column =
      if (needed.forall(csqCols.contains)) c else lit(false)
    val flagged = wide
      .withColumn("is_lof",
        ifCols(Seq("impact", "biotype"),
          col("impact") === "HIGH" && col("biotype") === "protein_coding"))
      .withColumn("is_splicing",
        ifCols(Seq("consequence"), col("consequence").contains("splice")))
      .withColumn("is_exonic",
        ifCols(Seq("biotype"), col("biotype").isin(exonicImpacts: _*)))
      .withColumn("is_intronic", ifCols(Seq("intron"), col("intron") =!= ""))
    val keep = flagged.columns.filterNot(c =>
      c.endsWith("_af") || impactDropList.contains(c))
    val base = flagged.select(keep.map(col): _*)

    // Clinvar re-join (02-build-db.R:286-305): the VEP CSQ clin_sig
    // column was dropped above; the INFO-side clinvar annotations come
    // back as one left join per present field, each list UNNESTED first
    // — so a variant with multiple sigs multiplies its impact rows
    // (sig × disease cross product per variant), and variants without
    // clinvar data keep NULLs, exactly as the reference's
    // unnest-then-left_join does.
    clinvarInfoCols.foldLeft(base) { (acc, name) =>
      ids.schema.fields.find(_.name == name) match {
        case None => acc
        case Some(f) =>
          val value = f.dataType match {
            case _: ArrayType => explode(col(name)).as(name)
            case _ => col(name).as(name)
          }
          // explode (not explode_outer): tidyr unnest drops NULL/empty
          // lists, and the left join restores those variants with NULL
          val side = ids.select(col("variant_id"), value)
          acc.join(side, Seq("variant_id"), "left")
      }
    }
  }

  /** `variant_geno`: long layout, one row per variant × sample —
    * `variant_id`, `sample`, `gt` (dosage recode), `gt_raw`, plus one
    * typed column per FORMAT field (X7-X9 collapsed into a single
    * posexplode — the melt/pivot dance of `02-build-db.R:368-424`
    * disappears because each line is parsed once).
    *
    * FORMAT keys are resolved per row (`array_position` on the row's
    * FORMAT column), so files with heterogeneous FORMAT are handled —
    * but resolved BEFORE the genotype explode: positions are a pure
    * function of the per-VARIANT `format` string, so computing them on
    * the pre-explode side evaluates `split` + one `array_position` per
    * key once per variant instead of once per (variant × sample) row
    * (at cohort width that is a ×n_samples saving on the build's
    * widest stage for free — values are identical by definition).
    *
    * Sample names attach here ([[VcfReader.sampleFields]]), after the
    * global sort: the sorted, cached staging row carries each variant's
    * sample columns as one untokenized string.
    */
  def variantGeno(ids: DataFrame, header: VcfHeaderInfo): DataFrame = {
    // key order: GT first (gt/gt_raw), then the declared extras
    val keys = "GT" +: header.formatDefs.map(_.id).filterNot(_ == "GT")
    val posCols = keys.zipWithIndex.map { case (k, i) =>
      array_position(split(col("format"), ":"), k).as(s"_p$i")
    }
    val base = ids.select(
      (Seq(col("variant_id"), col("genotypes")) ++ posCols): _*)
      .select(
        (Seq(col("variant_id"),
          explode(VcfReader.sampleFields(col("genotypes"), header)).as("g")) ++
          keys.indices.map(i => col(s"_p$i"))): _*)
      .select(
        (Seq(col("variant_id"),
          col("g.sample").as("sample"),
          split(col("g.raw"), ":").as("_vals")) ++
          keys.indices.map(i => col(s"_p$i"))): _*)

    def fmtField(key: String): Column = {
      val pos = col(s"_p${keys.indexOf(key)}")
      // trailing FORMAT fields may be dropped per sample (VCF 4.2);
      // the bounds guard keeps ANSI element_at from throwing on them
      when(pos > 0 && pos <= size(col("_vals")),
          element_at(col("_vals"), pos.cast(IntegerType)))
        .otherwise(lit(null).cast(StringType))
    }

    def typed(d: VcfFieldDef): Column = {
      val raw = fmtField(d.id)
      val nn = when(raw === ".", lit(null)).otherwise(raw)
      val c = d.vcfType match {
        case "Integer" => nn.cast(LongType)
        case "Float" => nn.cast(DoubleType)
        case _ => nn
      }
      c.as(d.id.toLowerCase)
    }

    val gtRaw = fmtField("GT").as("gt_raw")
    val extra = header.formatDefs.filterNot(_.id == "GT").map(typed)
    base.select(
      (Seq(col("variant_id"), col("sample"),
        gt2snp(fmtField("GT")).as("gt"), gtRaw) ++ extra): _*)
  }

  /** `gene_map` derived dimension (`03-index-db.R:86-101`): distinct
    * gene-identity columns from the impact table, empty strings → NULL.
    */
  def geneMap(impact: DataFrame): DataFrame = {
    val wanted = Seq("symbol", "symbol_source", "gene", "source", "feature",
      "canonical", "ensp", "ccds", "motif_name", "feature_type")
    val present = wanted.filter(impact.columns.contains)
    impact.select(present.map(c => emptyToNull(col(c)).as(c)): _*).distinct()
  }

  /** `samples` index table (`02-build-db.R:130-136`). */
  def samplesTable(spark: SparkSession, header: VcfHeaderInfo): DataFrame = {
    import spark.implicits._
    header.samples.zipWithIndex
      .map { case (s, i) => (i + 1L, s) }.toDF("name", "value")
  }

  /** Header metadata tables (`02-build-db.R:113-127`): one DataFrame per
    * section — `name`/`number`/`type`/`description` for the field
    * sections, `name`/`length` for `contig` (the reference writes ONE
    * table per header section, contigs included; length is the header
    * attribute when declared, NULL otherwise).
    */
  def metaTables(spark: SparkSession, header: VcfHeaderInfo): Map[String, DataFrame] = {
    import spark.implicits._
    def of(defs: Seq[VcfFieldDef]) =
      defs.map(d => (d.id, d.number, d.vcfType, d.description))
        .toDF("name", "number", "type", "description")
    val contig = header.contigDefs.map { case (id, len) => (id, len.orNull) }
      .toDF("name", "length")
    Map("info" -> of(header.infoDefs), "format" -> of(header.formatDefs),
      "filter" -> of(header.filterDefs), "contig" -> contig)
  }

  /** Multiallelic sites (`01-generate-variant-ranges-index.R:43-53`),
    * for reporting: [[withVariantIds]] rejects input that has any.
    */
  def multiallelicSites(parsed: DataFrame): DataFrame =
    parsed.where(col("alt").contains(",")).select("chr", "pos", "ref", "alt")

  /** Build the full relational model: the one build path, shared by
    * [[VcfPipeline.run]], the benchmark and the gates.
    *
    * Eager up to the sorted, id-assigned staging cache
    * ([[withVariantIds]]: one parse + sort job that also counts the
    * partition offsets and rejects multiallelic input); the tables
    * themselves stay lazy plans over that cache. Without the cache
    * info, impact and geno would each re-parse and re-sort the entire
    * input (3× the dominant cost). Storage is MEMORY_AND_DISK so
    * oversized inputs spill rather than OOM. It belongs to the caller's
    * [[graft.Caches]] scope; close that scope once the build's outputs
    * are written. Every table is a deterministic function of the input
    * files, so a rebuild rewrites any one table row for row.
    */
  def build(vcf: VcfDataset): VcfTables = {
    val ids = withVariantIds(vcf.df)
    val header = vcf.header
    val spark = ids.sparkSession
    val impact =
      if (header.csqColumns.isDefined) Some(variantImpact(ids, header))
      else None
    VcfTables(
      info = variantInfo(ids, header),
      impact = impact,
      geno = variantGeno(ids, header),
      geneMap = impact.map(geneMap),
      samples = samplesTable(spark, header),
      meta = metaTables(spark, header))
  }
}

/** The reference's relational model, Spark-side. */
final case class VcfTables(
    info: DataFrame,
    impact: Option[DataFrame],
    geno: DataFrame,
    geneMap: Option[DataFrame],
    samples: DataFrame,
    meta: Map[String, DataFrame]) {

  /** Write every table under `outDir`, concurrently: the writes are
    * independent, so they run through [[graft.Par.all]] (at most one
    * thread per core) and the scheduler overlaps the small one-task
    * tables with the big ones. The first failed write cancels the
    * others' jobs and is rethrown. With `skipComplete` each table whose
    * directory already carries a `_SUCCESS` marker is left untouched —
    * the resume contract of [[VcfPipeline.run]]: a build killed
    * mid-write redoes only the tables that never committed (Spark
    * writes `_SUCCESS` last, so a torn or cancelled write never looks
    * complete). Returns the names of the tables actually written, in
    * the fixed order info, impact, geno, gene_map, samples, meta_*.
    */
  def write(outDir: String, partitionByChr: Boolean = false,
      skipComplete: Boolean = false): Seq[String] = {
    val spark = info.sparkSession
    def parquet(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    val stages: Seq[(String, () => Unit)] =
      Seq("variant_info" -> (() =>
        if (partitionByChr)
          // genomic layout: hive-partition dirs on chr (directory pruning
          // for range queries) + start-sorted files (min/max stats prune
          // row groups within a chromosome) — the parquet replacement for
          // the reference's tabix index (SURVEY §1.4, §4.2)
          info.repartition(col("chr")).sortWithinPartitions("start")
            .write.mode("overwrite").partitionBy("chr")
            .parquet(s"$outDir/variant_info")
        else parquet(info.sortWithinPartitions("variant_id"), "variant_info"))) ++
      impact.map(i => "variant_impact" -> (() =>
        parquet(i.sortWithinPartitions("variant_id"), "variant_impact"))) ++
      // geno needs NO shuffle here: it derives from the range-sorted ids
      // scan by a generator (explode preserves row order), so its
      // partitions are already contiguous variant_id ranges with
      // (variant_id, sample) runs — exactly the clustering the dropped
      // repartitionByRange + sort re-created, minus the range-sampling
      // pass and a full shuffle of the widest table. Parquet min/max
      // stats stay tight; cap oversized outputs with
      // spark.sql.files.maxRecordsPerFile if nSamples inflates a
      // partition past target file size.
      Seq("variant_geno" -> (() => parquet(geno, "variant_geno"))) ++
      geneMap.map(g => "gene_map" -> (() => parquet(g.coalesce(1), "gene_map"))) ++
      Seq("samples" -> (() => parquet(samples.coalesce(1), "samples"))) ++
      meta.map { case (name, df) =>
        s"meta_$name" -> (() => parquet(df.coalesce(1), s"meta_$name"))
      }
    val todo = stages.filterNot { case (name, _) =>
      skipComplete && VcfPipeline.isComplete(spark, s"$outDir/$name")
    }
    graft.Par.all(spark)(todo.map(_._2))
    todo.map(_._1)
  }
}

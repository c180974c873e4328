package graft.vcf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed VCF parser: text lines → one nested DataFrame.
  *
  * Spark-first replacement for the reference's tabix-chunked scan
  * (VCFdbR `pipeline/01-generate-variant-ranges-index.R`,
  * `02-build-db.R:249-529`): instead of a driver-side loop over genomic
  * range chunks, the files are read as distributed lines (the
  * `bgzf-text` source, [[BgzfTextSource]]: byte-range splits, each line
  * tagged with its file and offset), every data line is parsed by
  * codegen'd column expressions in one narrow pass, and all downstream
  * "chunking" is ordinary Spark partitioning. Column pruning through
  * the nested schema gives the reference's projection-pushdown scans
  * (S2) for free.
  *
  * Output schema (per data line = one variant):
  *   chr string, pos long, id string?, ref string, alt string,
  *   qual double?, filter string?,
  *   <one typed column per INFO def: scalar / array / flag boolean>,
  *   csq array<string>?              (raw VEP strings, if CSQ declared)
  *   genotypes string?               (the sample columns, tab-separated,
  *                                    exactly as in the file)
  *   format string?                  (per-row FORMAT key order)
  *   _file int, _offset long         (the line's input position; the
  *                                    build sorts ties on it, then drops it)
  *
  * The sample columns stay one untokenized string through the build's
  * global sort and staging cache, so those carry about the file's own
  * bytes per variant; [[sampleFields]] pairs them with the header's
  * sample names where the per-sample form is consumed (the genotype
  * explode, VCF export).
  *
  * Multi-valued INFO/FORMAT fields become native `ArrayType` columns — a
  * documented capability upgrade over the reference, which skips or
  * stringifies them (`README.md:102-112`).
  */
object VcfReader {

  /** Missing-value token in VCF bodies. */
  private val Missing = "."

  private def sqlType(vcfType: String): DataType = vcfType match {
    case "Integer" => LongType
    case "Float" => DoubleType
    case "Flag" => BooleanType
    case _ => StringType // String, Character
  }

  /** Read a VCF file: header parsed driver-side from the leading `#`
    * lines, body parsed distributed from the `bgzf-text` line source.
    * BGZF (virtually every real `.vcf.gz`) and plain text split by byte
    * range (`splitSize`, by default the file source's split size);
    * plain (non-block) gzip is one split per file — re-bgzip for scale.
    */
  def read(spark: SparkSession, path: String,
      splitSize: Option[Long] = None): VcfDataset = {
    val (files, _, headerLines) = inputHeader(spark, path)
    val header = VcfHeader.parse(headerLines)
    val reader = spark.read.format("bgzf-text")
    val lines = splitSize.fold(reader)(s => reader.option("splitSize", s)).load(path)
    VcfDataset(parse(body(lines), header, files), header)
  }

  /** The input files under `path` (the source's sorted listing, which
    * its `file` column indexes), whether they are BGZF, and their
    * header, for [[read]] and [[readRegions]] alike. EVERY file's head is
    * read, which sniffs its kind: a BGZF and non-BGZF mix fails here. The
    * header is the first file's; every other shard's `#CHROM` line must
    * match it (a headerless shard, as `VcfExport.exportSharded` writes
    * after shard 0, inherits it).
    */
  private def inputHeader(spark: SparkSession,
      path: String): (Seq[String], Boolean, Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    val files = BgzfTextSource.listFiles(path, conf).map(_.getPath)
    val heads = files.map(p => p -> BgzfSplitLineIterator.headLines(p.getFileSystem(conf), p))
    val (bgzf, other) = heads.partition(_._2._1 == InputKind.Bgzf)
    if (bgzf.nonEmpty && other.nonEmpty)
      throw new IllegalArgumentException(
        s"mixed-compression VCF input under $path: BGZF files " +
          s"(${bgzf.map(_._1.getName).take(3).mkString(", ")}...) alongside " +
          s"non-BGZF files (${other.map(_._1.getName).take(3).mkString(", ")}...)" +
          "; read them separately or re-bgzip the plain shards")
    val headerLines = heads.headOption.fold(Seq.empty[String])(_._2._2)
    def chromLine(lines: Seq[String]) = lines.find(_.startsWith("#CHROM"))
    val chrom = chromLine(headerLines)
    heads.drop(1).find(f => chromLine(f._2._2).exists(c => !chrom.contains(c)))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"VCF shards disagree on their #CHROM line: ${f._1} " +
            s"differs from ${files.head}; read them separately")
      }
    (files.map(_.toString), other.isEmpty && bgzf.nonEmpty, headerLines)
  }

  /** Header (`#`) lines, as a column predicate: Catalyst tests the
    * scanned bytes in place, where a typed lambda would deserialize
    * every line to a JVM string first.
    */
  private def body(lines: DataFrame): DataFrame = lines.where(!col("value").startsWith("#"))

  /** Tabix-indexed range read over a BGZF VCF: only the compressed
    * blocks whose index chunks overlap `chr:[beg, end]` (1-based
    * inclusive) are planned as input partitions — the pre-ETL analog of
    * the reference's `readVcf(param = chunk_ranges[i])`
    * (`02-build-db.R:256`). The index is conservative (bin granularity),
    * so an exact interval-overlap filter is layered on top; Catalyst
    * keeps it next to the scan.
    *
    * Requires `<path>.tbi` (or `indexPath`) — build one for the engine's
    * own exports with [[Tabix.build]].
    */
  def readRange(spark: SparkSession, path: String, chr: String,
      beg: Long, end: Long, splitSize: Option[Long] = None,
      indexPath: Option[String] = None): VcfDataset =
    readRegions(spark, path, Seq((chr, beg, end)), splitSize, indexPath)

  /** Multi-region variant of [[readRange]] — the reference's chunked
    * ETL reads a BATCH of ranges per call (`chunk_ranges[i]` holds many
    * intervals); index chunks from all regions merge before planning,
    * so blocks shared between nearby regions are read once.
    */
  def readRegions(spark: SparkSession, path: String,
      regions: Seq[(String, Long, Long)], splitSize: Option[Long] = None,
      indexPath: Option[String] = None): VcfDataset = {
    require(regions.nonEmpty, "need at least one region")
    val (files, isBgzf, headerLines) = inputHeader(spark, path)
    require(isBgzf, s"range reads need BGZF (bgzip) input; $path is not")
    val reader = spark.read.format("bgzf-text")
      .option("region",
        regions.map { case (c, b, e) => s"$c:$b-$e" }.mkString(";"))
    val withIdx = indexPath.fold(reader)(p => reader.option("index", p))
    val lines = splitSize.fold(withIdx)(s => withIdx.option("splitSize", s)).load(path)
    val header = VcfHeader.parse(headerLines)
    // tabix overlap semantics: record interval [pos, pos+len(ref)-1]
    // intersects any requested region
    val overlap = regions.map { case (c, b, e) =>
      col("chr") === c && col("pos") <= e &&
        col("pos") + length(col("ref")) - 1 >= b
    }.reduce(_ || _)
    val parsed = parse(body(lines), header, files).where(overlap)
    VcfDataset(parsed, header)
  }

  /** Parse in-memory lines (tests, embedded fixtures); line i is offset i of `<lines>`. */
  def fromLines(spark: SparkSession, lines: Seq[String]): VcfDataset = {
    import spark.implicits._
    val header = VcfHeader.parse(lines.filter(_.startsWith("#")))
    val body = lines.zipWithIndex.collect {
      case (l, i) if !l.startsWith("#") => (l, 0, i.toLong)
    }.toDF("value", "file", "offset")
    VcfDataset(parse(body, header, Seq("<lines>")), header)
  }

  /** The distributed line parse: pure column expressions, one pass.
    * `lines` are the `bgzf-text` source's rows: `value`, `file` (an index
    * into `files`, the names errors report) and `offset`.
    *
    * PHYSICAL skip-parse (the reference's
    * `ScanVcfParam(fixed="ALT", info=NA, samples=NA)` byte-level
    * behavior, 01-generate-variant-ranges-index.R:37-40): the fixed
    * fields and INFO read from a PREFIX-ONLY tokenization
    * (`split(value, "\t", 9)` stops splitting before the sample tail
    * — the 9th element is one untokenized remainder). FORMAT and the
    * sample columns come from splitting that remainder once more, at
    * its first tab; the sample columns themselves are never tokenized
    * here. Catalyst's column pruning therefore decides the physical
    * parse cost: a positions-only scan keeps only prefix-split
    * expressions and never tokenizes the genotype tail — which at
    * 1,000+ samples is ~40× the bytes of the fields it needs — and a
    * full read carries that tail as one string instead of one value
    * per sample. (`str_to_map` on INFO was already pruned logically
    * when no info column survives.)
    */
  def parse(lines: DataFrame, header: VcfHeaderInfo, files: Seq[String]): DataFrame = {
    // a malformed line fails the scan that meets it, naming file, offset,
    // reason and line, not with a bare index or cast error downstream; the
    // `file:` prefixes are one array literal, which generated code takes by
    // reference (and each call is a copy of this code in the parse's
    // generated class, so it stays small)
    val where = get(typedLit(files.map(_ + ":")), col("file"))
    def malformed(reason: String): Column =
      raise_error(concat(where, col("offset").cast(StringType),
        lit(s": malformed VCF line ($reason): "), substring(col("value"), 1, 200)))
    // prefix tokenization: fixed fields + INFO; stops before the tail
    val split9 = split(col("value"), "\t", 9)
    val p = when(size(split9) >= 8, split9)
      .otherwise(malformed("fewer than 8 tab-separated fields"))
    val pos = p.getItem(1).try_cast(LongType)
    // FORMAT + untokenized sample columns, from the unguarded split (a
    // malformed line fails on its fixed fields); sites-only VCFs stop
    // after INFO, so access must be null-tolerant (ANSI get(), not
    // ordinal indexing)
    val tail = split(get(split9, lit(8)), "\t", 2)

    def nullable(c: Column): Column = when(c === Missing, lit(null)).otherwise(c)
    // "." → null; any other value that does not cast to a number fails
    // the scan like a bad POS
    def typed(v: Column, t: DataType, field: String): Column = t match {
      case LongType | DoubleType =>
        val c = v.try_cast(t)
        val kind = if (t == LongType) "an integer" else "a float"
        when(v === Missing, lit(null))
          .when(c.isNull && v.isNotNull, malformed(s"$field is not $kind"))
          .otherwise(c)
      case _ => nullable(v).cast(t)
    }

    // INFO "K=V;K2;K3=V3" → map; flag keys get a null value slot, so
    // flag presence = map_contains_key.
    val infoMap = expr("str_to_map(_info_raw, ';', '=')")

    val fixed = lines.select(
      p.getItem(0).as("chr"),
      when(pos.isNull, malformed("POS is not an integer")).otherwise(pos).as("pos"),
      nullable(p.getItem(2)).as("id"),
      p.getItem(3).as("ref"),
      p.getItem(4).as("alt"),
      typed(p.getItem(5), DoubleType, "QUAL").as("qual"),
      nullable(p.getItem(6)).as("filter"),
      // a sites-only line has exactly 8 fields, so the prefix split's
      // item 7 is the complete INFO field either way; with samples
      // present it is still exact because the limit-9 split keeps
      // fields 0-7 intact and only leaves the tail unsplit in item 8
      p.getItem(7).as("_info_raw"),
      get(tail, lit(0)).as("format"),
      get(tail, lit(1)).as("genotypes"),
      // kept for the INFO casts' error messages; the last select drops
      // the line and renames its position
      col("value"), col("file"), col("offset"))

    val withInfo = fixed.withColumn("_info", infoMap)

    // One typed column per INFO declaration (lowercased names — the
    // reference lowercases all column names, 02-build-db.R:346 — and
    // drops later duplicates after case folding, 02-build-db.R:348;
    // ids shadowing fixed/derived columns are dropped the same way).
    val infoCols: Seq[Column] = header.usableInfoDefs.map { d =>
      val v = col("_info").getItem(d.id)
      val c = d match {
        case VcfFieldDef(_, _, "Flag", _) =>
          map_contains_key(col("_info"), d.id)
        case VcfFieldDef("CSQ", _, _, _) =>
          split(v, ",")
        case VcfFieldDef(_, "1", t, _) =>
          typed(v, sqlType(t), s"INFO ${d.id}")
        case VcfFieldDef(_, _, t, _) => // A / R / G / . / n>1 → array
          transform(split(v, ","), e => typed(e, sqlType(t), s"INFO ${d.id}"))
      }
      c.as(if (d.id == "CSQ") "csq" else d.id.toLowerCase)
    }

    withInfo.select(
      (Seq(col("chr"), col("pos"), col("id"), col("ref"), col("alt"),
        col("qual"), col("filter")) ++
        infoCols ++
        Seq(col("genotypes"), col("format"), col("file").as("_file"),
          col("offset").as("_offset"))): _*)
  }

  /** The per-sample form of a parsed row's `genotypes` string:
    * `array<struct<sample, raw>>`, one entry per header sample, names
    * from the header. Null-pads: a row with fewer sample columns than
    * the header (or none: `genotypes` null) still yields one entry per
    * header sample, with a null `raw` for each missing one. Typed empty for sites-only
    * files, so a downstream explode is a well-formed no-op.
    *
    * The zip of names × raw fields MUST be a constant-size expression:
    * the obvious `array(struct(lit(s_i), get(raw, i)) for every
    * sample)` plants ~5 expression nodes PER SAMPLE in the plan, and at
    * 1,000 samples Catalyst replans + regenerates + JIT-compiles that
    * ~5k-node tree on every action — a 100k×1000 build spent ~30 min of
    * single-threaded driver time there while executors idled. One array
    * literal + one zip_with is O(1) in sample count. The cast names the
    * lambda's struct fields.
    */
  private[vcf] def sampleFields(genotypes: Column, header: VcfHeaderInfo): Column = {
    val asStructs = "array<struct<sample:string,raw:string>>"
    if (header.samples.isEmpty) array().cast(asStructs)
    else
      zip_with(typedLit(header.samples),
          // a null tail (no sample columns) zips as all-missing; a bare
          // split would null the whole array and the explode would drop
          // the variant's rows
          coalesce(split(genotypes, "\t"), typedLit(Seq.empty[String])),
          (n, v) => struct(n, v))
        .cast(asStructs)
  }
}

/** A parsed VCF: the nested DataFrame plus its header metadata. */
final case class VcfDataset(df: DataFrame, header: VcfHeaderInfo)

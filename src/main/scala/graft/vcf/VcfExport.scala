package graft.vcf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BGZF VCF export: the sink closing the engine's loop — tables built
  * by [[VcfBuild]] (or any parsed [[VcfDataset]]) render back to VCF
  * text, compress to bgzip framing IN PARALLEL (one BGZF fragment per
  * partition — BGZF streams concatenate validly), and index with
  * [[Tabix.build]], so the engine's own output is range-queryable by
  * itself (`VcfReader.readRange`) and by any htslib-based tool. The
  * reference has no export path at all (its pipeline is one-way
  * VCF → SQLite); this is declared surplus capability.
  *
  * Scale note: rendering + compression are fully distributed; the
  * single-file assembly step streams the per-partition fragments
  * through the driver (HDFS `concat` avoids even that where the
  * filesystem supports it). For cluster-scale exports prefer
  * [[exportSharded]]: every partition becomes its own `.vcf.gz` shard
  * (the first carrying the header), which [[VcfReader.read]] consumes
  * as a directory without any single-node assembly.
  */
object VcfExport {

  /** Regenerate header lines from the parsed header model (the parser
    * keeps every field that drives schema; descriptions round-trip
    * with VCF 4.2 quote escaping).
    */
  def headerLines(header: VcfHeaderInfo): Seq[String] = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def defLine(kind: String, d: VcfFieldDef): String =
      s"""##$kind=<ID=${d.id},Number=${d.number},Type=${d.vcfType},Description="${esc(d.description)}">"""
    val cols = Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
      "INFO") ++
      (if (header.samples.nonEmpty) "FORMAT" +: header.samples else Seq.empty)
    Seq("##fileformat=VCFv4.2") ++
      header.infoDefs.map(defLine("INFO", _)) ++
      header.formatDefs.map(defLine("FORMAT", _)) ++
      header.filterDefs.map(d =>
        s"""##FILTER=<ID=${d.id},Description="${esc(d.description)}">""") ++
      header.contigDefs.map { case (c, len) =>
        len.fold(s"##contig=<ID=$c>")(l => s"##contig=<ID=$c,length=$l>")
      } ++
      Seq(cols.mkString("\t"))
  }

  /** Render one VCF body line per variant — pure column expressions
    * (codegen'd): INFO re-assembles from the typed columns in header
    * order (flags by presence, arrays comma-joined with `.` for null
    * elements), genotype columns re-emit the raw FORMAT strings.
    */
  def renderLines(vcf: VcfDataset): Dataset[String] = {
    val df = vcf.df
    import df.sparkSession.implicits._
    df.orderBy(col("chr"), col("pos"), col("ref"), col("alt"))
      .select(lineExpr(vcf.header).as("value")).as[String]
  }

  /** The one-row-per-variant VCF text expression. */
  private def lineExpr(header: VcfHeaderInfo): Column = {
    def dot(c: Column): Column = coalesce(c.cast("string"), lit("."))

    val infoParts: Seq[Column] = header.usableInfoDefs.map { d =>
      val name = if (d.id == "CSQ") "csq" else d.id.toLowerCase
      d match {
        case VcfFieldDef(_, _, "Flag", _) =>
          when(col(name), lit(d.id)).otherwise(lit(null).cast("string"))
        case VcfFieldDef("CSQ", _, _, _) =>
          when(col("csq").isNotNull,
            concat(lit("CSQ="), array_join(col("csq"), ",", ".")))
        case VcfFieldDef(_, "1", _, _) =>
          when(col(name).isNotNull,
            concat(lit(d.id + "="), col(name).cast("string")))
        case _ =>
          when(col(name).isNotNull,
            concat(lit(d.id + "="),
              array_join(col(name).cast("array<string>"), ",", ".")))
      }
    }
    // concat_ws skips NULL parts; a variant with no INFO at all → "."
    val info =
      if (infoParts.isEmpty) lit(".")
      else {
        val joined = concat_ws(";", infoParts: _*)
        when(joined === "", lit(".")).otherwise(joined)
      }

    val fixed = concat_ws("\t",
      col("chr"), col("pos").cast("string"), dot(col("id")),
      col("ref"), col("alt"), dot(col("qual")), dot(col("filter")), info)

    if (header.samples.isEmpty) fixed
    else concat_ws("\t", fixed, dot(col("format")),
      array_join(
        transform(VcfReader.sampleFields(col("genotypes"), header),
          g => coalesce(g.getField("raw"), lit("."))),
        "\t"))
  }

  /** Compress a text Dataset to ONE bgzip file: per-partition BGZF
    * fragments written in parallel, assembled in partition order behind
    * the header blocks, EOF marker appended. Returns the block count
    * written (diagnostic).
    */
  def writeBgzf(header: Seq[String], body: Dataset[String], path: String,
      blockData: Int = Bgzf.DefaultBlockData): Unit = {
    val spark = body.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val confEntries = {
      import scala.jdk.CollectionConverters._
      conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    }
    val tmp = path + ".parts"
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    fs.delete(tmpPath, true)
    fs.mkdirs(tmpPath)

    val written: Array[Int] = body.rdd.mapPartitionsWithIndex { (i, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val c = new Configuration(false)
        confEntries.foreach { case (k, v) => c.set(k, v) }
        val p = new Path(f"$tmp/part-$i%05d")
        val out = p.getFileSystem(c).create(p, true)
        try {
          // grow a buffer of line bytes; flush full blocks as they fill
          val buf = new java.io.ByteArrayOutputStream(blockData * 2)
          def flush(all: Boolean): Unit = {
            var bytes = buf.toByteArray
            var off = 0
            while (bytes.length - off >= blockData) {
              Bgzf.writeBlock(out, bytes, off, blockData)
              off += blockData
            }
            if (all && bytes.length - off > 0) {
              Bgzf.writeBlock(out, bytes, off, bytes.length - off)
              off = bytes.length
            }
            buf.reset()
            if (off < bytes.length) buf.write(bytes, off, bytes.length - off)
          }
          it.foreach { line =>
            buf.write(line.getBytes("UTF-8")); buf.write('\n')
            if (buf.size >= blockData) flush(false)
          }
          flush(true)
        } finally out.close()
        Iterator.single(i)
      }
    }.collect()

    // assemble: header fragment + parts in partition order + EOF marker
    val outPath = new Path(path)
    val out = fs.create(outPath, true)
    try {
      out.write(Bgzf.compress(
        header.mkString("", "\n", "\n").getBytes("UTF-8"), blockData)
        .dropRight(Bgzf.EofBlock.length))
      written.sorted.foreach { i =>
        val p = new Path(f"$tmp/part-$i%05d")
        val in = fs.open(p)
        try {
          val b = new Array[Byte](1 << 20)
          var r = in.read(b)
          while (r > 0) { out.write(b, 0, r); r = in.read(b) }
        } finally in.close()
      }
      out.write(Bgzf.EofBlock)
    } finally out.close()
    fs.delete(tmpPath, true)
  }

  /** Export a parsed VCF as a single position-sorted `.vcf.gz` (+
    * `.tbi` unless `index = false`). The file re-reads through
    * [[VcfReader.read]]/[[VcfReader.readRange]] and standard tabix
    * tooling.
    */
  def exportVcf(vcf: VcfDataset, path: String, index: Boolean = true,
      blockData: Int = Bgzf.DefaultBlockData): Unit = {
    writeBgzf(headerLines(vcf.header), renderLines(vcf), path, blockData)
    if (index) {
      val p = new Path(path)
      Tabix.build(p.getFileSystem(
        vcf.df.sparkSession.sessionState.newHadoopConf()), p)
    }
  }

  /** Cluster-scale variant: every partition becomes its own shard file
    * under `dir` (shard 0 carries the header), no single-node assembly
    * anywhere. [[VcfReader.read]] consumes the directory directly.
    * `numShards` forces the range-partition count (global genomic order
    * is preserved ACROSS shard indices); left None, the sort's own
    * partitioning (AQE-sized) decides.
    */
  def exportSharded(vcf: VcfDataset, dir: String,
      blockData: Int = Bgzf.DefaultBlockData,
      numShards: Option[Int] = None): Unit = {
    val spark = vcf.df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val confEntries = {
      import scala.jdk.CollectionConverters._
      conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    }
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val head = headerLines(vcf.header).mkString("", "\n", "\n").getBytes("UTF-8")
    val sortCols = Seq(col("chr"), col("pos"), col("ref"), col("alt"))
    val arranged = numShards match {
      case Some(n) =>
        vcf.df.repartitionByRange(n, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
      case None => vcf.df.orderBy(sortCols: _*)
    }
    val lines = {
      import spark.implicits._
      arranged.select(lineExpr(vcf.header).as("value")).as[String]
    }
    lines.rdd.mapPartitionsWithIndex { (i, it) =>
      val c = new Configuration(false)
      confEntries.foreach { case (k, v) => c.set(k, v) }
      val p = new Path(f"$dir/shard-$i%05d.vcf.gz")
      val out = p.getFileSystem(c).create(p, true)
      try {
        val text = new java.io.ByteArrayOutputStream(1 << 20)
        if (i == 0) text.write(head)
        it.foreach { l => text.write(l.getBytes("UTF-8")); text.write('\n') }
        out.write(Bgzf.compress(text.toByteArray, blockData))
      } finally out.close()
      Iterator.empty[Int]
    }.count() // force
    ()
  }
}

package graft.vcf

/** VCF header model + parser.
  *
  * Replaces the reference's header scan (VCFdbR `pipeline/02-build-db.R:113-136`,
  * `scanVcfHeader`): `##INFO`/`##FORMAT`/`##FILTER`/`##contig` declarations
  * drive the dynamic schema, the `#CHROM` line yields the sample list, and
  * the CSQ INFO `Description` yields the VEP annotation column names
  * (lowercased, `[ :.]` → `_`, split on `|` — `02-build-db.R:184-186`).
  *
  * Header parsing is driver-side by design: headers are a few KB, and the
  * resulting schema must exist before distributed parsing starts.
  */
final case class VcfFieldDef(
    id: String, number: String, vcfType: String, description: String)

final case class VcfHeaderInfo(
    infoDefs: Seq[VcfFieldDef],
    formatDefs: Seq[VcfFieldDef],
    filterDefs: Seq[VcfFieldDef],
    contigDefs: Seq[(String, Option[String])],
    samples: Seq[String]) {

  /** Contig ids in declaration order (lengths, when declared, ride in
    * [[contigDefs]] — the `meta_contig` sidecar and VCF export keep
    * them).
    */
  def contigs: Seq[String] = contigDefs.map(_._1)

  def infoDef(id: String): Option[VcfFieldDef] = infoDefs.find(_.id == id)

  /** INFO defs with later case-insensitive duplicates dropped — the
    * reference's column dedupe (`02-build-db.R:348`); parser and table
    * builders must agree on this set.
    */
  def dedupedInfoDefs: Seq[VcfFieldDef] =
    infoDefs.groupBy(_.id.toLowerCase).map(_._2.head).toSeq
      .sortBy(d => infoDefs.indexWhere(_.id == d.id))

  /** [[dedupedInfoDefs]] minus ids that collide (case-insensitively)
    * with fixed or derived engine columns — keep-first semantics, the
    * fixed column wins (e.g. the standard SV INFO field `END` vs the
    * computed interval end). Parser and every table builder use THIS
    * set, so column references always resolve.
    */
  def usableInfoDefs: Seq[VcfFieldDef] =
    dedupedInfoDefs.filterNot(d => VcfHeaderInfo.reservedNames(d.id.toLowerCase))

  /** VEP CSQ sub-column names derived from the CSQ Description, with the
    * reference's normalization (lowercase; space/colon/dot → underscore).
    */
  def csqColumns: Option[Seq[String]] =
    infoDef("CSQ").map { d =>
      val fmt = d.description.toLowerCase.replaceAll("[ :.]", "_")
      fmt.split("\\|").toSeq
    }
}

object VcfHeaderInfo {
  /** Engine column names INFO fields must not shadow. */
  val reservedNames: Set[String] = Set(
    "variant_id", "chr", "pos", "start", "end", "id", "ref", "alt",
    "qual", "filter", "format", "genotypes", "_file", "_offset")
}

object VcfHeader {

  private val FieldLine = """##(INFO|FORMAT|FILTER|contig)=<(.*)>""".r

  /** Parse `ID=...,Number=...,Type=...,Description="..."` attribute lists
    * (description may contain commas/pipes inside quotes).
    */
  private def attrs(body: String): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < body.length) {
      val eq = body.indexOf('=', i)
      if (eq < 0) return m.toMap
      val key = body.substring(i, eq)
      if (eq + 1 < body.length && body.charAt(eq + 1) == '"') {
        // closing quote search honors \" escapes (VCF 4.2 permits them)
        var end = eq + 2
        while (end < body.length &&
          !(body.charAt(end) == '"' && body.charAt(end - 1) != '\\')) end += 1
        m(key) = body.substring(eq + 2, math.min(end, body.length))
          .replace("\\\"", "\"").replace("\\\\", "\\")
        i = math.min(end, body.length) + 2 // skip quote + comma
      } else {
        var end = body.indexOf(',', eq + 1)
        if (end < 0) end = body.length
        m(key) = body.substring(eq + 1, end)
        i = end + 1
      }
    }
    m.toMap
  }

  def parse(headerLines: Seq[String]): VcfHeaderInfo = {
    val info = Seq.newBuilder[VcfFieldDef]
    val fmt = Seq.newBuilder[VcfFieldDef]
    val filt = Seq.newBuilder[VcfFieldDef]
    val contigs = Seq.newBuilder[(String, Option[String])]
    var samples: Seq[String] = Seq.empty

    headerLines.foreach {
      case FieldLine(kind, body) =>
        val a = attrs(body)
        val d = VcfFieldDef(
          a.getOrElse("ID", ""), a.getOrElse("Number", "."),
          a.getOrElse("Type", "String"), a.getOrElse("Description", ""))
        kind match {
          case "INFO" => info += d
          case "FORMAT" => fmt += d
          case "FILTER" => filt += d
          case "contig" => contigs += (d.id -> a.get("length"))
        }
      case l if l.startsWith("#CHROM") =>
        val cols = l.stripPrefix("#").split("\t")
        samples = cols.drop(9).toSeq // CHROM..FORMAT are the first 9
        // a repeated name would give two geno rows per (variant, sample)
        val dups = samples.diff(samples.distinct).distinct
        if (dups.nonEmpty)
          throw new IllegalArgumentException(
            s"duplicate sample names in #CHROM: ${dups.mkString(", ")}")
      case _ => ()
    }
    VcfHeaderInfo(info.result(), fmt.result(), filt.result(), contigs.result(), samples)
  }
}

package graft.vcf

import org.apache.spark.sql.SparkSession

/** Deterministic synthetic VCF generator for benchmarks and scale
  * tests: body lines are generated distributed (`spark.range` → line
  * formatter), so fixture size is bounded by cluster, not driver,
  * memory — the same generator shape would produce a 100 TB fixture.
  *
  * Content is seeded arithmetic (no RNG state), so any row is
  * reproducible from its index alone.
  */
object SyntheticVcf {

  def header(nSamples: Int): Seq[String] = {
    val samples = (0 until nSamples).map(i => s"S$i")
    Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|IMPACT|SYMBOL|Gene|BIOTYPE|INTRON\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">") ++
      Seq((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT") ++ samples).mkString("\t"))
  }

  /** One deterministic body line per index. */
  def line(i: Long, nSamples: Int, nGenes: Int): String = {
    val chr = (i % 22 + 1).toString
    val pos = 1000L + (i / 22) * 100
    val bases = Array("A", "C", "G", "T")
    val ref = bases((i % 4).toInt)
    val alt = bases(((i + 1) % 4).toInt)
    val gene = s"GENE${i % nGenes}"
    val impact = (i % 10) match {
      case 0 => "HIGH"; case 1 | 2 => "MODERATE"; case 3 => "LOW"
      case _ => "MODIFIER"
    }
    val consequence = (i % 10) match {
      case 0 => "stop_gained"
      case 1 | 2 => "missense_variant"
      case 3 => "synonymous_variant"
      case 4 => "splice_region_variant&intron_variant"
      case _ => "intron_variant"
    }
    val af = (i % 200 + 1) / 1000.0 // 0.001 .. 0.2; ~25% pass af < 0.05
    val ac = i % 7 + 1
    val csq = s"$alt|$consequence|$impact|$gene|ENSG${i % nGenes}|protein_coding|" +
      (if (consequence.contains("intron")) "1/3" else "")
    val gts = Array("0|0", "0|1", "1|0", "1|1", "./.")
    val samples = (0 until nSamples).map { s =>
      val gt = gts(((i * 31 + s * 7) % 97 % 5).toInt)
      val dp = (i * 13 + s * 5) % 60
      s"$gt:$dp"
    }
    (Seq(chr, pos.toString, s"rs$i", ref, alt, ((i % 90) + 10).toString, "PASS",
      s"AC=$ac;AF=$af;DP=${(i % 100) + 1};CSQ=$csq", "GT:DP") ++ samples)
      .mkString("\t")
  }

  /** Distributed body + parsed VcfDataset; row i is offset i of `<synthetic>`. */
  def generate(spark: SparkSession, nVariants: Long, nSamples: Int,
      nGenes: Int = 200): VcfDataset = {
    import spark.implicits._
    val h = VcfHeader.parse(header(nSamples))
    val body = spark.range(nVariants).map(i => (line(i, nSamples, nGenes), 0, i))
      .toDF("value", "file", "offset")
    VcfDataset(VcfReader.parse(body, h, Seq("<synthetic>")), h)
  }
}

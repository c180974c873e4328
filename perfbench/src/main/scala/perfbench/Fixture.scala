package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.vcf.{Bgzf, SyntheticVcf, Tabix}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** One gene: a contiguous run of variants on one chromosome.
  * `firstId`/`lastId` are 1-based `variant_id`s, inclusive.
  */
final case class Gene(symbol: String, chr: String, firstId: Long, lastId: Long) {
  def size: Int = (lastId - firstId + 1).toInt
}

/** Seeded layout of a synthetic VCF: which gene and position each line
  * gets. Per-variant fields (ref/alt, INFO, genotypes) come from
  * [[graft.vcf.SyntheticVcf.line]]; only CHROM, POS and the CSQ gene
  * columns are rewritten here.
  *
  * Why the layout looks the way it does:
  *  - Genes are CONTIGUOUS runs of variants, as real genes are. The
  *    engine stores tables sorted by `variant_id`, so a gene maps to one
  *    id range and row-group pruning can work the way it does on real
  *    data. (The engine's own generator scatters each gene over every
  *    chromosome, which defeats pruning and no real file looks like.)
  *  - Gene sizes are HEAVY-TAILED (log-normal, median ~44 variants),
  *    like real genes (median 53, max 121,630 in 1000 Genomes), so
  *    point lookups hit both of `VcfApi`'s id paths: the pushed IN-list
  *    for genes of at most 1,000 variants and the broadcast semi-join
  *    above that.
  *  - Lines are chr-major and position-sorted, with chromosomes in the
  *    same (lexicographic) order the build sorts by, so `Tabix.build`
  *    accepts the file and `variant_id` is simply line index + 1.
  */
final class Fixture(val nVariants: Int, val nSamples: Int, val seed: Long) {
  import Fixture._

  /** Chromosome names in the build's sort order ("1" < "10" < ... < "9"). */
  val chromosomes: Array[String] = (1 to 22).map(_.toString).sorted.toArray

  val genes: Array[Gene] = layoutGenes()
  /** Per line: index into [[genes]]. */
  val geneOf: Array[Int] = {
    val a = new Array[Int](nVariants)
    genes.indices.foreach { g =>
      var id = genes(g).firstId
      while (id <= genes(g).lastId) { a((id - 1).toInt) = g; id += 1 }
    }
    a
  }
  /** Per line: 1-based position; strictly increasing within a chromosome. */
  val positions: Array[Long] = layoutPositions()

  def chrOf(line: Int): String = genes(geneOf(line)).chr

  private def layoutGenes(): Array[Gene] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var total = 0L
    while (total < nVariants) {
      // log-normal: median 44, sigma 1.1 — a long right tail
      val s = math.max(1, math.round(GeneMedian * math.exp(GeneSigma * gaussian(rnd))).toInt)
      val take = math.min(s.toLong, nVariants - total).toInt
      sizes += take
      total += take
    }
    // whole genes go to chromosomes in order until each holds ~1/22 of
    // the variants; a gene never spans two chromosomes
    val perChr = nVariants.toDouble / chromosomes.length
    var c = 0
    var next = 1L
    sizes.zipWithIndex.map { case (s, g) =>
      while (c < chromosomes.length - 1 && next - 1 >= perChr * (c + 1)) c += 1
      val gene = Gene(f"G$g%05d", chromosomes(c), next, next + s - 1)
      next += s
      gene
    }.toArray
  }

  private def layoutPositions(): Array[Long] = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val pos = new Array[Long](nVariants)
    var last = 0L
    var lastChr = ""
    genes.foreach { g =>
      if (g.chr != lastChr) { last = 10000L; lastChr = g.chr }
      last += 2000 + rnd.nextInt(30000) // intergenic gap
      var id = g.firstId
      while (id <= g.lastId) {
        pos((id - 1).toInt) = last
        last += 1 + rnd.nextInt(100) // mean spacing ~50 bp inside a gene
        id += 1
      }
    }
    pos
  }

  /** Body line `i` (0-based): the engine's synthetic line with this
    * fixture's chromosome, position and gene symbol.
    */
  def line(i: Int): String = {
    val base = SyntheticVcf.line(i.toLong, nSamples, Int.MaxValue)
    val t1 = base.indexOf('\t')
    val t2 = base.indexOf('\t', t1 + 1)
    val g = geneOf(i)
    (chrOf(i) + "\t" + positions(i) + base.substring(t2))
      .replace(s"|GENE$i|ENSG$i|", s"|${genes(g).symbol}|ENSG$g|")
  }

  def headerLines: Seq[String] = SyntheticVcf.header(nSamples)

  /** Write the fixture as a BGZF file plus its tabix index; returns the
    * compressed size in bytes. With `model` set, every written line is
    * also fed to it.
    */
  def write(path: String, model: Option[Model.Builder] = None): Long = {
    val out = new BgzfWriter(new BufferedOutputStream(new FileOutputStream(path), 1 << 20))
    try {
      headerLines.foreach(out.writeLine)
      var i = 0
      while (i < nVariants) {
        val l = line(i)
        model.foreach(_.add(i, l))
        out.writeLine(l)
        i += 1
      }
    } finally out.close()
    val fs = FileSystem.getLocal(new Configuration())
    Tabix.build(fs, new Path(path))
    new java.io.File(path).length()
  }
}

object Fixture {
  val GeneMedian = 44.0
  val GeneSigma = 1.1

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream simple to reason about
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** Streams text lines into BGZF blocks (the engine's block codec) and
  * closes with the EOF marker block.
  */
final class BgzfWriter(out: OutputStream) extends AutoCloseable {
  private val buf = new Array[Byte](Bgzf.DefaultBlockData)
  private var n = 0

  def writeLine(s: String): Unit = {
    val bytes = (s + "\n").getBytes(StandardCharsets.UTF_8)
    var off = 0
    while (off < bytes.length) {
      val k = math.min(buf.length - n, bytes.length - off)
      System.arraycopy(bytes, off, buf, n, k)
      n += k; off += k
      if (n == buf.length) flushBlock()
    }
  }

  private def flushBlock(): Unit = if (n > 0) {
    Bgzf.writeBlock(out, buf, 0, n)
    n = 0
  }

  override def close(): Unit = {
    flushBlock()
    out.write(Bgzf.EofBlock)
    out.close()
  }
}

package perfbench

/** Expected answers for one fixture, computed from the VCF text the
  * fixture wrote with a plain split-on-tab parse — no Spark, no engine
  * code — so a wrong engine answer cannot also be the model's answer.
  */
final class Model private (
    val fixture: Fixture,
    af: Array[Double],
    calls: Array[Int],
    missing: Array[Int],
    carriers: Array[Int],
    altAlleles: Array[Int],
    val impactRows: Long) {

  def nVariants: Int = fixture.nVariants
  def nSamples: Int = fixture.nSamples
  def infoRows: Long = nVariants.toLong
  def genoRows: Long = nVariants.toLong * nSamples

  private def ids(g: Gene): Iterator[Int] = ((g.firstId - 1).toInt to (g.lastId - 1).toInt).iterator

  /** `filterByGene*` row count: the gene's variants with af < afMax. */
  def geneFilterRows(g: Gene, afMax: Double): Long = ids(g).count(af(_) < afMax).toLong

  /** `pullByGene` row count: every sample of every passing variant. */
  def genePullRows(g: Gene, afMax: Double): Long = geneFilterRows(g, afMax) * nSamples

  /** `pullByIds` row count for distinct, existing ids. */
  def idPullRows(nIds: Int): Long = nIds.toLong * nSamples

  /** Variants overlapping `chr:[beg, end]`; every REF is one base long. */
  def regionRows(chr: String, beg: Long, end: Long): Long =
    (0 until nVariants).count { i =>
      fixture.chrOf(i) == chr && fixture.positions(i) >= beg && fixture.positions(i) <= end
    }.toLong

  def totalCalls: Long = calls.iterator.map(_.toLong).sum
  def totalMissing: Long = missing.iterator.map(_.toLong).sum

  /** `burdenReport(afMax)` totals: Σ n_sites and Σ n_alleles. Each
    * variant carries exactly one gene, so a (sample, gene) site count is
    * the number of rare variants in the gene the sample carries.
    */
  def burdenTotals(afMax: Double): (Long, Long) = {
    var sites = 0L
    var alleles = 0L
    var i = 0
    while (i < nVariants) {
      if (af(i) < afMax) { sites += carriers(i); alleles += altAlleles(i) }
      i += 1
    }
    (sites, alleles)
  }
}

object Model {

  /** Fed each body line as it is written ([[Fixture.write]]). */
  final class Builder(fixture: Fixture) {
    private val n = fixture.nVariants
    private val af = new Array[Double](n)
    private val calls = new Array[Int](n)
    private val missing = new Array[Int](n)
    private val carriers = new Array[Int](n)
    private val altAlleles = new Array[Int](n)
    private var impactRows = 0L

    def add(i: Int, line: String): Unit = {
      val f = line.split('\t')
      val info = f(7).split(';')
      af(i) = info.find(_.startsWith("AF=")).get.drop(3).toDouble
      // one CSQ entry per line; its consequence terms ('&'-joined) each
      // become one impact row
      val csq = info.find(_.startsWith("CSQ=")).get.drop(4)
      impactRows += csq.split('|')(1).split('&').length
      var s = 9
      while (s < f.length) {
        val gt = f(s).takeWhile(_ != ':')
        val alts = gt.split("[/|]")
        if (alts.exists(_ == ".")) missing(i) += 1
        else {
          calls(i) += 1
          val a = alts.count(_ != "0")
          if (a > 0) carriers(i) += 1
          altAlleles(i) += a
        }
        s += 1
      }
    }

    def result(): Model =
      new Model(fixture, af, calls, missing, carriers, altAlleles, impactRows)
  }
}

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.vcf.{VcfApi, VcfReader}
import org.apache.spark.sql.SparkSession

import Main._

object Lookup {
  val Kinds = Seq("gene_filter", "gene_pull", "id_pull", "region")

  /** Seeded Fisher-Yates shuffle. */
  def shuffled[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** A 20 kb window around a uniformly chosen variant. */
  def region(f: Fixture, rnd: SplittableRandom): (String, Long, Long) = {
    val i = rnd.nextInt(f.nVariants)
    val beg = math.max(1L, f.positions(i) - 10000)
    (f.chrOf(i), beg, beg + 19999)
  }

  /** Zipf(1) popularity over genes, ranked by a seeded shuffle — so a
    * gene's popularity is independent of its size. Interactive sessions
    * re-ask about a few hot genes far more often than the rest.
    */
  final class Zipf(genes: Array[Gene], seed: Long) {
    private val order = shuffled(genes.indices, new SplittableRandom(seed ^ 0x21bf)).toArray
    private val cdf = {
      val w = order.indices.map(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(rnd: SplittableRandom): Gene = {
      val u = rnd.nextDouble()
      val r = java.util.Arrays.binarySearch(cdf, u)
      val rank = if (r >= 0) r else math.min(-r - 1, cdf.length - 1)
      genes(order(rank))
    }
  }

  /** Pull sizes log-uniform over 50–5,000 ids, like the reference's
    * per-1k-variant pull benchmark; both of `pullByIds`' paths (IN-list
    * up to 1,000 ids, broadcast semi-join above) are exercised.
    */
  def idSet(nVariants: Int, rnd: SplittableRandom): Seq[Long] = {
    val k = math.min(nVariants,
      math.round(math.exp(math.log(50) + rnd.nextDouble() * math.log(100))).toInt)
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < k) s += 1L + rnd.nextInt(nVariants)
    s.toSeq
  }
}

/** Query operations shared by `lookup`, `cohort` and the self-test.
  * Each returns whether the engine's answer matched the model.
  */
trait Queries { self: Workload =>
  var index: VcfApi.GeneIndex = _
  val AfMax = 0.05

  def geneFilter(g: Gene, t: Option[Tracer]): Boolean = {
    val df = traced(t, "vcf.VcfApi.filterByGeneIndexed")(
      VcfApi.filterByGeneIndexed(index, db.info, g.symbol, AfMax))
    val (n, _) = traced(t, "spark.action")(force(df))
    noteRows(t, n)
    expect(s"gene_filter ${g.symbol}", n, model.geneFilterRows(g, AfMax))
  }

  def genePull(g: Gene, t: Option[Tracer]): Boolean = {
    val df = traced(t, "vcf.VcfApi.pullByGene")(
      VcfApi.pullByGene(db.impact, db.info, db.geno, g.symbol, AfMax))
    val (n, _) = traced(t, "spark.action")(force(df))
    noteRows(t, n)
    expect(s"gene_pull ${g.symbol}", n, model.genePullRows(g, AfMax))
  }

  def idPull(ids: Seq[Long], t: Option[Tracer]): Boolean = {
    val df = traced(t, "vcf.VcfApi.pullByIds")(VcfApi.pullByIds(db.geno, ids))
    val (n, _) = traced(t, "spark.action")(force(df))
    noteRows(t, n)
    expect(s"id_pull of ${ids.size}", n, model.idPullRows(ids.size))
  }

  def region(chr: String, beg: Long, end: Long, t: Option[Tracer]): Boolean = {
    val df = traced(t, "vcf.VcfReader.readRange")(
      VcfReader.readRange(spark, fixturePath(currentDir), chr, beg, end)).df
    val (n, _) = traced(t, "spark.action")(force(df))
    noteRows(t, n)
    expect(s"region $chr:$beg-$end", n, model.regionRows(chr, beg, end))
  }

  /** One whole-cohort report, forced and checked. */
  def report(name: String, t: Option[Tracer]): Boolean = {
    val n = model.nVariants.toLong
    def run(layer: String, df: => org.apache.spark.sql.DataFrame, sums: String*) = {
      val (rows, s) = traced(t, "spark.action")(force(traced(t, layer)(df), sums: _*))
      noteRows(t, rows)
      (rows, s)
    }
    name match {
      case "sample_qc" =>
        val (rows, Seq(calls, missing)) =
          run("vcf.VcfApi.sampleQc", VcfApi.sampleQc(db.geno), "n_calls", "n_missing")
        expect("sample_qc rows", rows, model.nSamples) &&
          expect("sample_qc calls", calls, model.totalCalls) &&
          expect("sample_qc missing", missing, model.totalMissing) &&
          expect("sample_qc calls + missing", calls + missing, model.genoRows)
      case "variant_qc" =>
        val (rows, Seq(called)) =
          run("vcf.VcfApi.variantQc", VcfApi.variantQc(db.geno), "n_called")
        expect("variant_qc rows", rows, n) && expect("variant_qc calls", called, model.totalCalls)
      case "hwe" =>
        val (rows, Seq(called)) = run("vcf.VcfApi.hweReport", VcfApi.hweReport(db.geno), "n")
        expect("hwe rows", rows, n) && expect("hwe calls", called, model.totalCalls)
      case "burden" =>
        val (_, Seq(sites, alleles)) = run("vcf.VcfApi.burdenReport",
          VcfApi.burdenReport(db.geno, db.impact, db.info, AfMax), "n_sites", "n_alleles")
        val (wantSites, wantAlleles) = model.burdenTotals(AfMax)
        expect("burden sites", sites, wantSites) && expect("burden alleles", alleles, wantAlleles)
      case "afs" =>
        val (_, Seq(total)) = run("vcf.VcfApi.alleleFrequencySpectrum",
          VcfApi.alleleFrequencySpectrum(db.info), "n")
        expect("afs variants", total, n)
    }
  }
}

/** `lookup`: the read path. Two closed-loop clients (each waits for its
  * reply before sending the next request) issue a seeded mix of point
  * operations, a quarter each in a seeded order: gene filter through the
  * gene index, gene genotype pull, id-set pull, and a 20 kb tabix range
  * read of the raw BGZF file.
  */
final class LookupWorkload(spark: SparkSession, args: Args)
    extends Workload(spark, args) with Queries {
  def nVariants = 10000
  def nSamples = 100
  val Clients = 2
  val WarmupSeconds = 3.0
  /** A floor on the window's sample count when the machine runs slow. */
  val MinOps = 50
  private lazy val zipf = new Lookup.Zipf(fixture.genes, args.seed)
  private var phase = 0
  private val queries = new java.util.concurrent.atomic.AtomicInteger(0)

  override def prepare(): Unit = index = VcfApi.buildGeneIndex(db.impact)

  def warmup(): Unit = measure(nowMs + WarmupSeconds * 1000, None)

  def measure(deadlineMs: Double, tracer: Option[Tracer]): Seq[OpSample] = {
    phase += 1
    // the warm-up is time-bound only; a traced run splits the window in two
    val minOps = if (phase == 1) 0 else if (args.trace) MinOps / 2 else MinOps
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = Array.fill(Clients)(mutable.ArrayBuffer.empty[OpSample])
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rnd = new SplittableRandom(args.seed * 1000003L + phase * 101 + c)
        val kinds = mutable.Queue.empty[String]
        while (nowMs < deadlineMs || done.get() < minOps) {
          // each client cycles through the four kinds in a seeded order,
          // so every window holds them in equal shares
          if (kinds.isEmpty) kinds ++= Lookup.shuffled(Lookup.Kinds, rnd)
          results(c) += one(kinds.dequeue(), rnd, tracer, queries.incrementAndGet())
          done.incrementAndGet()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.flatten.toSeq
  }

  private def one(kind: String, rnd: SplittableRandom, t: Option[Tracer],
      query: Int): OpSample =
    kind match {
      case k @ "gene_filter" =>
        val g = zipf.draw(rnd); checked(k, t, query)(geneFilter(g, t))
      case k @ "gene_pull" =>
        val g = zipf.draw(rnd); checked(k, t, query)(genePull(g, t))
      case k @ "id_pull" =>
        val ids = Lookup.idSet(nVariants, rnd); checked(k, t, query)(idPull(ids, t))
      case k @ "region" =>
        val (chr, b, e) = Lookup.region(fixture, rnd)
        checked(k, t, query)(region(chr, b, e, t))
    }
}

object Cohort {
  val Reports = Seq("sample_qc", "variant_qc", "hwe", "burden", "afs")
}

/** `cohort`: full scans with aggregation shuffles over a WIDE database
  * (1,000 samples, genome-like width) — the same storage layer as
  * `lookup`, read in bulk instead of by point. An operation is one battery
  * of all five reports, run in order.
  */
final class CohortWorkload(spark: SparkSession, args: Args)
    extends Workload(spark, args) with Queries {
  def nVariants = 1000
  def nSamples = 1000
  import Cohort.Reports
  /** Batteries per window at least, so each report has several samples. */
  val MinBatteries = 4
  private var battery = 0

  private def runBattery(t: Option[Tracer]): Seq[OpSample] = {
    battery += 1
    Reports.map(r => checked(r, t, battery)(report(r, t)))
  }

  def warmup(): Unit = (1 to 2).foreach(_ => runBattery(None))

  def measure(deadlineMs: Double, tracer: Option[Tracer]): Seq[OpSample] = {
    val minOps = Reports.size * (if (args.trace) MinBatteries / 2 else MinBatteries)
    val out = mutable.ArrayBuffer.empty[OpSample]
    while (nowMs < deadlineMs || out.size < minOps) out ++= runBattery(tracer)
    out.toSeq
  }
}

/** Model-vs-engine agreement on a tiny fixture: the build check (run by
  * set-up), every gene's filter and pull, id pulls on both sides of the
  * 1,000-id switch, region reads and every cohort report. One op per
  * check.
  */
final class SelfTest(spark: SparkSession, args: Args)
    extends Workload(spark, args) with Queries {
  def nVariants = 3000
  def nSamples = 4
  override def setups = 0

  override def prepare(): Unit = index = VcfApi.buildGeneIndex(db.impact)

  def warmup(): Unit = ()

  def measure(deadlineMs: Double, tracer: Option[Tracer]): Seq[OpSample] = {
    val rnd = new SplittableRandom(args.seed)
    val t = tracer
    fixture.genes.toSeq.flatMap(g =>
        Seq(checked("gene_filter", t)(geneFilter(g, t)),
          checked("gene_pull", t)(genePull(g, t)))) ++
      Seq(60, 1500).map { k =>
        val ids = (1 to k).map(i => 1L + (i.toLong * 7919) % nVariants).distinct
        checked("id_pull", t)(idPull(ids, t))
      } ++
      (1 to 5).map { _ =>
        val (chr, b, e) = Lookup.region(fixture, rnd)
        checked("region", t)(region(chr, b, e, t))
      } ++
      Cohort.Reports.map(r => checked(r, t)(report(r, t)))
  }
}

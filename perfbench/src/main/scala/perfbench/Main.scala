package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.vcf.{VcfApi, VcfBuild, VcfReader}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * Drives the VCF layers only through their public functions —
  * `Bgzf`/`Tabix`/`BgzfTextSource` (via `VcfReader`) → `VcfBuild` →
  * `VcfTables.write` → `VcfApi` — and persists no DataFrame itself, so
  * any caching is the engine's. Prints one `PERFBENCH_RAW {...}` line of
  * raw samples; `run.py` turns it into the reported metrics.
  *
  * Usage: perfbench.Main --workload <lookup|cohort|selftest>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  /** One timed call of the measured window. `group` is the end-to-end
    * operation it belongs to: a `lookup` query is its own group, a
    * `cohort` battery groups its five reports.
    */
  final case class OpSample(kind: String, ms: Double, ok: Boolean, group: Int = 0)

  def parseArgs(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"))
  }

  def session(work: String): SparkSession = {
    val spark = graft.GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.plans.GraftExtensions.ensureRegistered(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    new File(args.work).mkdirs()
    val spark = session(args.work)
    progress("session up")
    val out =
      try {
        val w: Workload = args.workload match {
          case "lookup" => new LookupWorkload(spark, args)
          case "cohort" => new CohortWorkload(spark, args)
          case "selftest" => new SelfTest(spark, args)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        w.run()
      } finally spark.stop()
    progress("session stopped")
    println("PERFBENCH_RAW " + Json.obj(out))
  }

  def nowMs: Double = System.nanoTime() / 1e6

  private val started = nowMs
  /** Progress line on stderr, stamped with seconds since start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench +${(nowMs - started) / 1000}%.1fs] $msg")

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Collect the garbage of earlier phases before a timed one, so that a
    * full collection of it does not land in whichever phase happens to run
    * when the old generation fills. The phase still pays for its own.
    */
  def settle(): Unit = System.gc()

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length()

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Force every column of `df` on the executors and bring back only
    * its row count and the sums of `sums` (the values the model checks).
    * Hashing all columns keeps Catalyst from pruning any of them.
    */
  def force(df: DataFrame, sums: String*): (Long, Seq[Long]) = {
    val all: Seq[Column] = df.columns.toSeq.map(c => col(s"`$c`"))
    val aggs = Seq(count(lit(1)), bit_xor(xxhash64(all: _*))) ++
      sums.map(s => sum(col(s)).cast("long"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    (r.getLong(0), sums.indices.map(i => if (r.isNullAt(i + 2)) 0L else r.getLong(i + 2)))
  }
}

/** What every workload shares: repeated set-up of a database, warm-up,
  * a measured untraced window, and — with `--trace 1` — a second, traced
  * window plus single-layer probes.
  */
abstract class Workload(val spark: SparkSession, val args: Main.Args) {
  import Main._

  /** Fixture shape for this workload. */
  def nVariants: Int
  def nSamples: Int
  /** Timed set-ups per run; `setup_s` and `build_s` are their medians.
    * The run starts with one untimed, identical set-up that serves the
    * measured window; the timed ones come after the window. The JVM's
    * first build runs interpreted and is 3-4× slower, and the next few
    * are still speeding up as the JIT catches up, so set-ups timed right
    * after the first are noisy. Even after the window the first timed
    * set-up still runs 20-40% slower than the next; with three, the median
    * is one of the settled ones.
    */
  def setups: Int = 3
  /** Extra set-up work after the database is open (timed in `setup_s`). */
  def prepare(): Unit = ()
  /** Untimed work after set-up, before the measured window. */
  def warmup(): Unit

  /** Run operations until `deadlineMs`; one sample per completed op. */
  def measure(deadlineMs: Double, tracer: Option[Tracer]): Seq[OpSample]

  val fixture = new Fixture(nVariants, nSamples, args.seed)
  var model: Model = _
  var db: Etl.Db = _
  val attempted = new AtomicLong(0)
  val failures = new AtomicLong(0)
  val failureNotes = mutable.ArrayBuffer.empty[String]

  /** Record why a check failed; the op it belongs to counts as failed. */
  def fail(note: String): Boolean = {
    failureNotes.synchronized { if (failureNotes.size < 20) failureNotes += note }
    false
  }

  /** Run `body` as one checked operation: a thrown exception or a false
    * check counts as failed; neither aborts the run.
    */
  def checked(kind: String, tracer: Option[Tracer], group: Int = 0)(
      body: => Boolean): OpSample = {
    attempted.incrementAndGet()
    val t0 = nowMs
    val ok =
      try tracer.fold(body)(_.op(kind)(body))
      catch { case NonFatal(e) => fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (!ok) failures.incrementAndGet()
    OpSample(kind, nowMs - t0, ok, group)
  }

  def expect(what: String, got: Long, want: Long): Boolean =
    got == want || fail(s"$what: got $got, want $want")

  def traced[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  val work: String = args.work
  def fixturePath(dir: String) = s"$dir/fixture.vcf.gz"
  var inputBytes = 0L
  var storeBytes = 0L
  var currentDir: String = _

  /** Set-up `k` from scratch: fixture → BGZF + tabix → ETL to parquet →
    * open → [[prepare]]. Returns (set-up seconds, ETL seconds). The
    * database is then checked against the model, untimed.
    */
  private def setUp(k: Int): (Double, Double) = {
    val dir = s"$work/setup-$k"
    rmrf(new File(dir)); new File(dir).mkdirs()
    val builder = if (k == 0) Some(new Model.Builder(fixture)) else None
    settle()
    val t0 = nowMs
    inputBytes = fixture.write(fixturePath(dir), builder)
    val e0 = nowMs
    Etl.build(spark, fixturePath(dir), s"$dir/db", None)
    val etlS = (nowMs - e0) / 1000
    db = Etl.open(spark, s"$dir/db")
    prepare()
    val setupS = (nowMs - t0) / 1000
    builder.foreach(b => model = b.result())
    storeBytes = du(new File(s"$dir/db"))
    if (currentDir != null) rmrf(new File(currentDir))
    currentDir = dir
    checked("build_check", None)(checkBuild(s"$dir/db"))
    progress(f"setup $k: $setupS%.2f s (ETL $etlS%.2f s)")
    (setupS, etlS)
  }

  /** A freshly written database against the model: contiguous ids 1..N
    * and every table's row count.
    */
  def checkBuild(dir: String): Boolean = {
    val db = Etl.open(spark, dir)
    val r = db.info.agg(count(lit(1)), min("variant_id"), max("variant_id"),
      countDistinct("variant_id")).collect()(0)
    val n = model.infoRows
    Seq(
      expect("variant_info rows", r.getLong(0), n),
      expect("min variant_id", r.getLong(1), 1L),
      expect("max variant_id", r.getLong(2), n),
      expect("distinct variant_id", r.getLong(3), n),
      expect("variant_impact rows", db.impact.count(), model.impactRows),
      expect("variant_geno rows", db.geno.count(), model.genoRows)).forall(identity)
  }

  final def run(): Seq[(String, Any)] = {
    val (cold, _) = setUp(0)
    warmup()
    progress("warm-up done")
    val measured = new mutable.ArrayBuffer[(String, Any)]
    val window = if (args.trace) args.seconds / 2 else args.seconds
    settle()
    val start = nowMs
    val ops = measure(start + window * 1000, None)
    val windowS = (nowMs - start) / 1000
    progress(s"measured ${ops.size} ops")
    measured ++= Seq(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cold_setup_s" -> cold, "window_s" -> windowS,
      "ops" -> opsJson(ops), "store_bytes" -> storeBytes, "input_bytes" -> inputBytes,
      "genes" -> fixture.genes.length,
      "max_gene" -> fixture.genes.map(_.size).max)
    if (args.trace) {
      val tracer = new Tracer(spark)
      tracer.install()
      val layers = probes(tracer)
      val tStart = nowMs
      val tOps = measure(tStart + window * 1000, Some(tracer))
      val tWindowS = (nowMs - tStart) / 1000
      val traces = tracer.finish()
      tracer.uninstall()
      val writes = Seq("variant_info", "variant_impact", "variant_geno").map { t =>
        s"vcf.VcfTables.write.${t}_s" ->
          tracer.spans.asScala.filter(_.name == s"vcf.VcfTables.write.$t").map(_.ms / 1000).toSeq
      }
      val path = s"$work/trace-${args.workload}-${args.seed}.jsonl"
      tracer.writeSpans(path)
      measured ++= Seq(
        "traced_ops" -> opsJson(tOps), "traced_window_s" -> tWindowS,
        "op_traces" -> traces.map(opTraceJson), "layers" -> (layers ++ writes).toMap,
        "trace_file" -> path)
    }
    // a traced run reports per-layer metrics only: no timed set-ups
    val (setupS, etlS) = (1 to (if (args.trace) 0 else setups)).map(setUp).unzip
    measured ++= Seq(
      "setup_s" -> setupS, "build_s" -> etlS,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted.get(), "failed" -> failures.get(),
      "failure_notes" -> failureNotes.toSeq)
    measured.toSeq
  }

  private def opsJson(ops: Seq[OpSample]) =
    ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "group" -> o.group))

  private def opTraceJson(t: OpTrace) = Map(
    "op" -> t.op, "kind" -> t.kind, "wall_ms" -> t.wallMs, "plan_ms" -> t.planMs,
    "sched_wait_ms" -> t.schedWaitMs, "exec_ms" -> t.execMs, "tasks" -> t.tasks,
    "bytes_read" -> t.bytesRead, "records_read" -> t.recordsRead,
    "rows_returned" -> rowsReturned.getOrDefault(t.op, 0L),
    "shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes,
    "gc_ms" -> t.gcMs)

  /** Result rows per traced op id, for rows scanned ÷ rows returned. */
  val rowsReturned = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  def noteRows(tracer: Option[Tracer], rows: Long): Unit =
    tracer.flatMap(_.currentOp).foreach(op => rowsReturned.put(op, rows))

  /** Single-layer probes, each its own traced op: a noop-forced parse, a
    * noop-forced sort + id assignment, one full build to parquet, the
    * gene index over it, and a few tabix range reads.
    */
  private def probes(tracer: Tracer): Seq[(String, Any)] = {
    val t = Some(tracer)
    val path = fixturePath(currentDir)
    def timed(kind: String)(body: => Unit): Double = {
      val t0 = nowMs
      tracer.op(kind)(body)
      (nowMs - t0) / 1000
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val parseS = timed("probe.parse") {
      noop(traced(t, "vcf.VcfReader.read")(VcfReader.read(spark, path)).df)
    }
    val idsS = timed("probe.withVariantIds") {
      val parsed = VcfReader.read(spark, path).df
      noop(traced(t, "vcf.VcfBuild.withVariantIds")(VcfBuild.withVariantIds(parsed)))
      VcfBuild.clearCaches()
    }
    val probeDir = s"$work/probe"
    rmrf(new File(probeDir))
    timed("probe.build") { Etl.build(spark, path, s"$probeDir/db", t) }
    val outputBytes = du(new File(s"$probeDir/db"))
    val impact = spark.read.parquet(s"$probeDir/db/variant_impact")
    val indexS = timed("probe.buildGeneIndex") {
      traced(t, "vcf.VcfApi.buildGeneIndex")(VcfApi.buildGeneIndex(impact))
    }
    val rnd = new SplittableRandom(args.seed ^ 0x5eed)
    val partitions = (1 to 5).map { _ =>
      val (chr, beg, end) = Lookup.region(fixture, rnd)
      var n = 0
      tracer.op("probe.readRange") {
        val df = traced(t, "vcf.VcfReader.readRange")(
          VcfReader.readRange(spark, path, chr, beg, end)).df
        n = df.queryExecution.sparkPlan.collect {
          case b: BatchScanExec => b.inputPartitions.size
        }.sum
        force(df)
      }
      n.toDouble
    }
    rmrf(new File(probeDir))
    Seq(
      "vcf.VcfReader.parse_s" -> Seq(parseS),
      "vcf.VcfBuild.withVariantIds_s" -> Seq(math.max(0d, idsS - parseS)),
      "vcf.VcfTables.write.output_bytes" -> Seq(outputBytes.toDouble),
      "vcf.VcfApi.buildGeneIndex_s" -> Seq(indexS),
      "vcf.VcfReader.readRange.partitions" -> partitions)
  }
}

/** The ETL every workload uses: read → build → write → release caches. */
object Etl {
  def build(spark: SparkSession, vcf: String, out: String,
      tracer: Option[Tracer]): Unit = {
    def traced[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    val ds = traced("vcf.VcfReader.read")(VcfReader.read(spark, vcf))
    val tables = traced("vcf.VcfBuild.build")(VcfBuild.build(ds))
    traced("vcf.VcfTables.write")(tables.write(out))
    traced("vcf.VcfBuild.clearCaches")(VcfBuild.clearCaches())
  }

  final case class Db(info: DataFrame, impact: DataFrame, geno: DataFrame)

  def open(spark: SparkSession, dir: String): Db =
    Db(spark.read.parquet(s"$dir/variant_info"),
      spark.read.parquet(s"$dir/variant_impact"),
      spark.read.parquet(s"$dir/variant_geno"))
}

package graft.vcf

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** CLI pipeline driver — the analog of the reference's `VCFdb.R`
  * orchestration (arg parsing → stage sequencing → restartable build),
  * reduced to its Spark-native essence:
  *
  *   - stage 1 (scan planning / chunk ranges) disappears: Catalyst
  *     plans the distributed scan, the `bgzf-text` line source splits
  *     the input by byte range;
  *   - stage 2 (chunked ETL loop + progress file) becomes the one build
  *     path, [[VcfBuild.build]] + [[VcfTables.write]], with each table
  *     committed independently. Task failure is Spark retry; JOB failure
  *     resumes by rewriting only the tables that never committed — the
  *     Spark-native analog of the reference's progress file
  *     (`pipeline/02-build-db.R:97-98,521-528`), keyed on `_SUCCESS`
  *     markers instead of a counter;
  *   - stage 3 (DDL indexing) becomes the parquet physical layout
  *     (sorted/range-partitioned files ⇒ min-max-stat pruning).
  *
  * Usage:
  *   runMain graft.vcf.VcfPipeline --vcf <path> --out <dir>
  *
  * The reference's table/file GT mode split (`VCFdb.R:30-40`) is
  * intentionally collapsed: the columnar layout serves both access
  * patterns (SURVEY.md §1.4).
  */
object VcfPipeline {

  private val Usage = "usage: VcfPipeline --vcf <path> --out <dir>"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k @ ("--vcf" | "--out"), v) => k -> v
      case bad => throw new IllegalArgumentException(
        s"$Usage (unexpected: ${bad.mkString(" ")})")
    }.toMap
    def required(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"$Usage ($k is required)"))
    val (vcfPath, outDir) = (required("--vcf"), required("--out"))

    val spark = graft.GraftSession.builder(
        shufflePartitions = sys.env.get("SPARK_GRAFT_CPUS")
          .fold(Runtime.getRuntime.availableProcessors())(_.toInt))
      .appName("graft-vcf-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val written = run(spark, vcfPath, outDir)
    println(s"[pipeline] $outDir: wrote " +
      (if (written.isEmpty) "nothing (already complete)" else written.mkString(", ")))
    spark.stop()
  }

  /** `_SUCCESS` marker check — a parquet output directory is complete
    * iff its commit marker exists (Spark's committer writes it last, so
    * a killed write never looks complete).
    */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read → [[VcfBuild.build]] → [[VcfTables.write]] with
    * `skipComplete`, restartable: returns the names of the tables this
    * call wrote.
    *
    *   - `<out>/_input` fingerprints the input (path, size, mtime and a
    *     hash of the header lines of every input file) before any table
    *     is written. A rerun whose
    *     input differs from it, or that finds tables without it, fails
    *     naming `outDir` and the changed file: resuming would mix tables
    *     of two inputs.
    *   - `<out>/_SUCCESS` is written once every table is. A rerun that
    *     finds it (and a matching fingerprint) returns `Seq.empty` at
    *     once: no Spark job, no re-sort.
    *   - Otherwise the input is re-read and re-sorted, and only the
    *     tables without a `_SUCCESS` marker are written — a build that
    *     died at 90% redoes the torn table, not the committed ones. The
    *     sort is a total order ([[VcfBuild.withVariantIds]]), so the
    *     rewritten rows carry the committed tables' ids. That re-sort is
    *     the price of keeping no parquet copy of the sorted input.
    *
    * Validation parity with the reference's stage-1 guard
    * (`01-generate-variant-ranges-index.R:43-53`): the build rejects
    * multiallelic input; the sites are then written to
    * `<out>/multiallelic_sites` as TSV for inspection (a re-parse, on
    * that failure path only) and the rejection is rethrown, before any
    * table or fingerprint is written.
    */
  def run(spark: SparkSession, vcfPath: String, outDir: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val inputMark = new Path(out, "_input")
    val report = new Path(out, "multiallelic_sites")
    val fingerprint = BgzfTextSource.listFiles(vcfPath, conf).map { st =>
      // the header the read parses; an edit that keeps size and mtime
      // (a sample renamed in place) still changes the fingerprint
      val (_, head) = BgzfSplitLineIterator.headLines(st.getPath.getFileSystem(conf), st.getPath)
      val hash = MessageDigest.getInstance("SHA-256")
        .digest(head.mkString("\n").getBytes(UTF_8)).map(b => f"$b%02x").mkString
      s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}\t$hash"
    }
    val built =
      if (fs.exists(inputMark)) {
        val in = fs.open(inputMark)
        try Some(new String(in.readAllBytes(), UTF_8).linesIterator.toSeq)
        finally in.close()
      } else None
    built.foreach { prior =>
      (prior.diff(fingerprint) ++ fingerprint.diff(prior)).headOption.foreach { line =>
        throw new IllegalStateException(
          s"$outDir was built from another input: ${line.takeWhile(_ != '\t')} " +
            "changed since; build into a fresh --out")
      }
    }
    if (built.isEmpty && fs.exists(out) &&
        fs.listStatus(out).exists(st => st.isDirectory && st.getPath.getName != report.getName))
      throw new IllegalStateException(
        s"$outDir holds tables but no input fingerprint ($inputMark); " +
          "build into a fresh --out")
    if (built.isDefined && isComplete(spark, outDir)) Seq.empty
    else {
      val vcf = VcfReader.read(spark, vcfPath)
      val written = graft.Caches.scoped {
        val tables = try VcfBuild.build(vcf) catch {
          case e: IllegalArgumentException
              if !VcfBuild.multiallelicSites(vcf.df).isEmpty =>
            VcfBuild.multiallelicSites(vcf.df).coalesce(1).write.mode("overwrite")
              .option("sep", "\t").option("header", "true").csv(report.toString)
            throw new IllegalArgumentException(
              s"${e.getMessage}; report written to $report", e)
        }
        fs.delete(report, true)
        if (built.isEmpty) {
          // written aside and renamed on, as the tables commit: a kill
          // mid-write leaves no torn fingerprint
          val tmp = new Path(out, "_input.tmp")
          val o = fs.create(tmp, true)
          try o.write(fingerprint.mkString("", "\n", "\n").getBytes(UTF_8))
          finally o.close()
          if (!fs.rename(tmp, inputMark))
            throw new java.io.IOException(s"could not rename $tmp to $inputMark")
        }
        tables.write(outDir, skipComplete = true)
      }
      fs.create(new Path(out, "_SUCCESS"), true).close()
      written
    }
  }
}

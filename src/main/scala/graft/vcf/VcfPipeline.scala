package graft.vcf

import org.apache.spark.sql.SparkSession

/** CLI pipeline driver — the analog of the reference's `VCFdb.R`
  * orchestration (arg parsing → stage sequencing → restartable build),
  * reduced to its Spark-native essence:
  *
  *   - stage 1 (scan planning / chunk ranges) disappears: Catalyst
  *     plans the distributed scan, `spark.read.text` splits by block;
  *   - stage 2 (chunked ETL loop + progress file) becomes a staged
  *     declarative build: the parse+sort+id scan commits to a staging
  *     parquet, then each derived table commits independently. Task
  *     failure is Spark retry; JOB failure resumes from the last
  *     committed stage — the Spark-native analog of the reference's
  *     progress file (`pipeline/02-build-db.R:97-98,521-528`), keyed on
  *     `_SUCCESS` markers instead of a counter;
  *   - stage 3 (DDL indexing) becomes the parquet physical layout
  *     (sorted/range-partitioned files ⇒ min-max-stat pruning).
  *
  * Usage:
  *   runMain graft.vcf.VcfPipeline --vcf <path> --out <dir> [--mode table]
  *
  * The reference's table/file GT mode split (`VCFdb.R:30-40`) is
  * intentionally collapsed: the columnar layout serves both access
  * patterns (SURVEY.md §1.4).
  */
object VcfPipeline {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val vcfPath = opts.getOrElse("vcf",
      sys.error("--vcf <path> is required"))
    val outDir = opts.getOrElse("out",
      sys.error("--out <dir> is required"))

    val spark = graft.GraftSession.builder(
        shufflePartitions = sys.env.get("SPARK_GRAFT_CPUS")
          .fold(Runtime.getRuntime.availableProcessors())(_.toInt))
      .appName("graft-vcf-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    run(spark, vcfPath, outDir)
    spark.stop()
  }

  /** `_SUCCESS` marker check — a parquet output directory is complete
    * iff its commit marker exists (Spark's committer writes it last, so
    * a killed write never looks complete).
    */
  def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Parse → validate → stage → derive → write, each stage keyed on its
    * output's `_SUCCESS` marker so a killed build RESUMES instead of
    * restarting:
    *
    *   1. staging (`<out>/_staging/ids`): the one wide stage —
    *      parse + global sort + variant-id assignment — committed to
    *      parquet. Present ⇒ the input is never re-read (ids become
    *      literal data, so resumed derivations don't depend on any
    *      in-memory partition-layout invariant);
    *   2. derived tables: each written only if its directory lacks a
    *      marker ([[VcfTables.write]] with `skipComplete`) — a build
    *      that died at 90% redoes only the torn table, not the ETL.
    *
    * A 100 TB build killed after staging costs a staging re-read, not
    * a re-parse/re-sort of the input. Resume is keyed on OUTPUT
    * presence: rerunning over a changed input with the same outDir
    * resumes the old build — use a fresh outDir per input, as with the
    * reference's per-DB progress file.
    *
    * Validation parity with the reference's stage-1 guard
    * (`01-generate-variant-ranges-index.R:43-53`): multiallelic sites
    * are written to `<out>/multiallelic_sites` as TSV for inspection,
    * then the build aborts (before any staging commit).
    */
  def run(spark: SparkSession, vcfPath: String, outDir: String): VcfTables = {
    val stagingDir = s"$outDir/_staging/ids"
    val vcf = VcfReader.read(spark, vcfPath) // header is driver-side; df stays lazy
    if (!isComplete(spark, stagingDir)) {
      val bad = VcfBuild.multiallelicSites(vcf.df)
      if (!bad.isEmpty) {
        bad.coalesce(1).write.mode("overwrite")
          .option("sep", "\t").option("header", "true")
          .csv(s"$outDir/multiallelic_sites")
        throw new IllegalArgumentException(
          s"multiallelic sites found; report written to $outDir/multiallelic_sites — " +
            "normalize the VCF (e.g. bcftools norm -m-) and rerun")
      }
      // the sorted scan cache has no consumer past the staging write
      // (everything below reads the parquet back): this call's scope
      // releases it, and only it
      graft.Caches.scoped {
        VcfBuild.withVariantIds(vcf.df)
          .write.mode("overwrite").parquet(stagingDir)
      }
    }
    val ids = spark.read.parquet(stagingDir)
    val tables = VcfBuild.fromStaged(ids, vcf.header)
    tables.write(outDir, skipComplete = true)
    tables
  }
}

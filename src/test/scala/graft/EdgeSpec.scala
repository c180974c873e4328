package graft

import org.apache.spark.sql.functions.spark_partition_id
import graft.vcf._

/** Edge-shape inputs: sites-only VCF (no samples), no-CSQ VCF. */
class EdgeSpec extends SparkSpec {
  import spark.implicits._

  test("sites-only VCF (no samples): info builds, geno is empty") {
    val lines = Seq(
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "1\t10\t.\tA\tG\t5\tPASS\tDP=7",
      "1\t20\t.\tC\tT\t9\tPASS\tDP=3")
    val v = VcfReader.fromLines(spark, lines)
    assert(v.header.samples.isEmpty)
    val t = VcfBuild.build(v)
    assert(t.info.count() == 2)
    assert(t.geno.count() == 0)
    assert(t.impact.isEmpty && t.geneMap.isEmpty)
  }

  test("SyntheticVcf: distributed generation parses to consistent tables") {
    val n = 500L
    val t = VcfBuild.build(SyntheticVcf.generate(spark, n, nSamples = 4, nGenes = 10))
    assert(t.info.count() == n)
    assert(t.geno.count() == n * 4)
    // ids contiguous after the global sort
    val ids = t.info.select("variant_id").as[Long].collect().sorted
    assert(ids.head == 1L && ids.last == n && ids.distinct.length == n)
    // generator formula spot-check: row i=0 → chr 1, pos 1000, GENE0
    val r0 = t.info.filter($"chr" === "1" && $"start" === 1000L).head
    assert(r0.getAs[String]("ref") == "A" && r0.getAs[String]("alt") == "C")
    val imp = t.impact.get
    assert(imp.filter($"symbol" === "GENE0").count() > 0)
    // every impact row carries a well-formed derived flag set
    assert(imp.filter($"is_lof" && $"impact" =!= "HIGH").count() == 0)
  }

  test("truncated trailing FORMAT fields parse as null (VCF 4.2)") {
    val lines = Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\t.\tGT:DP\t0/1") // DP dropped for S1
    val v = VcfReader.fromLines(spark, lines)
    val g = VcfBuild.variantGeno(VcfBuild.withVariantIds(v.df), v.header)
      .select("gt_raw", "dp").as[(String, Option[Long])].head
    assert(g == (("0/1", None)))
  }

  test("short sample rows null-pad to one geno row per header sample") {
    val lines = Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3",
      "1\t10\t.\tA\tG\t5\tPASS\t.\tGT:DP\t0/1:4", // S2, S3 absent
      "1\t20\t.\tC\tT\t9\tPASS\t.") // stops after INFO
    val v = VcfReader.fromLines(spark, lines)
    val geno = VcfBuild.variantGeno(VcfBuild.withVariantIds(v.df), v.header)
      .select("variant_id", "sample", "gt_raw", "gt", "dp")
      .as[(Long, String, Option[String], Option[Double], Option[Long])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(geno == Seq(
      (1L, "S1", Some("0/1"), Some(1.0), Some(4L)),
      (1L, "S2", None, None, None),
      (1L, "S3", None, None, None),
      (2L, "S1", None, None, None),
      (2L, "S2", None, None, None),
      (2L, "S3", None, None, None)))
    // export re-emits "." for every missing FORMAT / sample column
    val tails = VcfExport.renderLines(v).collect().map(_.split("\t", -1).drop(8).toSeq)
    assert(tails.toSeq == Seq(
      Seq("GT:DP", "0/1:4", ".", "."),
      Seq(".", ".", ".", ".")))
  }

  test("INFO field shadowing a fixed/derived column is dropped (END vs end)") {
    val lines = Seq(
      "##INFO=<ID=END,Number=1,Type=Integer,Description=\"sv end\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "1\t10\t.\tAT\tA\t5\tPASS\tEND=999;DP=7")
    val t = VcfBuild.build(VcfReader.fromLines(spark, lines))
    assert(t.info.columns.count(_ == "end") == 1)
    // the computed interval end wins (pos + len(ref) − 1 = 11, not 999)
    assert(t.info.select("end").as[Long].head == 11L)
    assert(t.info.select("dp").as[Long].head == 7L)
  }

  test("escaped quotes in header Description parse intact") {
    val lines = Seq(
      "##INFO=<ID=X,Number=1,Type=Integer,Description=\"says \\\"hi\\\" there\">",
      "##INFO=<ID=Y,Number=1,Type=Float,Description=\"plain\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "1\t10\t.\tA\tG\t5\tPASS\tX=1;Y=0.5")
    val h = VcfReader.fromLines(spark, lines).header
    assert(h.infoDef("X").get.description == "says \"hi\" there")
    assert(h.infoDef("Y").get.vcfType == "Float") // following attrs uncorrupted
  }

  test("asofJoin carries the matched row atomically when its value is null") {
    val left = Seq((1L, 3L, "L")).toDF("k", "ts", "tag")
    val right = Seq((1L, 1L, Some(5.0)), (1L, 2L, None))
      .toDF("k", "ts", "v")
    val out = graft.operators.Events.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("v"))
      .select("asof_ts", "asof_v").as[(Option[Long], Option[Double])].head
    // the as-of row IS (ts=2, v=null) — not a chimera of ts=2 with v=5
    assert(out == ((Some(2L), None)))
  }

  test("no-CSQ VCF with samples: impact absent, geno present") {
    val lines = Seq(
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\tDP=7\tGT\t0|1")
    val t = VcfBuild.build(VcfReader.fromLines(spark, lines))
    assert(t.impact.isEmpty)
    assert(t.geno.select("gt").as[Option[Double]].head.contains(1.0))
  }

  test("ids stay 1..n with more shuffle partitions than rows, empty sort partitions included") {
    val header = Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "16"); spark.conf.set(keys(1), "false")
    try Caches.scoped {
      val t = VcfBuild.build(VcfReader.fromLines(spark, header ++ Seq(
        "1\t20\t.\tC\tT\t9\tPASS\t.\tGT\t1|1",
        "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1")))
      assert(t.info.select("variant_id", "start").as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 10L), (2L, 20L)))
      assert(t.geno.select("variant_id", "gt_raw").as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "0|1"), (2L, "1|1")))
      // a duplicate record leaves the range sort's last partition empty
      val dup = VcfBuild.build(VcfReader.fromLines(spark, header ++ Seq(
        "1\t20\t.\tC\tT\t9\tPASS\t.\tGT\t1|1",
        "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1",
        "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1"))).info
      assert(dup.rdd.getNumPartitions >
        dup.select(spark_partition_id()).distinct().count(), "no empty sort partition")
      assert(dup.select("variant_id", "start").as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 10L), (2L, 10L), (3L, 20L)))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // an empty partition anywhere carries the running offset
    assert(VcfBuild.partitionOffsets(Map(0L -> 2L, 2L -> 3L, 5L -> 1L)).toSeq ==
      Seq(0L, 2L, 2L, 5L, 5L, 5L))
    assert(VcfBuild.partitionOffsets(Map(1L -> 4L)).toSeq == Seq(0L, 0L))
    assert(VcfBuild.partitionOffsets(Map.empty).isEmpty)
  }

  test("a header-only VCF builds and writes all nine tables, the variant ones empty") {
    val v = VcfReader.fromLines(spark, ToyVcf.lines.filter(_.startsWith("#")))
    val dir = java.nio.file.Files.createTempDirectory("vcfempty").toString
    val written = VcfBuild.build(v).write(dir)
    assert(written.size == 9, written)
    Seq("variant_info", "variant_impact", "variant_geno", "gene_map").foreach { n =>
      assert(spark.read.parquet(s"$dir/$n").count() == 0, n)
    }
    assert(spark.read.parquet(s"$dir/samples").count() == 2)
    assert(spark.read.parquet(s"$dir/meta_info").count() == 5)
  }
}

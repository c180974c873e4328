package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

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
      // a duplicate record: ties break on input position
      val dup = VcfBuild.build(VcfReader.fromLines(spark, header ++ Seq(
        "1\t20\t.\tC\tT\t9\tPASS\t.\tGT\t1|1",
        "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1",
        "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1"))).info
      assert(dup.select("variant_id", "start").as[(Long, Long)].collect().sorted.toSeq ==
        Seq((1L, 10L), (2L, 10L), (3L, 20L)))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the id step over a pinned cache with empty partitions first, in
    // the middle and last: each carries the running offset
    val rows = Map(
      1 -> Seq(Row("1", 10L, "A", "G"), Row("1", 11L, "A", "G")),
      3 -> Seq(Row("1", 20L, "C", "T")),
      4 -> Seq(Row("2", 5L, "G", "A")))
    val gappy = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until 6, 6)
        .mapPartitionsWithIndex((i, _) => rows.getOrElse(i, Nil).iterator),
      StructType.fromDDL("chr string, pos long, ref string, alt string"))
    Caches.scoped {
      val pinned = Caches.persist(gappy)
      assert(pinned.rdd.getNumPartitions == 6)
      assert(VcfBuild.numberSorted(pinned).select("variant_id", "chr", "pos")
        .as[(Long, String, Long)].collect().toSeq ==
        Seq((1L, "1", 10L), (2L, "1", 11L), (3L, "1", 20L), (4L, "2", 5L)))
    }
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

  test("duplicate sample names in #CHROM are rejected and named") {
    val e = intercept[IllegalArgumentException](VcfReader.fromLines(spark, Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS1",
      "1\t10\t.\tA\tG\t5\tPASS\t.\tGT\t0|1\t1|1\t0|0")))
    assert(e.getMessage.contains("duplicate sample names in #CHROM: S1"), e.getMessage)
  }

  test("BGZF shards with different #CHROM lines are rejected, both named") {
    val dir = Files.createTempDirectory("vcfshards")
    Bgzf.writeLocalFile(dir.resolve("part0.vcf.gz").toString, ToyVcf.lines)
    Bgzf.writeLocalFile(dir.resolve("part1.vcf.gz").toString,
      ToyVcf.lines.map(l => if (l.startsWith("#CHROM")) l.replace("\tS2", "\tS3") else l))
    val e = intercept[IllegalArgumentException](VcfReader.read(spark, dir.toString))
    assert(e.getMessage.contains("part0.vcf.gz") && e.getMessage.contains("part1.vcf.gz"),
      e.getMessage)
    // equal #CHROM lines read as one input
    Bgzf.writeLocalFile(dir.resolve("part1.vcf.gz").toString, ToyVcf.lines)
    assert(VcfReader.read(spark, dir.toString).df.count() == 12)
  }

  test("malformed body lines fail the build naming the reason and the line") {
    def built(lines: Seq[String]): Seq[(Long, String, Long)] = Caches.scoped {
      VcfBuild.build(VcfReader.fromLines(spark, lines)).info
        .select("variant_id", "chr", "start").as[(Long, String, Long)].collect().sorted.toSeq
    }
    // the guard leaves a clean build as it was
    assert(built(ToyVcf.lines) == Seq((1L, "1", 100L), (2L, "1", 200L), (3L, "1", 300L),
      (4L, "2", 150L), (5L, "2", 250L), (6L, "2", 400L)))
    val at = ToyVcf.lines.indexWhere(!_.startsWith("#")) + 2
    Seq(
      "" -> "fewer than 8 tab-separated fields",
      "1\t500\t.\tA\tG" -> "fewer than 8 tab-separated fields",
      "1\tabc\t.\tA\tG\t5\tPASS\t.\tGT:DP\t0|0:1\t0|1:2" -> "POS is not an integer"
    ).foreach { case (line, reason) =>
      val e = intercept[Exception](built(ToyVcf.lines.patch(at, Seq(line), 0)))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msg.contains(s"malformed VCF line ($reason): $line"), msg)
      assert(!msg.contains("INVALID_ARRAY_INDEX") && !msg.contains("CAST_INVALID_INPUT"), msg)
    }
  }

  test("variant_id is a total order: duplicate records get ids in file order on every read") {
    val header = Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    // 60 records over 6 keys, each key ten times; QUAL is the line number
    val body = (0 until 60).map { i =>
      s"1\t${100 + i * 7 % 6}\t.\tA\tG\t$i\tPASS\t.\tGT\t${i % 3}|${i % 2}"
    }
    // the earlier line gets the smaller id
    val want = body.zipWithIndex.sortBy { case (l, i) => (l.split("\t")(1).toInt, i) }
      .zipWithIndex.map { case ((l, i), r) => (r + 1L, i.toDouble, l.split("\t")(9)) }
    val dir = Files.createTempDirectory("vcfdup")
    def put(name: String, lines: Seq[String], bgzf: Boolean): String = {
      val f = dir.resolve(name)
      Files.createDirectories(f.getParent)
      if (bgzf) Bgzf.writeLocalFile(f.toString, lines, blockData = 200)
      else Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.toString
    }
    val (a, b) = body.splitAt(30)
    val bgzf = put("all.vcf.gz", header ++ body, bgzf = true)
    val bgzfShards = put("bgzf/part1.vcf.gz", header ++ b, bgzf = true)
      .stripSuffix("/part1.vcf.gz")
    put("bgzf/part0.vcf.gz", header ++ a, bgzf = true)
    val plain = put("all.vcf", header ++ body, bgzf = false)
    // the plain text scan packs splits by size, not in file order
    val plainShards = put("plain/part1.vcf", b, bgzf = false).stripSuffix("/part1.vcf")
    put("plain/part0.vcf", header ++ a, bgzf = false)
    // (path, BGZF splitSize, spark.sql.files.maxPartitionBytes)
    val reads: Seq[(String, Option[Long], Option[String])] = Seq(
      (bgzf, Some(512L), None), (bgzf, None, None), (bgzfShards, Some(512L), None),
      (plain, None, Some("256")), (plainShards, None, Some("256")))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(2), "false")
    try for (shuffle <- Seq(2, 16); (path, split, maxBytes) <- reads) {
      spark.conf.set(keys(0), shuffle.toString)
      maxBytes.fold(spark.conf.unset(keys(1)))(spark.conf.set(keys(1), _))
      val got = Caches.scoped {
        val vcf = VcfReader.read(spark, path, split)
        if (split.orElse(maxBytes).isDefined)
          assert(vcf.df.rdd.getNumPartitions > 1, path)
        val t = VcfBuild.build(vcf)
        t.geno.join(t.info, "variant_id").select("variant_id", "qual", "gt_raw")
          .as[(Long, Double, String)].collect().sorted.toSeq
      }
      assert(got == want, s"$path split=$split maxBytes=$maxBytes shuffle=$shuffle")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

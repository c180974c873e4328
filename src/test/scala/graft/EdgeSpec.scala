package graft

import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.vcf._

/** Edge-shape inputs: sites-only VCF (no samples), no-CSQ VCF. */
class EdgeSpec extends SparkSpec {
  import spark.implicits._

  /** Write `lines` to `f` as one input kind; returns the path. */
  private def put(f: Path, lines: Seq[String], kind: InputKind,
      blockData: Int = 200): String = {
    Files.createDirectories(f.getParent)
    val text = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    kind match {
      case InputKind.Bgzf => Bgzf.writeLocalFile(f.toString, lines, blockData)
      case InputKind.Plain => Files.write(f, text)
      case InputKind.Gzip =>
        val out = new GZIPOutputStream(Files.newOutputStream(f))
        try out.write(text) finally out.close()
    }
    f.toString
  }

  /** The start offset of each of `lines` (and the end) in its file. */
  private def byteStarts(lines: Seq[String]): Seq[Long] =
    lines.scanLeft(0L)(_ + _.getBytes("UTF-8").length + 1)

  /** The BGZF virtual offset of byte `p` of `lines`, written with
    * `blockData` bytes per block: the compressed sizes of the blocks
    * before it, and `p`'s place in its block.
    */
  private def virtualOffset(lines: Seq[String], blockData: Int, p: Long): Long = {
    val text = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    val before = (0 until (p / blockData).toInt).map { j =>
      val out = new java.io.ByteArrayOutputStream()
      Bgzf.writeBlock(out, text, j * blockData, math.min(blockData, text.length - j * blockData))
      out.size.toLong
    }.sum
    (before << 16) | (p % blockData)
  }

  /** Every message of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

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

  test("tabix-indexed BGZF shards with different #CHROM lines fail readRange, both named") {
    val dir = Files.createTempDirectory("vcfrangeshards")
    def put(name: String, lines: Seq[String]): Unit = {
      val f = dir.resolve(name).toString
      Bgzf.writeLocalFile(f, lines)
      val p = new org.apache.hadoop.fs.Path(f)
      Tabix.build(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    put("part0.vcf.gz", ToyVcf.lines)
    put("part1.vcf.gz",
      ToyVcf.lines.map(l => if (l.startsWith("#CHROM")) l.replace("\tS2", "\tS3") else l))
    val shards = dir.resolve("*.vcf.gz").toString
    val e = intercept[IllegalArgumentException](
      VcfReader.readRange(spark, shards, "1", 1L, 1000L))
    assert(e.getMessage.contains("part0.vcf.gz") && e.getMessage.contains("part1.vcf.gz"),
      e.getMessage)
    // equal #CHROM lines: one region read over both shards
    put("part1.vcf.gz", ToyVcf.lines)
    assert(VcfReader.readRange(spark, shards, "1", 1L, 1000L).df.count() == 6)
  }

  test("a plain-text shard directory reads its first shard's header once") {
    val dir = Files.createTempDirectory("vcfplain")
    def put(name: String, lines: Seq[String]): String = {
      val f = dir.resolve(name)
      Files.createDirectories(f.getParent)
      Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8")).toString
    }
    val one = put("one.vcf", ToyVcf.lines)
    put("shards/part0.vcf", ToyVcf.lines)
    val part1 = put("shards/part1.vcf", ToyVcf.lines)
    val shards = dir.resolve("shards").toString
    def shape(path: String) = Caches.scoped {
      val v = VcfReader.read(spark, path)
      val t = VcfBuild.build(v)
      (v.header, t.meta.map { case (n, df) => n -> df.collect().map(_.toString).sorted.toSeq },
        t.geno.columns.toSeq)
    }
    val (h1, meta1, geno1) = shape(one)
    val (h2, meta2, geno2) = shape(shards)
    assert(h2 == h1 && h1.formatDefs.map(_.id) == Seq("GT", "DP"))
    assert(meta2 == meta1 && geno2 == geno1)
    assert(VcfReader.read(spark, shards).df.count() == 12)
    // a shard naming other samples is rejected, both files named
    put("shards/part1.vcf",
      ToyVcf.lines.map(l => if (l.startsWith("#CHROM")) l.replace("\tS2", "\tS3") else l))
    val e = intercept[IllegalArgumentException](VcfReader.read(spark, shards))
    assert(e.getMessage.contains(part1) && e.getMessage.contains("part0.vcf"), e.getMessage)
  }

  test("malformed body lines fail the build naming the reason and the line") {
    def built(v: => VcfDataset): Seq[(Long, String, Long)] = Caches.scoped {
      VcfBuild.build(v).info
        .select("variant_id", "chr", "start").as[(Long, String, Long)].collect().sorted.toSeq
    }
    // the guard leaves a clean build as it was; "." INFO and QUAL
    // values stay null
    assert(built(VcfReader.fromLines(spark, ToyVcf.lines)) == Seq((1L, "1", 100L),
      (2L, "1", 200L), (3L, "1", 300L), (4L, "2", 150L), (5L, "2", 250L), (6L, "2", 400L)))
    val at = ToyVcf.lines.indexWhere(!_.startsWith("#")) + 2
    val dir = Files.createTempDirectory("vcfbad")
    Seq(
      "" -> "fewer than 8 tab-separated fields",
      "1\t500\t.\tA\tG" -> "fewer than 8 tab-separated fields",
      "1\tabc\t.\tA\tG\t5\tPASS\t.\tGT:DP\t0|0:1\t0|1:2" -> "POS is not an integer",
      "1\t500\t.\tA\tG\tx\tPASS\t.\tGT:DP\t0|0:1\t0|1:2" -> "QUAL is not a float",
      "1\t500\t.\tA\tG\t5\tPASS\tAF=abc\tGT:DP\t0|0:1\t0|1:2" -> "INFO AF is not a float",
      "1\t500\t.\tA\tG\t5\tPASS\tDP=1.5x\tGT:DP\t0|0:1\t0|1:2" -> "INFO DP is not an integer"
    ).zipWithIndex.foreach { case ((line, reason), k) =>
      val lines = ToyVcf.lines.patch(at, Seq(line), 0)
      // the same lines in memory (line `at` of `<lines>`) and as BGZF,
      // plain and plain gzip files (at the line's offset in each file)
      val start = byteStarts(lines)(at)
      val inputs = Seq(
        (() => VcfReader.fromLines(spark, lines), "<lines>", at.toLong)) ++
        Seq((InputKind.Bgzf, virtualOffset(lines, 200, start)), (InputKind.Plain, start),
          (InputKind.Gzip, start)).map { case (kind, offset) =>
            val f = put(dir.resolve(s"bad$k.$kind"), lines, kind)
            (() => VcfReader.read(spark, f, splitSize = Some(256L)), f, offset)
          }
      inputs.foreach { case (read, name, offset) =>
        val msg = messages(intercept[Exception](built(read())))
        assert(msg.contains(s"$name:$offset: malformed VCF line ($reason): $line"), msg)
        assert(!msg.contains("INVALID_ARRAY_INDEX") && !msg.contains("CAST_INVALID_INPUT"), msg)
      }
    }
  }

  test("a malformed line in a region read's planned block fails it, naming file, offset and reason") {
    // ToyVcf fits one BGZF block, so a line rewritten to the same length
    // keeps every virtual offset: the clean file's index plans the
    // malformed file's read. 1:300 is outside 1:150-250 but in the block
    // its index chunk plans.
    val dir = Files.createTempDirectory("vcfregionbad")
    val clean = put(dir.resolve("clean.vcf.gz"), ToyVcf.lines, InputKind.Bgzf, Bgzf.DefaultBlockData)
    val cleanPath = new org.apache.hadoop.fs.Path(clean)
    Tabix.build(cleanPath.getFileSystem(spark.sparkContext.hadoopConfiguration), cleanPath)
    val at = ToyVcf.lines.indexWhere(_.startsWith("1\t300\t"))
    val fields = ToyVcf.lines(at).split('\t')
    Seq(
      fields.updated(1, "3x0").mkString("\t") -> "POS is not an integer",
      (fields.take(4).mkString("\t") + " " + fields.drop(4).mkString(" ")) ->
        "fewer than 8 tab-separated fields"
    ).zipWithIndex.foreach { case ((line, reason), k) =>
      val lines = ToyVcf.lines.updated(at, line)
      val f = put(dir.resolve(s"bad$k.vcf.gz"), lines, InputKind.Bgzf, Bgzf.DefaultBlockData)
      Files.copy(dir.resolve("clean.vcf.gz.tbi"), dir.resolve(s"bad$k.vcf.gz.tbi"))
      val offset = virtualOffset(lines, Bgzf.DefaultBlockData, byteStarts(lines)(at))
      val msg = messages(intercept[Exception](
        VcfReader.readRange(spark, f, "1", 150L, 250L).df.collect()))
      assert(msg.contains(s"$f:$offset: malformed VCF line ($reason): $line"), msg)
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
    def put(name: String, lines: Seq[String], kind: InputKind): String =
      this.put(dir.resolve(name), lines, kind)
    val (a, b) = body.splitAt(30)
    val bgzf = put("all.vcf.gz", header ++ body, InputKind.Bgzf)
    val bgzfShards = put("bgzf/part1.vcf.gz", header ++ b, InputKind.Bgzf)
      .stripSuffix("/part1.vcf.gz")
    put("bgzf/part0.vcf.gz", header ++ a, InputKind.Bgzf)
    val plain = put("all.vcf", header ++ body, InputKind.Plain)
    // a headerless second shard, as exportSharded writes them
    val plainShards = put("plain/part1.vcf", b, InputKind.Plain).stripSuffix("/part1.vcf")
    put("plain/part0.vcf", header ++ a, InputKind.Plain)
    val gzip = put("all.gz.vcf.gz", header ++ body, InputKind.Gzip)
    val gzipShards = put("gzip/part1.vcf.gz", b, InputKind.Gzip).stripSuffix("/part1.vcf.gz")
    put("gzip/part0.vcf.gz", header ++ a, InputKind.Gzip)
    // (path, splitSize, spark.sql.files.maxPartitionBytes, partitions:
    // one per plain gzip file, whatever the split size)
    val reads: Seq[(String, Option[Long], Option[String], Option[Int])] = Seq(
      (bgzf, Some(512L), None, None), (bgzf, None, None, Some(1)),
      (bgzfShards, Some(512L), None, None),
      (plain, None, Some("256"), None), (plain, Some(256L), None, None),
      (plainShards, None, Some("256"), None),
      (gzip, Some(256L), None, Some(1)), (gzipShards, None, Some("256"), Some(2)))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(2), "false")
    try for (shuffle <- Seq(2, 16); (path, split, maxBytes, parts) <- reads) {
      spark.conf.set(keys(0), shuffle.toString)
      maxBytes.fold(spark.conf.unset(keys(1)))(spark.conf.set(keys(1), _))
      val got = Caches.scoped {
        val vcf = VcfReader.read(spark, path, split)
        val n = vcf.df.rdd.getNumPartitions
        assert(parts.fold(n > 1)(_ == n), s"$path: $n partitions")
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

  test("a directory's tabix indexes are not input: read sees the data, readRange the index") {
    val dir = Files.createTempDirectory("vcftbi")
    val f = put(dir.resolve("part0.vcf.gz"), ToyVcf.lines, InputKind.Bgzf)
    val p = new org.apache.hadoop.fs.Path(f)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tabix.build(fs, p)
    assert(fs.exists(p.suffix(".tbi")))
    assert(BgzfTextSource.listFiles(dir.toString, spark.sparkContext.hadoopConfiguration)
      .map(_.getPath.getName) == Seq("part0.vcf.gz"))
    assert(VcfReader.read(spark, dir.toString).df.count() == 6)
    assert(VcfReader.readRange(spark, dir.toString, "2", 200L, 300L).df
      .select("pos").as[Long].collect().toSeq == Seq(250L))
  }

  test("bzip2, zstd and xz input fails naming the file, not read as text") {
    val dir = Files.createTempDirectory("vcfforeign")
    val rnd = new scala.util.Random(7)
    for ((name, magic) <- Seq("bzip2" -> Seq[Int]('B', 'Z', 'h', '9', 0x31, 0x41),
        "zstd" -> Seq(0x28, 0xb5, 0x2f, 0xfd), "xz" -> Seq(0xfd, '7', 'z', 'X', 'Z', 0))) {
      val f = dir.resolve(s"toy.vcf.$name")
      Files.write(f, magic.map(_.toByte).toArray ++ Array.fill(4096)(rnd.nextInt(256).toByte))
      val e = intercept[IllegalArgumentException](VcfReader.read(spark, f.toString))
      assert(e.getMessage.contains(f.toString) && e.getMessage.contains(s"$name-compressed") &&
        e.getMessage.contains("bgzip"), e.getMessage)
    }
  }

  test("seeded mutation sweep: a mutated file builds as its lines do, or fails naming it") {
    // 30 randomly mutated copies of ToyVcf (and two fixed ones), each a
    // plain and a BGZF file. Each file either builds exactly the tables
    // its cleaned lines build in memory, or fails as they do: naming the
    // file, the line's offset and the reason (a genotype value: the
    // site, the sample and the value) — never with a bare Spark cast or
    // index error.
    val rnd = new scala.util.Random(2024)
    val (head, body) = ToyVcf.lines.partition(_.startsWith("#"))
    def mutate(l: String): Seq[String] = rnd.nextInt(7) match {
      case 0 => Seq(l.take(rnd.nextInt(l.length))) // truncated
      case 1 => // one tab dropped
        val tabs = l.indices.filter(l(_) == '\t')
        val t = tabs(rnd.nextInt(tabs.size))
        Seq(l.take(t) + l.drop(t + 1))
      case k @ (2 | 3) => // non-numeric POS or QUAL
        Seq(l.split("\t", -1).updated(if (k == 2) 1 else 5, "x" + rnd.nextInt(9)).mkString("\t"))
      case 4 => // a non-numeric INFO value
        val key = Seq("AC", "AF", "DP")(rnd.nextInt(3))
        Seq(l.replaceFirst(s"(^|[\t;])$key=[^;\t]*", s"$$1$key=n/a"))
      case 5 => // a stray carriage return
        val i = rnd.nextInt(l.length + 1)
        Seq(l.take(i) + "\r" + l.drop(i))
      case _ => Seq("", l) // an empty line
    }
    def digest(v: => VcfDataset): Either[String, Seq[(Long, Long)]] =
      try Caches.scoped {
        val t = VcfBuild.build(v)
        Right((Seq(t.info, t.geno) ++ t.impact).map { df =>
          val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)),
            lit(0L))).head
          (r.getLong(0), r.getLong(1))
        })
      } catch { case e: Exception => Left(messages(e)) }
    val LineError = """<lines>:(\d+): (malformed VCF line \(.*?\): )""".r
    val GenoError = """malformed VCF genotype \(.*?\) at .*""".r
    val copies = Seq.fill(30) {
      val i = rnd.nextInt(body.size)
      body.patch(i, mutate(body(i)), 1)
    } ++ Seq( // a non-numeric FORMAT DP; a CSQ entry cut short
      body.patch(0, Seq(body(0).replace("0|1:12", "0|1:x")), 1),
      body.patch(1, Seq(body(1).replaceFirst("\\|HIGH.*?\t", "\t")), 1))
    val dir = Files.createTempDirectory("vcfmutants")
    val t0 = System.nanoTime()
    for ((mutated, copy) <- copies.zipWithIndex) {
      val lines = head ++ mutated
      // the line reader drops each line's trailing \r
      val want = digest(VcfReader.fromLines(spark, lines.map(_.stripSuffix("\r"))))
      val blockData = 64 + rnd.nextInt(400)
      for (kind <- Seq(InputKind.Plain, InputKind.Bgzf)) {
        val f = put(dir.resolve(s"m$copy.$kind"), lines, kind, blockData)
        val got = digest(VcfReader.read(spark, f, splitSize = Some(128L)))
        val clue = s"copy $copy ($kind): ${lines.drop(head.size).mkString(" | ")}"
        (want, got) match {
          case (Right(w), Right(g)) => assert(g == w, clue)
          case (Left(w), Left(g)) =>
            assert(Seq(w, g).forall(m =>
              !m.contains("INVALID_ARRAY_INDEX") && !m.contains("CAST_INVALID_INPUT")),
              s"$clue\n$w\n$g")
            (LineError.findFirstMatchIn(w), GenoError.findFirstIn(w)) match {
              case (Some(m), _) =>
                val start = byteStarts(lines)(m.group(1).toInt)
                val offset =
                  if (kind == InputKind.Plain) start else virtualOffset(lines, blockData, start)
                assert(g.contains(s"$f:$offset: ${m.group(2)}"), s"$clue\n$g")
              case (None, Some(e)) => assert(g.contains(e), s"$clue\n$g")
              case _ => fail(s"$clue: the in-memory build failed unnamed\n$w")
            }
          case _ => fail(s"$clue: file $got, lines $want")
        }
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60, s"sweep took $secs s")
  }
}

package graft

import java.nio.file.Files

import graft.vcf.{Bgzf, BgzfSplitLineIterator, SyntheticVcf, ToyVcf, VcfReader}

class BgzfSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(lines: Seq[String], blockData: Int): String = {
    val f = Files.createTempFile("graft_bgzf", ".vcf.gz").toFile
    f.deleteOnExit()
    Bgzf.writeLocalFile(f.getAbsolutePath, lines, blockData)
    f.getAbsolutePath
  }

  private def plainFile(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft_plain", ".vcf").toFile
    f.deleteOnExit()
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("codec roundtrip: compress → per-block inflate") {
    val text = (0 until 500).map(i => s"line $i with some payload ${"x" * (i % 40)}")
      .mkString("", "\n", "\n").getBytes("UTF-8")
    val bytes = Bgzf.compress(text, blockData = 777)
    val out = new java.io.ByteArrayOutputStream()
    val in = new java.io.ByteArrayInputStream(bytes)
    var more = true
    var blocks = 0
    while (more) Bgzf.readBlock(in) match {
      case Some((data, _)) => out.write(data); blocks += 1
      case None => more = false
    }
    assert(out.toByteArray.sameElements(text))
    assert(blocks > text.length / 777) // multiple data blocks + EOF marker
  }

  test("sync finds block boundaries from arbitrary offsets") {
    val text = (0 until 2000).map(i => s"row $i ${"pad" * (i % 13)}")
      .mkString("", "\n", "\n").getBytes("UTF-8")
    val f = Files.createTempFile("graft_sync", ".gz").toFile
    f.deleteOnExit()
    val os = new java.io.FileOutputStream(f)
    try os.write(Bgzf.compress(text, blockData = 512)) finally os.close()
    val path = f.getAbsolutePath
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val len = fs.getFileStatus(hp).getLen
    val in = fs.open(hp)
    try {
      // offset 0 is a boundary; a mid-file offset syncs to a later boundary
      assert(Bgzf.sync(in, 0L, len) == 0L)
      val s = Bgzf.sync(in, 100L, len)
      assert(s > 100L && s < len)
      // the synced offset really is a block: readable from there
      in.seek(s)
      assert(Bgzf.readBlock(in).exists(_._1.nonEmpty))
    } finally in.close()
  }

  private def readLines(path: String, splitSize: Long): (Seq[String], Int) = {
    val df = spark.read.format("bgzf-text")
      .option("splitSize", splitSize).load(path)
    (df.select("value").as[String].collect().toSeq, df.rdd.getNumPartitions)
  }

  test("splittable read: many small splits reproduce exact line sequence") {
    val lines = (0 until 3000).map(i => s"v$i\t${i * 7}\t${"s" * (i % 97)}")
    val path = tmpFile(lines, blockData = 512)
    val (got, parts) = readLines(path, splitSize = 2048)
    assert(parts > 5, s"expected many splits, got $parts")
    assert(got == lines)
  }

  test("split boundaries: lines exactly aligned to block boundaries") {
    // each line (incl. '\n') is exactly blockData bytes → every block
    // ends on a line terminator: exercises the one-extra-line rule
    val body = 64
    val lines = (0 until 400).map(i => f"$i%05d" + "a" * (body - 6))
    assert(lines.forall(_.length + 1 == body))
    val path = tmpFile(lines, blockData = body)
    val (got, parts) = readLines(path, splitSize = 1024)
    assert(parts > 3)
    assert(got == lines)
  }

  test("single split equals many splits; no trailing newline handled") {
    val lines = (0 until 300).map(i => s"r$i ${"q" * (i % 31)}")
    val f = Files.createTempFile("graft_notrail", ".gz").toFile
    f.deleteOnExit()
    val bytes = lines.mkString("\n").getBytes("UTF-8") // NO trailing \n
    val os = new java.io.FileOutputStream(f)
    try os.write(Bgzf.compress(bytes, blockData = 256)) finally os.close()
    val (one, _) = readLines(f.getAbsolutePath, splitSize = 1 << 20)
    val (many, parts) = readLines(f.getAbsolutePath, splitSize = 300)
    assert(parts > 3)
    assert(one == lines)
    assert(many == lines)
  }

  test("lines spanning many blocks (line >> block size)") {
    val lines = Seq("short", "L" * 5000, "mid" + "m" * 100, "X" * 3000, "tail")
    val path = tmpFile(lines, blockData = 256)
    val (got, parts) = readLines(path, splitSize = 512)
    assert(parts > 2)
    assert(got == lines)
  }

  test("VcfReader.read dispatches BGZF and matches fromLines parse") {
    val path = tmpFile(ToyVcf.lines, blockData = 200)
    val viaBgzf = VcfReader.read(spark, path, splitSize = Some(512))
    val viaLines = VcfReader.fromLines(spark, ToyVcf.lines)
    assert(viaBgzf.df.rdd.getNumPartitions > 1, "bgzf scan must be splittable")
    assert(viaBgzf.header == viaLines.header)
    // the input position differs between a file and in-memory lines
    val cols = viaLines.df.columns.filterNot(Set("_file", "_offset")).sorted.toSeq
    val a = viaBgzf.df.selectExpr(cols.map(c => s"`$c`"): _*)
      .orderBy("chr", "pos").collect().map(_.toString).toSeq
    val b = viaLines.df.selectExpr(cols.map(c => s"`$c`"): _*)
      .orderBy("chr", "pos").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("VcfReader.read on a synthetic bgzf VCF builds at scale shape") {
    val n = 500
    val lines = SyntheticVcf.header(4) ++
      (0L until n).map(i => SyntheticVcf.line(i, 4, 20))
    val path = tmpFile(lines, blockData = 1024)
    val vcf = VcfReader.read(spark, path, splitSize = Some(4096))
    assert(vcf.df.rdd.getNumPartitions > 1)
    assert(vcf.df.count() == n)
    assert(vcf.header.samples == Seq("S0", "S1", "S2", "S3"))
  }

  test("randomized split sweep: any (blockData, splitSize) reconstructs exactly") {
    val rnd = new scala.util.Random(97)
    for (trial <- 1 to 6) {
      // random line population: empty lines, long lines, unicode
      val lines = (0 until 200 + rnd.nextInt(400)).map { i =>
        rnd.nextInt(5) match {
          case 0 => ""
          case 1 => "x" * (rnd.nextInt(2000) + 1)
          case 2 => s"üñïçø∂é-$i"
          case _ => s"row $i ${"pad" * rnd.nextInt(20)}"
        }
      }
      val blockData = 64 + rnd.nextInt(2000)
      val splitSize = 64L + rnd.nextInt(4000)
      val path = tmpFile(lines, blockData)
      val (got, parts) = readLines(path, splitSize)
      assert(got == lines,
        s"trial $trial (block=$blockData split=$splitSize parts=$parts): mismatch")
      // plain text: the same split rule over byte windows, and every
      // line's offset is its byte position in the file
      val plain = plainFile(lines)
      val rows = spark.read.format("bgzf-text").option("splitSize", splitSize).load(plain)
        .as[(String, Int, Long)].collect().toSeq
      val starts = lines.scanLeft(0L)(_ + _.getBytes("UTF-8").length + 1).init
      assert(rows == lines.zip(starts).map { case (l, o) => (l, 0, o) },
        s"trial $trial (plain split=$splitSize): mismatch")
    }
  }

  test("corrupt ISIZE trailer raises IOException, not a wild allocation") {
    val lines = (0 until 50).map(i => s"line$i")
    val bytes = Bgzf.compress(lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      blockData = 128)
    // find the first block's size, then smash its 4-byte ISIZE trailer
    val bsize = Bgzf.headerBlockSize(bytes, 0, bytes.length)
    assert(bsize > 0)
    val evil = bytes.clone()
    evil(bsize - 4) = 0xff.toByte; evil(bsize - 3) = 0xff.toByte
    evil(bsize - 2) = 0xff.toByte; evil(bsize - 1) = 0x7f.toByte // ~2 GiB
    val e = intercept[java.io.IOException] {
      Bgzf.readBlock(new java.io.ByteArrayInputStream(evil))
    }
    assert(e.getMessage.contains("ISIZE"))
  }

  test("multi-path load reads all files; mixed compression rejected") {
    val a = tmpFile((0 until 100).map(i => s"a$i"), blockData = 128)
    val b = tmpFile((0 until 100).map(i => s"b$i"), blockData = 128)
    val df = spark.read.format("bgzf-text").option("splitSize", 256).load(a, b)
    assert(df.count() == 200)
    assert(df.rdd.getNumPartitions > 2)
    // small files share a partition, as the file source packs them: with
    // no per-file open cost, a 1 MiB split holds all three files, in order
    val c = plainFile((0 until 100).map(i => s"c$i"))
    def packed = spark.read.format("bgzf-text").option("splitSize", 1 << 20).load(a, b, c)
    val openCost = "spark.sql.files.openCostInBytes"
    spark.conf.set(openCost, "0")
    try {
      assert(packed.rdd.getNumPartitions == 1)
      assert(packed.select("value", "file").as[(String, Int)].collect().toSeq ==
        Seq("a" -> 0, "b" -> 1, "c" -> 2).flatMap { case (f, i) => (0 until 100).map(j => (s"$f$j", i)) })
    } finally spark.conf.unset(openCost)
    // at the default 4 MiB open cost, each file fills a 1 MiB partition
    assert(packed.rdd.getNumPartitions == 3)

    // a directory mixing a bgzf shard and a plain-text shard must fail fast
    val dir = Files.createTempDirectory("graft_mixed")
    Files.copy(java.nio.file.Paths.get(a), dir.resolve("part0.vcf.gz"))
    Files.write(dir.resolve("part1.vcf"),
      ToyVcf.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      VcfReader.read(spark, dir.toString)
    }
    assert(e.getMessage.contains("mixed-compression"))
  }

  test("headLines: a header past the byte cap fails naming the file and the cap") {
    val (meta, rest) = ToyVcf.lines.partition(_.startsWith("##"))
    val big = meta ++ (0 until 100).map(i => s"##contig=<ID=c$i,length=${1000 + i}>") ++ rest
    val header = big.takeWhile(_.startsWith("#"))
    assert(header.mkString("\n").length > 2048)
    val conf = new org.apache.hadoop.conf.Configuration()
    def headLines(f: String, maxBytes: Long) = {
      val path = new org.apache.hadoop.fs.Path(f)
      BgzfSplitLineIterator.headLines(path.getFileSystem(conf), path, maxBytes)._2
    }
    for (f <- Seq(tmpFile(big, blockData = 256), plainFile(big))) {
      val e = intercept[IllegalArgumentException](headLines(f, maxBytes = 2048))
      assert(e.getMessage.contains(f) && e.getMessage.contains("2048 bytes"), e.getMessage)
      // under a cap the header fits, it is returned whole, #CHROM included
      assert(headLines(f, maxBytes = 64 << 10) == header)
      assert(headLines(f, maxBytes = 16L << 20) == header)
    }
    // one header line longer than the cap fails at the cap: the reader
    // stops after the cap's worth of chunks instead of buffering the line
    val long = Seq("##" + "x" * (1 << 20), "#CHROM\tPOS")
    for (f <- Seq(tmpFile(long, blockData = 4096), plainFile(long))) {
      val e = intercept[IllegalArgumentException](headLines(f, maxBytes = 2048))
      assert(e.getMessage.contains(f) && e.getMessage.contains("2048 bytes"), e.getMessage)
    }
  }
}

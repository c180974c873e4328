package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.vcf._

/** BGZF VCF export: parallel compression, tabix indexing, round trips. */
class ExportSpec extends SparkSpec {

  private def parsedRows(v: VcfDataset): Seq[String] = {
    // the input position differs between a file and in-memory lines
    val cols = v.df.columns.filterNot(Set("_file", "_offset")).sorted.toSeq
    v.df.selectExpr(cols.map(c => s"`$c`"): _*)
      .orderBy("chr", "pos", "ref", "alt")
      .collect().map(_.toString).toSeq
  }

  test("exportVcf → re-read round trip preserves the parse exactly") {
    val orig = VcfReader.fromLines(spark, ToyVcf.lines)
    val out = Files.createTempDirectory("graft_export").resolve("toy.vcf.gz").toString
    VcfExport.exportVcf(orig, out, blockData = 256)
    assert(new java.io.File(out).exists && new java.io.File(out + ".tbi").exists)
    val back = VcfReader.read(spark, out, splitSize = Some(512L))
    assert(back.header == orig.header, "header must round-trip")
    assert(parsedRows(back) == parsedRows(orig))
  }

  test("exported file is range-queryable via its own tabix index") {
    val orig = VcfReader.fromLines(spark, ToyVcf.lines)
    val out = Files.createTempDirectory("graft_export_rq").resolve("toy.vcf.gz").toString
    VcfExport.exportVcf(orig, out, blockData = 200)
    val ranged = VcfReader.readRange(spark, out, "2", 200L, 300L)
    assert(ranged.df.select("pos").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq == Seq(250L))
  }

  test("multi-partition synthetic export assembles in order") {
    val n = 3000
    val vcf = SyntheticVcf.generate(spark, n.toLong, 3, 20)
    val out = Files.createTempDirectory("graft_export_big").resolve("big.vcf.gz").toString
    VcfExport.exportVcf(vcf, out, index = true, blockData = 4096)
    val back = VcfReader.read(spark, out, splitSize = Some(64L << 10))
    assert(back.df.count() == n)
    // positions must be sorted within each chromosome (tabix accepted it,
    // but assert directly too)
    val chr7 = back.df.where(col("chr") === "7").select("pos")
      .collect().map(_.getLong(0)).toSeq
    assert(chr7 == chr7.sorted && chr7.nonEmpty)
  }

  test("export edge cases: Flag INFO, missing values, sites-only VCF") {
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP membership\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"allele count\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "1\t100\t.\tA\tG\t.\t.\tDB;DP=7;AC=3", // flag set, no qual/filter
      "1\t200\trs9\tC\tT\t5\tPASS\tDP=2", // flag absent, no AC
      "2\t300\t.\tG\tA\t.\t.\t.") // no INFO at all
    val orig = VcfReader.fromLines(spark, lines)
    val out = Files.createTempDirectory("graft_export_edge")
      .resolve("edge.vcf.gz").toString
    VcfExport.exportVcf(orig, out, blockData = 128)
    val back = VcfReader.read(spark, out)
    assert(back.header == orig.header)
    assert(parsedRows(back) == parsedRows(orig))
    // flags must render by presence: line 1 carries DB, line 2 doesn't
    val rendered = VcfExport.renderLines(orig).collect()
    assert(rendered(0).contains("DB;DP=7;AC=3"))
    assert(rendered(1).endsWith("\tDP=2"))
    assert(rendered(2).endsWith("\t."))
  }

  test("randomized export roundtrip sweep") {
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(200)
      val nSamples = rnd.nextInt(4) // 0 = sites-only
      val lines = SyntheticVcf.header(nSamples) ++
        (0L until n.toLong).map(i => SyntheticVcf.line(i, nSamples, 10))
      val orig = VcfReader.fromLines(spark, lines)
      val out = Files.createTempDirectory(s"graft_export_rand$trial")
        .resolve("r.vcf.gz").toString
      VcfExport.exportVcf(orig, out, blockData = 128 + rnd.nextInt(4000))
      val back = VcfReader.read(spark, out)
      assert(back.header == orig.header, s"trial $trial header")
      assert(parsedRows(back) == parsedRows(orig), s"trial $trial rows")
    }
  }

  test("exportSharded: directory of shards re-reads without assembly") {
    val n = 2000
    val vcf = SyntheticVcf.generate(spark, n.toLong, 2, 10)
    val dir = Files.createTempDirectory("graft_export_shards").resolve("out").toString
    VcfExport.exportSharded(vcf, dir, blockData = 4096, numShards = Some(4))
    val shards = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".vcf.gz"))
    assert(shards.length > 1, s"expected multiple shards, got ${shards.length}")
    val back = VcfReader.read(spark, dir)
    assert(back.df.count() == n)
    assert(back.header.samples == Seq("S0", "S1"))
  }
}

package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.vcf.{Bgzf, SyntheticVcf, Tabix, VcfReader}

class TabixSpec extends SparkSpec {
  import spark.implicits._

  test("reg2bin/reg2bins: containment and overlap invariants") {
    // the bin of an interval is among the bins overlapping it
    val cases = Seq((0L, 1L), (16383L, 16384L), (16384L, 16385L),
      (100000L, 100100L), (0L, 1L << 20), (5L << 20, (5L << 20) + 3000L))
    cases.foreach { case (b, e) =>
      assert(Tabix.reg2bins(b, e).contains(Tabix.reg2bin(b, e)), s"($b,$e)")
    }
    // a record's bin overlaps every query region that intersects it
    val recBin = Tabix.reg2bin(20000L, 20001L)
    assert(Tabix.reg2bins(19990L, 20010L).contains(recBin))
    assert(Tabix.reg2bins(0L, 1L << 28).contains(recBin))
    // disjoint 16kb windows land in different finest-level bins
    assert(Tabix.reg2bin(0L, 100L) != Tabix.reg2bin(16384L, 16484L))
  }

  /** `lines` written as a BGZF file at `path`, with its tabix index. */
  private def indexed(path: String, lines: Seq[String], blockData: Int): String = {
    Bgzf.writeLocalFile(path, lines, blockData)
    val p = new Path(path)
    Tabix.build(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    path
  }

  /** Sorted multi-chromosome bgzf VCF (n synthetic records and `extra`)
    * + index; returns (vcfPath, lines).
    */
  private def fixture(n: Int, blockData: Int,
      extra: Seq[String] = Nil): (String, Seq[String]) = {
    val header = SyntheticVcf.header(2)
    val body = ((0L until n.toLong).map(i => SyntheticVcf.line(i, 2, 10)) ++ extra)
      .sortBy { l => val f = l.split('\t'); (f(0), f(1).toLong) }
    val dir = Files.createTempDirectory("graft_tabix")
    (indexed(dir.resolve("fix.vcf.gz").toString, header ++ body, blockData), header ++ body)
  }

  test("index roundtrip: write → read preserves refs and chunks") {
    val (vcf, _) = fixture(2000, blockData = 1024)
    val p = new Path(vcf + ".tbi")
    val idx = Tabix.read(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    assert(idx.sequenceNames.toSet == (1 to 22).map(_.toString).toSet)
    // every chromosome has at least one chunk; chunks are well-formed
    idx.refs.foreach { r =>
      val chunks = r.bins.values.flatten
      assert(chunks.nonEmpty && chunks.forall(c => c.end > c.beg))
      assert(r.linear.nonEmpty)
    }
    // a query inside the data range returns merged, ordered chunks
    val cs = idx.query("7", 1000L, 100000L)
    assert(cs.nonEmpty)
    assert(cs.sliding(2).forall {
      case Seq(a, b) => a.end < b.beg
      case _ => true
    })
  }

  test("region scan: identical rows to full-scan filter, fewer partitions") {
    val (vcf, _) = fixture(4000, blockData = 512)
    val full = spark.read.format("bgzf-text").option("splitSize", 2048).load(vcf)
    val fullParts = full.rdd.getNumPartitions

    for (region <- Seq("3:1000-3000", "22:1000-1200", "11:15000-20000")) {
      val (chr, beg, end) = graft.vcf.BgzfTextSource.parseRegion(region)
      val pruned = spark.read.format("bgzf-text")
        .option("splitSize", 2048).option("region", region).load(vcf)
      assert(pruned.rdd.getNumPartitions < fullParts,
        s"$region: ${pruned.rdd.getNumPartitions} !< $fullParts")

      def keyed(df: org.apache.spark.sql.DataFrame) = {
        val f = split(col("value"), "\t")
        df.where(!col("value").startsWith("#"))
          .select(f.getItem(0).as("chr"), f.getItem(1).cast("long").as("pos"),
            f.getItem(2).as("id"))
          .where(col("chr") === chr && col("pos").between(beg, end))
          .as[(String, Long, String)].collect().toSeq.sorted
      }
      val a = keyed(pruned)
      val b = keyed(full)
      assert(a == b && a.nonEmpty, s"$region: ${a.size} vs ${b.size}")
    }
  }

  test("region scan: absent chromosome plans zero partitions") {
    val (vcf, _) = fixture(500, blockData = 512)
    val df = spark.read.format("bgzf-text").option("region", "chrZZ:1-999").load(vcf)
    assert(df.rdd.getNumPartitions == 0)
    assert(df.count() == 0)
  }

  test("whole-chromosome region splits big chunks across partitions") {
    val (vcf, _) = fixture(6000, blockData = 256)
    val df = spark.read.format("bgzf-text")
      .option("splitSize", 1024).option("region", "5").load(vcf)
    assert(df.rdd.getNumPartitions > 1, "chunk must split for parallelism")
    val f = split(col("value"), "\t")
    val got = df.select(f.getItem(0)).as[String].collect()
    // exact: every record of the chromosome, and no other
    val expect = (0L until 6000L).map(i => SyntheticVcf.line(i, 2, 10))
      .count(_.startsWith("5\t"))
    assert(got.count(_ == "5") == expect && got.forall(_ == "5"))
  }

  test("VcfReader.readRange ≡ full read + overlap filter") {
    // synthetic SNVs on every chromosome, plus chr 13 records at the
    // range's edges: a deletion from before `beg` whose REF reaches into
    // the range and one that stops short of it, a REF of multi-byte
    // characters (its length counts characters, as `length` does), and
    // records at `beg - 1`, `end` and `end + 1`
    val (beg, end) = (2000L, 9000L)
    val chr13 = SyntheticVcf.line(12, 2, 10).split('\t')
    def at(pos: Long, id: String, ref: String) =
      chr13.updated(1, pos.toString).updated(2, id).updated(3, ref).mkString("\t")
    val edges = Seq(at(1995, "del_into", "ACGTACGTAC"), at(1991, "del_short", "ACGTA"),
      at(1997, "wide_ref", "\u00c4\u00c4\u00c4"), at(beg - 1, "before", "A"),
      at(end, "at_end", "AC"), at(end + 1, "past_end", "A"))
    val (vcf, lines) = fixture(3000, blockData = 512, extra = edges)
    // the same records as a directory of two indexed shards, cut inside
    // the range
    val (header, body) = lines.span(_.startsWith("#"))
    val cut = body.indexWhere(l => l.startsWith("13\t") && l.split('\t')(1).toLong >= 5000)
    val shards = Files.createTempDirectory("graft_tabix_shards")
    indexed(shards.resolve("part0.vcf.gz").toString, header ++ body.take(cut), 512)
    indexed(shards.resolve("part1.vcf.gz").toString, header ++ body.drop(cut), 512)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("chr", "pos", "id").collect().map(_.toString).sorted.toSeq
    for (input <- Seq(vcf, shards.toString); regions <- Seq(
        Seq(("13", beg, end)),
        Seq(("chrZZ", 1L, 1000000L)), // a chromosome absent from the index
        Seq(("13", 2000L, 2450L), ("13", 2550L, 3000L)), // nearby: they share a block
        Seq(("13", end, end), ("chrZZ", 1L, 10L), ("7", 1000L, 1500L)))) {
      val read =
        if (regions.size == 1) {
          val (c, b, e) = regions.head
          VcfReader.readRange(spark, input, c, b, e, splitSize = Some(2048L))
        } else VcfReader.readRegions(spark, input, regions, splitSize = Some(2048L))
      val oracle = VcfReader.read(spark, input, splitSize = Some(2048L)).df
        .where(regions.map { case (c, b, e) =>
          col("chr") === c && col("pos") <= e && col("pos") + length(col("ref")) - 1 >= b
        }.reduce(_ || _))
      val (got, want) = (rows(read.df), rows(oracle))
      assert(got == want, s"$input $regions")
      assert(got.nonEmpty == regions.exists(_._1 != "chrZZ"), s"$input $regions")
      assert(got.distinct == got, s"$input $regions: a record read twice")
    }
    val ids = VcfReader.readRange(spark, vcf, "13", beg, end).df
      .select("id").as[String].collect().toSet
    assert(Set("del_into", "at_end").subsetOf(ids), ids)
    assert(ids.intersect(Set("del_short", "wide_ref", "before", "past_end")).isEmpty, ids)
  }

  test("a region option that is not chr or chr:beg-end fails naming it") {
    val (vcf, _) = fixture(200, blockData = 512)
    for (bad <- Seq("1:abc-200", "1:100", "1:100-2x")) {
      val e = intercept[IllegalArgumentException](
        spark.read.format("bgzf-text").option("region", bad).load(vcf).count())
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("chr:beg-end"),
        e.getMessage)
    }
    assert(graft.vcf.BgzfTextSource.parseRegion("1:1,000-2,000") == (("1", 1000L, 2000L)))
  }

  test("randomized region sweep equals full-scan filter") {
    val (vcf, _) = fixture(2500, blockData = 384)
    val full = spark.read.format("bgzf-text").option("splitSize", 1536).load(vcf)
    val f = split(col("value"), "\t")
    val parsedFull = full.where(!col("value").startsWith("#"))
      .select(f.getItem(0).as("chr"), f.getItem(1).cast("long").as("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 8) {
      val chr = (rnd.nextInt(22) + 1).toString
      val beg = 1000L + rnd.nextInt(8000)
      val end = beg + rnd.nextInt(6000)
      val pruned = spark.read.format("bgzf-text")
        .option("splitSize", 1536).option("region", s"$chr:$beg-$end").load(vcf)
      val got = pruned.where(!col("value").startsWith("#"))
        .select(f.getItem(0).as("chr"), f.getItem(1).cast("long").as("pos"))
        .where(col("chr") === chr && col("pos").between(beg, end))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      val want = parsedFull.filter(t => t._1 == chr && t._2 >= beg && t._2 <= end).sorted
      assert(got == want, s"$chr:$beg-$end: ${got.size} vs ${want.size}")
    }
  }

  test("multi-region read: union semantics, shared blocks read once") {
    val (vcf, _) = fixture(3000, blockData = 512)
    // two close regions on one chr (likely sharing index chunks) + one
    // on another chr
    val regions = Seq(("9", 1000L, 3000L), ("9", 3100L, 5000L), ("17", 2000L, 4000L))
    val multi = VcfReader.readRegions(spark, vcf, regions, splitSize = Some(2048L))
      .df.select("chr", "pos", "id").collect().map(_.toString).sorted.toSeq
    val singles = regions.flatMap { case (c, b, e) =>
      VcfReader.readRange(spark, vcf, c, b, e, splitSize = Some(2048L))
        .df.select("chr", "pos", "id").collect().map(_.toString)
    }.distinct.sorted
    assert(multi == singles && multi.nonEmpty)
    // no duplicates even when regions share chunks
    assert(multi.distinct.size == multi.size)
  }

  test("unsorted input rejected by the index builder") {
    val header = SyntheticVcf.header(1)
    val bad = Seq( // chr 1 positions descending
      "1\t500\trs1\tA\tG\t9\tPASS\tAC=1;AF=0.1;DP=4;CSQ=G|x|LOW|G|E|b|\tGT\t0|1",
      "1\t100\trs2\tA\tG\t9\tPASS\tAC=1;AF=0.1;DP=4;CSQ=G|x|LOW|G|E|b|\tGT\t0|1")
    val f = Files.createTempFile("graft_unsorted", ".vcf.gz").toString
    Bgzf.writeLocalFile(f, header ++ bad)
    val p = new Path(f)
    val e = intercept[java.io.IOException] {
      Tabix.build(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    assert(e.getMessage.contains("out of order"))
  }
}

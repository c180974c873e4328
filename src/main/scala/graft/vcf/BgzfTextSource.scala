package graft.vcf

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `bgzf-text` format: one `(value, file, offset)` row per
  * line, SPLITTABLE, read by [[BgzfSplitLineIterator]]. `file` is the
  * file's index in the sorted listing, `offset` the line's start in it:
  * a total order on the input, whatever the split sizes. Each file's
  * content picks its kind: BGZF splits by compressed byte range (offset:
  * the virtual offset), plain text by byte range (the byte offset), and
  * plain gzip is one split per file (the decompressed offset). This is
  * the Spark-native replacement for the reference's tabix-chunked VCF
  * scan (`02-build-db.R:256`): instead of a driver loop over genomic
  * chunks, Catalyst plans one scan whose partitions decompress
  * independently, so a 100 GB `.vcf.gz` parses on every executor at once.
  *
  *   spark.read.format("bgzf-text")
  *     .option("splitSize", 64 << 20)   // default: the file source's split size
  *     .load("/data/cohort.vcf.gz")
  */
class BgzfTextSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bgzf-text"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BgzfTextSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (schema != BgzfTextSource.Schema)
      throw new IllegalArgumentException(
        s"bgzf-text has a fixed schema ${BgzfTextSource.Schema.simpleString}; " +
          s"user-supplied schema ${schema.simpleString} is not supported")
    val opts = new CaseInsensitiveStringMap(properties)
    // `.load(p)` arrives as option "path"; `.load(p1, p2, ...)` arrives
    // as option "paths" holding a JSON string array.
    val paths = Option(opts.get("paths")).map(BgzfTextSource.parsePathsJson)
      .getOrElse(Option(opts.get("path")).map(Seq(_)).getOrElse(
        throw new IllegalArgumentException("bgzf-text requires a path")))
    new BgzfTextTable(paths, Option(opts.get("splitSize")).map(_.toLong),
      Option(opts.get("region")), Option(opts.get("index")))
  }
}

object BgzfTextSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("file", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  /** Spark encodes multi-path `.load(p1, p2)` as a JSON string array in
    * the "paths" option; decode with the same Jackson Spark uses.
    */
  def parsePathsJson(json: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readValue(json, classOf[Array[String]]).toSeq
  }

  /** `"chr"` or `"chr:beg-end"` (1-based inclusive; commas tolerated in
    * numbers, as in the tabix CLI) → (chr, beg, end).
    */
  def parseRegion(s: String): (String, Long, Long) = {
    val colon = s.lastIndexOf(':')
    if (colon < 0) (s, 1L, Long.MaxValue >> 17) // whole chromosome
    else {
      val range = s.substring(colon + 1).replace(",", "")
      val dash = range.indexOf('-')
      if (dash < 0)
        throw new IllegalArgumentException(
          s"bad region '$s': expected chr or chr:beg-end")
      (s.substring(0, colon), range.substring(0, dash).toLong,
        range.substring(dash + 1).toLong)
    }
  }

  /** Consecutive splits packed into partitions by the file source's rule,
    * in listing order (the file source sorts them by size first): a split
    * joins the open partition unless that would take it past `maxBytes`,
    * and each split counts its length plus `openCost`.
    * So a directory of small shards reads in a few tasks, not one each,
    * while splits of `maxBytes` (any file larger than that) stay alone.
    */
  def pack(splits: Seq[BgzfSplit], maxBytes: Long, openCost: Long): Array[InputPartition] = {
    val parts = Array.newBuilder[InputPartition]
    var open = Vector.empty[BgzfSplit]
    var size = 0L
    splits.foreach { sp =>
      if (open.nonEmpty && size + (sp.end - sp.start) > maxBytes) {
        parts += BgzfPartition(open.toArray)
        open = Vector.empty
        size = 0L
      }
      open :+= sp
      size += sp.end - sp.start + openCost
    }
    if (open.nonEmpty) parts += BgzfPartition(open.toArray)
    parts.result()
  }

  /** Non-hidden data files under a path/glob (index files are not data). */
  def listFiles(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus]).toSeq
      .flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
      }
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".") &&
          !n.endsWith(".tbi") && !n.endsWith(".csi")
      }
      .sortBy(_.getPath.toString)
  }
}

private[vcf] class BgzfTextTable(paths: Seq[String], splitSize: Option[Long],
    region: Option[String], index: Option[String])
  extends Table with SupportsRead {

  override def name(): String = s"bgzf-text(`${paths.mkString(",")}`)"
  override def schema(): StructType = BgzfTextSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new BgzfTextScan(paths, splitSize, region, index)
    }
}

private[vcf] class BgzfTextScan(paths: Seq[String], splitSizeOpt: Option[Long],
    region: Option[String], index: Option[String])
  extends Scan with Batch {

  override def readSchema(): StructType = BgzfTextSource.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"bgzf-text ${paths.mkString(",")}" + region.fold("")(r => s" region=$r")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val listed = paths.flatMap(p => BgzfTextSource.listFiles(p, conf))
    val files = listed.zipWithIndex
      .map { case (st, i) => (st, i, InputKind.of(st.getPath.getFileSystem(conf), st.getPath)) }
    // One split per `splitSize` file bytes (compressed, for BGZF) and one
    // per plain gzip file; small splits share a partition ([[pack]]).
    // `splitSize` is by default the file source's split size,
    // min(files.maxPartitionBytes, max(files.openCostInBytes, input bytes
    // / default parallelism)), so executor-memory tuning carries over and
    // a mid-sized file still fills every core. A BGZF split smaller than
    // one block is harmless: a split containing no block start syncs past
    // its end and emits nothing.
    val splitSize = splitSizeOpt.getOrElse(FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, listed.toArray))))
    require(splitSize > 0, s"splitSize must be positive, got $splitSize")
    region match {
      case None =>
        BgzfTextSource.pack(files.flatMap { case (st, i, kind) =>
          val len = st.getLen
          val step = if (kind == InputKind.Gzip) len else splitSize
          (0L until len by step).map { s =>
            BgzfSplit(st.getPath.toString, i, kind, s, math.min(s + step, len), len)
          }
        }, splitSize, spark.sessionState.conf.filesOpenCostInBytes)
      case Some(r) =>
        // Tabix-pruned scan: only the blocks whose virtual-offset chunks
        // overlap the region(s) are planned at all — the DSv2 analog of
        // the reference's readVcf(param = chunk_ranges[i]), including
        // its MULTI-chunk form (';'-separated regions). Chunks from all
        // regions merge before planning so a block shared by two nearby
        // regions is read exactly once. Big chunks (a whole-chromosome
        // region) still split by `splitSize` for executor parallelism.
        val regions = r.split(';').toSeq.filter(_.nonEmpty)
          .map(BgzfTextSource.parseRegion)
        if (index.isDefined && files.length > 1)
          throw new IllegalArgumentException(
            "explicit 'index' option requires a single input file; " +
              "multi-file region reads use per-file <file>.tbi indexes")
        files.flatMap { case (st, i, kind) =>
          if (kind != InputKind.Bgzf)
            throw new IllegalArgumentException(
              s"region read requires BGZF (bgzip) input; ${st.getPath} is not")
          val fs = st.getPath.getFileSystem(conf)
          val tbi = index.map(new Path(_)).getOrElse(st.getPath.suffix(".tbi"))
          if (!fs.exists(tbi))
            throw new IllegalArgumentException(
              s"region read requires a tabix index at $tbi " +
                "(build one with graft.vcf.Tabix.build)")
          val len = st.getLen
          val idx = Tabix.read(fs, tbi)
          Tabix.merge(regions.flatMap { case (chr, beg, end) =>
            idx.query(chr, beg, end)
          }).flatMap { c =>
            val cBeg = c.beg >>> 16
            val cOwnEnd = (c.end >>> 16) + 1 // block holding vEnd is owned
            val bounds = (cBeg until cOwnEnd by splitSize) :+ cOwnEnd
            bounds.zip(bounds.tail).zipWithIndex.map { case ((s, e), j) =>
              BgzfPartition(Array(BgzfSplit(st.getPath.toString, i, kind, s, e, len,
                uStart = if (j == 0) (c.beg & 0xffff).toInt else -1,
                vEnd = c.end)))
            }
          }
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    // Hadoop Configuration is not serializable; ship the merged entries.
    val entries = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    new BgzfReaderFactory(entries)
  }
}

private[vcf] case class BgzfSplit(path: String, file: Int, kind: InputKind,
    start: Long, end: Long, fileLen: Long, uStart: Int = -1, vEnd: Long = Long.MaxValue)

/** One task's splits, read in turn. */
private[vcf] case class BgzfPartition(splits: Array[BgzfSplit]) extends InputPartition

private[vcf] class BgzfReaderFactory(confEntries: Array[(String, String)])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val splits = partition.asInstanceOf[BgzfPartition].splits.iterator
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    new PartitionReader[InternalRow] {
      private var sp: BgzfSplit = _
      private var it: BgzfSplitLineIterator = _
      private var row: InternalRow = _
      override def next(): Boolean = {
        while ((it == null || !it.hasNext) && splits.hasNext) {
          close()
          sp = splits.next()
          val p = new Path(sp.path)
          it = BgzfSplitLineIterator.open(p.getFileSystem(conf), p, sp.kind,
            sp.start, sp.end, sp.fileLen, sp.uStart, sp.vEnd)
        }
        it != null && it.hasNext && {
          row = InternalRow(UTF8String.fromBytes(it.next()), sp.file, it.lineStart)
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (it != null) { it.close(); it = null }
    }
  }
}

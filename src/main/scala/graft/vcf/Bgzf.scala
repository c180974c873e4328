package graft.vcf

import java.io.{ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** BGZF (block-gzip) codec: the compression framing used by bgzip/tabix
  * VCFs, which the reference engine consumes via its tabix-chunked scan
  * (VCFdbR `pipeline/02-build-db.R:256`, `R/VCFdb.R:102-116`).
  *
  * BGZF is a sequence of independent gzip members, each at most 64 KiB
  * of compressed data, carrying its own compressed size (`BSIZE`) in a
  * gzip extra subfield (`SI = "BC"`). Because every block decompresses
  * independently, a reader can start at ANY byte offset, resync to the
  * next block header, and decompress from there — which is what makes a
  * 100 GB `.vcf.gz` splittable across executors instead of a single
  * non-splittable gzip stream (the failure mode of `spark.read.text`
  * on plain gzip).
  *
  * This object holds the block-level codec (writer for fixtures and
  * exports, header sync, block inflate) plus [[BgzfSplitLineIterator]],
  * the split-semantics line reader used by [[BgzfTextSource]]'s
  * DataSource V2 partitions.
  */
object Bgzf {

  /** Max whole-block size: BSIZE is u16 storing (block length - 1). */
  val MaxBlockSize: Int = 0x10000

  /** Fixed member header length as WE write it (XLEN=6, one BC field).
    * Readers must not assume this: foreign writers may add subfields.
    */
  val HeaderLen: Int = 18

  private val FooterLen = 8

  /** Uncompressed payload per block when writing (htslib's choice:
    * 0xff00 guarantees worst-case deflate output still fits in 64 KiB).
    */
  val DefaultBlockData: Int = 0xff00

  /** Canonical 28-byte empty block appended as an EOF marker. */
  val EofBlock: Array[Byte] = Array[Int](
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  // ---------------------------------------------------------------- write

  /** Deflate `data[off, off+len)` as one BGZF member onto `out`. */
  def writeBlock(out: OutputStream, data: Array[Byte], off: Int, len: Int): Unit = {
    require(len <= DefaultBlockData,
      s"BGZF block payload $len exceeds $DefaultBlockData")
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(data, off, len)
    deflater.finish()
    val cbuf = new ByteArrayOutputStream(len / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      cbuf.write(tmp, 0, n)
    }
    deflater.end()
    val cdata = cbuf.toByteArray
    val bsize = HeaderLen + cdata.length + FooterLen
    require(bsize <= MaxBlockSize, s"compressed block $bsize exceeds 64 KiB")

    val h = new Array[Byte](HeaderLen)
    h(0) = 0x1f.toByte; h(1) = 0x8b.toByte // gzip magic
    h(2) = 8 // CM = deflate
    h(3) = 4 // FLG = FEXTRA
    // MTIME(4)=0, XFL=0 already zero
    h(9) = 0xff.toByte // OS = unknown
    h(10) = 6 // XLEN
    h(12) = 'B'; h(13) = 'C'; h(14) = 2 // SI1 SI2 SLEN
    h(16) = ((bsize - 1) & 0xff).toByte
    h(17) = (((bsize - 1) >> 8) & 0xff).toByte
    out.write(h)
    out.write(cdata)

    val crc = new CRC32()
    crc.update(data, off, len)
    val f = new Array[Byte](FooterLen)
    val c = crc.getValue
    f(0) = (c & 0xff).toByte; f(1) = ((c >> 8) & 0xff).toByte
    f(2) = ((c >> 16) & 0xff).toByte; f(3) = ((c >> 24) & 0xff).toByte
    f(4) = (len & 0xff).toByte; f(5) = ((len >> 8) & 0xff).toByte
    f(6) = ((len >> 16) & 0xff).toByte; f(7) = ((len >> 24) & 0xff).toByte
    out.write(f)
  }

  /** Compress `data` into BGZF framing (+ EOF marker block). */
  def compress(data: Array[Byte], blockData: Int = DefaultBlockData): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    var off = 0
    while (off < data.length) {
      val len = math.min(blockData, data.length - off)
      writeBlock(out, data, off, len)
      off += len
    }
    out.write(EofBlock)
    out.toByteArray
  }

  /** Write text lines as a local BGZF file (fixtures, exports). */
  def writeLocalFile(path: String, lines: Seq[String],
      blockData: Int = DefaultBlockData): Unit = {
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    val out = new java.io.FileOutputStream(path)
    try out.write(compress(bytes, blockData)) finally out.close()
  }

  // ----------------------------------------------------------------- read

  /** Whole-block size (BSIZE+1) if a plausible BGZF member header starts
    * at `buf(off)`, else -1. Honors foreign writers: XLEN may exceed 6,
    * the BC subfield is searched for within the extra field.
    */
  def headerBlockSize(buf: Array[Byte], off: Int, limit: Int): Int = {
    if (limit - off < 14) return -1
    if (buf(off) != 0x1f.toByte || buf(off + 1) != 0x8b.toByte ||
      buf(off + 2) != 8.toByte || (buf(off + 3) & 4) != 4) return -1
    val xlen = u16(buf, off + 10)
    if (limit - off < 12 + xlen) return -1
    var p = off + 12
    val endX = off + 12 + xlen
    while (p + 4 <= endX) {
      val slen = u16(buf, p + 2)
      if (buf(p) == 'B'.toByte && buf(p + 1) == 'C'.toByte && slen == 2) {
        if (p + 6 > endX) return -1
        val bsize = u16(buf, p + 4) + 1
        // must at least hold its own header + footer
        if (bsize < 12 + xlen + FooterLen) return -1
        return bsize
      }
      p += 4 + slen
    }
    -1
  }

  /** True if the file at `path` begins with a valid BGZF block. */
  def isBgzfFile(fs: FileSystem, path: Path): Boolean = {
    val in = fs.open(path)
    try {
      val buf = new Array[Byte](HeaderLen)
      var n = 0
      while (n < buf.length) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) return false
        n += r
      }
      headerBlockSize(buf, 0, buf.length) > 0
    } finally in.close()
  }

  private def readFully(in: InputStream, buf: Array[Byte], off: Int, len: Int): Unit = {
    var n = 0
    while (n < len) {
      val r = in.read(buf, off + n, len - n)
      if (r < 0) throw new EOFException("truncated BGZF block")
      n += r
    }
  }

  /** Read + inflate one block from a stream positioned at a block
    * boundary. Returns (decompressed bytes, compressed block size), or
    * None at a clean EOF.
    */
  def readBlock(in: InputStream): Option[(Array[Byte], Int)] = {
    val head = new Array[Byte](12)
    val first = in.read()
    if (first < 0) return None // clean EOF
    head(0) = first.toByte
    readFully(in, head, 1, 11)
    if (head(0) != 0x1f.toByte || head(1) != 0x8b.toByte || head(2) != 8.toByte ||
      (head(3) & 4) != 4)
      throw new IOException("stream not at a BGZF block boundary")
    val xlen = u16(head, 10)
    val block = new Array[Byte](12 + xlen)
    System.arraycopy(head, 0, block, 0, 12)
    readFully(in, block, 12, xlen)
    val bsize = headerBlockSize(block, 0, block.length)
    if (bsize < 0) throw new IOException("BGZF header lacks a BC subfield")
    val full = new Array[Byte](bsize)
    System.arraycopy(block, 0, full, 0, block.length)
    readFully(in, full, block.length, bsize - block.length)
    Some((inflateBlock(full, 0, bsize), bsize))
  }

  /** Inflate the member stored at `buf[off, off+bsize)`. */
  def inflateBlock(buf: Array[Byte], off: Int, bsize: Int): Array[Byte] = {
    val xlen = u16(buf, off + 10)
    val dataOff = off + 12 + xlen
    val dataLen = bsize - (12 + xlen) - FooterLen
    val tail = off + bsize - 4
    val isize = (buf(tail) & 0xff) | ((buf(tail + 1) & 0xff) << 8) |
      ((buf(tail + 2) & 0xff) << 16) | ((buf(tail + 3) & 0xff) << 24)
    // ISIZE comes from untrusted input: BGZF bounds uncompressed blocks
    // at 64 KiB, so anything outside [0, 0x10000] is corruption — reject
    // it here rather than let `new Array` throw (or allocate up to 2 GiB).
    if (isize < 0 || isize > MaxBlockSize)
      throw new IOException(s"corrupt BGZF block: ISIZE $isize out of [0, $MaxBlockSize]")
    val out = new Array[Byte](isize)
    if (isize == 0) return out
    val inf = new Inflater(true)
    inf.setInput(buf, dataOff, dataLen)
    var n = 0
    while (n < isize && !inf.finished()) {
      val r = inf.inflate(out, n, isize - n)
      if (r == 0 && inf.needsInput()) throw new IOException("corrupt BGZF block")
      n += r
    }
    inf.end()
    if (n != isize) throw new IOException(s"BGZF ISIZE $isize != inflated $n")
    out
  }

  /** Compressed offset of the first block header at or after `start`:
    * read a bounded window and scan for a header that chains to a second
    * valid header (or to EOF) — the standard block-sync trick; a false
    * 16-byte header pattern followed by another valid header at exactly
    * BSIZE is astronomically unlikely. Throws if no block starts within
    * the maximum block size (malformed input).
    */
  def sync(in: FSDataInputStream, start: Long, fileLen: Long): Long = {
    if (start >= fileLen) return -1L
    val winLen = math.min(fileLen - start, (2 * MaxBlockSize + 2 * HeaderLen).toLong).toInt
    val buf = new Array[Byte](winLen)
    in.seek(start)
    readFully(in, buf, 0, winLen)
    val scanEnd = math.min(winLen, MaxBlockSize + HeaderLen)
    var o = 0
    while (o < scanEnd) {
      val bs = headerBlockSize(buf, o, winLen)
      if (bs > 0) {
        val nextOff = o + bs
        val chained =
          if (start + nextOff == fileLen) true
          else if (start + nextOff > fileLen) false
          else nextOff + 14 <= winLen && headerBlockSize(buf, nextOff, winLen) > 0
        if (chained) return start + o
      }
      o += 1
    }
    // Scanned to EOF without finding a boundary: `start` sits inside the
    // FINAL block's compressed tail (e.g. a split boundary landing in
    // the 28-byte EOF marker) — a legitimate empty split, not corruption.
    if (fileLen - start <= scanEnd) return -1L
    throw new IOException(
      s"no BGZF block boundary within ${MaxBlockSize + HeaderLen} bytes of offset $start")
  }

  /** Driver-side header fetch: decompress leading blocks and return the
    * `#`-prefixed header lines (headers sit at the start of the file; a
    * 16 MiB cap bounds the driver read far beyond any real header, and
    * reaching it before a complete data line or EOF fails, naming the
    * file, rather than return a header cut short).
    */
  def headLines(fs: FileSystem, path: Path, maxBytes: Int = 16 << 20): Seq[String] = {
    val in = fs.open(path)
    try {
      val acc = new ByteArrayOutputStream(64 << 10)
      var stop = false
      while (!stop) {
        if (acc.size >= maxBytes)
          throw new IllegalArgumentException(
            s"VCF header of $path exceeds $maxBytes bytes with no data line or end of file")
        readBlock(in) match {
          case Some((data, _)) =>
            acc.write(data)
            // stop once a complete non-# line exists in the buffer
            val s = acc.toString("UTF-8")
            val lastNl = s.lastIndexOf('\n')
            if (lastNl >= 0 &&
              s.substring(0, lastNl).linesIterator.exists(l => !l.startsWith("#")))
              stop = true
          case None => stop = true
        }
      }
      acc.toString("UTF-8").linesIterator.takeWhile(_.startsWith("#")).toSeq
    } finally in.close()
  }
}

/** Complete text lines for the byte split `[start, end)` of a BGZF file,
  * with Hadoop-text-split semantics adapted to block granularity:
  *
  *   - a split owns the blocks whose compressed offset lies in
  *     `[start, end)`; the reader syncs to the first owned block;
  *   - a split with `start > 0` discards bytes up to and including the
  *     first `\n` (that prefix belongs to the previous split);
  *   - a line begun in an owned block is completed by reading past `end`
  *     into non-owned blocks;
  *   - if the owned region ends exactly on a line terminator, the split
  *     additionally emits ONE line starting at the first non-owned byte
  *     (mirroring the unconditional discard done by the next split).
  *
  * Together these assign every line of the file to exactly one split.
  *
  * Two extensions support tabix-indexed region reads ([[Tabix]]):
  *
  *   - `uStart >= 0`: `start` is known to be an exact block boundary and
  *     reading begins `uStart` uncompressed bytes into that block (a
  *     tabix virtual offset) with NO first-line discard — the offset
  *     points at a record start, not mid-line;
  *   - `vEnd`: virtual-offset cap — no line may START at or after
  *     `(blockOffset << 16) | inBlockOffset >= vEnd` (a chunk's
  *     `cnk_end`). Lines that start before the cap still complete.
  */
final class BgzfSplitLineIterator(
    in: FSDataInputStream, start: Long, end: Long, fileLen: Long,
    uStart: Int = -1, vEnd: Long = Long.MaxValue)
  extends Iterator[String] with java.io.Closeable {

  private var done = false
  private var pending: String = _
  private var skipping = start > 0 && uStart < 0 // discard up to the first '\n'
  private var pendingUSkip = uStart

  private var chunk: Array[Byte] = Array.emptyByteArray
  private var cOff = 0
  private var chunkOwned = true
  private var firstNonOwnedChunk = false // `chunk` is the first block past `end`
  private var extraUsed = false
  private var curBlockStart = 0L // compressed offset of the block in `chunk`

  private val line = new ByteArrayOutputStream(256)
  private var lineOpen = false

  private var nextBlockStart: Long = {
    val s =
      if (start == 0L || uStart >= 0) start // uStart ⇒ exact boundary, no sync
      else Bgzf.sync(in, start, fileLen)
    if (s < 0 || s >= end) done = true else in.seek(s)
    s
  }

  /** Read the next non-empty block into `chunk`; false at EOF. */
  private def fillChunk(): Boolean = {
    while (true) {
      if (nextBlockStart >= fileLen) return false
      val owned = nextBlockStart < end
      val blockStart = nextBlockStart
      Bgzf.readBlock(in) match {
        case None => return false
        case Some((data, csize)) =>
          nextBlockStart += csize
          if (data.length > 0) {
            firstNonOwnedChunk = !owned && chunkOwned
            chunkOwned = owned
            chunk = data
            curBlockStart = blockStart
            cOff =
              if (pendingUSkip >= 0) math.min(pendingUSkip, data.length) else 0
            pendingUSkip = -1
            return true
          }
      }
    }
    false // unreachable
  }

  private def takeLine(): String = {
    val b = line.toByteArray
    line.reset()
    val n = if (b.nonEmpty && b(b.length - 1) == '\r'.toByte) b.length - 1 else b.length
    new String(b, 0, n, "UTF-8")
  }

  private def advance(): Unit = {
    while (pending == null && !done) {
      if (cOff >= chunk.length) {
        if (!fillChunk()) { // EOF: flush a final unterminated line
          if (lineOpen && !skipping) pending = takeLine()
          done = true
          return
        }
      }
      if (!lineOpen && !skipping) {
        // a new line starts at chunk(cOff): the virtual cap is checked
        // first (a tabix chunk ends at an exact record boundary — the
        // extra-line rule never applies past it) ...
        if (((curBlockStart << 16) | cOff.toLong) >= vEnd) { done = true; return }
        // ... then decide whether this split emits it
        val emits = chunkOwned ||
          (firstNonOwnedChunk && cOff == 0 && !extraUsed)
        if (!emits) { done = true; return }
        if (!chunkOwned) extraUsed = true
        lineOpen = true
      }
      var nl = -1
      var i = cOff
      while (nl < 0 && i < chunk.length) {
        if (chunk(i) == '\n'.toByte) nl = i
        i += 1
      }
      if (nl < 0) {
        if (!skipping) line.write(chunk, cOff, chunk.length - cOff)
        cOff = chunk.length
      } else if (skipping) {
        skipping = false
        cOff = nl + 1
      } else {
        line.write(chunk, cOff, nl - cOff)
        pending = takeLine()
        lineOpen = false
        cOff = nl + 1
      }
    }
  }

  override def hasNext: Boolean = {
    if (pending == null && !done) advance()
    pending != null
  }

  override def next(): String = {
    if (!hasNext) throw new NoSuchElementException("end of split")
    val r = pending
    pending = null
    r
  }

  override def close(): Unit = in.close()
}

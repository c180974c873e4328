package graft.vcf

import java.io.{ByteArrayOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Deflater, GZIPInputStream, Inflater}

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
  * exports, header sync, block inflate). [[BgzfSplitLineIterator]], the
  * split-semantics line reader behind [[BgzfTextSource]]'s DataSource V2
  * partitions, reads BGZF through it, and plain text and plain gzip
  * beside it.
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
}

/** An input file's framing, sniffed from its first bytes (never from its
  * name): BGZF blocks, one plain (non-block) gzip stream, or plain text.
  * Other compressions (bzip2, zstd, xz) fail here, naming the file,
  * rather than read as text.
  */
sealed trait InputKind extends Serializable

object InputKind {
  case object Bgzf extends InputKind
  case object Gzip extends InputKind
  case object Plain extends InputKind

  private val Foreign = Seq(
    "bzip2" -> Array[Int]('B', 'Z', 'h'),
    "zstd" -> Array(0x28, 0xb5, 0x2f, 0xfd),
    "xz" -> Array(0xfd, '7', 'z', 'X', 'Z', 0x00))

  /** The kind of the file `in` reads; leaves `in` at offset 0. */
  def of(in: FSDataInputStream, path: Path): InputKind = {
    in.seek(0L)
    val head = in.readNBytes(graft.vcf.Bgzf.HeaderLen)
    in.seek(0L)
    Foreign.find { case (_, magic) =>
      head.length >= magic.length && magic.indices.forall(i => (head(i) & 0xff) == magic(i))
    }.foreach { case (name, _) =>
      throw new IllegalArgumentException(
        s"$path is $name-compressed; VCF input must be BGZF, gzip or plain text " +
          "(re-compress it with bgzip)")
    }
    if (graft.vcf.Bgzf.headerBlockSize(head, 0, head.length) > 0) Bgzf
    else if (head.length >= 2 && head(0) == 0x1f.toByte && head(1) == 0x8b.toByte) Gzip
    else Plain
  }

  def of(fs: FileSystem, path: Path): InputKind = {
    val in = fs.open(path)
    try of(in, path) finally in.close()
  }
}

/** One split's decompressed bytes, a chunk at a time: `bytes[from, len)`,
  * `owned` if it starts inside the split. `pos(i)` is the input position
  * of `bytes(i)`; `pos(len)` the one just past the chunk, and, once
  * `fill` returns false, `pos(0)` the end of the input.
  */
private[vcf] abstract class LineChunks(in: java.io.Closeable) extends java.io.Closeable {
  var bytes: Array[Byte] = Array.emptyByteArray
  var from = 0
  var len = 0
  var owned = true
  def fill(): Boolean
  def pos(i: Int): Long
  override def close(): Unit = in.close()
}

/** BGZF blocks, owned when their compressed offset is in `[start, end)`;
  * positions are virtual offsets. Reading syncs to the first block from
  * `start` on, unless `uStart >= 0` marks `start` as a block boundary to
  * read from `uStart` on (a tabix chunk's start).
  */
private final class BgzfChunks(in: FSDataInputStream, start: Long, end: Long,
    fileLen: Long, uStart: Int) extends LineChunks(in) {
  private var blockStart = 0L
  private var skip = uStart
  private var next: Long = {
    val s = if (start == 0L || uStart >= 0) start else Bgzf.sync(in, start, fileLen)
    if (s < 0 || s >= end) fileLen // no block starts in the split
    else { in.seek(s); s }
  }

  override def fill(): Boolean = {
    while (next < fileLen) {
      blockStart = next
      Bgzf.readBlock(in) match {
        case None => next = fileLen
        case Some((data, csize)) =>
          next += csize
          if (data.length > 0) {
            bytes = data
            len = data.length
            owned = blockStart < end
            from = if (skip >= 0) math.min(skip, len) else 0
            skip = -1
            return true
          }
      }
    }
    len = 0
    false
  }

  override def pos(i: Int): Long = if (i < len) (blockStart << 16) | i else next << 16
}

/** A byte stream in windows that never cross `end`: plain text from
  * `start` (byte offsets), or one gzip stream (decompressed offsets).
  */
private final class StreamChunks(in: InputStream, start: Long, end: Long)
    extends LineChunks(in) {
  bytes = new Array[Byte](64 << 10)
  private var base = start

  override def fill(): Boolean = {
    base += len
    owned = base < end
    val want = if (owned) math.min(bytes.length.toLong, end - base).toInt else bytes.length
    len = math.max(in.read(bytes, 0, want), 0)
    len > 0
  }

  override def pos(i: Int): Long = base + i
}

/** Complete text lines of one input split, each with its position: the
  * one place where input bytes become lines ([[BgzfTextSource]] splits,
  * VCF headers, [[Tabix.build]]). Hadoop-text-split semantics over the
  * split's [[LineChunks]]: a split owns the chunks that start in
  * `[start, end)`; with `skipFirst` (a split starting mid-file, not at a
  * known record) it discards up to and including the first `\n`; a line
  * begun in an owned chunk completes past `end`; and if the owned chunks
  * end exactly on a `\n`, the split also emits the ONE line starting at
  * the first non-owned byte, which the next split discards. So every line
  * belongs to exactly one split. No line may START at or after `vEnd` (a
  * tabix chunk's `cnk_end`). After `maxBytes` decompressed bytes the
  * iterator stops, `capped`, instead of buffering further.
  *
  * Lines are UTF-8 bytes without their `\n` or `\r\n`. Until the next
  * `hasNext`, `lineStart` and `lineEnd` are the positions of the returned
  * line's first byte (the BGZF virtual offset, the byte offset, or the
  * decompressed gzip offset) and of the byte after its terminator.
  */
final class BgzfSplitLineIterator private[vcf] (chunks: LineChunks, skipFirst: Boolean,
    vEnd: Long = Long.MaxValue, maxBytes: Long = Long.MaxValue)
  extends Iterator[Array[Byte]] with java.io.Closeable {

  private var done = false
  private var pending: Array[Byte] = _
  private var skipping = skipFirst
  private var cOff = 0
  private var stop = 0 // the chunk's end, or where the byte budget ends in it
  private var firstNonOwned = false // the chunk is the first one past `end`
  private var extraUsed = false
  private var consumed = 0L
  private val line = new ByteArrayOutputStream(256)
  private var lineOpen = false
  private var openAt = 0L

  private[vcf] var lineStart, lineEnd = -1L
  private[vcf] var capped = false

  private def fill(): Boolean = {
    if (consumed >= maxBytes) { capped = true; return false }
    val wasOwned = chunks.owned
    if (!chunks.fill()) return false
    firstNonOwned = wasOwned && !chunks.owned
    cOff = chunks.from
    stop = chunks.from + math.min(chunks.len - chunks.from, maxBytes - consumed).toInt
    consumed += stop - cOff
    true
  }

  /** Close the open line with `b[from, to)`, less a trailing `\r`. */
  private def take(b: Array[Byte], from: Int, to: Int, past: Long): Unit = {
    line.write(b, from, to - from)
    val all = line.toByteArray
    line.reset()
    val n = all.length
    pending = if (n > 0 && all(n - 1) == '\r') java.util.Arrays.copyOf(all, n - 1) else all
    lineStart = openAt
    lineEnd = past
    lineOpen = false
  }

  private def advance(): Unit = {
    while (pending == null && !done) {
      if (cOff >= stop && !fill()) {
        // end of input: flush a final unterminated line, unless the byte
        // budget cut it short
        if (lineOpen && !skipping && !capped) take(chunks.bytes, 0, 0, chunks.pos(0))
        done = true
        return
      }
      if (!lineOpen && !skipping) {
        // a line starts at bytes(cOff): the vEnd cap comes first (a tabix
        // chunk ends at an exact record boundary, so the extra-line rule
        // never applies past it), then whether this split emits it
        val at = chunks.pos(cOff)
        if (at >= vEnd || !(chunks.owned || (firstNonOwned && cOff == 0 && !extraUsed))) {
          done = true
          return
        }
        if (!chunks.owned) extraUsed = true
        lineOpen = true
        openAt = at
      }
      val b = chunks.bytes
      var i = cOff
      while (i < stop && b(i) != '\n') i += 1
      if (i == stop) {
        if (!skipping) line.write(b, cOff, stop - cOff)
      } else if (skipping) skipping = false
      else take(b, cOff, i, chunks.pos(i + 1))
      cOff = math.min(i + 1, stop)
    }
  }

  override def hasNext: Boolean = {
    if (pending == null && !done) advance()
    pending != null
  }

  override def next(): Array[Byte] = {
    if (!hasNext) throw new NoSuchElementException("end of split")
    val r = pending
    pending = null
    r
  }

  override def close(): Unit = chunks.close()
}

object BgzfSplitLineIterator {

  /** The lines of split `[start, end)` of `path`, read as `kind`; `uStart`
    * and `vEnd` bound a BGZF tabix chunk. Plain gzip is one split.
    */
  def open(fs: FileSystem, path: Path, kind: InputKind, start: Long, end: Long,
      fileLen: Long, uStart: Int = -1, vEnd: Long = Long.MaxValue): BgzfSplitLineIterator =
    over(fs.open(path), path, kind, start, end, fileLen, uStart, vEnd)

  private def over(in: FSDataInputStream, path: Path, kind: InputKind, start: Long,
      end: Long, fileLen: Long, uStart: Int = -1, vEnd: Long = Long.MaxValue,
      maxBytes: Long = Long.MaxValue): BgzfSplitLineIterator =
    try {
      val chunks = kind match {
        case InputKind.Bgzf => new BgzfChunks(in, start, end, fileLen, uStart)
        case InputKind.Plain => in.seek(start); new StreamChunks(in, start, end)
        case InputKind.Gzip =>
          require(start == 0L, s"plain gzip $path cannot be split")
          new StreamChunks(new GZIPInputStream(in, 64 << 10), 0L, Long.MaxValue)
      }
      new BgzfSplitLineIterator(chunks, start > 0 && uStart < 0, vEnd, maxBytes)
    } catch { case e: Throwable => in.close(); throw e }

  /** A VCF file's kind, sniffed from the stream the header is read from,
    * and its header: its leading `#` lines. `maxBytes` bounds the driver
    * read far beyond any real header; reaching it before a complete data
    * line or the end of the file fails, naming the file, rather than
    * return a header cut short.
    */
  def headLines(fs: FileSystem, path: Path,
      maxBytes: Long = 16L << 20): (InputKind, Seq[String]) = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val kind = try InputKind.of(in, path) catch { case e: Throwable => in.close(); throw e }
    val lines = over(in, path, kind, 0L, len, len, maxBytes = maxBytes)
    try {
      val head = lines.takeWhile(l => l.nonEmpty && l(0) == '#')
        .map(new String(_, StandardCharsets.UTF_8)).toVector
      if (lines.capped)
        throw new IllegalArgumentException(
          s"VCF header of $path exceeds $maxBytes bytes with no data line or end of file")
      (kind, head)
    } finally lines.close()
  }
}

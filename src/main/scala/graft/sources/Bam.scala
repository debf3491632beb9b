package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.{BufferedInputStream, ByteArrayOutputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{CRC32, Deflater, GZIPInputStream}
import scala.collection.mutable.ArrayBuffer

/** BAM binary source/sink in pure JDK (SURVEY.md S1 — the reference
  * loads BAM via htsjdk/`sc.loadAlignments`,
  * avocado-cli/BiallelicGenotyper.scala:218-222; no htsjdk exists in
  * this build, but BAM is just BGZF-framed little-endian records and
  * BGZF is a sequence of standard gzip members, which
  * `java.util.zip.GZIPInputStream` decodes natively).
  *
  * Scan model: splittable WITHOUT an index. Files are carved into byte
  * chunks; each task recovers its first BGZF block by gzip-magic scan
  * (validated by full inflate + CRC) and its first record by chained
  * structural validation — the GA4GH/hadoop-bam resync approach — so a
  * single 300 GB BAM parallelizes across thousands of tasks. Record
  * decode is a narrow per-partition iterator; malformed records are
  * skipped.
  */
object Bam {

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val SeqBytes = SeqCode.getBytes(ISO_8859_1)
  private val CigarOps = AlignmentOps.CigarCodes
  /** Bit `op` is set for the reference-consuming ops `M D N = X`. */
  private val RefConsumingOps = CigarOps.indices
    .filter(i => AlignmentOps.RefConsuming.indexOf(CigarOps(i)) >= 0).map(1 << _).sum
  private val Magic = "BAM\u0001".getBytes(ISO_8859_1)

  // ---- decode ----------------------------------------------------------

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"wanted $n bytes, got $off")
      off += r
    }
    buf
  }

  private def le(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** Parse the BAM header from a decompressed stream: (reference names
    * from the binary list, sample id from the first @RG SM:, falling back
    * to `defaultSample`). Consumes exactly the header bytes.
    */
  private def parseHeader(in: InputStream, defaultSample: String): (IndexedSeq[String], String) = {
    require(readFully(in, 4).sameElements(Magic), "not a BAM stream")
    val lText = le(readFully(in, 4)).getInt
    val headerText = new String(readFully(in, lText), ISO_8859_1)
    val sample = SamFormat.sample(headerText.linesIterator.toSeq, defaultSample)
    val nRef = le(readFully(in, 4)).getInt
    val refs = (0 until nRef).map { _ =>
      val lName = le(readFully(in, 4)).getInt
      val name = new String(readFully(in, lName), ISO_8859_1).stripSuffix("\u0000")
      readFully(in, 4) // l_ref, unused
      name
    }
    (refs, sample)
  }

  /** Decode one record body (everything after the 4-byte block_size),
    * reading the fields in place from the body's bytes. Name, sequence,
    * qualities and MD become ISO-8859-1 strings built from byte arrays
    * (bytes at or above 0x80 become U+0080-U+00FF), and the CIGAR string
    * and reference span come from one walk over the ops. `None` when the
    * body is malformed: shorter than its fields or a tag says, a
    * zero-length read name, a negative sequence length, a CIGAR op code
    * above 8, or a `Z`/`H` string or `B` array (its count read unsigned)
    * running past the body.
    */
  private[sources] def decodeRecord(b: Array[Byte], refs: IndexedSeq[String], sample: String): Option[Read] = {
    val len = b.length
    def u16(p: Int): Int = (b(p) & 0xff) | (b(p + 1) & 0xff) << 8
    def i32(p: Int): Int = u16(p) | u16(p + 2) << 16
    if (len < 32) return None
    val lReadName = b(8) & 0xff
    val nCigar = u16(12)
    val lSeq = i32(16)
    val cigarAt = 32 + lReadName
    val seqAt = cigarAt + 4 * nCigar
    val qualAt = seqAt + (lSeq + 1L) / 2
    if (lReadName == 0 || lSeq < 0 || qualAt + lSeq > len) return None

    val cigar = new java.lang.StringBuilder(if (nCigar == 0) 1 else 4 * nCigar)
    var refLength = 0L
    var i = 0
    while (i < nCigar) {
      val v = i32(cigarAt + 4 * i)
      val op = v & 0xf
      if (op >= CigarOps.length) return None
      cigar.append(v >>> 4).append(CigarOps.charAt(op))
      if ((RefConsumingOps & (1 << op)) != 0) refLength += v >>> 4
      i += 1
    }
    if (nCigar == 0) cigar.append('*')

    val seq = new Array[Byte](lSeq)
    i = 0
    while (i < lSeq) {
      val packed = b(seqAt + (i >> 1))
      seq(i) = SeqBytes(if ((i & 1) == 0) (packed >> 4) & 0xf else packed & 0xf)
      i += 1
    }
    val q0 = qualAt.toInt
    val qual =
      if (lSeq > 0 && b(q0) == 0xff.toByte) "*"
      else {
        val qs = new Array[Byte](lSeq)
        i = 0
        while (i < lSeq) { qs(i) = (b(q0 + i) + 33).toByte; i += 1 }
        new String(qs, ISO_8859_1)
      }

    // tags: keep the last MD:Z, skip the rest by their declared widths
    var md = ""
    var p = q0 + lSeq
    while (p < len) {
      if (p + 3 > len) return None
      val tpe = b(p + 2).toChar
      val isMd = b(p) == 'M' && b(p + 1) == 'D' && tpe == 'Z'
      p += 3
      tpe match {
        case 'A' | 'c' | 'C' => p += 1
        case 's' | 'S'       => p += 2
        case 'i' | 'I' | 'f' => p += 4
        case 'Z' | 'H' =>
          var nul = p
          while (nul < len && b(nul) != 0) nul += 1
          if (nul == len) return None
          if (isMd) md = new String(b, p, nul - p, ISO_8859_1)
          p = nul + 1
        case 'B' =>
          if (p + 5 > len) return None
          val width = b(p).toChar match {
            case 'c' | 'C' => 1
            case 's' | 'S' => 2
            case _         => 4
          }
          val end = p + 5 + (i32(p + 1) & 0xffffffffL) * width
          if (end > len) return None
          p = end.toInt
        case _ => p = len // unknown: stop tag walk
      }
      if (p > len) return None
    }

    val refId = i32(0)
    val start = i32(4).toLong
    val flag = u16(14)
    val nextRefId = i32(20)
    val nextPos = i32(24)
    val paired = SamFormat.isPaired(flag)
    Some(SamFormat.toRead(
      new String(b, 32, lReadName - 1, ISO_8859_1),
      if (refId >= 0 && refId < refs.size) refs(refId) else "*",
      start, start + refLength, new String(seq, ISO_8859_1), qual, cigar.toString, md,
      b(9) & 0xff, flag, sample,
      mateContigName =
        if (paired && nextRefId >= 0 && nextRefId < refs.size) Some(refs(nextRefId))
        else None,
      mateStart = if (paired && nextPos >= 0) Some(nextPos.toLong) else None))
  }

  /** Iterate records from a decompressed stream positioned at a record
    * boundary. `keepGoing` is consulted BEFORE each record is read -- the
    * split scan uses it to stop after its chunk's last owned block.
    */
  private def recordIterator(
      in: InputStream,
      refs: IndexedSeq[String],
      sample: String,
      keepGoing: () => Boolean): Iterator[Read] =
    new Iterator[Read] {
      private var nextRead: Option[Read] = None
      private var done = false

      private def decodeOne(): Option[Read] = {
        if (!keepGoing()) { done = true; return None }
        val first = in.read()
        if (first < 0) { done = true; return None }
        val rest = readFully(in, 3)
        val blockSize = first | (rest(0) & 0xff) << 8 | (rest(1) & 0xff) << 16 | rest(2) << 24
        decodeRecord(readFully(in, blockSize), refs, sample)
      }

      override def hasNext: Boolean = {
        while (nextRead.isEmpty && !done) nextRead = decodeOne()
        nextRead.isDefined
      }
      override def next(): Read = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRead.get; nextRead = None; r
      }
    }

  /** Decode one BAM stream to reads. `sampleId` falls back to the
    * header's first @RG SM: when present.
    */
  def decode(raw: InputStream, defaultSample: String = SamFormat.DefaultSample): Iterator[Read] = {
    val in = new GZIPInputStream(new BufferedInputStream(raw), 1 << 16)
    val (refs, sample) = parseHeader(in, defaultSample)
    recordIterator(in, refs, sample, () => true)
  }

  /** Decode one local .bam file. */
  def readLocal(path: String, defaultSample: String = SamFormat.DefaultSample): Seq[Read] = {
    val in = new FileInputStream(path)
    try decode(in, defaultSample).toVector
    finally in.close()
  }

  // ---- BGZF block layer (split scan) -----------------------------------

  /** Inflate the BGZF block at file offset `off`; returns (payload,
    * offset of the next block), or None if `off` is not a valid block
    * start (doubles as validation during the boundary scan) or at EOF.
    */
  private def inflateBlockAt(raf: java.io.RandomAccessFile, off: Long): Option[(Array[Byte], Long)] = {
    val fileLen = raf.length()
    if (off < 0 || off + 28 > fileLen) return None
    raf.seek(off)
    val fixed = new Array[Byte](12)
    raf.readFully(fixed)
    if ((fixed(0) & 0xff) != 0x1f || (fixed(1) & 0xff) != 0x8b ||
      fixed(2) != 8 || (fixed(3) & 4) == 0) return None
    val xlen = (fixed(10) & 0xff) | ((fixed(11) & 0xff) << 8)
    if (xlen < 6 || off + 12 + xlen + 8 > fileLen) return None
    val extra = new Array[Byte](xlen)
    raf.readFully(extra)
    var i = 0
    var bsize = -1
    while (i + 4 <= xlen && bsize < 0) {
      val slen = (extra(i + 2) & 0xff) | ((extra(i + 3) & 0xff) << 8)
      if (extra(i) == 'B'.toByte && extra(i + 1) == 'C'.toByte && slen == 2 && i + 6 <= xlen)
        bsize = (extra(i + 4) & 0xff) | ((extra(i + 5) & 0xff) << 8)
      i += 4 + slen
    }
    if (bsize <= 0) return None
    val total = bsize + 1
    val compLen = total - 12 - xlen - 8
    if (compLen < 0 || off + total > fileLen) return None
    val comp = new Array[Byte](compLen)
    raf.readFully(comp)
    val tail = new Array[Byte](8)
    raf.readFully(tail)
    val isize = le(tail).getInt(4)
    if (isize < 0 || isize > (1 << 16)) return None
    val out = new Array[Byte](isize)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(comp)
      var got = 0
      while (got < isize && !inf.finished()) {
        val n = inf.inflate(out, got, isize - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got != isize) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    val crc = new CRC32
    crc.update(out, 0, isize)
    if (crc.getValue.toInt != le(tail).getInt(0)) return None
    Some((out, off + total))
  }

  /** Scan [from, until) for the first BGZF block start: gzip-magic scan,
    * each hit validated by a full inflate + CRC -- a false positive would
    * need a magic-shaped byte run whose payload also inflates AND
    * checksums, which does not occur in practice.
    */
  private def findBlock(raf: java.io.RandomAccessFile, from: Long, until: Long): Option[Long] = {
    val end = math.min(until, raf.length())
    var base = from
    val buf = new Array[Byte]((1 << 16) + 3)
    while (base < end) {
      raf.seek(base)
      val want = math.min(buf.length.toLong, raf.length() - base).toInt
      if (want <= 3) return None
      val n = raf.read(buf, 0, want)
      if (n <= 3) return None
      var i = 0
      while (i < n - 3 && base + i < end) {
        if ((buf(i) & 0xff) == 0x1f && (buf(i + 1) & 0xff) == 0x8b &&
          buf(i + 2) == 8 && (buf(i + 3) & 4) != 0 &&
          inflateBlockAt(raf, base + i).isDefined)
          return Some(base + i)
        i += 1
      }
      base += math.max(1, n - 3)
    }
    None
  }

  /** Decompressed view over consecutive BGZF blocks from a block offset,
    * exposing which block the NEXT unread byte belongs to -- the split
    * ownership rule is "a task owns the records that START in blocks
    * whose file offset falls inside its byte range".
    */
  private final class BlockStream(raf: java.io.RandomAccessFile, firstBlock: Long) extends InputStream {
    private var nextOff = firstBlock
    private var curOff = firstBlock
    private var cur: Array[Byte] = Array.emptyByteArray
    private var pos = 0

    def owningBlock: Long = if (pos < cur.length) curOff else nextOff

    /** Position within the (lazily loaded) first block. */
    def startAt(skip: Int): Unit = { ensure(); pos = skip }

    private def ensure(): Boolean = {
      while (pos >= cur.length) {
        inflateBlockAt(raf, nextOff) match {
          case Some((data, nx)) =>
            curOff = nextOff; nextOff = nx; cur = data; pos = 0
            if (data.isEmpty && nx + 28 > raf.length()) return false // EOF marker
          case None => return false
        }
      }
      true
    }

    override def read(): Int =
      if (!ensure()) -1 else { val b = cur(pos) & 0xff; pos += 1; b }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!ensure()) return -1
      val n = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, n)
      pos += n
      n
    }
  }

  /** First record boundary within the block at `blockOff`: candidate
    * offsets are validated by chaining up to 3 structurally plausible
    * records through a lookahead buffer (the standard index-free BAM
    * resync heuristic; a mid-block first boundary means the spanning
    * record belongs to the previous chunk).
    */
  private def resyncOffset(raf: java.io.RandomAccessFile, blockOff: Long, nRef: Int): Option[Int] = {
    val bufs = ArrayBuffer.empty[Array[Byte]]
    var off = blockOff
    var total = 0
    var firstLen = -1
    var done = false
    while (!done && total < (1 << 20)) {
      inflateBlockAt(raf, off) match {
        case Some((data, nx)) =>
          if (firstLen < 0) firstLen = data.length
          bufs += data; total += data.length
          if (nx + 28 > raf.length()) done = true else off = nx
        case None => done = true
      }
    }
    if (firstLen <= 0) return None
    val buf = Array.concat(bufs.toSeq: _*)
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)

    def fixedOk(p: Int, bs: Int): Boolean = {
      val refId = bb.getInt(p)
      val pos = bb.getInt(p + 4)
      val lName = bb.get(p + 8) & 0xff
      val nCig = bb.getShort(p + 12) & 0xffff
      val lSeq = bb.getInt(p + 16)
      val nref2 = bb.getInt(p + 20)
      val npos = bb.getInt(p + 24)
      refId >= -1 && refId < nRef && pos >= -1 && lName >= 1 &&
        lSeq >= 0 && nref2 >= -1 && nref2 < nRef && npos >= -1 &&
        32 + lName + 4 * nCig + (lSeq + 1) / 2 + lSeq <= bs
    }
    def chainOk(c0: Int): Boolean = {
      var c = c0
      var checked = 0
      while (checked < 3) {
        if (c == buf.length) return true // clean end of lookahead
        if (c + 36 > buf.length) return checked > 0
        val bs = bb.getInt(c)
        if (bs < 32 || bs > (1 << 22)) return false
        if (!fixedOk(c + 4, bs)) return false
        if (c + 4 + bs > buf.length) return true // body past lookahead, fixed fields valid
        c += 4 + bs
        checked += 1
      }
      true
    }
    (0 until firstLen).find(chainOk)
  }

  /** Records of one [start, end) byte chunk of a .bam file. The first
    * chunk decodes straight after the header; later chunks find their
    * first block by magic scan and their first record by chained
    * structural validation. Every task re-parses the (small, page-cached)
    * header for the reference dictionary and sample id.
    */
  private[sources] def chunkReads(path: String, start: Long, end: Long, defaultSample: String): Iterator[Read] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    // a consumer that stops early (limit/take over the scan) never drains
    // the iterator, so the drain-close below would leak the handle for the
    // task's lifetime — the completion listener closes it regardless
    // (close is idempotent); the drain-close remains for driver-side use
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => raf.close()))
    def closing(it: Iterator[Read]): Iterator[Read] = new Iterator[Read] {
      private var open = true
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && open) { open = false; raf.close() }
        h
      }
      override def next(): Read = it.next()
    }
    val headerStream = new BlockStream(raf, 0)
    val (refs, sample) = parseHeader(headerStream, defaultSample)
    if (start == 0)
      closing(recordIterator(headerStream, refs, sample, () => headerStream.owningBlock < end))
    else {
      val positioned = for {
        fb <- findBlock(raf, start, end)
        skip <- resyncOffset(raf, fb, refs.size)
      } yield {
        val bs = new BlockStream(raf, fb)
        bs.startAt(skip)
        recordIterator(bs, refs, sample, () => bs.owningBlock < end)
      }
      positioned match {
        case Some(it) => closing(it)
        case None     => raf.close(); Iterator.empty
      }
    }
  }

  /** Distributed scan: files split into `splitSize`-byte chunks, each
    * task decoding the records that start in its chunk's BGZF blocks --
    * one 300 GB BAM parallelizes across ~5000 tasks without a .bai index
    * (GA4GH-style chunking: block starts recovered by magic scan +
    * inflate/CRC validation, record starts by chained structural
    * validation; provably-once because every block offset belongs to
    * exactly one chunk).
    */
  def read(spark: SparkSession, path: String, defaultSample: String = SamFormat.DefaultSample,
      splitSize: Long = 64L << 20): Dataset[Read] = {
    import spark.implicits._
    val chunks = SamFormat.inputFiles(path, ".bam").flatMap { f =>
      val len = new java.io.File(f).length()
      (0L until len by splitSize).map(s => (f, s, math.min(s + splitSize, len)))
    }
    SamFormat.scanSplits(spark, chunks) { case (f, s, e) => chunkReads(f, s, e, defaultSample) }
  }

  // ---- encode ----------------------------------------------------------

  /** One BGZF block: gzip member with the BC/BSIZE extra subfield. */
  private def bgzfBlock(data: Array[Byte], len: Int): Array[Byte] = {
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(data, 0, len)
    deflater.finish()
    // worst-case raw-deflate expansion bound
    val comp = new Array[Byte](len + len / 16 + 64)
    var compLen = 0
    while (!deflater.finished())
      compLen += deflater.deflate(comp, compLen, comp.length - compLen)
    deflater.end()
    val crc = new CRC32
    crc.update(data, 0, len)
    val bsize = compLen + 25 // total block size - 1 = 12+6+payload+8 - 1
    val out = ByteBuffer.allocate(compLen + 26).order(ByteOrder.LITTLE_ENDIAN)
    out.put(0x1f.toByte).put(0x8b.toByte).put(8.toByte).put(4.toByte) // gzip + FEXTRA
    out.putInt(0).put(0.toByte).put(0xff.toByte) // mtime, xfl, os
    out.putShort(6.toShort) // xlen
    out.put('B'.toByte).put('C'.toByte).putShort(2.toShort).putShort(bsize.toShort)
    out.put(comp, 0, compLen)
    out.putInt(crc.getValue.toInt)
    out.putInt(len)
    out.array()
  }

  /** The fixed 28-byte BGZF EOF marker block. */
  private val EofBlock: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** Write reads as a single local .bam (fixtures / small outputs; a
    * distributed sink would shard this per partition).
    */
  def write(reads: Seq[Read], path: String, sample: String = SamFormat.DefaultSample): Unit = {
    // an unplaced read (contig `*`) gets no @SQ line and refID -1
    val contigs = SamFormat.contigLengths(reads)
    val refIdx = contigs.map(_._1).zipWithIndex.toMap.withDefaultValue(-1)

    val payload = new ByteArrayOutputStream()
    val d = new DataOutputStream(payload)
    def putIntLe(v: Int): Unit = {
      d.write(v & 0xff); d.write((v >> 8) & 0xff); d.write((v >> 16) & 0xff); d.write((v >> 24) & 0xff)
    }
    d.write(Magic)
    val ht = SamFormat.headerText(contigs, sample).getBytes(ISO_8859_1)
    putIntLe(ht.length); d.write(ht)
    putIntLe(contigs.size)
    contigs.foreach { case (name, len) =>
      val nb = (name + "\u0000").getBytes(ISO_8859_1)
      putIntLe(nb.length); d.write(nb)
      putIntLe(len.toInt)
    }
    reads.foreach { r =>
      val rec = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
      val cigar = AlignmentOps.cigarOps(r.cigar)
      rec.putInt(refIdx(r.contigName))
      rec.putInt(r.start.toInt)
      val nameBytes = (r.readName + "\u0000").getBytes("ISO-8859-1")
      rec.put(nameBytes.length.toByte)
      rec.put(r.mapq.toByte)
      rec.putShort(0.toShort) // bin (unused by this decoder)
      rec.putShort(cigar.size.toShort)
      rec.putShort(SamFormat.flag(r).toShort)
      rec.putInt(r.sequence.length)
      rec.putInt(r.mateContigName.flatMap(refIdx.get).getOrElse(-1))
      rec.putInt(r.mateStart.map(_.toInt).getOrElse(-1))
      rec.putInt(0) // tlen
      rec.put(nameBytes)
      cigar.foreach { case (n, op) => rec.putInt((n << 4) | CigarOps.indexOf(op)) }
      var i = 0
      while (i < r.sequence.length) {
        val hi = SeqCode.indexOf(r.sequence.charAt(i)) max 0
        val lo = if (i + 1 < r.sequence.length) SeqCode.indexOf(r.sequence.charAt(i + 1)) max 0 else 0
        rec.put(((hi << 4) | lo).toByte)
        i += 2
      }
      if (r.qual == "*") (0 until r.sequence.length).foreach(_ => rec.put(0xff.toByte))
      else r.qual.foreach(q => rec.put((q - 33).toByte))
      if (r.mdTag.nonEmpty) {
        rec.put('M'.toByte).put('D'.toByte).put('Z'.toByte)
        rec.put((r.mdTag + "\u0000").getBytes("ISO-8859-1"))
      }
      putIntLe(rec.position())
      d.write(rec.array(), 0, rec.position())
    }
    d.flush()

    val bytes = payload.toByteArray
    val out = new FileOutputStream(path)
    try {
      var off = 0
      val chunk = 60000
      while (off < bytes.length) {
        val n = math.min(chunk, bytes.length - off)
        val block = new Array[Byte](n)
        System.arraycopy(bytes, off, block, 0, n)
        out.write(bgzfBlock(block, n))
        off += n
      }
      out.write(EofBlock)
    } finally out.close()
  }
}

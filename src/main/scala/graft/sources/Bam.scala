package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.{BufferedInputStream, ByteArrayOutputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater, GZIPInputStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

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
  private val CigarOps = "MIDNSHP=X"

  private val FlagPaired = 0x1
  private val FlagUnmapped = 0x4
  private val FlagMateUnmapped = 0x8
  private val FlagReverse = 0x10
  private val FlagSecondary = 0x100
  private val FlagDuplicate = 0x400
  private val FlagSupplementary = 0x800

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

  /** Parse the BAM header from a decompressed stream: (reference names,
    * sample id from the first @RG SM:, falling back to `defaultSample`).
    * Consumes exactly the header bytes.
    */
  private def parseHeader(in: InputStream, defaultSample: String): (IndexedSeq[String], String) = {
    val magic = readFully(in, 4)
    require(magic.sameElements("BAM".getBytes("ISO-8859-1")), "not a BAM stream")
    val lText = le(readFully(in, 4)).getInt
    val headerText = new String(readFully(in, lText), "ISO-8859-1")
    val sample = headerText.linesIterator
      .find(_.startsWith("@RG"))
      .flatMap(_.split("\t").find(_.startsWith("SM:")).map(_.substring(3)))
      .getOrElse(defaultSample)
    val nRef = le(readFully(in, 4)).getInt
    val refs = (0 until nRef).map { _ =>
      val lName = le(readFully(in, 4)).getInt
      val name = new String(readFully(in, lName), "ISO-8859-1").stripSuffix("\u0000")
      readFully(in, 4) // l_ref, unused
      name
    }
    (refs, sample)
  }

  /** Decode one record body (everything after the 4-byte block_size). */
  private def decodeRecord(b: ByteBuffer, refs: IndexedSeq[String], sample: String): Option[Read] =
    Try {
          val refId = b.getInt
          val pos = b.getInt
          val lReadName = b.get() & 0xff
          val mapq = b.get() & 0xff
          b.getShort // bin
          val nCigar = b.getShort & 0xffff
          val flag = b.getShort & 0xffff
          val lSeq = b.getInt
          val nextRefId = b.getInt
          val nextPos = b.getInt
          b.getInt // tlen
          val nameBytes = new Array[Byte](lReadName)
          b.get(nameBytes)
          val readName = new String(nameBytes, 0, lReadName - 1, "ISO-8859-1")
          val cigar = (0 until nCigar).map { _ =>
            val v = b.getInt
            (v >>> 4, CigarOps((v & 0xf)))
          }
          val seqBytes = new Array[Byte]((lSeq + 1) / 2)
          b.get(seqBytes)
          val seq = new StringBuilder(lSeq)
          var i = 0
          while (i < lSeq) {
            val byte = seqBytes(i / 2) & 0xff
            seq.append(SeqCode(if (i % 2 == 0) byte >>> 4 else byte & 0xf))
            i += 1
          }
          val qualBytes = new Array[Byte](lSeq)
          b.get(qualBytes)
          val qual =
            if (lSeq > 0 && (qualBytes(0) & 0xff) == 0xff) "*"
            else qualBytes.map(q => (q + 33).toChar).mkString
          // tags: find MD (type Z)
          var md = ""
          while (b.remaining() > 0) {
            val tag = s"${b.get().toChar}${b.get().toChar}"
            val tpe = b.get().toChar
            tpe match {
              case 'A'       => b.get()
              case 'c' | 'C' => b.get()
              case 's' | 'S' => b.getShort
              case 'i' | 'I' => b.getInt
              case 'f'       => b.getFloat
              case 'Z' | 'H' =>
                val sb = new StringBuilder
                var c = b.get()
                while (c != 0) { sb.append(c.toChar); c = b.get() }
                if (tag == "MD" && tpe == 'Z') md = sb.toString
              case 'B' =>
                val elemType = b.get().toChar
                val n = b.getInt
                val width = elemType match {
                  case 'c' | 'C' => 1
                  case 's' | 'S' => 2
                  case _         => 4
                }
                b.position(b.position() + n * width)
              case _ => b.position(b.limit()) // unknown: stop tag walk
            }
          }
          val cigarStr =
            if (cigar.isEmpty) "*" else cigar.map { case (n, op) => s"$n$op" }.mkString
          val start = pos.toLong
          val paired = (flag & FlagPaired) != 0
          Read(
            readName = readName,
            contigName = if (refId >= 0 && refId < refs.size) refs(refId) else "*",
            start = start,
            end = start + AlignmentOps.cigarRefLength(cigar),
            sequence = seq.toString,
            qual = qual,
            cigar = cigarStr,
            mdTag = md,
            mapq = mapq,
            readMapped = (flag & FlagUnmapped) == 0,
            readNegativeStrand = (flag & FlagReverse) != 0,
            duplicateRead = (flag & FlagDuplicate) != 0,
            primaryAlignment = (flag & (FlagSecondary | FlagSupplementary)) == 0,
            sampleId = sample,
            mateContigName =
              if (paired && nextRefId >= 0 && nextRefId < refs.size) Some(refs(nextRefId))
              else None,
            mateStart = if (paired && nextPos >= 0) Some(nextPos.toLong) else None,
            mateMapped = paired && (flag & FlagMateUnmapped) == 0)
    }.toOption

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
        val sizeBytes = new Array[Byte](4)
        val first = in.read()
        if (first < 0) { done = true; return None }
        sizeBytes(0) = first.toByte
        System.arraycopy(readFully(in, 3), 0, sizeBytes, 1, 3)
        val blockSize = le(sizeBytes).getInt
        val b = le(readFully(in, blockSize))
        decodeRecord(b, refs, sample)
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
  def decode(raw: InputStream, defaultSample: String = "sample"): Iterator[Read] = {
    val in = new GZIPInputStream(new BufferedInputStream(raw), 1 << 16)
    val (refs, sample) = parseHeader(in, defaultSample)
    recordIterator(in, refs, sample, () => true)
  }

  /** Decode one local .bam file. */
  def readLocal(path: String, defaultSample: String = "sample"): Seq[Read] = {
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
  def read(spark: SparkSession, path: String, defaultSample: String = "sample",
      splitSize: Long = 64L << 20): Dataset[Read] = {
    import spark.implicits._
    val files: Seq[String] = {
      val p = new java.io.File(path)
      if (p.isDirectory) p.listFiles().filter(_.getName.endsWith(".bam")).map(_.getPath).sorted.toSeq
      else Seq(path)
    }
    val chunks: Seq[(String, Long, Long)] = files.flatMap { f =>
      val len = new java.io.File(f).length()
      (0L until len by splitSize).map(s => (f, s, math.min(s + splitSize, len)))
    }
    spark.createDataset(chunks)
      .repartition(chunks.size)
      .flatMap { case (f, s, e) => chunkReads(f, s, e, defaultSample) }
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
  def write(reads: Seq[Read], path: String, sample: String = "sample"): Unit = {
    val refs = reads.map(_.contigName).distinct.sorted
    val refIdx = refs.zipWithIndex.toMap
    val refLen = reads.groupBy(_.contigName).view.mapValues(_.map(_.end).max + 1000).toMap

    val payload = new ByteArrayOutputStream()
    val d = new DataOutputStream(payload)
    def putIntLe(v: Int): Unit = {
      d.write(v & 0xff); d.write((v >> 8) & 0xff); d.write((v >> 16) & 0xff); d.write((v >> 24) & 0xff)
    }
    d.write("BAM".getBytes("ISO-8859-1"))
    val headerText = (Seq("@HD\tVN:1.6\tSO:coordinate") ++
      refs.map(r => s"@SQ\tSN:$r\tLN:${refLen(r)}") ++
      Seq(s"@RG\tID:rg1\tSM:$sample")).mkString("", "\n", "\n")
    val ht = headerText.getBytes("ISO-8859-1")
    putIntLe(ht.length); d.write(ht)
    putIntLe(refs.size)
    refs.foreach { r =>
      val nb = (r + "\u0000").getBytes("ISO-8859-1")
      putIntLe(nb.length); d.write(nb)
      putIntLe(refLen(r).toInt)
    }
    reads.foreach { r =>
      val rec = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
      val cigar = AlignmentOps.cigarOps(r.cigar)
      var flag = 0
      if (!r.readMapped) flag |= FlagUnmapped
      if (r.readNegativeStrand) flag |= FlagReverse
      if (r.duplicateRead) flag |= FlagDuplicate
      if (!r.primaryAlignment) flag |= FlagSecondary
      val paired = r.mateContigName.isDefined || r.mateStart.isDefined
      if (paired) {
        flag |= FlagPaired
        if (!r.mateMapped) flag |= FlagMateUnmapped
      }
      rec.putInt(refIdx(r.contigName))
      rec.putInt(r.start.toInt)
      val nameBytes = (r.readName + "\u0000").getBytes("ISO-8859-1")
      rec.put(nameBytes.length.toByte)
      rec.put(r.mapq.toByte)
      rec.putShort(0.toShort) // bin (unused by this decoder)
      rec.putShort(cigar.size.toShort)
      rec.putShort(flag.toShort)
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

package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, RandomAccessFile}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.collection.mutable.ArrayBuffer

/** CRAM 3.0 source/sink in pure JDK (SURVEY.md S1 — the reference
  * accepts CRAM via htsjdk `sc.loadAlignments`,
  * avocado-cli/.../BiallelicGenotyper.scala:218-222). Implemented from
  * the public GA4GH CRAM 3.0 specification; no code is shared with
  * htsjdk/htslib (which are not present in this build).
  *
  * Coverage:
  *  - containers / slices / blocks with raw, gzip and rANS-4x8
  *    compression (bzip2/lzma fail fast with a clear message — the JDK
  *    has no codec and htsjdk's writer defaults never emit them);
  *  - record codecs EXTERNAL, HUFFMAN (canonical), BETA, GAMMA,
  *    BYTE_ARRAY_STOP, BYTE_ARRAY_LEN;
  *  - reference-based reads via an embedded-reference slice block or an
  *    external FASTA, and referenceless (RR=false) reads;
  *  - substitution-matrix decode, feature→CIGAR reconstruction, MD
  *    recomputation from the reference walk (or the MD:Z tag), detached
  *    and downstream-mate resolution.
  *
  * Scan model: CRAM containers are self-contained (each carries its own
  * compression header), so the distributed read lists container offsets
  * with a cheap header-walk on the driver (reads only headers, skips
  * payloads) and fans the (file, offset) list out — a 300 GB CRAM with
  * ~10k containers parallelizes across ~10k tasks with no .crai index.
  */
object Cram {

  import CramCodec._
  import SamFormat.{FlagMateUnmapped, FlagUnmapped}

  // CRAM record (CF) bits
  private val CfQualsPreserved = 0x1
  private val CfDetached = 0x2
  private val CfMateDownstream = 0x4
  private val CfUnknownBases = 0x8

  // mate (MF) bit; its mate-strand bit 0x1 has no Read field
  private val MfMateUnmapped = 0x2

  private val EofStart = 4542278 // ITF-8 payload spelling "EOF"

  // ---- encodings --------------------------------------------------------

  /** A parsed encoding spec: codec id 1=EXTERNAL 3=HUFFMAN
    * 4=BYTE_ARRAY_LEN 5=BYTE_ARRAY_STOP 6=BETA 9=GAMMA (the set the CRAM
    * ecosystem actually writes; GOLOMB/SUBEXP fail fast).
    */
  private case class Encoding(codec: Int, params: Array[Byte])

  private def readEncoding(c: ByteCursor): Encoding = {
    val codec = readItf8(c)
    val len = readItf8(c)
    Encoding(codec, c.bytes(len))
  }

  /** Per-slice decode state: the core bit stream plus one cursor per
    * external block (all value reads are sequential within a block).
    */
  private final class SliceStreams(val core: BitReader, val ext: Map[Int, ByteCursor]) {
    def cursor(id: Int): ByteCursor =
      ext.getOrElse(id, throw new IllegalStateException(s"missing external block $id"))
  }

  private type IntReader = SliceStreams => Int
  private type ArrReader = SliceStreams => Array[Byte]

  /** Build an int-valued reader (EXTERNAL = ITF-8 ints). */
  private def intReader(e: Encoding, name: String): IntReader = e.codec match {
    case 1 =>
      val id = readItf8(new ByteCursor(e.params))
      st => readItf8(st.cursor(id))
    case 3 =>
      val c = new ByteCursor(e.params)
      val alpha = Array.fill(readItf8(c))(readItf8(c))
      val lens = Array.fill(readItf8(c))(readItf8(c))
      val huf = new Huffman(alpha, lens)
      st => huf.decode(st.core)
    case 6 =>
      val c = new ByteCursor(e.params)
      val offset = readItf8(c)
      val bits = readItf8(c)
      st => st.core.readBits(bits) - offset
    case 9 =>
      val c = new ByteCursor(e.params)
      val offset = readItf8(c)
      st => {
        var z = 0
        while (st.core.readBit() == 0) z += 1
        ((1 << z) | st.core.readBits(z)) - offset
      }
    case 0 => _ => throw new IllegalStateException(s"series $name uses the NULL codec")
    case other => throw new UnsupportedOperationException(
      s"CRAM codec id $other for series $name not supported (GOLOMB/SUBEXP are never " +
        "written by htsjdk/htslib; file an issue with a sample file)")
  }

  /** Build a byte-valued reader (EXTERNAL = one raw byte). */
  private def byteReader(e: Encoding, name: String): IntReader = e.codec match {
    case 1 =>
      val id = readItf8(new ByteCursor(e.params))
      st => st.cursor(id).u8()
    case _ => intReader(e, name) // bit codecs read ints either way
  }

  /** Build a byte-array reader (BYTE_ARRAY_STOP / BYTE_ARRAY_LEN). */
  private def arrReader(e: Encoding, name: String): ArrReader = e.codec match {
    case 5 =>
      val c = new ByteCursor(e.params)
      val stop = c.u8()
      val id = readItf8(c)
      st => {
        val cur = st.cursor(id)
        val from = cur.pos
        while (cur.u8() != stop) {}
        java.util.Arrays.copyOfRange(cur.buf, from, cur.pos - 1)
      }
    case 4 =>
      val c = new ByteCursor(e.params)
      val lenEnc = readEncoding(c)
      val valEnc = readEncoding(c)
      val readLen = intReader(lenEnc, s"$name.len")
      valEnc.codec match {
        case 1 => // n raw bytes from the external block
          val id = readItf8(new ByteCursor(valEnc.params))
          st => st.cursor(id).bytes(readLen(st))
        case _ =>
          val rb = byteReader(valEnc, s"$name.val")
          st => {
            val n = readLen(st)
            val out = new Array[Byte](n)
            var i = 0
            while (i < n) { out(i) = rb(st).toByte; i += 1 }
            out
          }
      }
    case other => throw new UnsupportedOperationException(
      s"CRAM codec id $other for byte-array series $name not supported")
  }

  // ---- substitution matrix (SM) -----------------------------------------

  /** 5-byte substitution matrix: row per reference base ACGTN; each row
    * packs 2-bit codes for the other four bases in ACGTN order, MSB
    * first.
    */
  private final class SubMatrix(bytes: Array[Byte]) {
    private val refOrder = "ACGTN"
    private def row(r: Char): Int = {
      val i = refOrder.indexOf(Character.toUpperCase(r))
      if (i < 0) 4 else i
    }
    private def others(r: Int): String = refOrder.filter(_ != refOrder(r))

    def substitute(refBase: Char, code: Int): Char = {
      val r = row(refBase)
      val o = others(r)
      var k = 0
      while (k < 4) {
        if (((bytes(r) >> (6 - 2 * k)) & 3) == code) return o(k)
        k += 1
      }
      'N'
    }

    def codeFor(refBase: Char, readBase: Char): Int = {
      val r = row(refBase)
      val o = others(r)
      val k = o.indexOf(Character.toUpperCase(readBase))
      require(k >= 0, s"no substitution code for ref=$refBase read=$readBase")
      (bytes(r) >> (6 - 2 * k)) & 3
    }
  }

  // ---- compression header -----------------------------------------------

  private case class CompHeader(
      rnPreserved: Boolean,
      apDelta: Boolean,
      refRequired: Boolean,
      subs: SubMatrix,
      tagLines: IndexedSeq[Seq[(String, Char)]],
      series: Map[String, Encoding],
      tagEnc: Map[Int, Encoding])

  private def parseCompHeader(data: Array[Byte]): CompHeader = {
    val c = new ByteCursor(data)
    // preservation map
    readItf8(c) // byte size (redundant with entry walk)
    var rn = true; var ap = true; var rr = true
    var sm = new SubMatrix(Array.fill(5)(0x1b.toByte))
    var td: IndexedSeq[Seq[(String, Char)]] = IndexedSeq(Seq.empty)
    val nPres = readItf8(c)
    var i = 0
    while (i < nPres) {
      val key = new String(c.bytes(2), "ISO-8859-1")
      key match {
        case "RN" => rn = c.u8() != 0
        case "AP" => ap = c.u8() != 0
        case "RR" => rr = c.u8() != 0
        case "SM" => sm = new SubMatrix(c.bytes(5))
        case "TD" =>
          val len = readItf8(c)
          val bytes = c.bytes(len)
          // NUL-terminated lines of (tag, tag, type) byte triplets
          val lines = ArrayBuffer.empty[Seq[(String, Char)]]
          var p = 0
          var start = 0
          while (p < bytes.length) {
            if (bytes(p) == 0) {
              val line = ArrayBuffer.empty[(String, Char)]
              var q = start
              while (q + 3 <= p) {
                line += ((new String(bytes, q, 2, "ISO-8859-1"), bytes(q + 2).toChar))
                q += 3
              }
              lines += line.toSeq
              start = p + 1
            }
            p += 1
          }
          td = if (lines.isEmpty) IndexedSeq(Seq.empty) else lines.toIndexedSeq
        case other => throw new UnsupportedOperationException(s"preservation key $other")
      }
      i += 1
    }
    // data series encoding map
    readItf8(c)
    val nSeries = readItf8(c)
    val series = (0 until nSeries).map { _ =>
      val key = new String(c.bytes(2), "ISO-8859-1")
      key -> readEncoding(c)
    }.toMap
    // tag encoding map
    readItf8(c)
    val nTags = readItf8(c)
    val tags = (0 until nTags).map { _ =>
      val key = readItf8(c)
      key -> readEncoding(c)
    }.toMap
    CompHeader(rn, ap, rr, sm, td, series, tags)
  }

  // ---- blocks / containers ----------------------------------------------

  private case class Block(method: Int, contentType: Int, contentId: Int, data: Array[Byte])

  private def readBlock(c: ByteCursor): Block = {
    val method = c.u8()
    val contentType = c.u8()
    val contentId = readItf8(c)
    val compSize = readItf8(c)
    val rawSize = readItf8(c)
    val comp = c.bytes(compSize)
    c.bytes(4) // block CRC32 (writer computes it; reads stay permissive)
    val data = method match {
      case 0 => comp
      case 1 =>
        val in = new GZIPInputStream(new ByteArrayInputStream(comp))
        val out = new Array[Byte](rawSize)
        var off = 0
        while (off < rawSize) {
          val r = in.read(out, off, rawSize - off)
          require(r >= 0, "gzip block truncated")
          off += r
        }
        out
      case 4 => ransDecompress(comp)
      case 2 => throw new UnsupportedOperationException(
        "CRAM block compressed with bzip2: no JDK codec (re-write with gzip/rans, " +
          "e.g. samtools view -O cram,seqs_per_slice=10000)")
      case 3 => throw new UnsupportedOperationException("CRAM block compressed with lzma: no JDK codec")
      case other => throw new UnsupportedOperationException(s"CRAM block compression method $other")
    }
    require(data.length == rawSize, s"block inflated to ${data.length}, expected $rawSize")
    Block(method, contentType, contentId, data)
  }

  private case class ContainerHeader(
      length: Int, refSeqId: Int, start: Int, span: Int, nRecords: Int,
      counter: Long, bases: Long, nBlocks: Int, landmarks: Array[Int],
      headerSize: Int)

  private def parseContainerHeader(c: ByteCursor): ContainerHeader = {
    val p0 = c.pos
    val length = readInt32Le(c)
    val refSeqId = readItf8(c)
    val start = readItf8(c)
    val span = readItf8(c)
    val nRecords = readItf8(c)
    val counter = readLtf8(c)
    val bases = readLtf8(c)
    val nBlocks = readItf8(c)
    val landmarks = Array.fill(readItf8(c))(readItf8(c))
    c.bytes(4) // header CRC32
    ContainerHeader(length, refSeqId, start, span, nRecords, counter, bases,
      nBlocks, landmarks, c.pos - p0)
  }

  private def isEof(h: ContainerHeader): Boolean =
    h.refSeqId == -1 && h.start == EofStart && h.nRecords == 0

  // ---- slice header -------------------------------------------------------

  private case class SliceHeader(
      refSeqId: Int, start: Int, span: Int, nRecords: Int, counter: Long,
      nBlocks: Int, contentIds: Array[Int], embeddedRefId: Int)

  private def parseSliceHeader(data: Array[Byte]): SliceHeader = {
    val c = new ByteCursor(data)
    val refSeqId = readItf8(c)
    val start = readItf8(c)
    val span = readItf8(c)
    val nRecords = readItf8(c)
    val counter = readLtf8(c)
    val nBlocks = readItf8(c)
    val ids = Array.fill(readItf8(c))(readItf8(c))
    val embedded = readItf8(c)
    // 16-byte reference md5 + optional tags follow; decode doesn't need them
    SliceHeader(refSeqId, start, span, nRecords, counter, nBlocks, ids, embedded)
  }

  // ---- reference lookup ---------------------------------------------------

  /** (0-based position, length) → uppercase reference bases, or None when
    * no reference is available (referenceless CRAM).
    */
  private type RefSlice = (Int, Long, Int) => Option[Array[Byte]]

  private val fastaCache = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Array[Byte]]]()

  /** Whole-FASTA load, cached per JVM. Fine for the fixture/test scale;
    * at production scale swap for a 2-bit-packed broadcast or an indexed
    * (.fai) region reader — the call site only needs the (pos, len)
    * slice interface.
    */
  def loadFasta(path: String): Map[String, Array[Byte]] =
    fastaCache.computeIfAbsent(path, p => {
      val src = scala.io.Source.fromFile(p, "ISO-8859-1")
      try {
        val contigs = ArrayBuffer.empty[(String, Array[Byte])]
        var name: String = null
        val cur = new ByteArrayOutputStream()
        for (line <- src.getLines()) {
          if (line.startsWith(">")) {
            if (name != null) contigs += ((name, cur.toByteArray))
            name = line.substring(1).trim.split("\\s+")(0)
            cur.reset()
          } else cur.write(line.trim.toUpperCase.getBytes("ISO-8859-1"))
        }
        if (name != null) contigs += ((name, cur.toByteArray))
        contigs.toMap
      } finally src.close()
    })

  // ---- record decode ------------------------------------------------------

  private case class Feature(code: Char, pos: Int, len: Int, bytes: Array[Byte])

  /** Mutable pre-Read record (mates resolve after the whole slice). */
  private final class Rec {
    var bf = 0; var cf = 0; var refId = 0; var rl = 0; var ap = 0; var rg = -1
    var name: String = ""
    var mateRefId = -2; var matePos = 0; var mateFlags = -1; var nf = -1
    var tags: Seq[(String, Char, Array[Byte])] = Nil
    var features: Seq[Feature] = Nil
    var mq = 0
    var bases: Array[Byte] = null
    var quals: Array[Byte] = null
  }

  /** Decode every record in a slice. `refs` comes from the SAM header's
    * @SQ lines (CRAM has no binary reference list of its own).
    */
  private def decodeSlice(
      hdr: CompHeader,
      slice: SliceHeader,
      blocks: Seq[Block],
      refs: IndexedSeq[String],
      rgSamples: IndexedSeq[String],
      defaultSample: String,
      fasta: Option[String]): Seq[Read] = {

    val core = blocks.find(_.contentType == 5).map(b => new BitReader(b.data))
      .getOrElse(new BitReader(Array.empty))
    val ext = blocks.filter(_.contentType == 4).map(b => b.contentId -> new ByteCursor(b.data)).toMap
    val st = new SliceStreams(core, ext)

    def ir(key: String): IntReader =
      hdr.series.get(key).map(intReader(_, key)).getOrElse(
        _ => throw new IllegalStateException(s"data series $key has no encoding"))
    def br(key: String): IntReader =
      hdr.series.get(key).map(byteReader(_, key)).getOrElse(
        _ => throw new IllegalStateException(s"data series $key has no encoding"))
    def ar(key: String): ArrReader =
      hdr.series.get(key).map(arrReader(_, key)).getOrElse(
        _ => throw new IllegalStateException(s"data series $key has no encoding"))

    val bfR = ir("BF"); val cfR = ir("CF")
    val riR = if (slice.refSeqId == -2) Some(ir("RI")) else None
    val rlR = ir("RL"); val apR = ir("AP"); val rgR = ir("RG")
    lazy val rnR = ar("RN")
    lazy val mfR = ir("MF"); lazy val nsR = ir("NS"); lazy val npR = ir("NP"); lazy val tsR = ir("TS")
    lazy val nfR = ir("NF")
    val tlR = ir("TL")
    lazy val fnR = ir("FN"); lazy val fcR = br("FC"); lazy val fpR = ir("FP")
    lazy val dlR = ir("DL"); lazy val rsR = ir("RS"); lazy val pdR = ir("PD"); lazy val hcR = ir("HC")
    lazy val bsR = br("BS"); lazy val baR = br("BA"); lazy val qsR = br("QS")
    lazy val bbR = ar("BB"); lazy val qqR = ar("QQ"); lazy val inR = ar("IN"); lazy val scR = ar("SC")
    lazy val mqR = ir("MQ")
    val tagReaders: Map[Int, ArrReader] = hdr.tagEnc.map { case (k, e) => k -> arrReader(e, s"tag$k") }

    val recs = new Array[Rec](slice.nRecords)
    var prevAp = slice.start
    var i = 0
    while (i < slice.nRecords) {
      val r = new Rec
      r.bf = bfR(st)
      r.cf = cfR(st)
      r.refId = riR.map(_(st)).getOrElse(slice.refSeqId)
      r.rl = rlR(st)
      r.ap = if (hdr.apDelta) { prevAp += apR(st); prevAp } else apR(st)
      r.rg = rgR(st)
      if (hdr.rnPreserved) r.name = new String(rnR(st), "ISO-8859-1")
      if ((r.cf & CfDetached) != 0) {
        r.mateFlags = mfR(st)
        if (!hdr.rnPreserved) r.name = new String(rnR(st), "ISO-8859-1")
        r.mateRefId = nsR(st)
        r.matePos = npR(st)
        tsR(st) // template size: not part of the Read model
      } else if ((r.cf & CfMateDownstream) != 0) {
        r.nf = nfR(st)
      }
      val tl = tlR(st)
      val line = hdr.tagLines(math.min(tl, hdr.tagLines.size - 1))
      r.tags = line.map { case (tag, tpe) =>
        val key = ((tag.charAt(0) & 0xff) << 16) | ((tag.charAt(1) & 0xff) << 8) | (tpe & 0xff)
        val bytes = tagReaders.getOrElse(key,
          throw new IllegalStateException(s"tag $tag:$tpe has no encoding"))(st)
        (tag, tpe, bytes)
      }
      if ((r.bf & FlagUnmapped) == 0) {
        val fn = fnR(st)
        var p = 0
        val feats = new Array[Feature](fn)
        var k = 0
        while (k < fn) {
          val code = fcR(st).toChar
          p += fpR(st)
          feats(k) = code match {
            case 'B' => Feature('B', p, 1, Array(baR(st).toByte, qsR(st).toByte))
            case 'X' => Feature('X', p, bsR(st), null)
            case 'I' => { val b = inR(st); Feature('I', p, b.length, b) }
            case 'S' => { val b = scR(st); Feature('S', p, b.length, b) }
            case 'i' => Feature('i', p, 1, Array(baR(st).toByte))
            case 'b' => { val b = bbR(st); Feature('b', p, b.length, b) }
            case 'q' => { val b = qqR(st); Feature('q', p, b.length, b) }
            case 'Q' => Feature('Q', p, 1, Array(qsR(st).toByte))
            case 'D' => Feature('D', p, dlR(st), null)
            case 'N' => Feature('N', p, rsR(st), null)
            case 'P' => Feature('P', p, pdR(st), null)
            case 'H' => Feature('H', p, hcR(st), null)
            case other => throw new UnsupportedOperationException(s"feature code '$other'")
          }
          k += 1
        }
        r.features = feats.toSeq
        r.mq = mqR(st)
        if ((r.cf & CfQualsPreserved) != 0) {
          r.quals = new Array[Byte](r.rl)
          var q = 0
          while (q < r.rl) { r.quals(q) = qsR(st).toByte; q += 1 }
        }
      } else {
        if ((r.cf & CfUnknownBases) == 0) {
          r.bases = new Array[Byte](r.rl)
          var q = 0
          while (q < r.rl) { r.bases(q) = baR(st).toByte; q += 1 }
        }
        if ((r.cf & CfQualsPreserved) != 0) {
          r.quals = new Array[Byte](r.rl)
          var q = 0
          while (q < r.rl) { r.quals(q) = qsR(st).toByte; q += 1 }
        }
      }
      recs(i) = r
      i += 1
    }

    // mate resolution: downstream links within the slice
    i = 0
    while (i < recs.length) {
      val r = recs(i)
      if (r.nf >= 0) {
        val j = i + r.nf + 1
        if (j < recs.length) {
          val m = recs(j)
          r.mateRefId = m.refId; r.matePos = m.ap
          r.mateFlags = if ((m.bf & FlagUnmapped) != 0) MfMateUnmapped else 0
          if (m.mateRefId == -2 && m.nf < 0) {
            m.mateRefId = r.refId; m.matePos = r.ap
            m.mateFlags = if ((r.bf & FlagUnmapped) != 0) MfMateUnmapped else 0
          }
        }
      }
      i += 1
    }

    // reference access for this slice; the RR gate fires on first USE so
    // slices that never touch the reference (all-unmapped) decode freely
    val embedded = if (slice.embeddedRefId >= 0) ext.get(slice.embeddedRefId).map(_.buf) else None
    val refSlice: RefSlice = (refId, pos0, len) => {
      val got = embedded match {
        case Some(arr) =>
          val off = (pos0 - (slice.start - 1)).toInt
          if (off >= 0 && off + len <= arr.length)
            Some(java.util.Arrays.copyOfRange(arr, off, off + len))
          else None
        case None =>
          fasta.flatMap { path =>
            val contigs = loadFasta(path)
            if (refId >= 0 && refId < refs.size) contigs.get(refs(refId)).flatMap { arr =>
              if (pos0 >= 0 && pos0 + len <= arr.length)
                Some(java.util.Arrays.copyOfRange(arr, pos0.toInt, pos0.toInt + len))
              else None
            } else None
          }
      }
      if (got.isEmpty && hdr.refRequired && embedded.isEmpty && fasta.isEmpty)
        throw new IllegalArgumentException(
          "this CRAM requires a reference (RR=true, no embedded reference block): " +
            "pass reference=Some(\"genome.fa\")")
      got
    }

    recs.toSeq.map(toRead(_, hdr, refs, rgSamples, defaultSample, refSlice))
  }

  /** Reconstruct sequence/quals/cigar/MD from features + reference. */
  private def toRead(
      r: Rec,
      hdr: CompHeader,
      refs: IndexedSeq[String],
      rgSamples: IndexedSeq[String],
      defaultSample: String,
      refSlice: RefSlice): Read = {

    val mapped = (r.bf & FlagUnmapped) == 0
    // AP is 1-based; an unplaced read's AP 0 is start -1, as in SAM and BAM
    val start0 = (r.ap - 1).toLong
    var mdFromRef: Option[String] = None

    val (seq, cigarStr, refLen) =
      if (!mapped) {
        val s =
          if (r.bases != null) new String(r.bases, "ISO-8859-1")
          else if ((r.cf & CfUnknownBases) != 0) "*"
          else "N" * r.rl
        (s, "*", 0L)
      } else {
        val bases = new Array[Byte](r.rl)
        java.util.Arrays.fill(bases, 'N'.toByte)
        val ops = ArrayBuffer.empty[(Int, Char)]
        def addOp(n: Int, op: Char): Unit =
          if (n > 0) {
            if (ops.nonEmpty && ops.last._2 == op) ops(ops.size - 1) = (ops.last._1 + n, op)
            else ops += ((n, op))
          }
        val md = new StringBuilder
        var mdRun = 0
        var mdOk = true
        def mdMatch(n: Int): Unit = mdRun += n
        def mdMismatch(refBase: Char): Unit = { md.append(mdRun); md.append(refBase); mdRun = 0 }
        def mdDel(refBases: Option[Array[Byte]]): Unit = refBases match {
          case Some(b) => md.append(mdRun); md.append('^').append(new String(b, "ISO-8859-1")); mdRun = 0
          case None => mdOk = false
        }

        var rp = 0 // 0-based read cursor
        var ref = start0 // 0-based reference cursor
        def fillFromRef(until: Int): Unit = {
          val n = until - rp
          if (n > 0) {
            refSlice(r.refId, ref, n) match {
              case Some(b) =>
                System.arraycopy(b, 0, bases, rp, n)
                mdMatch(n)
              case None => mdOk = false // referenceless: bases stay N
            }
            addOp(n, 'M')
            rp += n; ref += n
          }
        }
        r.features.foreach { f =>
          val p0 = f.pos - 1
          f.code match {
            case 'B' =>
              fillFromRef(p0)
              bases(rp) = f.bytes(0)
              val rb = refSlice(r.refId, ref, 1)
              rb match {
                case Some(b) =>
                  if (b(0) == f.bytes(0)) mdMatch(1) else mdMismatch(b(0).toChar)
                case None => mdOk = false
              }
              addOp(1, 'M'); rp += 1; ref += 1
            case 'X' =>
              fillFromRef(p0)
              refSlice(r.refId, ref, 1) match {
                case Some(b) =>
                  bases(rp) = hdr.subs.substitute(b(0).toChar, f.len).toByte
                  mdMismatch(b(0).toChar)
                case None => mdOk = false
              }
              addOp(1, 'M'); rp += 1; ref += 1
            case 'b' =>
              fillFromRef(p0)
              System.arraycopy(f.bytes, 0, bases, rp, f.len)
              refSlice(r.refId, ref, f.len) match {
                case Some(b) =>
                  var k = 0
                  while (k < f.len) {
                    if (b(k) == f.bytes(k)) mdMatch(1) else mdMismatch(b(k).toChar)
                    k += 1
                  }
                case None => mdOk = false
              }
              addOp(f.len, 'M'); rp += f.len; ref += f.len
            case 'I' =>
              fillFromRef(p0)
              System.arraycopy(f.bytes, 0, bases, rp, f.len)
              addOp(f.len, 'I'); rp += f.len
            case 'i' =>
              fillFromRef(p0)
              bases(rp) = f.bytes(0)
              addOp(1, 'I'); rp += 1
            case 'S' =>
              fillFromRef(p0)
              System.arraycopy(f.bytes, 0, bases, rp, f.len)
              addOp(f.len, 'S'); rp += f.len
            case 'D' =>
              fillFromRef(p0)
              mdDel(refSlice(r.refId, ref, f.len))
              addOp(f.len, 'D'); ref += f.len
            case 'N' =>
              fillFromRef(p0)
              addOp(f.len, 'N'); ref += f.len
            case 'P' => fillFromRef(p0); addOp(f.len, 'P')
            case 'H' => fillFromRef(p0); addOp(f.len, 'H')
            case 'Q' | 'q' => () // quality-only: handled below
            case _ => ()
          }
        }
        fillFromRef(r.rl)
        if (mdOk) { md.append(mdRun); mdFromRef = Some(md.toString) }
        val cig = if (ops.isEmpty) s"${r.rl}M" else ops.map { case (n, op) => s"$n$op" }.mkString
        val rl = AlignmentOps.cigarRefLength(ops.toSeq).max(if (ops.isEmpty) r.rl.toLong else 0L)
        (new String(bases, "ISO-8859-1"), cig, rl)
      }

    val qual =
      if (r.quals != null) new String(r.quals.map(q => ((q & 0xff) + 33).toChar))
      else if (mapped && r.features.exists(f => f.code == 'Q' || f.code == 'q' || f.code == 'B')) {
        val qs = Array.fill(r.rl)(0.toByte)
        r.features.foreach {
          case Feature('Q', p, _, b) => qs(p - 1) = b(0)
          case Feature('q', p, n, b) => System.arraycopy(b, 0, qs, p - 1, n)
          case Feature('B', p, _, b) => qs(p - 1) = b(1)
          case _ => ()
        }
        new String(qs.map(q => ((q & 0xff) + 33).toChar))
      } else "*"

    val mdTag = r.tags.collectFirst {
      case ("MD", 'Z', bytes) =>
        new String(bytes, 0, if (bytes.nonEmpty && bytes.last == 0) bytes.length - 1 else bytes.length, "ISO-8859-1")
    }.orElse(if (mapped) mdFromRef else None).getOrElse("")

    // a detached or downstream mate's MF overrides BF's mate-unmapped bit
    val flag =
      if (r.mateFlags < 0) r.bf
      else if ((r.mateFlags & MfMateUnmapped) != 0) r.bf | FlagMateUnmapped
      else r.bf & ~FlagMateUnmapped
    val paired = SamFormat.isPaired(flag)
    SamFormat.toRead(r.name,
      if (r.refId >= 0 && r.refId < refs.size) refs(r.refId) else "*",
      start0, start0 + refLen, seq, qual, cigarStr, mdTag, r.mq, flag,
      if (r.rg >= 0 && r.rg < rgSamples.size) rgSamples(r.rg) else defaultSample,
      mateContigName =
        if (paired && r.mateRefId >= 0 && r.mateRefId < refs.size) Some(refs(r.mateRefId)) else None,
      mateStart = if (paired && r.matePos > 0) Some((r.matePos - 1).toLong) else None)
  }

  // ---- file level ---------------------------------------------------------

  private def readFileDefinition(raf: RandomAccessFile): Unit = {
    val magic = new Array[Byte](26)
    raf.readFully(magic)
    require(magic(0) == 'C' && magic(1) == 'R' && magic(2) == 'A' && magic(3) == 'M',
      "not a CRAM file")
    val major = magic(4) & 0xff
    require(major == 3,
      s"CRAM version $major.${magic(5) & 0xff} not supported: this reader implements " +
        "the 3.0 container layout (2.x has no block checksums, 3.1 adds rans-Nx16 codecs)")
  }

  /** Read one whole container (header + payload) at `off`. */
  private def containerAt(raf: RandomAccessFile, off: Long): (ContainerHeader, Array[Byte]) = {
    raf.seek(off)
    val headBuf = new Array[Byte](math.min(1 << 16, raf.length() - off).toInt)
    raf.readFully(headBuf)
    val hdr = parseContainerHeader(new ByteCursor(headBuf))
    val payload = new Array[Byte](hdr.length)
    raf.seek(off + hdr.headerSize)
    raf.readFully(payload)
    (hdr, payload)
  }

  /** Driver-side header walk: the SAM header's @SQ names and @RG samples
    * (CRAM has no binary reference list of its own) and every
    * data-container offset. Reads only headers (seek + skip), so listing
    * a 300 GB file costs ~KBs of IO per container.
    */
  private def scanContainers(path: String, defaultSample: String)
      : (IndexedSeq[String], IndexedSeq[String], Seq[Long]) = {
    val raf = new RandomAccessFile(path, "r")
    try {
      readFileDefinition(raf)
      var off = 26L
      // first container: SAM header block
      val (h0, p0) = containerAt(raf, off)
      val headerBlock = readBlock(new ByteCursor(p0))
      require(headerBlock.contentType == 0, "first container is not the file header")
      val hc = new ByteCursor(headerBlock.data)
      val textLen = readInt32Le(hc)
      val text = new String(hc.bytes(textLen), "ISO-8859-1")
      off += h0.headerSize + h0.length
      val offsets = ArrayBuffer.empty[Long]
      while (off < raf.length()) {
        raf.seek(off)
        val headBuf = new Array[Byte](math.min(1 << 16, raf.length() - off).toInt)
        raf.readFully(headBuf)
        val h = parseContainerHeader(new ByteCursor(headBuf))
        if (!isEof(h)) offsets += off
        off += h.headerSize + h.length
      }
      val header = text.linesIterator.toSeq
      (SamFormat.contigNames(header), SamFormat.samples(header, defaultSample), offsets.toSeq)
    } finally raf.close()
  }

  /** Decode every slice of the container at `off`. */
  private def decodeContainerAt(
      path: String, off: Long,
      refs: IndexedSeq[String], rgSamples: IndexedSeq[String],
      defaultSample: String, fasta: Option[String]): Seq[Read] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val (hdr, payload) = containerAt(raf, off)
      if (isEof(hdr) || hdr.nRecords == 0) return Nil
      val c = new ByteCursor(payload)
      val first = readBlock(c)
      require(first.contentType == 1, s"container at $off does not start with a compression header")
      val comp = parseCompHeader(first.data)
      val out = ArrayBuffer.empty[Read]
      while (c.hasRemaining) {
        val sliceHeaderBlock = readBlock(c)
        require(sliceHeaderBlock.contentType == 2, "expected a slice header block")
        val slice = parseSliceHeader(sliceHeaderBlock.data)
        val blocks = (0 until slice.nBlocks).map(_ => readBlock(c))
        out ++= decodeSlice(comp, slice, blocks, refs, rgSamples, defaultSample, fasta)
      }
      out.toSeq
    } finally raf.close()
  }

  /** Decode one local .cram file (fixtures, CLI single-node paths). */
  def readLocal(path: String, reference: Option[String] = None,
      defaultSample: String = SamFormat.DefaultSample): Seq[Read] = {
    val (refs, rgs, offsets) = scanContainers(path, defaultSample)
    offsets.flatMap(decodeContainerAt(path, _, refs, rgs, defaultSample, reference))
  }

  /** Distributed scan: one task per container (a container is
    * self-contained: its compression header travels with it), through
    * the split scan [[Bam.read]] uses; no .crai index needed.
    */
  def read(spark: SparkSession, path: String, reference: Option[String] = None,
      defaultSample: String = SamFormat.DefaultSample): Dataset[Read] = {
    import spark.implicits._
    val containers = SamFormat.inputFiles(path, ".cram").flatMap { f =>
      val (refs, rgs, offsets) = scanContainers(f, defaultSample)
      offsets.map(off => (f, off, refs, rgs))
    }
    SamFormat.scanSplits(spark, containers) { case (f, off, refs, rgs) =>
      decodeContainerAt(f, off, refs, rgs, defaultSample, reference).iterator
    }
  }

  // ---- writer -------------------------------------------------------------
  //
  // Fixture-grade but spec-correct: referenceless (RR=false) multi-ref
  // slices, or reference-based single-ref slices with the reference
  // embedded per slice (or left external for a FASTA-fed reader). The
  // writer deliberately spreads series across codecs — EXTERNAL,
  // HUFFMAN-in-core, BETA, GAMMA, BYTE_ARRAY_STOP, BYTE_ARRAY_LEN, and
  // raw/gzip/rANS block compression — so a round trip exercises the
  // whole decode surface.

  private object Ids {
    val BF = 1; val RI = 3; val RL = 4; val AP = 5; val RG = 6; val RN = 7
    val MF = 8; val NS = 9; val NP = 10; val TS = 11; val NF = 12; val TL = 13
    val FC = 15; val FP = 16; val DL = 17; val BBLen = 18; val BBVal = 19
    val BS = 22; val IN = 23; val RS = 24; val PD = 25; val HC = 26; val SC = 27
    val BA = 29; val QS = 30
    val TagMdLen = 40; val TagMdVal = 41
    val EmbeddedRef = 100
  }

  private def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  /** Serialize one block with its CRC; compression picked per stream. */
  private def blockBytes(method: Int, contentType: Int, contentId: Int,
      raw: Array[Byte]): Array[Byte] = {
    val comp = method match {
      case 0 => raw
      case 1 => gzipBytes(raw)
      case 4 if raw.length >= 4 => ransCompressO0(raw)
      case 5 if raw.length >= 4 => ransCompressO1(raw) // internal alias; emitted as method 4
      case _ => raw
    }
    val m = if (method == 5) 4 else if (comp eq raw) 0 else method
    val out = new ByteArrayOutputStream()
    out.write(m); out.write(contentType)
    writeItf8(out, contentId)
    writeItf8(out, comp.length)
    writeItf8(out, raw.length)
    out.write(comp, 0, comp.length)
    val body = out.toByteArray
    writeInt32Le(out, crc32(body, 0, body.length))
    out.toByteArray
  }

  /** Container header bytes (CRC over everything before the CRC field). */
  private def containerHeaderBytes(length: Int, refSeqId: Int, start: Int, span: Int,
      nRecords: Int, counter: Long, bases: Long, nBlocks: Int, landmarks: Seq[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeInt32Le(out, length)
    writeItf8(out, refSeqId)
    writeItf8(out, start)
    writeItf8(out, span)
    writeItf8(out, nRecords)
    writeLtf8(out, counter)
    writeLtf8(out, bases)
    writeItf8(out, nBlocks)
    writeItf8(out, landmarks.size)
    landmarks.foreach(writeItf8(out, _))
    val body = out.toByteArray
    writeInt32Le(out, crc32(body, 0, body.length))
    out.toByteArray
  }

  // encoding-spec serialization (codec id + param blob)
  private def encodingBytes(codec: Int, params: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeItf8(out, codec)
    writeItf8(out, params.length)
    out.write(params, 0, params.length)
    out.toByteArray
  }
  private def extEnc(id: Int): Array[Byte] = encodingBytes(1, itf8Bytes(id))
  private def stopEnc(stop: Byte, id: Int): Array[Byte] = {
    val p = new ByteArrayOutputStream()
    p.write(stop & 0xff); writeItf8(p, id)
    encodingBytes(5, p.toByteArray)
  }
  private def lenEnc(lenSpec: Array[Byte], valSpec: Array[Byte]): Array[Byte] = {
    val p = new ByteArrayOutputStream()
    p.write(lenSpec, 0, lenSpec.length); p.write(valSpec, 0, valSpec.length)
    encodingBytes(4, p.toByteArray)
  }
  private def huffmanEnc(alpha: Array[Int], lens: Array[Int]): Array[Byte] = {
    val p = new ByteArrayOutputStream()
    writeItf8(p, alpha.length); alpha.foreach(writeItf8(p, _))
    writeItf8(p, lens.length); lens.foreach(writeItf8(p, _))
    encodingBytes(3, p.toByteArray)
  }
  private def betaEnc(offset: Int, bits: Int): Array[Byte] = {
    val p = new ByteArrayOutputStream()
    writeItf8(p, offset); writeItf8(p, bits)
    encodingBytes(6, p.toByteArray)
  }
  private def gammaEnc(offset: Int): Array[Byte] = encodingBytes(9, itf8Bytes(offset))

  /** Write reads as one local .cram (fixtures / CLI outputs; a
    * distributed sink would shard per partition like [[Vcf]]).
    *
    * @param reference contig → bases; when set the writer encodes
    *   against it (RR=true) and mismatches become substitution features.
    * @param embedRef  with a reference: embed each slice's span so the
    *   file decodes standalone; false leaves retrieval to the reader's
    *   FASTA (the samtools-style external-reference layout).
    */
  def write(reads: Seq[Read], path: String, sample: String = SamFormat.DefaultSample,
      reference: Option[Map[String, String]] = None,
      embedRef: Boolean = true,
      recordsPerSlice: Int = 4096): Unit = {
    val refBased = reference.isDefined
    val placed = SamFormat.contigLengths(reads)
    val contigs = reference match {
      case Some(m) => placed.map { case (c, _) => c -> m.get(c).map(_.length.toLong).getOrElse(1000L) }
      case None => placed
    }
    val refIdx = contigs.map(_._1).zipWithIndex.toMap

    val out = new ByteArrayOutputStream()
    // file definition: magic, version 3.0, 20-byte file id
    out.write("CRAM".getBytes("ISO-8859-1"))
    out.write(3); out.write(0)
    val fileId = java.util.Arrays.copyOf(
      java.security.MessageDigest.getInstance("MD5").digest(path.getBytes("ISO-8859-1")), 20)
    out.write(fileId, 0, 20)
    // header container: one raw block of int32 length + SAM text
    val headerPayload = {
      val b = new ByteArrayOutputStream()
      val text = SamFormat.headerText(contigs, sample).getBytes("ISO-8859-1")
      writeInt32Le(b, text.length)
      b.write(text, 0, text.length)
      blockBytes(0, 0, 0, b.toByteArray)
    }
    val hdrContainer = containerHeaderBytes(headerPayload.length, 0, 0, 0, 0, 0, 0, 1, Seq(0))
    out.write(hdrContainer, 0, hdrContainer.length)
    out.write(headerPayload, 0, headerPayload.length)

    // slice grouping: ref-based → per-contig single-ref; else multi-ref
    val groups: Seq[Seq[Read]] =
      if (refBased) {
        // single-ref slices per contig (placed-unmapped ride their
        // contig's slice); contigless reads get a refId -1 slice
        val (placed, starless) = reads.partition(_.contigName != "*")
        placed.groupBy(_.contigName).toSeq.sortBy(_._1)
          .flatMap(_._2.grouped(recordsPerSlice)) ++
          (if (starless.nonEmpty) starless.grouped(recordsPerSlice).toSeq else Nil)
      } else reads.grouped(recordsPerSlice).toSeq

    var counter = 0L
    groups.foreach { group =>
      val c = encodeContainer(group, refIdx, reference, embedRef, counter)
      out.write(c, 0, c.length)
      counter += group.size
    }

    // EOF container (spec: ref -1, start "EOF", one empty comp header block)
    val eofBlock = blockBytes(0, 1, 0, Array[Byte](1, 0, 1, 0, 1, 0))
    val eofHdr = containerHeaderBytes(eofBlock.length, -1, EofStart, 0, 0, 0, 0, 1, Seq(0))
    out.write(eofHdr, 0, eofHdr.length)
    out.write(eofBlock, 0, eofBlock.length)

    val fos = new java.io.FileOutputStream(path)
    try out.writeTo(fos) finally fos.close()
  }

  /** One single-slice container for `group`. */
  private def encodeContainer(group: Seq[Read], refIdx: Map[String, Int],
      reference: Option[Map[String, String]], embedRef: Boolean, counter: Long): Array[Byte] = {
    val refBased = reference.isDefined
    val multiRef = !refBased
    val sliceRefId =
      if (multiRef) -2
      else group.headOption.filter(r => r.readMapped && r.contigName != "*")
        .map(r => refIdx(r.contigName)).getOrElse(-1)
    val mappedStarts = group.filter(_.readMapped).map(_.start)
    val sliceStart1 = if (sliceRefId >= 0 && mappedStarts.nonEmpty) (mappedStarts.min + 1).toInt else 0
    val sliceSpan =
      if (sliceRefId >= 0) (group.filter(_.readMapped).map(_.end).max - mappedStarts.min).toInt
      else 0
    val refBytes: Option[Array[Byte]] =
      if (refBased && sliceRefId >= 0) {
        val contig = group.head.contigName
        val bases = reference.get(contig)
        val lo = sliceStart1 - 1
        val hi = lo + sliceSpan
        require(hi <= bases.length,
          s"reference for $contig too short: need $hi, have ${bases.length}")
        Some(bases.substring(lo, hi).toUpperCase.getBytes("ISO-8859-1"))
      } else None

    // per-series byte sinks
    val ext = collection.mutable.Map[Int, ByteArrayOutputStream]()
    def buf(id: Int): ByteArrayOutputStream = ext.getOrElseUpdate(id, new ByteArrayOutputStream())
    def putInt(id: Int, v: Int): Unit = writeItf8(buf(id), v)
    def putByte(id: Int, v: Int): Unit = buf(id).write(v & 0xff)
    def putBytes(id: Int, b: Array[Byte]): Unit = buf(id).write(b, 0, b.length)
    val core = new BitWriter

    // CF values first (their Huffman alphabet goes into the header)
    val subs = new SubMatrix(Array.fill(5)(0x1b.toByte))
    val recs = group.map { r =>
      val bf = SamFormat.flag(r)
      val paired = SamFormat.isPaired(bf)
      var cf = 0
      if (r.qual != "*") cf |= CfQualsPreserved
      if (paired) cf |= CfDetached
      if (r.sequence == "*") cf |= CfUnknownBases
      (r, bf, cf, paired)
    }
    val cfFreqs = recs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (cfAlpha, cfLens) = huffmanLengths(cfFreqs)
    val cfHuf = new Huffman(cfAlpha, cfLens)

    var prevAp = sliceStart1
    var totalBases = 0L
    recs.foreach { case (r, bf, cf, paired) =>
      putInt(Ids.BF, bf)
      cfHuf.encode(core, cf)
      if (multiRef) putInt(Ids.RI, if (r.contigName == "*") -1 else refIdx(r.contigName))
      val rl =
        if (r.sequence == "*") (if (r.qual == "*") 0 else r.qual.length)
        else r.sequence.length
      putInt(Ids.RL, rl)
      totalBases += rl
      val ap = (r.start + 1).toInt
      putInt(Ids.AP, ap - prevAp)
      prevAp = ap
      putInt(Ids.RG, 0)
      putBytes(Ids.RN, r.readName.getBytes("ISO-8859-1")); putByte(Ids.RN, '\t')
      if (paired) {
        var mf = 0
        if (!r.mateMapped) mf |= MfMateUnmapped
        putInt(Ids.MF, mf)
        putInt(Ids.NS, r.mateContigName.flatMap(refIdx.get).getOrElse(-1))
        putInt(Ids.NP, r.mateStart.map(_ + 1).getOrElse(0L).toInt)
        putInt(Ids.TS, 0)
      }
      val hasMd = r.mdTag.nonEmpty
      putInt(Ids.TL, if (hasMd) 1 else 0)
      if (hasMd) {
        val bytes = r.mdTag.getBytes("ISO-8859-1") :+ 0.toByte // BAM 'Z' keeps its NUL
        putInt(Ids.TagMdLen, bytes.length)
        putBytes(Ids.TagMdVal, bytes)
      }
      if (r.readMapped) {
        val feats = buildFeatures(r, reference, subs)
        // FN via Elias gamma in the core stream (offset 1: FN may be 0)
        val fnv = feats.size + 1
        val nb = 32 - Integer.numberOfLeadingZeros(fnv)
        core.writeBits(fnv, 2 * nb - 1)
        var prevPos = 0
        feats.foreach { f =>
          putByte(Ids.FC, f.code)
          putInt(Ids.FP, f.pos - prevPos)
          prevPos = f.pos
          f.code match {
            case 'X' => putByte(Ids.BS, f.len)
            case 'I' => putBytes(Ids.IN, f.bytes); putByte(Ids.IN, 0)
            case 'S' => putBytes(Ids.SC, f.bytes); putByte(Ids.SC, 0)
            case 'i' => putByte(Ids.BA, f.bytes(0))
            case 'b' => putInt(Ids.BBLen, f.len); putBytes(Ids.BBVal, f.bytes)
            case 'B' => putByte(Ids.BA, f.bytes(0)); putByte(Ids.QS, f.bytes(1))
            case 'D' => putInt(Ids.DL, f.len)
            case 'N' => putInt(Ids.RS, f.len)
            case 'P' => putInt(Ids.PD, f.len)
            case 'H' => putInt(Ids.HC, f.len)
            case _ => ()
          }
        }
        core.writeBits(r.mapq & 0xff, 8) // MQ via BETA(0, 8)
        if ((cf & CfQualsPreserved) != 0)
          r.qual.foreach(q => putByte(Ids.QS, q - 33))
      } else {
        if ((cf & CfUnknownBases) == 0)
          r.sequence.foreach(b => putByte(Ids.BA, b))
        if ((cf & CfQualsPreserved) != 0)
          r.qual.foreach(q => putByte(Ids.QS, q - 33))
      }
    }

    // compression header
    val comp = new ByteArrayOutputStream()
    locally {
      // preservation map: RN, AP-delta, RR, SM, TD
      val m = new ByteArrayOutputStream()
      writeItf8(m, 5)
      m.write("RN".getBytes); m.write(1)
      m.write("AP".getBytes); m.write(1)
      m.write("RR".getBytes); m.write(if (refBased) 1 else 0)
      m.write("SM".getBytes); m.write(Array.fill(5)(0x1b.toByte), 0, 5)
      m.write("TD".getBytes)
      // two NUL-terminated lines: 0 = no tags, 1 = MD:Z
      val td = Array[Byte](0, 'M', 'D', 'Z', 0)
      writeItf8(m, td.length); m.write(td, 0, td.length)
      val mb = m.toByteArray
      writeItf8(comp, mb.length); comp.write(mb, 0, mb.length)
    }
    locally {
      // data series encodings (must mirror the record walk above)
      val entries = ArrayBuffer[(String, Array[Byte])](
        "BF" -> extEnc(Ids.BF),
        "CF" -> huffmanEnc(cfAlpha, cfLens),
        "RL" -> extEnc(Ids.RL),
        "AP" -> extEnc(Ids.AP),
        "RG" -> extEnc(Ids.RG),
        "RN" -> stopEnc('\t'.toByte, Ids.RN),
        "MF" -> extEnc(Ids.MF),
        "NS" -> extEnc(Ids.NS),
        "NP" -> extEnc(Ids.NP),
        "TS" -> extEnc(Ids.TS),
        "NF" -> extEnc(Ids.NF),
        "TL" -> extEnc(Ids.TL),
        "FN" -> gammaEnc(1),
        "FC" -> extEnc(Ids.FC),
        "FP" -> extEnc(Ids.FP),
        "DL" -> extEnc(Ids.DL),
        "BB" -> lenEnc(extEnc(Ids.BBLen), extEnc(Ids.BBVal)),
        "BS" -> extEnc(Ids.BS),
        "IN" -> stopEnc(0, Ids.IN),
        "RS" -> extEnc(Ids.RS),
        "PD" -> extEnc(Ids.PD),
        "HC" -> extEnc(Ids.HC),
        "SC" -> stopEnc(0, Ids.SC),
        "MQ" -> betaEnc(0, 8),
        "BA" -> extEnc(Ids.BA),
        "QS" -> extEnc(Ids.QS))
      if (multiRef) entries += ("RI" -> extEnc(Ids.RI))
      val m = new ByteArrayOutputStream()
      writeItf8(m, entries.size)
      entries.foreach { case (k, spec) =>
        m.write(k.getBytes("ISO-8859-1")); m.write(spec, 0, spec.length)
      }
      val mb = m.toByteArray
      writeItf8(comp, mb.length); comp.write(mb, 0, mb.length)
    }
    locally {
      // tag encodings: MD:Z
      val m = new ByteArrayOutputStream()
      writeItf8(m, 1)
      writeItf8(m, ('M' << 16) | ('D' << 8) | 'Z')
      val spec = lenEnc(extEnc(Ids.TagMdLen), extEnc(Ids.TagMdVal))
      m.write(spec, 0, spec.length)
      val mb = m.toByteArray
      writeItf8(comp, mb.length); comp.write(mb, 0, mb.length)
    }
    val compBlock = blockBytes(0, 1, 0, comp.toByteArray)

    // embedded reference block
    val embeddedId = if (refBytes.isDefined && embedRef) Ids.EmbeddedRef else -1
    val md5 = refBytes.map(java.security.MessageDigest.getInstance("MD5").digest)
      .getOrElse(new Array[Byte](16))

    // external blocks: deterministic per-id compression
    val extBlocks = ext.toSeq.sortBy(_._1).map { case (id, b) =>
      val raw = b.toByteArray
      val method =
        if (raw.length < 16) 0
        else id match {
          case Ids.QS | Ids.BA | Ids.BBVal => 5 // rANS order-1
          case Ids.BF | Ids.AP | Ids.FP | Ids.RL | Ids.FC | Ids.TL => 4 // rANS order-0
          case Ids.RN | Ids.IN | Ids.SC => 1 // gzip
          case _ => 0
        }
      blockBytes(method, 4, id, raw)
    } ++ (if (embeddedId >= 0) Seq(blockBytes(1, 4, embeddedId, refBytes.get)) else Nil)
    val coreBlock = blockBytes(0, 5, 0, core.toBytes)

    // slice header
    val sh = new ByteArrayOutputStream()
    writeItf8(sh, sliceRefId)
    writeItf8(sh, sliceStart1)
    writeItf8(sh, sliceSpan)
    writeItf8(sh, group.size)
    writeLtf8(sh, counter)
    writeItf8(sh, 1 + extBlocks.size) // core + externals
    val idList = ext.keys.toSeq.sorted ++ (if (embeddedId >= 0) Seq(embeddedId) else Nil)
    writeItf8(sh, idList.size)
    idList.foreach(writeItf8(sh, _))
    writeItf8(sh, embeddedId)
    sh.write(md5, 0, 16)
    val sliceBlock = blockBytes(0, 2, 0, sh.toByteArray)

    val blocksOut = new ByteArrayOutputStream()
    blocksOut.write(compBlock, 0, compBlock.length)
    val landmark = blocksOut.size()
    blocksOut.write(sliceBlock, 0, sliceBlock.length)
    blocksOut.write(coreBlock, 0, coreBlock.length)
    extBlocks.foreach(b => blocksOut.write(b, 0, b.length))

    val container = new ByteArrayOutputStream()
    val ch = containerHeaderBytes(blocksOut.size(), sliceRefId, sliceStart1, sliceSpan,
      group.size, counter, totalBases, 2 + 1 + extBlocks.size, Seq(landmark))
    container.write(ch, 0, ch.length)
    blocksOut.writeTo(container)
    container.toByteArray
  }

  /** Features for one mapped read: referenceless mode stores every base
    * ('b' stretches); reference mode stores only differences ('X'
    * substitutions, or 'B' for non-ACGTN read bases).
    */
  private def buildFeatures(r: Read, reference: Option[Map[String, String]],
      subs: SubMatrix): Seq[Feature] = {
    val feats = ArrayBuffer.empty[Feature]
    val ops = AlignmentOps.cigarOps(r.cigar) match {
      case Nil => Seq((r.sequence.length, 'M'))
      case o => o
    }
    val refStr = reference.flatMap(_.get(r.contigName))
    AlignmentOps.walkCigar(r.start, ops) { (n, op, ref0, rp) =>
      op match {
        case 'M' | '=' | 'X' =>
          refStr match {
            case Some(rs) =>
              var k = 0
              while (k < n) {
                val rb = Character.toUpperCase(rs.charAt((ref0 + k).toInt))
                val qb = Character.toUpperCase(r.sequence.charAt(rp + k))
                if (qb != rb) {
                  // X when both sides live in the ACGTN alphabet, else a
                  // literal base (+qual) feature
                  if ("ACGTN".indexOf(qb) >= 0 && "ACGTN".indexOf(rb) >= 0)
                    feats += Feature('X', rp + k + 1, subs.codeFor(rb, qb), null)
                  else
                    feats += Feature('B', rp + k + 1, 1,
                      Array(qb.toByte, (if (r.qual == "*") 0 else r.qual.charAt(rp + k) - 33).toByte))
                }
                k += 1
              }
            case None =>
              feats += Feature('b', rp + 1, n, r.sequence.substring(rp, rp + n).getBytes("ISO-8859-1"))
          }
        case 'I' | 'S' =>
          feats += Feature(op, rp + 1, n, r.sequence.substring(rp, rp + n).getBytes("ISO-8859-1"))
        case _ => feats += Feature(op, rp + 1, n, null) // D, N, P, H
      }
    }
    feats.toSeq
  }
}

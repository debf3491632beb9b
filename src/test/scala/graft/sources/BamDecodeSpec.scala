package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import scala.util.Try

/** The byte-wise BAM record decoder against the char-by-char decoder it
  * replaced (kept here as the oracle): the same `Option[Read]` for
  * hand-built record bodies with every tag type, for every truncation of
  * them, and for the malformed bodies the decoder must reject.
  */
class BamDecodeSpec extends AnyFunSuite {

  private val SeqCode = "=ACMGRSVTWYHKDBN"
  private val CigarOps = "MIDNSHP=X"

  /** The previous `Bam.decodeRecord`, verbatim but for its constants. */
  private def oracle(b: ByteBuffer, refs: IndexedSeq[String], sample: String): Option[Read] =
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
          val paired = (flag & 0x1) != 0
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
            readMapped = (flag & 0x4) == 0,
            readNegativeStrand = (flag & 0x10) != 0,
            duplicateRead = (flag & 0x400) != 0,
            primaryAlignment = (flag & (0x100 | 0x800)) == 0,
            sampleId = sample,
            mateContigName =
              if (paired && nextRefId >= 0 && nextRefId < refs.size) Some(refs(nextRefId))
              else None,
            mateStart = if (paired && nextPos >= 0) Some(nextPos.toLong) else None,
            mateMapped = paired && (flag & 0x8) == 0)
    }.toOption

  private val refs = IndexedSeq("chr1", "chr2")

  /** One tag of each type, an `MD:H` that must not be taken for the MD,
    * and a `B` array of each element width.
    */
  private val allTags: Array[Byte] = {
    val t = ByteBuffer.allocate(256).order(ByteOrder.LITTLE_ENDIAN)
    def tag(name: String, tpe: Char): ByteBuffer = t.put(name.getBytes("ISO-8859-1")).put(tpe.toByte)
    def z(name: String, tpe: Char, s: String): ByteBuffer =
      tag(name, tpe).put((s + "\u0000").getBytes("ISO-8859-1"))
    tag("XA", 'A').put('x'.toByte)
    tag("Xc", 'c').put((-5).toByte)
    tag("XC", 'C').put(200.toByte)
    tag("Xs", 's').putShort((-300).toShort)
    tag("XS", 'S').putShort(60000.toShort)
    tag("Xi", 'i').putInt(-70000)
    tag("XI", 'I').putInt(70000)
    tag("Xf", 'f').putFloat(1.5f)
    z("MD", 'Z', "3A2^GT1")
    z("XZ", 'Z', "free text")
    z("MD", 'H', "1AE3")
    tag("XB", 'B').put('c'.toByte).putInt(3).put(Array[Byte](1, 2, 3))
    tag("XB", 'B').put('S'.toByte).putInt(2).putShort(1.toShort).putShort(2.toShort)
    tag("XB", 'B').put('f'.toByte).putInt(2).putFloat(0.5f).putFloat(2.5f)
    java.util.Arrays.copyOf(t.array(), t.position())
  }

  /** A record body; `qual = None` writes the 0xff "no qualities" run. */
  private def body(
      refId: Int = 0, pos: Int = 99, name: String = "read1", mapq: Int = 60, flag: Int = 0,
      cigar: Seq[(Int, Char)] = Seq(3 -> 'M', 2 -> 'D', 1 -> 'I', 2 -> 'M', 2 -> 'S'),
      seq: String = "ACGTNACG", qual: Option[Seq[Int]] = Some(Seq(30, 31, 0, 93, 40, 2, 60, 35)),
      nextRefId: Int = -1, nextPos: Int = -1, tags: Array[Byte] = allTags): Array[Byte] = {
    val b = ByteBuffer.allocate(4096).order(ByteOrder.LITTLE_ENDIAN)
    val nameBytes = (name + "\u0000").getBytes("ISO-8859-1")
    b.putInt(refId).putInt(pos).put(nameBytes.length.toByte).put(mapq.toByte)
      .putShort(0.toShort).putShort(cigar.size.toShort).putShort(flag.toShort)
      .putInt(seq.length).putInt(nextRefId).putInt(nextPos).putInt(0)
    b.put(nameBytes)
    cigar.foreach { case (n, op) => b.putInt(n << 4 | CigarOps.indexOf(op)) }
    seq.grouped(2).foreach { pair =>
      val hi = SeqCode.indexOf(pair(0))
      val lo = if (pair.length > 1) SeqCode.indexOf(pair(1)) else 0
      b.put((hi << 4 | lo).toByte)
    }
    qual match {
      case Some(qs) => qs.foreach(q => b.put(q.toByte))
      case None     => seq.foreach(_ => b.put(0xff.toByte))
    }
    b.put(tags)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  private val bodies: Seq[(String, Array[Byte])] = Seq(
    "mapped, every tag type" -> body(),
    "unmapped, * qual, empty CIGAR" ->
      body(refId = -1, pos = -1, flag = 0x4, cigar = Nil, qual = None),
    "paired, mate mapped" -> body(flag = 0x1 | 0x10, nextRefId = 1, nextPos = 500),
    "paired, mate unmapped, mate off the dictionary" ->
      body(refId = 1, flag = 0x1 | 0x8 | 0x400, nextRefId = 7, nextPos = -1),
    "secondary and supplementary, odd length, no tags" ->
      body(flag = 0x100 | 0x800, cigar = Seq(7 -> '=', 2 -> 'X', 100 -> 'N', 1 -> 'P', 3 -> 'H'),
        seq = "ACGT=MRSW", qual = Some(Seq(10, 11, 12, 13, 14, 15, 16, 17, 18)), tags = Array.emptyByteArray),
    "empty sequence, unknown tag type stops the walk" ->
      body(seq = "", qual = Some(Nil), cigar = Nil,
        tags = "XQq".getBytes("ISO-8859-1") ++ Array[Byte](1, 2, 3)))

  private def both(b: Array[Byte]): (Option[Read], Option[Read]) =
    (Bam.decodeRecord(b, refs, "s1"),
      oracle(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN), refs, "s1"))

  private def assertSame(b: Array[Byte], clue: String): Option[Read] = {
    val (got, want) = both(b)
    assert(got === want, clue)
    got
  }

  test("whole bodies decode as the char-by-char decoder did") {
    bodies.foreach { case (what, b) => assert(assertSame(b, what).isDefined, what) }
    val r = Bam.decodeRecord(bodies.head._2, refs, "s1").get
    assert(r.cigar === "3M2D1I2M2S" && r.end === 99 + 7 && r.mdTag === "3A2^GT1", r)
    assert(r.sequence === "ACGTNACG" && r.qual === "?@!~I#]D", r)
    assert(Bam.decodeRecord(bodies(1)._2, refs, "s1").get.qual === "*")
  }

  test("every truncation of every body decodes as the char-by-char decoder did") {
    for ((what, b) <- bodies; n <- 0 until b.length)
      assertSame(java.util.Arrays.copyOf(b, n), s"$what cut at $n")
  }

  test("malformed bodies are rejected as the char-by-char decoder rejected them") {
    val whole = body()
    val cigarAt = 32 + "read1".length + 1
    for (op <- 9 to 15) {
      val b = whole.clone()
      b(cigarAt) = ((b(cigarAt) & 0xf0) | op).toByte
      assert(assertSame(b, s"CIGAR op $op").isEmpty)
    }
    // a B array whose count runs past the record
    val bTag = "XBBc".getBytes("ISO-8859-1")
    for (count <- Seq(3, 4, 1000, Int.MaxValue)) {
      val tags = ByteBuffer.allocate(bTag.length + 4 + 3).order(ByteOrder.LITTLE_ENDIAN)
        .put(bTag).putInt(count).put(Array[Byte](1, 2, 3)).array()
      val b = body(tags = tags)
      assert(assertSame(b, s"B count $count").isDefined === (count == 3))
    }
    // a Z string with no terminator, and a tag cut inside its header
    assert(assertSame(body(tags = "MDZ3A2".getBytes("ISO-8859-1")), "open Z").isEmpty)
    assert(assertSame(body(tags = "MD".getBytes("ISO-8859-1")), "short tag").isEmpty)
    // a zero-length read name and a negative sequence length
    val noName = whole.clone()
    noName(8) = 0
    assert(assertSame(noName, "l_read_name 0").isEmpty)
    for (lSeq <- Seq(-1, -2, -3, Int.MinValue)) {
      val b = whole.clone()
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(16, lSeq)
      assert(assertSame(b, s"l_seq $lSeq").isEmpty)
    }
  }
}

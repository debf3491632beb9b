package graft.sources

import graft.SparkSpec
import graft.model.Read

import java.io.{DataInputStream, FileInputStream}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files
import java.util.zip.GZIPInputStream

/** SAM -> BAM -> CRAM on synthetic reads that carry every flag the Read
  * model keeps (unmapped, reverse, duplicate, secondary, supplementary,
  * paired with the mate mapped, unmapped or on another contig), qual `*`,
  * soft clips, insertions and deletions with MD, two contigs and one
  * unplaced read. Every reader, local and distributed, must give back
  * the reads the SAM lines parse to, field for field.
  */
class AlignmentRoundTripSpec extends SparkSpec {

  private val sample = "rt1"

  // QNAME FLAG RNAME POS MAPQ CIGAR RNEXT PNEXT TLEN SEQ QUAL [tags]
  private val lines = Seq(
    "pairA\t99\tchr1\t101\t60\t10M\t=\t201\t110\tACGTACGTAC\tIIIIIIIIII\tMD:Z:10",
    "pairB\t147\tchr1\t201\t60\t10M\t=\t101\t-110\tTTGCATGCAA\tHHHHHHHHHH\tMD:Z:4A5",
    "dupRev\t1107\tchr1\t121\t42\t8M\t=\t301\t190\tGGGGCCCC\tABCDEFGH\tMD:Z:8",
    "secondary\t256\tchr1\t151\t3\t6M\t*\t0\t0\tACGTTT\t555555\tMD:Z:6",
    "supplementary\t2064\tchr2\t31\t20\t5S5M\t*\t0\t0\tNNNNNACGTA\t!!!!!IIIII\tMD:Z:5",
    "mateGone\t73\tchr1\t401\t60\t10M\t=\t401\t0\tCCCCCAAAAA\tIIIIIIIIII\tMD:Z:10",
    "mateOfGone\t133\tchr1\t401\t0\t*\t=\t401\t0\tGATTACAGAT\tIIIII#####",
    "crossA\t65\tchr1\t451\t60\t10M\tchr2\t51\t0\tACACACACAC\tIIIIIIIIII\tMD:Z:10",
    "crossB\t145\tchr2\t51\t60\t10M\tchr1\t451\t0\tGTGTGTGTGT\tIIIIIIIIII\tMD:Z:3G6",
    "noQual\t0\tchr2\t11\t30\t8M\t*\t0\t0\tACGTACGT\t*\tMD:Z:8",
    "indels\t16\tchr1\t501\t50\t2S4M2I3M1D4M1S\t*\t0\t0\tAAGGCCTTACGTTGCA\tIIIIIIIIIIIIIIII\tMD:Z:3C3^A4",
    "unplaced\t4\t*\t0\t0\t*\t*\t0\t0\tACGTAC\tIIIIII")

  private lazy val reads: Seq[Read] = lines.map(l => Sam.parseLine(l, sample).get)

  private def byName(rs: Seq[Read]): Seq[Read] = rs.sortBy(_.readName)

  private def assertSame(label: String, got: Seq[Read]): Unit = {
    assert(got.size === reads.size, label)
    byName(reads).zip(byName(got)).foreach { case (want, back) => assert(back === want, label) }
  }

  private lazy val dir = Files.createTempDirectory("roundtrip").toString

  test("SAM lines parse to the Read fields their flags and mate columns say") {
    val r = reads.map(x => x.readName -> x).toMap
    assert(reads.size === lines.size)
    assert(r("pairA").mateMapped && r("pairA").mateContigName.contains("chr1") &&
      r("pairA").mateStart.contains(200L) && !r("pairA").readNegativeStrand)
    assert(r("pairB").readNegativeStrand && r("pairB").primaryAlignment)
    assert(r("dupRev").duplicateRead && r("dupRev").readNegativeStrand)
    assert(!r("secondary").primaryAlignment && r("secondary").mateContigName.isEmpty)
    assert(!r("supplementary").primaryAlignment && r("supplementary").readNegativeStrand)
    assert(!r("mateGone").mateMapped && r("mateGone").mateStart.contains(400L))
    assert(!r("mateOfGone").readMapped && r("mateOfGone").mateMapped &&
      r("mateOfGone").end === r("mateOfGone").start)
    assert(r("crossA").mateContigName.contains("chr2") && r("crossB").mateContigName.contains("chr1"))
    assert(r("noQual").qual === "*")
    assert(r("indels").end === 500L + 12 && r("indels").mdTag === "3C3^A4")
    assert(r("unplaced").contigName === "*" && !r("unplaced").readMapped && r("unplaced").start === -1L)
  }

  test("SAM text scan takes the sample from the @RG header") {
    val path = s"$dir/reads.sam"
    val header = Seq("@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:1000", "@SQ\tSN:chr2\tLN:500",
      s"@RG\tID:rg1\tSM:$sample")
    Files.write(java.nio.file.Paths.get(path), (header ++ lines).mkString("", "\n", "\n").getBytes(ISO_8859_1))
    assertSame("Sam.read", Sam.read(spark, path).collect().toSeq)
    assert(Sam.dictionary(spark, path).records.map(_.name) === Seq("chr1", "chr2"))
  }

  test("BAM round trip: local and distributed readers return every field") {
    val path = s"$dir/reads.bam"
    Bam.write(reads, path, sample)
    assertSame("Bam.readLocal", Bam.readLocal(path))
    assertSame("Bam.read", Bam.read(spark, path).collect().toSeq)
  }

  test("BAM writer leaves the unplaced read out of the reference list") {
    val path = s"$dir/unplaced.bam"
    Bam.write(reads, path, sample)
    val in = new DataInputStream(new GZIPInputStream(new FileInputStream(path)))
    try {
      def int32(): Int = Integer.reverseBytes(in.readInt())
      val magic = new Array[Byte](4)
      in.readFully(magic)
      assert(new String(magic, ISO_8859_1) === "BAM\u0001")
      val text = new Array[Byte](int32())
      in.readFully(text)
      val sq = new String(text, ISO_8859_1).linesIterator.filter(_.startsWith("@SQ")).toSeq
      assert(sq.map(_.split("\t")(1)) === Seq("SN:chr1", "SN:chr2"))
      val nRef = int32()
      assert(nRef === 2)
      (0 until nRef).foreach { _ => in.readFully(new Array[Byte](int32())); int32() }
      // records in write order: the unplaced read is the last one
      var refId = Int.MinValue
      (0 until reads.size).foreach { _ =>
        val body = new Array[Byte](int32()); in.readFully(body)
        refId = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0)
      }
      assert(refId === -1, "an unplaced read has refID -1")
    } finally in.close()
  }

  test("CRAM round trip: local and distributed readers return every field") {
    val path = s"$dir/reads.cram"
    Cram.write(reads, path, sample, recordsPerSlice = 5)
    assertSame("Cram.readLocal", Cram.readLocal(path))
    assertSame("Cram.read", Cram.read(spark, path).collect().toSeq)
  }

  test("BAM decoded back to reads writes the same CRAM reads") {
    val bam = s"$dir/chain.bam"
    Bam.write(reads, bam, sample)
    val cram = s"$dir/chain.cram"
    Cram.write(Bam.readLocal(bam), cram, sample)
    assertSame("SAM -> BAM -> CRAM", Cram.readLocal(cram))
  }
}

package graft.sources

import graft.SparkSpec
import graft.genomics.{BiallelicGenotyper, DiscoverVariants}
import graft.model.{DiscoveredVariant, Read}

/** CRAM 3.0 codec (SURVEY.md S1): rANS-4x8 entropy coding, container /
  * slice / record structure, feature-based sequence+CIGAR+MD
  * reconstruction against embedded and external references, and
  * genotyper equivalence — the same calls must come from a .cram as
  * from the .sam it mirrors.
  */
class CramSpec extends SparkSpec {

  private val res = "/root/reference/avocado-core/src/test/resources"

  /** CRAM stores MQ only for mapped records (the MQ data series is read
    * after the feature list); SAM tolerates nonzero mapq on unmapped
    * reads, so normalize before a field-exact comparison.
    */
  private def normalized(rs: Seq[Read]): Seq[Read] =
    rs.map(r => if (!r.readMapped) r.copy(mapq = 0) else r)

  test("rANS 4x8 order-0 and order-1 round trip") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.empty[Byte],
      Array[Byte](7),
      "ACGTACGTTTTTGGGGAAAA".getBytes,
      Array.fill(65536)(rnd.nextInt(256).toByte),
      Array.fill(1000)((rnd.nextInt(4) * 17).toByte),
      Array.tabulate(4099)(i => (i % 256).toByte)) // dense alphabet + %4 tail
    cases.foreach { data =>
      assert(java.util.Arrays.equals(
        CramCodec.ransDecompress(CramCodec.ransCompressO0(data)), data))
      if (data.length >= 4)
        assert(java.util.Arrays.equals(
          CramCodec.ransDecompress(CramCodec.ransCompressO1(data)), data))
    }
  }

  test("referenceless CRAM round trip preserves every Read field") {
    val sam = normalized(Sam.read(spark, s"$res/NA12878.chr1.875159.sam", "NA12878")
      .collect().toSeq).sortBy(r => (r.start, r.readName))
    val dir = java.nio.file.Files.createTempDirectory("cram").toString
    Cram.write(sam, s"$dir/test.cram", sample = "NA12878")
    val back = Cram.readLocal(s"$dir/test.cram").sortBy(r => (r.start, r.readName))
    assert(back.size === sam.size)
    sam.zip(back).foreach { case (a, b) => assert(a === b) }
  }

  // a deterministic synthetic reference the substitution fixtures diff
  // against (period-4 pattern, no homopolymer ambiguity)
  private val refChr1 = Array.tabulate(4000)(i => "ACGT"((i * 7 + 3) % 4)).mkString
  private val refMap = Map("chr1" -> refChr1)

  private def q(n: Int): String = Array.tabulate(n)(i => (43 + (i % 30)).toChar).mkString

  private def mk(name: String, start: Long, seq: String, cigar: String): Read = {
    val refLen = graft.kernels.AlignmentOps.cigarRefLength(cigar)
    Read(name, "chr1", start, start + refLen, seq, q(seq.length), cigar, "", 60,
      readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")
  }

  test("embedded-reference slices reconstruct bases, CIGAR and MD from features") {
    val sub = {
      val b = refChr1.substring(200, 220).toCharArray
      b(5) = if (b(5) == 'A') 'C' else 'A'
      b(13) = 'N' // non-ACGT read base rides a literal-base feature
      new String(b)
    }
    val reads = Seq(
      mk("exact", 100, refChr1.substring(100, 120), "20M"),
      mk("subst", 200, sub, "20M"),
      mk("ins", 300, refChr1.substring(300, 308) + "TTT" + refChr1.substring(308, 317), "8M3I9M"),
      mk("del", 400, refChr1.substring(400, 410) + refChr1.substring(415, 425), "10M5D10M"),
      mk("clip", 500, "GGGG" + refChr1.substring(500, 516), "4S16M"),
      mk("skip", 600, refChr1.substring(600, 610) + refChr1.substring(650, 660), "10M40N10M2H"))
    val dir = java.nio.file.Files.createTempDirectory("cramemb").toString
    Cram.write(reads, s"$dir/emb.cram", "s1", reference = Some(refMap))
    val back = Cram.readLocal(s"$dir/emb.cram")
    assert(back.size === reads.size)
    val by = back.map(r => r.readName -> r).toMap
    reads.foreach { r =>
      val g = by(r.readName)
      assert(g.sequence === r.sequence, r.readName)
      assert(g.cigar === r.cigar, r.readName)
      assert(g.start === r.start && g.end === r.end, r.readName)
      assert(g.qual === r.qual, r.readName)
    }
    // MD reconstructed from the reference walk, not stored
    assert(by("exact").mdTag === "20")
    assert(by("subst").mdTag.count(_.isLetter) === 2) // two mismatch letters
    assert(by("ins").mdTag === "17") // insertions are invisible to MD
    assert(by("del").mdTag.contains("^"))
    assert(by("clip").mdTag === "16") // soft clips are invisible to MD
  }

  test("external-FASTA CRAM decodes with a reference and refuses without") {
    val reads = Seq(
      mk("x1", 100, refChr1.substring(100, 130), "30M"),
      mk("x2", 700, refChr1.substring(700, 730), "30M"))
    val dir = java.nio.file.Files.createTempDirectory("cramext").toString
    val fa = s"$dir/ref.fa"
    val fw = new java.io.FileWriter(fa)
    fw.write(s">chr1 assembly\n${refChr1.grouped(60).mkString("\n")}\n")
    fw.close()
    Cram.write(reads, s"$dir/ext.cram", "s1", reference = Some(refMap), embedRef = false)
    val back = Cram.readLocal(s"$dir/ext.cram", reference = Some(fa))
    assert(back.map(_.sequence).sorted === reads.map(_.sequence).sorted)
    val e = intercept[IllegalArgumentException](Cram.readLocal(s"$dir/ext.cram"))
    assert(e.getMessage.contains("requires a reference"))
  }

  test("distributed scan parallelizes per container and matches the local decode") {
    val reads = (0 until 2000).map { i =>
      val at = (i * 13) % 3900
      mk(s"m$i", math.min(at, 3960), refChr1.substring(math.min(at, 3960),
        math.min(at, 3960) + 15), "15M")
    }
    val dir = java.nio.file.Files.createTempDirectory("cramdist").toString
    Cram.write(reads, s"$dir/many.cram", "s1", recordsPerSlice = 128)
    val local = Cram.readLocal(s"$dir/many.cram").sortBy(_.readName)
    val ds = Cram.read(spark, s"$dir/many.cram")
    assert(ds.rdd.getNumPartitions === math.ceil(2000.0 / 128).toInt,
      "one task per container")
    // each container on its own partition, placed without an exchange
    val scanPlan = ds.queryExecution.executedPlan.toString
    assert(!scanPlan.contains("Exchange"), scanPlan)
    val sizes = ds.mapPartitions(it => Iterator(it.size))(org.apache.spark.sql.Encoders.scalaInt)
      .collect().toSeq
    assert(sizes.forall(n => n >= 1 && n <= 128), sizes)
    val got = ds.collect().toSeq.sortBy(_.readName)
    assert(got === local)
    assert(got.size === reads.size)
  }

  test("genotyper calls from .cram equal calls from .sam") {
    import spark.implicits._
    val samPath = s"$res/NA12878.chr1.875159.sam"
    val sam = normalized(Sam.read(spark, samPath, "NA12878").collect().toSeq)
    val dir = java.nio.file.Files.createTempDirectory("cramcall").toString
    Cram.write(sam, s"$dir/reads.cram", sample = "NA12878")

    def call(reads: org.apache.spark.sql.Dataset[Read]) = {
      val vs = DiscoverVariants.discover(reads, minPhred = 20, minObservations = 2)
        .select("contigName", "start", "referenceAllele", "alternateAllele")
        .as[DiscoveredVariant]
      BiallelicGenotyper.call(reads, vs, ploidy = 2, binSize = 20.0)
        .select("contigName", "start", "referenceAllele", "alternateAllele",
          "sampleId", "genotypeState", "genotypeQuality")
        .collect().toSeq.map(_.toString).sorted
    }
    val fromSam = call(Sam.read(spark, samPath, "NA12878").map(r =>
      if (!r.readMapped) r.copy(mapq = 0) else r))
    val fromCram = call(Cram.read(spark, s"$dir/reads.cram"))
    assert(fromCram === fromSam)
    assert(fromSam.nonEmpty)
  }

  test("version and codec guards fail fast with actionable messages") {
    val dir = java.nio.file.Files.createTempDirectory("cramver").toString
    val p = s"$dir/v2.cram"
    Cram.write(Seq(mk("r", 10, refChr1.substring(10, 20), "10M")), p, "s1")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    bytes(4) = 2 // major version byte
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](Cram.readLocal(p))
    assert(e.getMessage.contains("3.0 container layout"))
  }
}

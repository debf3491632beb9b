package graft.kernels

import graft.genomics.{DiscoverVariants, Observer}
import graft.model.{DiscoveredVariant, Read}
import graft.sources.{Bam, Sam}
import org.scalatest.funsuite.AnyFunSuite

/** Malformed CIGAR, MD and quality strings: the writers reject them with
  * IllegalArgumentException, the SAM reader drops the record, and the
  * per-read kernels yield nothing instead of throwing.
  */
class MalformedAlignmentSpec extends AnyFunSuite {

  private val badCigars = Seq("10", "10M5", "M", "5Q5M")

  /** A 10 bp read with a G>T mismatch at offset 3 (MD 3G6). */
  private def read(cigar: String = "10M", md: String = "3G6",
      qual: String = "I" * 10): Read =
    Read("r1", "chr1", 100, 110, "AAATAAAAAA", qual, cigar, md, 60,
      readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")

  test("the tokenizer rejects CIGARs that end in digits or carry unknown ops") {
    badCigars.foreach { c =>
      assertThrows[IllegalArgumentException](AlignmentOps.cigarOps(c))
    }
    assert(AlignmentOps.cigarOps("*") === Nil)
    assert(AlignmentOps.cigarOps("") === Nil)
    assert(AlignmentOps.cigarOps("2S8M") === Seq((2, 'S'), (8, 'M')))
  }

  test("Bam.write rejects a malformed CIGAR with IllegalArgumentException") {
    val dir = java.nio.file.Files.createTempDirectory("badcigar").toString
    badCigars.foreach { c =>
      assertThrows[IllegalArgumentException](Bam.write(Seq(read(cigar = c)), s"$dir/bad.bam"))
    }
  }

  test("Sam.parseLine drops a record with a malformed CIGAR") {
    badCigars.foreach { c =>
      assert(Sam.parseLine(s"r1\t0\tchr1\t101\t60\t$c\t*\t0\t0\tAAATAAAAAA\tIIIIIIIIII") === None)
    }
    assert(Sam.parseLine("r1\t0\tchr1\t101\t60\t10M\t*\t0\t0\tAAATAAAAAA\tIIIIIIIIII").isDefined)
  }

  test("the per-read kernels yield nothing for bad CIGAR, short MD or short quals") {
    val good = read()
    val snv = DiscoveredVariant("chr1", 103, "G", Some("T"))
    assert(DiscoverVariants.variantsInRead(good, 0) === Seq(snv))
    assert(Observer.basePileup(good).size === 10)
    assert(Observer.observe(good, Seq(snv)).map(_.support) === Seq(Observer.SupportAlt))

    val bad = badCigars.map(c => read(cigar = c)) ++ Seq(
      read(md = "3G2"), // MD covers 6 of the CIGAR's 10 aligned bases
      read(qual = "I" * 9)) // one quality short of the sequence
    bad.foreach { r =>
      assert(DiscoverVariants.variantsInRead(r, 0) === Nil, r)
      assert(Observer.basePileup(r) === Nil, r)
      assert(Observer.observe(r, Seq(snv)) === Nil, r)
    }
  }
}

package graft.kernels

import graft.genomics.{DiscoverVariants, Observer}
import graft.model.Read
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class AlignmentOpsSpec extends AnyFunSuite {

  /** Deterministic property driver (no scalatestplus in the offline
    * cache): sample the generator across fixed seeds.
    */
  private def forAll[T](gen: Gen[T], n: Int = 300)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    (0 until n).foreach { i =>
      gen.apply(params, org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }
  }

  test("perfect match parse") {
    assert(AlignmentOps.parse("10M", "10") === Seq(AlnMatch(10)))
  }

  test("parse splits M runs on MD mismatches") {
    // 3 matches, ref G mismatch, 6 matches
    assert(AlignmentOps.parse("10M", "3G6") ===
      Seq(AlnMatch(3), AlnMatch(1, Some("G")), AlnMatch(6)))
  }

  test("parse insertion") {
    assert(AlignmentOps.parse("4M2I4M", "8") ===
      Seq(AlnMatch(4), AlnIns(2), AlnMatch(4)))
  }

  test("parse deletion with ref bases") {
    assert(AlignmentOps.parse("4M2D4M", "4^AC4") ===
      Seq(AlnMatch(4), AlnDel("AC"), AlnMatch(4)))
  }

  test("parse soft and hard clips") {
    assert(AlignmentOps.parse("2S6M2H", "6") ===
      Seq(AlnClip(2, soft = true), AlnMatch(6), AlnClip(2, soft = false)))
  }

  test("parse MD starting with 0 before mismatch") {
    assert(AlignmentOps.parse("5M", "0A4") ===
      Seq(AlnMatch(1, Some("A")), AlnMatch(4)))
  }

  test("adjacent mismatches merge in collapse") {
    assert(AlignmentOps.parse("4M", "0A0C2") ===
      Seq(AlnMatch(2, Some("AC")), AlnMatch(2)))
  }

  test("inconsistent MD/CIGAR throws") {
    assertThrows[IllegalArgumentException](AlignmentOps.parse("10M", "5"))
    assertThrows[IllegalArgumentException](AlignmentOps.parse("4M2D4M", "8"))
  }

  test("collapse merges runs and is idempotent") {
    val ops = Seq(AlnMatch(3), AlnMatch(2), AlnIns(1), AlnIns(2), AlnDel("A"), AlnDel("C"))
    val c = AlignmentOps.collapse(ops)
    assert(c === Seq(AlnMatch(5), AlnIns(3), AlnDel("AC")))
    assert(AlignmentOps.collapse(c) === c)
  }

  test("extractReference rebuilds the reference") {
    // read ACGTACGT against ref ACGAACG-T (G>A mismatch at 3, ins of C at 7)
    val ops = Seq(AlnMatch(3), AlnMatch(1, Some("A")), AlnMatch(3), AlnIns(1))
    assert(AlignmentOps.extractReference("ACGTACGC", ops) === "ACGAACG")
  }

  test("render inverse of parse on mixed alignment") {
    val cigar = "2S4M2I3M2D5M"
    val md = "2G4^CA0T4"
    val ops = AlignmentOps.parse(cigar, md)
    val (c2, m2) = AlignmentOps.render(ops)
    assert(c2 === cigar)
    assert(m2 === md)
  }

  // property: render ∘ parse == id over generated alignments
  private val opGen: Gen[AlnOp] = Gen.oneOf(
    Gen.choose(1, 8).map(AlnMatch(_, None)),
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T')).map(bs => AlnMatch(n, Some(bs.mkString)))),
    Gen.choose(1, 4).map(AlnIns(_)),
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T')).map(bs => AlnDel(bs.mkString)))
  )

  /** Interleave ops so no two same-kind ops are adjacent (collapse-normal
    * form) and the alignment starts/ends with matches, as real reads do.
    */
  private val alignmentGen: Gen[Seq[AlnOp]] = for {
    n <- Gen.choose(1, 10)
    ops <- Gen.listOfN(n, opGen)
  } yield AlignmentOps.collapse(
    ops.zipWithIndex.flatMap { case (op, i) => Seq(AlnMatch(1 + i % 3), op) } :+ AlnMatch(2))

  test("property: parse(render(ops)) == ops") {
    forAll(alignmentGen) { ops =>
      val (cigar, md) = AlignmentOps.render(ops)
      assert(AlignmentOps.parse(cigar, md) === ops)
    }
  }

  test("property: read/reference length preserved by render round-trip") {
    forAll(alignmentGen) { ops =>
      val (cigar, md) = AlignmentOps.render(ops)
      val back = AlignmentOps.parse(cigar, md)
      assert(AlignmentOps.readLength(back) === AlignmentOps.readLength(ops))
      assert(AlignmentOps.referenceLength(back) === AlignmentOps.referenceLength(ops))
    }
  }

  // ---- cross-kernel properties over generated valid reads ---------------

  /** A read that agrees with a generated alignment: soft clips at either
    * end, mismatch bases that differ from the MD's reference base, and
    * one quality per base.
    */
  private val readGen: Gen[Read] = for {
    core <- alignmentGen
    lead <- Gen.choose(0, 3)
    trail <- Gen.choose(0, 3)
    start <- Gen.choose(0L, 100000L)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    def bases(n: Int) = Seq.fill(n)("ACGT".charAt(rnd.nextInt(4))).mkString
    def clip(n: Int) = if (n > 0) Seq(AlnClip(n)) else Nil
    val ops = clip(lead) ++ core ++ clip(trail)
    val sequence = ops.map {
      case AlnMatch(_, Some(ref)) =>
        ref.map(r => "ACGT".filterNot(_ == r).charAt(rnd.nextInt(3))).mkString
      case AlnDel(_) => ""
      case op        => bases(op.size)
    }.mkString
    val qual = sequence.map(_ => (35 + rnd.nextInt(39)).toChar)
    val (cigar, md) = AlignmentOps.render(ops)
    Read(s"r$seed", "chr1", start, start + AlignmentOps.referenceLength(ops), sequence, qual,
      cigar, md, 60, readMapped = true, readNegativeStrand = rnd.nextBoolean(),
      duplicateRead = false, primaryAlignment = true, sampleId = "s1")
  }

  test("property: the readers' CIGAR span equals the parsed reference length") {
    forAll(readGen) { r =>
      assert(AlignmentOps.cigarRefLength(r.cigar) ===
        AlignmentOps.referenceLength(AlignmentOps.parse(r.cigar, r.mdTag)))
    }
  }

  test("property: every discovered variant is observed as alt support by its own read") {
    forAll(readGen) { r =>
      val vs = DiscoverVariants.variantsInRead(r, 0)
      assert(vs.nonEmpty || AlignmentOps.parse(r.cigar, r.mdTag).forall {
        case AlnMatch(_, None) | AlnClip(_, _) => true
        case _                                 => false
      })
      vs.foreach { v =>
        assert(Observer.observe(r, Seq(v)).map(_.support) === Seq(Observer.SupportAlt), s"$v in $r")
      }
    }
  }

  test("property: basePileup emits exactly one row per aligned base") {
    forAll(readGen) { r =>
      val ops = AlignmentOps.parse(r.cigar, r.mdTag)
      val rows = Observer.basePileup(r)
      assert(rows.size === ops.collect { case AlnMatch(n, _) => n }.sum)
      assert(rows.map(_.pos).distinct.size === rows.size)
      assert(rows.forall(p => p.pos >= r.start && p.pos < r.end))
      assert(rows.count(p => p.base != p.refBase) === ops.collect { case AlnMatch(n, Some(_)) => n }.sum)
    }
  }
}

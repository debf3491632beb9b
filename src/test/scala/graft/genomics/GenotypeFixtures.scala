package graft.genomics

import graft.kernels.{AlignmentOps, AlnClip, AlnDel, AlnIns, AlnMatch, AlnOp}
import graft.model.Read
import org.apache.spark.sql.{DataFrame, Row}

import scala.util.Random

/** Seeded reads over a random reference, and a row comparison for
  * genotype calls, shared by the genotyper and CLI specs.
  */
object GenotypeFixtures {

  /** A random ACGT reference of `n` bases. */
  def reference(rnd: Random, n: Int): String = Seq.fill(n)("ACGT".charAt(rnd.nextInt(4))).mkString

  /** A read at `start` agreeing with `refSeq`: optional soft clips,
    * `gaps` aligned runs each followed by an optional insertion or
    * deletion, mismatches (a third of them N) at about 5% of aligned
    * bases, random strand, mapq and qualities.
    */
  def seededRead(refSeq: String, i: Int, start: Long, sample: String, gaps: Int,
      rnd: Random): Read = {
    def bases(n: Int) = Seq.fill(n)("ACGT".charAt(rnd.nextInt(4))).mkString
    var at = start.toInt // reference cursor
    def aligned(n: Int): (AlnOp, String) = {
      val ref = refSeq.substring(at, at + n)
      at += n
      val read = ref.map { r =>
        if (rnd.nextDouble() < 0.05)
          if (rnd.nextInt(3) == 0) 'N' else "ACGT".filterNot(_ == r).charAt(rnd.nextInt(3))
        else r
      }
      // one op per base keeps the '='/'X' runs trivially consistent
      (AlnMatch(n, if (read == ref) None else Some(ref)), read)
    }
    def matchRun(n: Int): Seq[(AlnOp, String)] = (0 until n).map(_ => aligned(1))
    def clip(): Seq[(AlnOp, String)] =
      if (rnd.nextInt(4) == 0) { val n = 1 + rnd.nextInt(3); Seq(AlnClip(n) -> bases(n)) } else Nil
    def gap(): Seq[(AlnOp, String)] = rnd.nextInt(4) match {
      case 0 => val n = 1 + rnd.nextInt(3); Seq(AlnIns(n) -> bases(n))
      case 1 =>
        val n = 1 + rnd.nextInt(3)
        val del = refSeq.substring(at, at + n)
        at += n
        Seq(AlnDel(del) -> "")
      case _ => Nil
    }
    val lead = clip()
    val first = matchRun(30 + rnd.nextInt(40))
    val rest = (0 until gaps).flatMap(_ => gap() ++ matchRun(20 + rnd.nextInt(40)))
    val parts = lead ++ first ++ rest ++ clip()
    val ops = AlignmentOps.collapse(parts.map(_._1))
    val sequence = parts.map(_._2).mkString
    val qual = sequence.map(_ => (35 + rnd.nextInt(39)).toChar)
    val (cigar, md) = AlignmentOps.render(ops)
    Read(s"r$i", "chr1", start, start + AlignmentOps.referenceLength(ops), sequence, qual,
      cigar, md, 20 + rnd.nextInt(41), readMapped = true, readNegativeStrand = rnd.nextBoolean(),
      duplicateRead = false, primaryAlignment = true, sampleId = sample)
  }

  /** `n` reads with up to three indels each, starting in [0, span), in
    * sample s2 every third read and s1 otherwise.
    */
  def denseIndelReads(refSeq: String, n: Int, span: Int, rnd: Random): Seq[Read] =
    (0 until n).map(i => seededRead(refSeq, i, rnd.nextInt(span).toLong,
      if (i % 3 == 0) "s2" else "s1", gaps = 3, rnd = rnd))

  /** The rows of `got` and `want` as multisets, doubles (also inside
    * arrays) equal within `relTol`: sums of doubles depend on the order
    * rows reach an aggregate, which no plan fixes.
    */
  def sameRows(got: DataFrame, want: DataFrame, relTol: Double = 1e-12): Boolean = {
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || x.isNaN && y.isNaN ||
          math.abs(x - y) <= relTol * math.max(math.abs(x), math.abs(y))
      case (x: Row, y: Row) => x.length == y.length && x.toSeq.zip(y.toSeq).forall((close _).tupled)
      case (x: collection.Seq[_], y: collection.Seq[_]) =>
        x.length == y.length && x.zip(y).forall((close _).tupled)
      case _ => a == b
    }
    // rows sort by their string form with doubles rounded, so near-equal
    // rows land at the same index
    def sorted(df: DataFrame): Seq[Row] = {
      def key(v: Any): String = v match {
        case d: Double => f"$d%.6e"
        case r: Row => r.toSeq.map(key).mkString("(", ",", ")")
        case s: collection.Seq[_] => s.map(key).mkString("[", ",", "]")
        case other => String.valueOf(other)
      }
      df.collect().toSeq.sortBy(key)
    }
    got.columns.toSeq == want.columns.toSeq && {
      val (g, w) = (sorted(got), sorted(want))
      g.length == w.length && g.zip(w).forall { case (a, b) => close(a, b) }
    }
  }
}

package graft.kernels

import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** Pure-Scala alignment-operator kernel library (no Spark imports): the
  * one module that knows CIGAR/MD semantics, for the readers and the
  * kernels alike.
  *
  * Re-implements, from the public SAM spec (CIGAR + MD tag semantics),
  * the capability of the reference's ObservationOperator ADT
  * (reference: avocado-core/.../models/ObservationOperator.scala:42-367):
  * tokenize a CIGAR, parse a CIGAR+MD pair into a normalized run-length
  * alignment, collapse adjacent runs, walk it with one (reference
  * position, read index) cursor, extract the variants a read shows,
  * reconstruct the reference substring, and render back to CIGAR+MD.
  * The readers take a read's span from the bare CIGAR and count `N`
  * skips in it; the kernels parse CIGAR+MD and reject `N`/`P`. Used
  * inside Dataset kernels; never a column type.
  */
sealed trait AlnOp {
  def size: Int
}

/** A run of aligned bases. `misBases` is None for an exact-match ('=')
  * run, or Some(referenceBases) for a mismatch ('X') run of the same
  * length.
  */
final case class AlnMatch(size: Int, misBases: Option[String] = None) extends AlnOp {
  require(misBases.forall(_.length == size), s"mismatch run $misBases != size $size")
}
final case class AlnIns(size: Int) extends AlnOp
final case class AlnDel(bases: String) extends AlnOp {
  def size: Int = bases.length
}
final case class AlnClip(size: Int, soft: Boolean = true) extends AlnOp

/** Per-base callback of [[AlignmentOps.foreachAlignedBase]]; a SAM type
  * rather than a Function3 so the per-base call does not box.
  */
trait AlignedBase {
  def apply(refPos: Long, readIdx: Int, refBase: Char): Unit
}

/** A variant one read shows, left-anchored the way VCF writes indels: an
  * SNV at its base, an insertion or deletion at the aligned base before
  * it. `qualSum` sums the phred scores of the `quals` read bases that
  * carry it: the SNV base, the inserted bases, none for a deletion.
  */
final case class ReadVariant(start: Long, ref: String, alt: String, qualSum: Int, quals: Int)

object AlignmentOps {

  // ---- CIGAR tokenizer --------------------------------------------------

  /** The CIGAR op codes, in the order BAM numbers them 0-8. */
  val CigarCodes = "MIDNSHP=X"
  /** The ops that consume reference bases. */
  val RefConsuming = "M=XDN"
  private val ReadConsuming = "M=XIS"

  /** The one CIGAR tokenizer: `"*"` and `""` have no ops; anything else
    * must be `(length op)+` with op one of `MIDNSHP=X`, or it throws
    * IllegalArgumentException.
    */
  def cigarOps(cigar: String): Seq[(Int, Char)] =
    if (cigar == "*" || cigar.isEmpty) Nil
    else {
      val out = ListBuffer.empty[(Int, Char)]
      var i = 0
      while (i < cigar.length) {
        var j = i
        while (j < cigar.length && cigar.charAt(j).isDigit) j += 1
        require(j > i && j < cigar.length && CigarCodes.indexOf(cigar.charAt(j)) >= 0,
          s"Bad CIGAR '$cigar'")
        out += ((cigar.substring(i, j).toInt, cigar.charAt(j)))
        i = j + 1
      }
      out.toList
    }

  /** Reference span of a read as the readers count it: `M/=/X/D/N`. */
  def cigarRefLength(ops: Seq[(Int, Char)]): Long =
    ops.collect { case (n, op) if RefConsuming.indexOf(op) >= 0 => n.toLong }.sum

  def cigarRefLength(cigar: String): Long = cigarRefLength(cigarOps(cigar))

  /** The same cursor as [[walk]] over raw CIGAR ops, for writers that
    * have no MD: `f(len, op, refPos, readIdx)` at the start of each op.
    */
  def walkCigar(start: Long, ops: Seq[(Int, Char)])(f: (Int, Char, Long, Int) => Unit): Unit = {
    var pos = start
    var idx = 0
    ops.foreach { case (n, op) =>
      f(n, op, pos, idx)
      if (RefConsuming.indexOf(op) >= 0) pos += n
      if (ReadConsuming.indexOf(op) >= 0) idx += n
    }
  }

  // ---- MD tag tokenizer -------------------------------------------------

  private sealed trait MdToken
  private final case class MdMatch(n: Int) extends MdToken
  private final case class MdMismatch(refBase: Char) extends MdToken
  private final case class MdDel(refBases: String) extends MdToken

  private def tokenizeMd(md: String): List[MdToken] = {
    val out = ArrayBuffer.empty[MdToken]
    var i = 0
    while (i < md.length) {
      val c = md.charAt(i)
      if (c.isDigit) {
        var j = i
        while (j < md.length && md.charAt(j).isDigit) j += 1
        val n = md.substring(i, j).toInt
        if (n > 0) out += MdMatch(n)
        i = j
      } else if (c == '^') {
        var j = i + 1
        while (j < md.length && md.charAt(j).isLetter) j += 1
        out += MdDel(md.substring(i + 1, j))
        i = j
      } else if (c.isLetter) {
        out += MdMismatch(c)
        i += 1
      } else {
        throw new IllegalArgumentException(s"Bad MD tag '$md' at index $i")
      }
    }
    out.toList
  }

  // ---- CIGAR + MD -> operators -----------------------------------------

  /** Parse a CIGAR string and MD tag into a normalized operator list.
    * M runs are split into '='/'X' sub-runs using the MD tag; 'D' runs
    * capture the deleted reference bases from the MD '^' token.
    * Throws IllegalArgumentException on malformed/inconsistent input —
    * callers on the hot path wrap in Try for per-row failure isolation
    * (the reference skips-and-warns; DiscoverVariants.scala:121-127).
    */
  def parse(cigar: String, md: String): Seq[AlnOp] = {
    val ops = cigarOps(cigar)
    require(ops.nonEmpty, "Empty CIGAR")
    var mdTokens = tokenizeMd(md)
    val out = ArrayBuffer.empty[AlnOp]

    /** Consume `n` aligned-to-reference bases from the MD stream, emitting
      * '='/'X' runs.
      */
    def consumeAligned(n: Int): Unit = {
      var left = n
      while (left > 0) {
        mdTokens match {
          case MdMatch(m) :: rest =>
            val take = math.min(m, left)
            out += AlnMatch(take)
            left -= take
            mdTokens = if (m > take) MdMatch(m - take) :: rest else rest
          case MdMismatch(b) :: rest =>
            out += AlnMatch(1, Some(b.toString))
            left -= 1
            mdTokens = rest
          case other =>
            throw new IllegalArgumentException(
              s"MD tag '$md' exhausted/inconsistent with CIGAR '$cigar' ($other)")
        }
      }
    }

    ops.foreach { case (len, op) =>
      op match {
        case 'M' | '=' | 'X' => consumeAligned(len)
        case 'I'             => out += AlnIns(len)
        case 'D' =>
          mdTokens match {
            case MdDel(bases) :: rest if bases.length == len =>
              out += AlnDel(bases)
              mdTokens = rest
            case other =>
              throw new IllegalArgumentException(
                s"CIGAR '$cigar' D$len has no matching MD deletion ($other)")
          }
        case 'S' => out += AlnClip(len, soft = true)
        case 'H' => out += AlnClip(len, soft = false)
        case _ => // 'N' | 'P'
          throw new IllegalArgumentException(s"Unsupported CIGAR op '$op'")
      }
    }
    collapse(out.toSeq)
  }

  /** [[parse]] for a read the walks index by read position: the CIGAR's
    * read length must be the sequence length, with one quality per base.
    */
  def parseRead(cigar: String, md: String, sequence: String, qual: String): Seq[AlnOp] = {
    val ops = parse(cigar, md)
    require(readLength(ops) == sequence.length && qual.length == sequence.length,
      s"CIGAR '$cigar' for ${sequence.length} bases and ${qual.length} qualities")
    ops
  }

  def phred(qual: String, i: Int): Int = qual.charAt(i) - 33

  // ---- the cursor walk ---------------------------------------------------

  /** The one (reference position, read index) cursor: calls
    * `f(op, refPos, readIdx)` at the start of each op. Matches advance
    * both, deletions the position, insertions and soft clips the index.
    */
  def walk(start: Long, ops: Seq[AlnOp])(f: (AlnOp, Long, Int) => Unit): Unit = {
    var pos = start
    var idx = 0
    ops.foreach { op =>
      f(op, pos, idx)
      op match {
        case AlnMatch(n, _)    => pos += n; idx += n
        case AlnIns(n)         => idx += n
        case AlnDel(b)         => pos += b.length
        case AlnClip(n, true)  => idx += n
        case AlnClip(_, false) => ()
      }
    }
  }

  /** Every aligned base as `f(refPos, readIdx, refBase)`; the reference
    * base is the MD's on a mismatch, else the read's own.
    */
  def foreachAlignedBase(start: Long, sequence: String, ops: Seq[AlnOp])(f: AlignedBase): Unit =
    walk(start, ops) {
      case (AlnMatch(n, misBases), pos, idx) =>
        val ref = misBases.getOrElse(sequence.substring(idx, idx + n))
        var i = 0
        while (i < n) {
          f(pos + i, idx + i, ref.charAt(i))
          i += 1
        }
      case _ => ()
    }

  /** The variants a read shows, in read order (kernel K5's extraction;
    * discovery gates them on quality, the observer keys its indel
    * evidence by them). An insertion or deletion at the first aligned
    * base has no anchor and is skipped.
    */
  def variants(start: Long, sequence: String, qual: String, ops: Seq[AlnOp]): Seq[ReadVariant] = {
    val out = ListBuffer.empty[ReadVariant]
    walk(start, ops) {
      case (AlnMatch(n, Some(ref)), pos, idx) =>
        var i = 0
        while (i < n) {
          out += ReadVariant(pos + i, ref.substring(i, i + 1),
            sequence.substring(idx + i, idx + i + 1), phred(qual, idx + i), 1)
          i += 1
        }
      case (AlnIns(n), pos, idx) if idx > 0 =>
        val q = (idx until idx + n).map(phred(qual, _)).sum
        out += ReadVariant(pos - 1, sequence.substring(idx - 1, idx),
          sequence.substring(idx - 1, idx + n), q, n)
      case (AlnDel(bases), pos, idx) if idx > 0 =>
        val anchor = sequence.substring(idx - 1, idx)
        out += ReadVariant(pos - 1, anchor + bases, anchor, 0, 0)
      case _ => ()
    }
    out.toList
  }

  // ---- collapse (run-length merge) -------------------------------------

  /** Merge adjacent same-type runs; drop zero-length ops. Pure-match runs
    * merge with pure-match, mismatch with mismatch (bases concatenated);
    * a pure and a mismatch run stay separate. Idempotent.
    */
  def collapse(ops: Seq[AlnOp]): Seq[AlnOp] = {
    val out = ArrayBuffer.empty[AlnOp]
    ops.filter(_.size > 0).foreach { op =>
      (out.lastOption, op) match {
        case (Some(AlnMatch(a, None)), AlnMatch(b, None)) =>
          out(out.length - 1) = AlnMatch(a + b)
        case (Some(AlnMatch(a, Some(x))), AlnMatch(b, Some(y))) =>
          out(out.length - 1) = AlnMatch(a + b, Some(x + y))
        case (Some(AlnIns(a)), AlnIns(b)) =>
          out(out.length - 1) = AlnIns(a + b)
        case (Some(AlnDel(x)), AlnDel(y)) =>
          out(out.length - 1) = AlnDel(x + y)
        case (Some(AlnClip(a, sa)), AlnClip(b, sb)) if sa == sb =>
          out(out.length - 1) = AlnClip(a + b, sa)
        case _ => out += op
      }
    }
    out.toSeq
  }

  // ---- reference reconstruction ----------------------------------------

  /** Rebuild the reference substring covered by the read from the read
    * sequence + operators (reference capability:
    * ObservationOperator.scala:233-292).
    */
  def extractReference(readSequence: String, ops: Seq[AlnOp]): String = {
    val sb = new StringBuilder
    walk(0L, ops) {
      case (AlnMatch(n, None), _, idx) => sb.append(readSequence.substring(idx, idx + n))
      case (AlnMatch(_, Some(ref)), _, _) => sb.append(ref)
      case (AlnDel(b), _, _)              => sb.append(b)
      case _                              => ()
    }
    sb.toString
  }

  // ---- operators -> CIGAR + MD render ----------------------------------

  /** Inverse of parse: render operators back to a (cigar, md) pair.
    * Match/mismatch runs render as 'M' (standard SAM style); the MD tag
    * carries the =/X distinction.
    */
  def render(ops: Seq[AlnOp]): (String, String) = {
    val cig = new StringBuilder
    val md = new StringBuilder
    var mdRun = 0 // accumulated '=' length pending in MD
    var pendingM = 0 // accumulated M length pending in CIGAR

    def flushM(): Unit = if (pendingM > 0) { cig.append(pendingM).append('M'); pendingM = 0 }
    def flushMd(): Unit = { md.append(mdRun); mdRun = 0 }

    collapse(ops).foreach {
      case AlnMatch(n, None) =>
        pendingM += n; mdRun += n
      case AlnMatch(n, Some(ref)) =>
        pendingM += n
        ref.foreach { b => flushMd(); md.append(b) }
      case AlnIns(n) =>
        flushM(); cig.append(n).append('I')
      case AlnDel(b) =>
        flushM(); cig.append(b.length).append('D')
        flushMd(); md.append('^').append(b)
      case AlnClip(n, soft) =>
        flushM(); cig.append(n).append(if (soft) 'S' else 'H')
    }
    flushM()
    flushMd()
    (cig.toString, md.toString)
  }

  /** Total read-consumed length (soft clips + matches + insertions). */
  def readLength(ops: Seq[AlnOp]): Int = ops.map {
    case AlnMatch(n, _)   => n
    case AlnIns(n)        => n
    case AlnClip(n, true) => n
    case _                => 0
  }.sum

  /** Total reference-consumed length (matches + deletions). */
  def referenceLength(ops: Seq[AlnOp]): Int = ops.map {
    case AlnMatch(n, _) => n
    case AlnDel(b)      => b.length
    case _              => 0
  }.sum
}

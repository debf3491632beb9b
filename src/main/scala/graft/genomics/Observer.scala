package graft.genomics

import graft.kernels.{AlignmentOps, AlnClip, AlnDel, AlnIns, Likelihood}
import graft.model.{DiscoveredVariant, Read}

import scala.util.Try

/** One read's evidence at one candidate variant site (the flattened,
  * discrete observation key that joins the score table; the shape of the
  * reference's SummarizedObservation, SummarizedObservation.scala:37-43).
  * support: 2 = read shows the alt allele, 1 = read shows the reference,
  * 0 = read shows some other allele.
  */
case class SiteObservation(
    contigName: String,
    start: Long,
    referenceAllele: String,
    alternateAllele: String,
    sampleId: String,
    support: Int,
    forwardStrand: Boolean,
    qual: Int,
    mapq: Int)

/** Per-read allele observation kernel (SURVEY.md K6; reference
  * Observer.scala:48-140): classify what a read shows at each overlapping
  * candidate site. SNVs are classified from the aligned base at the site;
  * indels by whether the read's own extracted variants contain the
  * candidate, with reference support requiring an intact match across the
  * deleted/anchor span.
  */
object Observer {

  final val SupportOther = 0
  final val SupportRef = 1
  final val SupportAlt = 2

  /** The reference's nullOut class (SummarizedObservation.scala:89-94):
    * the read covers the site but cannot attest any allele — it scores
    * only the symbolic non-ref dimension (nonReferenceLikelihoods),
    * contributing zero to the alt/ref genotype blend.
    */
  final val SupportNonRef = 3

  /** Aligned per-reference-position view of a read: base, phred, and
    * whether the position is a pure match (no indel adjacency needed for
    * SNV calls).
    */
  private case class SitePileup(
      base: Map[Long, (Char, Int)],
      refBase: Map[Long, Char], // aligned reference base per position (from MD)
      variants: Map[(Long, String, String), Int], // (start, ref, alt) -> qual
      indelAnchors: Set[Long], // reference positions adjacent to an indel
      clipBoundaries: Set[Long]) // aligned positions where a soft clip abuts

  private def walk(read: Read): SitePileup = {
    val ops = AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual)
    val bases = Map.newBuilder[Long, (Char, Int)]
    val refs = Map.newBuilder[Long, Char]
    val anchors = Set.newBuilder[Long]
    val clips = Set.newBuilder[Long]
    AlignmentOps.foreachAlignedBase(read.start, read.sequence, ops) { (pos, idx, ref) =>
      bases += pos -> ((read.sequence.charAt(idx), AlignmentOps.phred(read.qual, idx)))
      refs += pos -> ref
    }
    AlignmentOps.walk(read.start, ops) {
      case (AlnIns(_) | AlnDel(_), pos, _) => anchors += pos - 1
      // boundary position where the clip meets the aligned core
      case (AlnClip(_, true), pos, idx) => clips += (if (idx == 0) pos else pos - 1)
      case _                            => ()
    }
    // an insertion scores its bases' (integer) mean phred; deleted bases
    // carry no read quality and score on mapQ alone (reference
    // Observer.scala:120-137 emits optQuality = None)
    val vars = AlignmentOps.variants(read.start, read.sequence, read.qual, ops).map { v =>
      (v.start, v.ref, v.alt) -> (if (v.quals == 0) Likelihood.NoQual else v.qualSum / v.quals)
    }.toMap
    SitePileup(bases.result(), refs.result(), vars, anchors.result(), clips.result())
  }

  /** One aligned base of one read: the exploded pileup row for the
    * declarative SNV path (support classification happens as codegen'd
    * column expressions after an equi-join on position, not in this
    * kernel).
    */
  case class BaseObs(
      contigName: String,
      pos: Long,
      base: String,
      refBase: String, // aligned reference base (from MD; = base on match)
      qual: Int,
      forwardStrand: Boolean,
      mapq: Int,
      sampleId: String)

  /** [[BaseObs]] plus the compressed multiplicity. */
  case class WeightedBaseObs(
      contigName: String,
      pos: Long,
      base: String,
      refBase: String,
      qual: Int,
      forwardStrand: Boolean,
      mapq: Int,
      sampleId: String,
      w: Long)

  /** Weighted pileup WITHOUT a per-base shuffle: reads are re-keyed to
    * (contig, position-bin) — border reads replicated, base emission
    * clamped to the owning bin so nothing double-counts — and each
    * partition compresses its pileup in one hash pass. The shuffle
    * carries one row per READ (readLength× fewer rows than shuffling the
    * exploded pileup into a hash agg, the shape this replaces: measured
    * 7.0 s -> see bench for the win at sf0.1). Per-partition state is
    * the distinct observation keys of its bins — the same cardinality
    * the old partial agg held. Equivalent to
    * flatMap(basePileup).groupBy(key).count, by construction.
    */
  def compressedPileup(
      reads: org.apache.spark.sql.Dataset[Read],
      binSize: Long = 1000L): org.apache.spark.sql.DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    reads
      .flatMap { r =>
        // span from the CIGAR itself (what basePileup actually emits),
        // not the record's end field — an inconsistent end would clamp
        // bases out of every bin and silently lose depth
        val refLen = Try(AlignmentOps.cigarRefLength(r.cigar)).getOrElse(0L)
        val last = math.max(r.start, math.max(r.end - 1, r.start + refLen - 1))
        val b0 = r.start / binSize
        val b1 = last / binSize
        (b0 to b1).map(b => (r.contigName, b, r))
      }
      .repartition(col("_1"), col("_2"))
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[BaseObs, Long]
        it.foreach { case (_, bin, r) =>
          val lo = bin * binSize
          val hi = lo + binSize
          basePileup(r).foreach { p =>
            if (p.pos >= lo && p.pos < hi) m.update(p, m.getOrElse(p, 0L) + 1L)
          }
        }
        m.iterator.map { case (p, w) =>
          WeightedBaseObs(p.contigName, p.pos, p.base, p.refBase, p.qual,
            p.forwardStrand, p.mapq, p.sampleId, w)
        }
      }
      .toDF()
  }

  /** Explode a read into per-aligned-base pileup rows — runs ONCE per
    * read regardless of how many variants overlap it. Malformed reads
    * emit nothing.
    */
  def basePileup(read: Read): Seq[BaseObs] =
    Try {
      val ops = AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual)
      val out = new scala.collection.mutable.ArrayBuffer[BaseObs](read.sequence.length)
      AlignmentOps.foreachAlignedBase(read.start, read.sequence, ops) { (pos, idx, ref) =>
        val base = read.sequence.substring(idx, idx + 1)
        out += BaseObs(read.contigName, pos, base,
          if (ref == base.charAt(0)) base else ref.toString, AlignmentOps.phred(read.qual, idx),
          !read.readNegativeStrand, read.mapq, read.sampleId)
      }
      out.toSeq
    }.getOrElse(Nil)

  /** Observations of one read at the given candidate variants. Malformed
    * reads observe nothing (per-row failure isolation).
    */
  def observe(read: Read, variants: Seq[DiscoveredVariant]): Seq[SiteObservation] = {
    Try {
      val p = walk(read)
      variants.flatMap { v =>
        val alt = v.alternateAllele.getOrElse("")
        def obs(support: Int, q: Int) = Some(SiteObservation(
          v.contigName, v.start, v.referenceAllele, alt, read.sampleId,
          support, !read.readNegativeStrand, q, read.mapq))
        val isSnv = v.referenceAllele.length == 1 && alt.length == 1
        if (isSnv) {
          p.base.get(v.start) match {
            case Some((b, q)) if b.toString == alt              => obs(SupportAlt, q)
            case Some((b, q)) if b.toString == v.referenceAllele => obs(SupportRef, q)
            case Some((_, q))                                    => obs(SupportOther, q)
            case None                                            => None
          }
        } else {
          val key = (v.start, v.referenceAllele, alt)
          p.variants.get(key) match {
            case Some(q) => obs(SupportAlt, q)
            case None =>
              val span = v.start until v.end
              // a read whose OWN extracted variant sits at this same
              // start attests a DIFFERENT allele of this site: that is
              // other-alt evidence (reference otherAlt reclassification,
              // BiallelicGenotyper.scala:337-346), and it must win over
              // the ambiguity null-out below — at a multiallelic indel
              // site the competing carrier reads ARE the evidence that
              // this allele is absent (e.g. the T->TAAA carriers at the
              // T->CAAA candidate, reference suite 1/4120185).
              val competing = p.variants.keys.exists(_._1 == v.start)
              // ambiguity window: a nearby indel anchor or a soft-clip
              // boundary means this read's alignment cannot attest
              // presence/absence of the indel (fragmented insertions,
              // clipped-out inserts) -> observe nothing (the reference's
              // nullOut reclassification, BiallelicGenotyper.scala:287-373)
              val w = math.max(v.referenceAllele.length, alt.length) + 8L
              val ambiguous =
                p.indelAnchors.exists(a => a >= v.start - w && a <= v.end + w) ||
                  p.clipBoundaries.exists(c => c >= v.start - w && c <= v.end + w)
              val covered = span.forall(p.base.contains)
              // Insertion tail-matching (reference BiallelicGenotyper
              // .scala:306-330): in a repeat tract, a read whose aligned
              // tail past the anchor is consistent with BOTH haplotypes
              // (its bases equal the alt haplotype insBases ++ refTail for
              // as far as it reaches) cannot attest absence of the
              // insertion — observe nothing rather than reference support.
              def insertionTailAmbiguous: Boolean = {
                val isIns = v.referenceAllele.length == 1 && alt.length > 1
                if (!isIns) false
                else {
                  val tailPos = Iterator.from(1).map(v.start + _)
                    .takeWhile(p.base.contains).toSeq
                  val readTail = tailPos.map(p.base(_)._1).mkString
                  val refTail = tailPos.map(p.refBase(_)).mkString
                  val altHap = (alt.drop(1) + refTail).take(readTail.length)
                  readTail.isEmpty || readTail == altHap
                }
              }
              // nulled (nonref) observations keep the read in the depth
              // and nonReferenceLikelihoods accounting without touching
              // the alt/ref blend — reference nullOut semantics
              if (competing) {
                if (p.base.contains(v.start)) obs(SupportOther, p.base(v.start)._2)
                else None
              } else if (ambiguous) {
                if (p.base.contains(v.start)) obs(SupportNonRef, p.base(v.start)._2)
                else None
              } else if (covered) {
                if (insertionTailAmbiguous) obs(SupportNonRef, p.base(v.start)._2)
                else {
                  val quals = span.map(p.base(_)._2)
                  obs(SupportRef, quals.sum / quals.length)
                }
              } else None
          }
        }
      }
    }.getOrElse(Nil)
  }
}

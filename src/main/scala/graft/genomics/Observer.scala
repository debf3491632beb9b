package graft.genomics

import graft.kernels.{AlignmentOps, AlnClip, AlnDel, AlnIns, AlnOp, Likelihood}
import graft.model.{DiscoveredVariant, Read}
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.collection.mutable
import scala.util.Try

/** Per-read allele observation kernel (SURVEY.md K6; reference
  * Observer.scala:48-140): classify what a read shows at each overlapping
  * candidate site. SNVs are classified from the aligned base at the site;
  * indels by whether the read's own extracted variants contain the
  * candidate, with reference support requiring an intact match across the
  * deleted/anchor span.
  *
  * Two Spark entry points feed the genotyper. [[observations]] is the
  * default call's one narrow pass: broadcast candidates, each read parsed
  * once, SNV rows compressed per read partition. [[compressedPileup]] is
  * gVCF mode's weighted pileup of every aligned base, compressed per
  * (contig, bin) after a read shuffle.
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

  private def walk(read: Read, ops: Seq[AlnOp]): SitePileup = {
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

  /** Aligned bases of reads with equal (contig, position, base,
    * reference base, quality, strand, mapq, sample): the pileup row, `w`
    * bases. [[basePileup]] emits one per aligned base (w = 1),
    * [[compressedPileup]] one per distinct row.
    */
  case class WeightedBaseObs(
      contigName: String,
      pos: Long,
      base: String,
      refBase: String, // aligned reference base (from MD; = base on match)
      qual: Int,
      forwardStrand: Boolean,
      mapq: Int,
      sampleId: String,
      w: Long)

  /** Width of the (contig, position bin)s observations are grouped by. */
  private final val BinSize = 1000L

  /** One SNV candidate packed into a long: position in the high 32 bits,
    * then the reference and alternate base, 16 bits each. Longs sort by
    * position first, so a contig's sites ship as one sorted primitive
    * array.
    */
  object SnvSite {
    def apply(pos: Long, ref: String, alt: String): Long = {
      require(pos >= 0 && pos <= Int.MaxValue, s"SNV position $pos does not fit a site key")
      (pos << 32) | (ref.charAt(0).toLong << 16) | alt.charAt(0).toLong
    }
    def pos(site: Long): Long = site >>> 32
    def ref(site: Long): Char = ((site >>> 16) & 0xFFFF).toChar
    def alt(site: Long): Char = (site & 0xFFFF).toChar
  }

  /** `w` reads' equal evidence at one candidate variant site: the
    * genotyper's observation schema (the discrete observation key the
    * likelihood kernel scores, in the shape of the reference's
    * SummarizedObservation, SummarizedObservation.scala:37-43, plus its
    * multiplicity). support: 2 = the read shows the alt allele, 1 = the
    * reference, 0 = some other allele, 3 = no allele
    * ([[SupportNonRef]]).
    */
  case class WeightedObservation(
      contigName: String,
      start: Long,
      referenceAllele: String,
      alternateAllele: String,
      sampleId: String,
      support: Int,
      forwardStrand: Boolean,
      qual: Int,
      mapq: Int,
      w: Long)

  /** The per-read part of an observation key: one hash map of packed
    * per-site keys per group, looked up once per read and bin.
    */
  private case class ReadGroup(
      contigName: String, sampleId: String, forwardStrand: Boolean, mapq: Int, bin: Long)

  private val readGroupOrder: Ordering[ReadGroup] = Ordering.by(g =>
    (Option(g.contigName), Option(g.sampleId), g.forwardStrand, g.mapq, g.bin))

  /** The per-site part of an observation key packed into a long, high to
    * low: offset in the bin (13 bits, so [[BinSize]] must stay below
    * 8192), reference and alternate base (16 each; a pileup row's are the
    * aligned reference base and the read's base), support (2) and
    * quality + 33 (16, the qual character). Longs sort like (pos, ref,
    * alt, support, qual).
    */
  private object SiteKey {
    def apply(offset: Long, ref: Char, alt: Char, support: Int, qual: Int): Long =
      (offset << 50) | (ref.toLong << 34) | (alt.toLong << 18) | (support.toLong << 16) |
        (qual + 33).toLong
    def offset(k: Long): Long = k >>> 50
    def ref(k: Long): Char = ((k >>> 34) & 0xFFFF).toChar
    def alt(k: Long): Char = ((k >>> 18) & 0xFFFF).toChar
    def support(k: Long): Int = ((k >>> 16) & 3).toInt
    def qual(k: Long): Int = (k & 0xFFFF).toInt - 33
  }

  /** The one compressor: integer weights of packed [[SiteKey]]s, one map
    * per [[ReadGroup]]. [[rows]] emits `row(group, key, weight)` sorted by
    * group, then key, so the rows and their order depend only on what
    * was added, not on the order it arrived in.
    */
  private final class Compressor {
    private val groups = mutable.HashMap.empty[ReadGroup,
      mutable.LongMap[Array[Long]]]
    def counts(g: ReadGroup): mutable.LongMap[Array[Long]] =
      groups.getOrElseUpdate(g, mutable.LongMap.empty[Array[Long]])
    def rows[T](row: (ReadGroup, Long, Long) => T): Iterator[T] =
      groups.toArray.sortBy(_._1)(readGroupOrder).iterator.flatMap { case (g, counts) =>
        counts.keys.toArray.sorted.iterator.map(k => row(g, k, counts(k)(0)))
      }
  }

  private def add(counts: mutable.LongMap[Array[Long]], key: Long, w: Long): Unit =
    counts.getOrElseUpdate(key, new Array[Long](1))(0) += w

  /** Counts one read's evidence, position by position, into the group
    * `counts` returns for the read and the position's bin; the group is
    * looked up once per bin the read touches.
    */
  private final class ReadCounts(r: Read, counts: ReadGroup => mutable.LongMap[Array[Long]]) {
    private var bin = Long.MinValue
    private var current: mutable.LongMap[Array[Long]] = null
    def add(pos: Long, ref: Char, alt: Char, support: Int, qual: Int): Unit = {
      if (pos / BinSize != bin) {
        bin = pos / BinSize
        current = counts(ReadGroup(r.contigName, r.sampleId, !r.readNegativeStrand, r.mapq, bin))
      }
      Observer.add(current, SiteKey(pos - bin * BinSize, ref, alt, support, qual), 1L)
    }
  }

  /** Weighted pileup of every aligned base: flatMap([[basePileup]])
    * .groupBy(every column but w).count by construction, without a per-base
    * shuffle. Reads are keyed to every 1000 bp (contig, bin) their span
    * touches (the span from the CIGAR itself, what the walk emits, not
    * the record's end field) and shuffled on it, so each bin's reads
    * meet in one partition (a fixed partition count: AQE would coalesce
    * this small input into a few long per-read tasks). Each partition
    * counts its bins' aligned bases as packed [[SiteKey]]s (ref = the
    * aligned reference base, alt = the read's base, support 0), a read
    * across a border adding in each bin only the positions it owns, and
    * builds strings only for the rows it emits, sorted by group and key.
    * It serves the genotyper's gVCF mode, which observes every position;
    * the default call observes the candidates with [[observations]],
    * which never builds this table.
    */
  def compressedPileup(reads: Dataset[Read]): DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    reads
      .flatMap { r =>
        val refLen = Try(AlignmentOps.cigarRefLength(r.cigar)).getOrElse(0L)
        val last = math.max(r.start, math.max(r.end - 1, r.start + refLen - 1))
        (r.start / BinSize to last / BinSize).map(b => (r.contigName, b, r))
      }
      .repartition(spark.sessionState.conf.numShufflePartitions, col("_1"), col("_2"))
      .mapPartitions { it =>
        val pileup = new Compressor
        it.foreach { case (_, bin, r) =>
          Try(AlignmentOps.parseRead(r.cigar, r.mdTag, r.sequence, r.qual)).foreach { ops =>
            val counts = new ReadCounts(r, pileup.counts)
            val lo = bin * BinSize
            AlignmentOps.foreachAlignedBase(r.start, r.sequence, ops) { (pos, idx, ref) =>
              if (pos >= lo && pos < lo + BinSize)
                counts.add(pos, ref, r.sequence.charAt(idx), SupportOther, AlignmentOps.phred(r.qual, idx))
            }
          }
        }
        pileup.rows { (g, k, w) =>
          WeightedBaseObs(g.contigName, g.bin * BinSize + SiteKey.offset(k), SiteKey.alt(k).toString,
            SiteKey.ref(k).toString, SiteKey.qual(k), g.forwardStrand, g.mapq, g.sampleId, w)
        }
      }
      .toDF()
  }

  /** The candidates of one contig (and sample): the SNVs as sorted
    * [[SnvSite]]s, the other candidates sorted by start with their
    * alleles, and the widest reference span among them, which bounds how
    * far before a read an overlapping candidate can start.
    */
  private case class ContigCandidates(
      snvs: Array[Long],
      indelStarts: Array[Long],
      indelRefs: Array[String],
      indelAlts: Array[String],
      indelSpan: Long)

  /** Candidates by (contig, sample; null when not per sample). A
    * candidate with a null contig, reference allele or (per sample)
    * sample matches no read, as in an equi-join.
    */
  private def candidateTable(rows: Array[(String, Long, String, String, String)], perSample: Boolean)
      : Map[(String, String), ContigCandidates] =
    rows.filter(r => r._1 != null && r._3 != null && (r._5 != null || !perSample))
      .groupBy(r => (r._1, r._5)).map { case (key, vs) =>
        val (snvs, indels) = vs.partition(v => v._4 != null && v._3.length == 1 && v._4.length == 1)
        val byStart = indels.sortBy(_._2)
        key -> ContigCandidates(snvs.map(v => SnvSite(v._2, v._3, v._4)).sorted,
          byStart.map(_._2), byStart.map(_._3), byStart.map(_._4),
          byStart.map(v => math.max(v._3.length, 1).toLong).maxOption.getOrElse(0L))
      }

  /** The first index of the sorted `xs` holding a value >= `x`. */
  private def lowerBound(xs: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Weighted observations of `reads` at the candidate variants
    * `candidates` (contigName, start, referenceAllele, alternateAllele,
    * plus sampleId when `perSample`; a read then observes only its own
    * sample's candidates), in the genotyper's observation schema.
    *
    * The reference's broadcast probe (TreeRegionJoin's interval tree,
    * SURVEY J1) in one narrow pass: the candidates are collected once
    * (the one job this function runs) and broadcast per (contig[,
    * sample]) as a sorted [[SnvSite]] array and a start-sorted indel
    * array. Each read finds its candidates by binary search and is parsed
    * once, only if it covers one. Its SNV evidence ([[observeSnvs]]: alt,
    * else ref, else other) is counted in the partition's [[Compressor]],
    * one group per (contig, sample, strand, mapq, 1000 bp bin), and
    * emitted after the partition's last read, sorted by group and key; a
    * read across a bin border counts each site in the bin that owns it.
    * Its indel evidence ([[observeAt]], the alignment-aware kernel with
    * nullOut handling) is emitted per (read, candidate), weight 1. A
    * candidate overlaps a read when its [start, start + max(|ref|, 1))
    * meets the read's [start, end). No read is shuffled and no
    * string-keyed table is broadcast; a malformed read observes nothing.
    */
  def observations(
      reads: Dataset[Read],
      candidates: DataFrame,
      perSample: Boolean): DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val table = spark.sparkContext.broadcast(candidateTable(candidates
      .select(col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        if (perSample) col("sampleId") else lit(null).cast("string"))
      .as[(String, Long, String, String, String)]
      .collect(), perSample))
    reads.mapPartitions { it =>
      val cands = table.value
      val snvs = new Compressor
      it.flatMap { r =>
        val c = cands.getOrElse((r.contigName, if (perSample) r.sampleId else null), null)
        if (c == null) Iterator.empty else observeRead(r, c, snvs)
      } ++ snvs.rows { (g, k, w) =>
        WeightedObservation(g.contigName, g.bin * BinSize + SiteKey.offset(k),
          SiteKey.ref(k).toString, SiteKey.alt(k).toString, g.sampleId,
          SiteKey.support(k), g.forwardStrand, SiteKey.qual(k), g.mapq, w)
      }
    }.toDF()
  }

  /** One read against its contig's candidates: SNV evidence into
    * `snvs`, indel observations returned.
    */
  private def observeRead(r: Read, c: ContigCandidates, snvs: Compressor): Iterator[WeightedObservation] = {
    lazy val ops = Try(AlignmentOps.parseRead(r.cigar, r.mdTag, r.sequence, r.qual))
    val first = lowerBound(c.snvs, r.start << 32)
    if (first < c.snvs.length &&
        SnvSite.pos(c.snvs(first)) < r.start + Try(AlignmentOps.cigarRefLength(r.cigar)).getOrElse(0L)) {
      val counts = new ReadCounts(r, snvs.counts)
      ops.foreach(snvsOn(r, _, c.snvs, first) { (site, support, qual) =>
        counts.add(SnvSite.pos(site), SnvSite.ref(site), SnvSite.alt(site), support, qual)
      })
    }
    var i = lowerBound(c.indelStarts, r.start - c.indelSpan + 1)
    if (i >= c.indelStarts.length || c.indelStarts(i) >= r.end) Iterator.empty
    else {
      val out = Seq.newBuilder[WeightedObservation]
      lazy val walked = ops.flatMap(o => Try(walk(r, o)))
      while (i < c.indelStarts.length && c.indelStarts(i) < r.end) {
        val v = DiscoveredVariant(r.contigName, c.indelStarts(i), c.indelRefs(i), Option(c.indelAlts(i)))
        if (v.end > r.start)
          walked.flatMap(p => Try(observeAt(r, p, v))).toOption.flatten.foreach(out += _)
        i += 1
      }
      out.result().iterator
    }
  }

  /** What one read shows at the SNV candidates `sites` ([[SnvSite]]s,
    * sorted): `emit(site, support, base quality)` per candidate under an
    * aligned base — alt, else ref, else other; a multiallelic position
    * observes every candidate. A malformed read observes nothing.
    */
  def observeSnvs(read: Read, sites: Array[Long])(emit: (Long, Int, Int) => Unit): Unit =
    Try(AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual))
      .foreach(snvsOn(read, _, sites, 0)(emit))

  /** [[observeSnvs]] on a parsed read, from `sites(first)` on. */
  private def snvsOn(read: Read, ops: Seq[AlnOp], sites: Array[Long], first: Int)(
      emit: (Long, Int, Int) => Unit): Unit = {
    var i = first
    AlignmentOps.foreachAlignedBase(read.start, read.sequence, ops) { (pos, idx, _) =>
      while (i < sites.length && SnvSite.pos(sites(i)) < pos) i += 1
      var j = i
      while (j < sites.length && SnvSite.pos(sites(j)) == pos) {
        val s = sites(j)
        val b = read.sequence.charAt(idx)
        emit(s,
          if (SnvSite.alt(s) == b) SupportAlt else if (SnvSite.ref(s) == b) SupportRef else SupportOther,
          AlignmentOps.phred(read.qual, idx))
        j += 1
      }
    }
  }

  /** Explode a read into per-aligned-base pileup rows, weight 1 each —
    * runs ONCE per read regardless of how many variants overlap it.
    * Malformed reads emit nothing.
    */
  def basePileup(read: Read): Seq[WeightedBaseObs] =
    Try {
      val ops = AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual)
      val out = new mutable.ArrayBuffer[WeightedBaseObs](read.sequence.length)
      AlignmentOps.foreachAlignedBase(read.start, read.sequence, ops) { (pos, idx, ref) =>
        val base = read.sequence.substring(idx, idx + 1)
        out += WeightedBaseObs(read.contigName, pos, base,
          if (ref == base.charAt(0)) base else ref.toString, AlignmentOps.phred(read.qual, idx),
          !read.readNegativeStrand, read.mapq, read.sampleId, 1L)
      }
      out.toSeq
    }.getOrElse(Nil)

  /** Observations of one read at the given candidate variants on its
    * contig, weight 1 each: the SNVs through [[observeSnvs]], as
    * [[observations]] classifies them, the others through the indel
    * kernel. Malformed reads observe nothing (per-row failure isolation).
    */
  def observe(read: Read, variants: Seq[DiscoveredVariant]): Seq[WeightedObservation] =
    Try {
      val (snvs, others) = variants.partition(v =>
        v.referenceAllele.length == 1 && v.alternateAllele.exists(_.length == 1))
      val out = Seq.newBuilder[WeightedObservation]
      observeSnvs(read, snvs.map(v => SnvSite(v.start, v.referenceAllele, v.alternateAllele.get))
          .sorted.toArray) { (site, support, qual) =>
        out += WeightedObservation(read.contigName, SnvSite.pos(site), SnvSite.ref(site).toString,
          SnvSite.alt(site).toString, read.sampleId, support, !read.readNegativeStrand, qual,
          read.mapq, 1L)
      }
      if (others.nonEmpty) {
        val p = walk(read, AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual))
        others.foreach(out ++= observeAt(read, p, _))
      }
      out.result()
    }.getOrElse(Nil)

  /** What the walked read `p` shows at one indel (or other non-SNV)
    * candidate `v`, weight 1.
    */
  private def observeAt(read: Read, p: SitePileup, v: DiscoveredVariant): Option[WeightedObservation] = {
    val alt = v.alternateAllele.getOrElse("")
    def obs(support: Int, q: Int) = Some(WeightedObservation(
      v.contigName, v.start, v.referenceAllele, alt, read.sampleId,
      support, !read.readNegativeStrand, q, read.mapq, 1L))
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

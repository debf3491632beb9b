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

  /** Width of the (contig, position bin)s the read shuffles key by. */
  private final val BinSize = 1000L

  /** Reads keyed to the (contig, position bin)s their pileup feeds, for
    * the bin shuffles of [[compressedPileup]] and [[snvObservations]], as
    * (contig, bin, read, end of the read's span). The span comes from the
    * CIGAR itself (what the walks actually emit), not the record's end
    * field — an inconsistent end would clamp bases out of every bin and
    * silently lose depth. A read crossing a bin border is replicated to
    * every bin it touches; each bin emits only the positions it owns, so
    * nothing double-counts.
    */
  private def binnedReads(
      reads: org.apache.spark.sql.Dataset[Read]): org.apache.spark.sql.Dataset[(String, Long, Read, Long)] = {
    import reads.sparkSession.implicits._
    reads.flatMap { r =>
      val refLen = Try(AlignmentOps.cigarRefLength(r.cigar)).getOrElse(0L)
      val last = math.max(r.start, math.max(r.end - 1, r.start + refLen - 1))
      (r.start / BinSize to last / BinSize).map(b => (r.contigName, b, r, last + 1))
    }
  }

  /** Weighted pileup of every aligned base: flatMap([[basePileup]])
    * .groupBy(every column).count by construction, without a per-base
    * shuffle. Reads keyed by [[binnedReads]] go through [[compressBins]];
    * each aligned base in the bin becomes one packed [[SiteKey]] (ref =
    * the aligned reference base, alt = the read's base, support 0), and
    * strings are built only for the emitted rows. It serves the
    * genotyper's gVCF mode, which observes every position; the default
    * call observes SNV candidates with [[snvObservations]], which never
    * builds this table.
    */
  def compressedPileup(reads: org.apache.spark.sql.Dataset[Read]): org.apache.spark.sql.DataFrame = {
    import reads.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    compressBins(binnedReads(reads)
      .select(col("_1"), col("_2"), col("_3"), lit(null).cast("array<bigint>").as("sites"))) {
      (r, bin, _, add) =>
        Try(AlignmentOps.parseRead(r.cigar, r.mdTag, r.sequence, r.qual)).foreach { ops =>
          val lo = bin * BinSize
          AlignmentOps.foreachAlignedBase(r.start, r.sequence, ops) { (pos, idx, ref) =>
            if (pos >= lo && pos < lo + BinSize)
              add(SiteKey(pos - lo, ref, r.sequence.charAt(idx), SupportOther,
                AlignmentOps.phred(r.qual, idx)))
          }
        }
    } { (g, k, w) =>
      WeightedBaseObs(g.contigName, g.bin * BinSize + SiteKey.offset(k), SiteKey.alt(k).toString,
        SiteKey.ref(k).toString, SiteKey.qual(k), g.forwardStrand, g.mapq, g.sampleId, w)
    }.toDF()
  }

  /** One SNV candidate packed into a long: position in the high 32 bits,
    * then the reference and alternate base, 16 bits each. Longs sort by
    * position first, and a bin's site list ships as one primitive array.
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

  /** [[SiteObservation]] plus its compressed multiplicity: the
    * genotyper's observation schema.
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
    * per-site keys per group, looked up once per read.
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

  /** The one per-bin compressor, behind [[compressedPileup]] and
    * [[snvObservations]]. `binned` holds reads keyed to their (contig
    * `_1`, bin `_2`), the read `_3` and a `sites` array; one shuffle puts
    * each (contig, bin) in one partition (a fixed partition count: AQE
    * would coalesce this small input into a few long per-read tasks).
    * Each partition counts the [[SiteKey]]s `keys(read, bin, sites, add)`
    * adds, one map per (contig, sample, strand, mapq, bin), and emits
    * `row(group, key, weight)` sorted by group, then key: a bin's rows
    * and their order do not depend on how the input was partitioned.
    */
  private def compressBins[T: org.apache.spark.sql.Encoder](binned: org.apache.spark.sql.DataFrame)(
      keys: (Read, Long, Array[Long], Long => Unit) => Unit)(
      row: (ReadGroup, Long, Long) => T): org.apache.spark.sql.Dataset[T] = {
    val spark = binned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    binned
      .repartition(spark.sessionState.conf.numShufflePartitions, col("_1"), col("_2"))
      .select(col("_2"), col("sites"), col("_3"))
      .as[(Long, Array[Long], Read)]
      .mapPartitions { it =>
        val groups = scala.collection.mutable.HashMap.empty[ReadGroup,
          scala.collection.mutable.LongMap[Array[Long]]]
        it.foreach { case (bin, sites, r) =>
          val counts = groups.getOrElseUpdate(
            ReadGroup(r.contigName, r.sampleId, !r.readNegativeStrand, r.mapq, bin),
            scala.collection.mutable.LongMap.empty[Array[Long]])
          keys(r, bin, sites, k => counts.getOrElseUpdate(k, new Array[Long](1))(0) += 1)
        }
        groups.toArray.sortBy(_._1)(readGroupOrder).iterator.flatMap { case (g, counts) =>
          counts.keys.toArray.sorted.iterator.map(k => row(g, k, counts(k)(0)))
        }
      }
  }

  /** Weighted observations of `reads` at the SNV candidates `snvs`
    * (contigName, start, referenceAllele, alternateAllele, plus sampleId
    * when `perSample`): the pileup restricted to candidate sites, without
    * building the pileup of every base.
    *
    * The candidates become a site-bin table, one row per (contig, bin)
    * (and sample) holding that bin's sites. Reads keyed by
    * [[binnedReads]] meet it in a broadcast join BEFORE the read shuffle
    * of [[compressBins]] and keep only the sites inside their own span,
    * so a read that covers no candidate never shuffles and a read carries
    * a handful of sites however dense its bin is. Support (alt, else ref,
    * else other) is classified by [[observeSnvs]]. A bin holds only the
    * sites it owns, so a read replicated across a border observes each
    * site once.
    */
  def snvObservations(
      reads: org.apache.spark.sql.Dataset[Read],
      snvs: org.apache.spark.sql.DataFrame,
      perSample: Boolean): org.apache.spark.sql.DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val siteBins = snvs
      .select(col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        (if (perSample) col("sampleId") else lit(null).cast("string")))
      .as[(String, Long, String, String, String)]
      .map { case (contig, pos, ref, alt, sample) =>
        (contig, pos / BinSize, sample, SnvSite(pos, ref, alt))
      }
      .toDF("site_contig", "site_bin", "site_sample", "site")
      .groupBy(Seq(col("site_contig"), col("site_bin")) ++
        (if (perSample) Seq(col("site_sample")) else Nil): _*)
      .agg(array_sort(collect_list(col("site"))).as("sites"))
    val cond = {
      val base = col("_1") === col("site_contig") && col("_2") === col("site_bin")
      if (perSample) base && col("_3.sampleId") === col("site_sample") else base
    }
    compressBins(binnedReads(reads)
      .join(broadcast(siteBins), cond)
      .withColumn("sites", graft.functions.NativeExpressions.sorted_range(
        col("sites"), shiftleft(col("_3.start"), 32), shiftleft(col("_4"), 32)))
      .where(size(col("sites")) > 0)) { (r, bin, sites, add) =>
      observeSnvs(r, sites) { (site, support, qual) =>
        add(SiteKey(SnvSite.pos(site) - bin * BinSize, SnvSite.ref(site), SnvSite.alt(site),
          support, qual))
      }
    } { (g, k, w) =>
      WeightedObservation(g.contigName, g.bin * BinSize + SiteKey.offset(k),
        SiteKey.ref(k).toString, SiteKey.alt(k).toString, g.sampleId,
        SiteKey.support(k), g.forwardStrand, SiteKey.qual(k), g.mapq, w)
    }.toDF()
  }

  /** Observations of `reads` at the indel candidates `indels`
    * (contigName, start, referenceAllele, alternateAllele, plus sampleId
    * when `perSample`), each of weight 1: the bin-bucketed interval join
    * (J1/J2, `binSize` wide bins) against the broadcast candidates, then
    * [[observe]] on each (read, candidate) row. `observe` keeps no state
    * between candidates, so, as in the reference's broadcast probe
    * (TreeRegionJoin.joinAndGroupByRight), no read is shuffled to gather
    * its candidates; the join streams reads, so a read's rows arrive
    * together and it is walked once for all of them. A malformed read
    * observes nothing.
    */
  def indelObservations(
      reads: org.apache.spark.sql.Dataset[Read],
      indels: org.apache.spark.sql.DataFrame,
      perSample: Boolean,
      binSize: Double): org.apache.spark.sql.DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val v = indels.select(Seq(col("contigName").as("v_contig"), col("start").as("v_start"),
      col("referenceAllele").as("v_ref"), col("alternateAllele").as("v_alt"),
      (col("start") + greatest(length(col("referenceAllele")), lit(1))).as("v_end")) ++
      (if (perSample) Seq(col("sampleId").as("v_sample")) else Nil): _*)
    graft.operators.IntervalJoin.overlap(reads.toDF, "start", "end", v, "v_start", "v_end", binSize,
        keys = Seq("contigName" -> "v_contig") ++
          (if (perSample) Seq("sampleId" -> "v_sample") else Nil),
        broadcastRight = true)
      .select(struct(reads.columns.map(col): _*), col("v_start"), col("v_ref"), col("v_alt"))
      .as[(Read, Long, String, Option[String])]
      .mapPartitions { rows =>
        var last: Read = null
        var walked: Try[SitePileup] = null
        rows.flatMap { case (r, start, ref, alt) =>
          if (r != last) { last = r; walked = Try(walk(r)) }
          walked.flatMap(p => Try(observeAt(r, p, DiscoveredVariant(r.contigName, start, ref, alt))))
            .toOption.flatten
        }
      }
      .withColumn("w", lit(1L))
  }

  /** What one read shows at the SNV candidates `sites` ([[SnvSite]]s,
    * sorted): `emit(site, support, base quality)` per candidate under an
    * aligned base — alt, else ref, else other; a multiallelic position
    * observes every candidate. A malformed read observes nothing.
    */
  def observeSnvs(read: Read, sites: Array[Long])(emit: (Long, Int, Int) => Unit): Unit =
    Try(AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual)).foreach { ops =>
      var i = 0
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
  def observe(read: Read, variants: Seq[DiscoveredVariant]): Seq[SiteObservation] =
    Try {
      val p = walk(read)
      variants.flatMap(observeAt(read, p, _))
    }.getOrElse(Nil)

  /** What the walked read `p` shows at one candidate `v`. */
  private def observeAt(read: Read, p: SitePileup, v: DiscoveredVariant): Option[SiteObservation] = {
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
}

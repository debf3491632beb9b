package graft.genomics

import graft.SparkSpec
import graft.kernels.{AlignmentOps, AlnClip, AlnDel, AlnIns, AlnMatch, AlnOp}
import graft.model.Read
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** `Observer.snvObservations` (reads observed at the SNV candidates'
  * own sites) against the declarative path it replaced, built inline as
  * the oracle: the weighted pileup of every base equi-joined to the
  * candidates on (contig, position[, sample]), support classified as alt,
  * else ref, else other. Weights are compared summed per observation key:
  * the pileup keys by the read's base, the kernel by its support.
  */
class SnvObservationSpec extends SparkSpec {
  import Observer.SnvSite

  private val keyCols = Seq("contigName", "start", "referenceAllele", "alternateAllele",
    "sampleId", "support", "forwardStrand", "qual", "mapq")

  private def oracle(reads: Dataset[Read], snvs: DataFrame, perSample: Boolean): DataFrame = {
    val pileup = Observer.compressedPileup(reads)
    val v = snvs.select(Seq(col("contigName").as("v_contig"), col("start").as("v_start"),
      col("referenceAllele").as("v_ref"), col("alternateAllele").as("v_alt")) ++
      (if (perSample) Seq(col("sampleId").as("v_sample")) else Nil): _*)
    val cond = {
      val base = pileup("contigName") === v("v_contig") && pileup("pos") === v("v_start")
      if (perSample) base && pileup("sampleId") === v("v_sample") else base
    }
    pileup.join(v, cond)
      .select(col("contigName"), col("v_start").as("start"), col("v_ref").as("referenceAllele"),
        col("v_alt").as("alternateAllele"), col("sampleId"),
        when(col("base") === col("v_alt"), Observer.SupportAlt)
          .when(col("base") === col("v_ref"), Observer.SupportRef)
          .otherwise(Observer.SupportOther).as("support"),
        col("forwardStrand"), col("qual"), col("mapq"), col("w"))
  }

  private def summed(df: DataFrame): Seq[String] =
    df.groupBy(keyCols.map(col): _*).agg(sum("w").as("w"))
      .orderBy(keyCols.map(col): _*).collect().map(_.mkString("|")).toSeq

  // ---- seeded reads over one random reference --------------------------

  private val rnd = new scala.util.Random(7)
  private val refSeq = Seq.fill(2600)("ACGT".charAt(rnd.nextInt(4))).mkString

  /** A read at `start` agreeing with `refSeq`: optional soft clips, one
    * optional insertion or deletion, mismatches (a third of them N) at
    * about 5% of aligned bases, random strand, mapq and qualities.
    */
  private def seededRead(i: Int, start: Long, sample: String): Read = {
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
    val lead = clip()
    val first = matchRun(30 + rnd.nextInt(40))
    val gap = rnd.nextInt(4) match {
      case 0 => val n = 1 + rnd.nextInt(3); Seq(AlnIns(n) -> bases(n))
      case 1 =>
        val n = 1 + rnd.nextInt(3)
        val del = refSeq.substring(at, at + n)
        at += n
        Seq(AlnDel(del) -> "")
      case _ => Nil
    }
    val second = matchRun(20 + rnd.nextInt(40))
    val parts = lead ++ first ++ gap ++ second ++ clip()
    val ops = AlignmentOps.collapse(parts.map(_._1))
    val sequence = parts.map(_._2).mkString
    val qual = sequence.map(_ => (35 + rnd.nextInt(39)).toChar)
    val (cigar, md) = AlignmentOps.render(ops)
    Read(s"r$i", "chr1", start, start + AlignmentOps.referenceLength(ops), sequence, qual,
      cigar, md, 20 + rnd.nextInt(41), readMapped = true, readNegativeStrand = rnd.nextBoolean(),
      duplicateRead = false, primaryAlignment = true, sampleId = sample)
  }

  /** 400 reads over 2.5 kbp (bins 0-2 at 1000 bp), many across the
    * 1000 bp border, in two samples.
    */
  private lazy val reads: Seq[Read] = (0 until 400).map { i =>
    val start = if (i % 4 == 0) 900L + rnd.nextInt(100) else rnd.nextInt(2400).toLong
    seededRead(i, start, if (i % 3 == 0) "s2" else "s1")
  }

  /** SNV candidates: each a non-reference allele at its position, plus
    * two alts at one position and sites on both sides of the border.
    */
  private def candidates(positions: Seq[Int]): Seq[(String, Long, String, String)] =
    positions.flatMap { p =>
      val ref = refSeq.charAt(p)
      val alts = "ACGT".filterNot(_ == ref)
      val n = if (p % 2 == 0) 2 else 1 // even positions are multiallelic
      alts.take(n).map(a => ("chr1", p.toLong, ref.toString, a.toString))
    }

  private val sites = Seq(50, 313, 998, 999, 1000, 1001, 1017, 1500, 1999, 2000, 2222)

  test("snvObservations equals the pileup join, weights summed per observation key") {
    import spark.implicits._
    val rds = reads.toDS()
    val snvs = candidates(sites).toDF("contigName", "start", "referenceAllele", "alternateAllele")
    val want = summed(oracle(rds, snvs, perSample = false))
    for (broadcastSites <- Seq(true, false)) {
      val got = Observer.snvObservations(rds, snvs, perSample = false, broadcastSites)
      assert(summed(got) === want)
      // one row per observation key: each site is observed in one bin
      assert(got.count() === got.select(keyCols.map(col): _*).distinct().count())
    }
    // the seeded reads exercise what the kernel must get right
    val rows = want.map(_.split('|'))
    val multi = rows.filter(_(1) == "998").map(_(3)).distinct
    assert(multi.size === 2, "two alts at one position")
    assert(reads.exists(r => r.start < 1000 && r.end > 1001), "a read across the bin border")
    assert(rows.exists(r => r(1) == "1000") && rows.exists(r => r(1) == "999"))
    assert(rows.exists(_(6) == "false"), "reverse-strand observations")
    val other = reads.exists { r =>
      sites.exists(p => Observer.basePileup(r).exists(b => b.pos == p && b.base == "N"))
    }
    assert(other, "an N base under a candidate")
  }

  test("sorted_range keeps the elements in [lo, hi)") {
    import spark.implicits._
    val df = Seq((Seq(5L, 7L, 7L, 9L), 0)).toDF("xs", "k")
    def range(lo: Long, hi: Long): Seq[Long] =
      df.select(graft.functions.NativeExpressions.sorted_range(col("xs"), lit(lo), lit(hi)))
        .as[Seq[Long]].head()
    assert(range(0, 100) === Seq(5L, 7L, 7L, 9L))
    assert(range(5, 9) === Seq(5L, 7L, 7L))
    assert(range(6, 8) === Seq(7L, 7L))
    assert(range(10, 20) === Nil)
    assert(range(8, 3) === Nil)
  }

  test("an N base is other support; each alt at a position is observed with its quality") {
    val r = Read("n", "chr1", 100, 110, "ACGTNACGTA", "IIIIJIIIII", "10M", "4A5", 50,
      readMapped = true, readNegativeStrand = true, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Char, Int, Int)]
    Observer.observeSnvs(r, Array(SnvSite(104, "A", "G"), SnvSite(104, "A", "N"),
      SnvSite(105, "A", "C"))) { (site, support, qual) =>
      out += ((SnvSite.pos(site), SnvSite.alt(site), support, qual))
    }
    assert(out === Seq((104L, 'G', Observer.SupportOther, 'J' - 33),
      (104L, 'N', Observer.SupportAlt, 'J' - 33), (105L, 'C', Observer.SupportRef, 'I' - 33)))
  }

  test("perSample: a read observes only its own sample's candidates") {
    import spark.implicits._
    val rds = reads.toDS()
    // s1 holds every site; s2 only the even ones, so its reads over the
    // odd sites observe nothing there
    val perSample = (candidates(sites).map { case (c, p, r, a) => ("s1", c, p, r, a) } ++
      candidates(sites.filter(_ % 2 == 0)).map { case (c, p, r, a) => ("s2", c, p, r, a) })
      .toDF("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
    val got = Observer.snvObservations(rds, perSample, perSample = true, broadcastSites = true)
    assert(summed(got) === summed(oracle(rds, perSample, perSample = true)))
    val s2Sites = got.where(col("sampleId") === "s2").select("start").distinct()
      .as[Long].collect().toSet
    assert(s2Sites.nonEmpty && s2Sites.forall(_ % 2 == 0), s2Sites)
    assert(reads.exists(r => r.sampleId == "s2" && r.start <= 1001 && r.end > 1001),
      "an s2 read covers the s1-only site")
  }

  test("bad CIGAR and short qual observe nothing") {
    import spark.implicits._
    val good = reads.filter(r => r.start <= 1000 && r.end > 1000).take(3)
    val bad = good.zipWithIndex.flatMap { case (r, i) =>
      Seq(r.copy(readName = s"cigar$i", cigar = r.cigar.dropRight(1)),
        r.copy(readName = s"qual$i", qual = r.qual.drop(1)))
    }
    val site = Array(SnvSite(1000, refSeq.charAt(1000).toString, "N"))
    bad.foreach { r =>
      var n = 0
      Observer.observeSnvs(r, site)((_, _, _) => n += 1)
      assert(n === 0, r)
    }
    val snvs = candidates(sites).toDF("contigName", "start", "referenceAllele", "alternateAllele")
    def obs(rs: Seq[Read]) =
      summed(Observer.snvObservations(rs.toDS(), snvs, perSample = false, broadcastSites = true))
    assert(obs(good ++ bad) === obs(good))
    assert(obs(good).nonEmpty)
  }
}

package graft.genomics

import graft.SparkSpec
import graft.kernels.AlignmentOps
import graft.model.{DiscoveredVariant, Read}
import graft.operators.IntervalJoin
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The genotyper's observation layer against declarative oracles built
  * inline. `Observer.compressedPileup` against the per-read
  * `basePileup` grouped and counted. The SNV rows of
  * `Observer.observations` (the "snvObservations" tests: reads observed
  * at the SNV candidates' own sites) against the declarative path they
  * replaced: that pileup equi-joined to the candidates on (contig,
  * position[, sample]), support classified as alt, else ref, else other;
  * weights are compared summed per observation key, since the pileup
  * keys by the read's base, the kernel by its support, and each read
  * partition compresses its own rows. Its indel rows (the
  * "indelObservations" test) against the bin-bucketed interval join and
  * whole-read regrouping they replaced.
  */
class SnvObservationSpec extends SparkSpec {
  import Observer.SnvSite

  private val keyCols = Seq("contigName", "start", "referenceAllele", "alternateAllele",
    "sampleId", "support", "forwardStrand", "qual", "mapq")

  private val pileupCols = Seq("contigName", "pos", "base", "refBase", "qual", "forwardStrand",
    "mapq", "sampleId")

  /** flatMap(basePileup).groupBy(every column).count, the weighted pileup
    * by definition. */
  private def declarativePileup(reads: Dataset[Read]): DataFrame = {
    import spark.implicits._
    reads.flatMap(Observer.basePileup).groupBy(pileupCols.map(col): _*).agg(count(lit(1)).as("w"))
  }

  private def oracle(reads: Dataset[Read], snvs: DataFrame, perSample: Boolean): DataFrame = {
    val pileup = declarativePileup(reads)
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
  private val refSeq = GenotypeFixtures.reference(rnd, 2600)

  /** 400 reads over 2.5 kbp (bins 0-2 at 1000 bp), many across the
    * 1000 bp border, in two samples.
    */
  private lazy val reads: Seq[Read] = (0 until 400).map { i =>
    val start = if (i % 4 == 0) 900L + rnd.nextInt(100) else rnd.nextInt(2400).toLong
    GenotypeFixtures.seededRead(refSeq, i, start, if (i % 3 == 0) "s2" else "s1", gaps = 1, rnd = rnd)
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
    val got = Observer.observations(rds, snvs, perSample = false)
    assert(summed(got) === want)
    // one row per observation key within a read partition: each site is
    // counted in one bin
    val one = Observer.observations(rds.coalesce(1), snvs, perSample = false)
    assert(one.count() === one.select(keyCols.map(col): _*).distinct().count())
    assert(summed(one) === want)
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
    val got = Observer.observations(rds, perSample, perSample = true)
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
      summed(Observer.observations(rs.toDS(), snvs, perSample = false))
    assert(obs(good ++ bad) === obs(good))
    assert(obs(good).nonEmpty)
  }

  // ---- compressedPileup -------------------------------------------------

  test("compressedPileup equals flatMap(basePileup).groupBy(every column).count, per sample") {
    import spark.implicits._
    val rds = reads.toDS()
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.select((pileupCols :+ "w").map(col): _*).collect().map(_.toSeq)
        .sortBy(_.mkString("|")).toSeq
    val want = rows(declarativePileup(rds))
    assert(rows(Observer.compressedPileup(rds)) === want)
    assert(want.map(_(7)).distinct.size === 2, "both samples")
    assert(want.exists(r => r(2) != r(3)), "a mismatched base")
    assert(want.exists(_(8) == 1L) && want.exists(_(8).asInstanceOf[Long] > 1L), "weights 1 and > 1")
  }

  test("compressedPileup emits each bin's rows in the same order at 1 and 4 shuffle partitions") {
    import spark.implicits._
    val rds = reads.toDS()
    def byBin(partitions: Int): Map[Long, Seq[String]] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try Observer.compressedPileup(rds).collect().toSeq
        .groupBy(_.getAs[Long]("pos") / 1000).map { case (b, rs) => b -> rs.map(_.mkString("|")) }
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val one = byBin(1)
    assert(one.keySet === Set(0L, 1L, 2L))
    assert(byBin(4) === one)
  }

  // ---- indel observations ----------------------------------------------

  /** The path the observer's indel rows replaced, as the oracle: the
    * bin-bucketed interval join against the candidates, then every
    * overlapping read shuffled whole to gather its candidates
    * (groupBy(struct(read)) + collect_list) and observed once against all
    * of them.
    */
  private def regrouped(reads: Dataset[Read], indels: DataFrame, perSample: Boolean,
      binSize: Double): DataFrame = {
    import spark.implicits._
    val v = indels.select(Seq(col("contigName").as("v_contig"), col("start").as("v_start"),
      col("referenceAllele").as("v_ref"), col("alternateAllele").as("v_alt"),
      (col("start") + greatest(length(col("referenceAllele")), lit(1))).as("v_end")) ++
      (if (perSample) Seq(col("sampleId").as("v_sample")) else Nil): _*)
    IntervalJoin.overlap(reads.toDF, "start", "end", v, "v_start", "v_end", binSize,
        keys = Seq("contigName" -> "v_contig") ++
          (if (perSample) Seq("sampleId" -> "v_sample") else Nil),
        broadcastRight = true)
      .select(struct(reads.columns.map(col): _*).as("r"),
        struct(col("v_start"), col("v_ref"), col("v_alt")).as("v"))
      .groupBy(col("r"))
      .agg(collect_list(col("v")).as("vs"))
      .as[(Read, Seq[(Long, String, Option[String])])]
      .flatMap { case (r, vs) =>
        Observer.observe(r, vs.map(t => DiscoveredVariant(r.contigName, t._1, t._2, t._3)))
      }
      .withColumn("w", lit(1L))
  }

  /** 300 reads with up to three indels each over 2.3 kbp, in two
    * samples, the first 40 of them twice (identical rows).
    */
  private lazy val indelReads: Seq[Read] = {
    val rs = GenotypeFixtures.denseIndelReads(refSeq, 300, 2200, new scala.util.Random(11))
    rs ++ rs.take(40)
  }

  /** Every indel the reads show, plus, at every third, a longer
    * insertion allele no read shows at the same start.
    */
  private lazy val indelCandidates: Seq[(String, String, Long, String, String)] = {
    val shown = indelReads.flatMap { r =>
      val ops = AlignmentOps.parseRead(r.cigar, r.mdTag, r.sequence, r.qual)
      AlignmentOps.variants(r.start, r.sequence, r.qual, ops)
        .filter(v => v.ref.length != v.alt.length).map(v => (v.start, v.ref, v.alt))
    }.distinct.sorted
    shown.zipWithIndex.flatMap { case ((p, ref, alt), i) =>
      ((p, ref, alt) +: (if (i % 3 == 0) Seq((p, ref, alt + "C")) else Nil)).map {
        case (p, ref, alt) => ("s1", "chr1", p, ref, alt)
      }
    }
  }

  test("indelObservations equals the whole-read regrouping, perSample both ways") {
    import spark.implicits._
    val rds = indelReads.toDS()
    val all = indelCandidates.toDF("sampleId", "contigName", "start", "referenceAllele",
      "alternateAllele")
    // s2 holds only the candidates at even starts
    val perSample = all.unionByName(all.where(col("start") % 2 === 0)
      .withColumn("sampleId", lit("s2")))
    for ((indels, ps) <- Seq(all.drop("sampleId") -> false, perSample -> true)) {
      val got = Observer.observations(rds, indels, ps)
      val want = regrouped(rds, indels, ps, binSize = 50.0)
      assert(got.count() === want.count())
      assert(summed(got) === summed(want))
      val supports = want.select("support").distinct().as[Int].collect().toSet
      assert(supports === Set(Observer.SupportOther, Observer.SupportRef, Observer.SupportAlt,
        Observer.SupportNonRef), supports)
    }
    assert(indelCandidates.size > 300, "dense candidates")
    assert(indelReads.take(40).forall(r => indelCandidates.exists { case (_, _, p, _, _) =>
      p >= r.start && p < r.end }), "duplicated reads overlap candidates")
  }

  // ---- one pass, any partitioning ---------------------------------------

  test("observations over 1 and 4 read partitions equal the pileup join and the regrouping, perSample both ways") {
    import spark.implicits._
    val rs = reads ++ indelReads
    assert(rs.exists(r => r.start < 1000 && r.end > 1000), "a read across the 1000 bp border")
    val snvs = candidates(sites).flatMap { case (c, p, r, a) => Seq(("s1", c, p, r, a), ("s2", c, p, r, a)) }
      .toDF("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
    val indels = indelCandidates.toDF("sampleId", "contigName", "start", "referenceAllele",
      "alternateAllele")
    val all = snvs.where(col("sampleId") === "s1").unionByName(indels)
    // s2 holds only the candidates at even starts
    val perSample = all.unionByName(all.where(col("start") % 2 === 0).withColumn("sampleId", lit("s2")))
    val isSnv = length(col("referenceAllele")) === 1 && length(col("alternateAllele")) === 1
    for ((cands, ps) <- Seq(all.drop("sampleId") -> false, perSample -> true)) {
      val byOne = spark.sparkContext.parallelize(rs, 1).toDS()
      val want = summed(oracle(byOne, cands.where(isSnv), ps)
        .unionByName(regrouped(byOne, cands.where(!isSnv), ps, binSize = 50.0)))
      for (n <- Seq(1, 4)) {
        val rds = spark.sparkContext.parallelize(rs, n).toDS()
        assert(rds.rdd.getNumPartitions === n)
        assert(summed(Observer.observations(rds, cands, ps)) === want, s"$n partitions, perSample $ps")
      }
    }
    // the calls, likelihoods included, do not depend on the partitioning
    val variants = all.drop("sampleId").as[DiscoveredVariant]
    def calls(n: Int): (DataFrame, DataFrame) = {
      val rds = spark.sparkContext.parallelize(rs, n).toDS()
      (BiallelicGenotyper.call(rds, variants).localCheckpoint(),
        BiallelicGenotyper.callPerSample(rds, perSample).localCheckpoint())
    }
    val (one, four) = (calls(1), calls(4))
    assert(one._1.count() > 20 && one._2.select("sampleId").distinct().count() === 2)
    assert(GenotypeFixtures.sameRows(four._1, one._1, relTol = 1e-14))
    assert(GenotypeFixtures.sameRows(four._2, one._2, relTol = 1e-14))
  }
}

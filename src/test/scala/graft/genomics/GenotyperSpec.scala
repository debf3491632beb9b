package graft.genomics

import graft.SparkSpec
import graft.kernels.Likelihood
import graft.model.{DiscoveredVariant, Read}

class GenotyperSpec extends SparkSpec {

  /** A 10bp read on an all-A reference, optionally carrying a C SNV at
    * `snvOff`, with uniform phred `q`.
    */
  private def read(name: String, start: Long = 100, snvOff: Int = -1,
      q: Int = 30, mapq: Int = 60, negStrand: Boolean = false): Read = {
    val seq = if (snvOff < 0) "A" * 10
      else "A" * snvOff + "C" + "A" * (9 - snvOff)
    val md = if (snvOff < 0) "10" else s"${snvOff}A${9 - snvOff}"
    Read(name, "chr1", start, start + 10, seq, (33 + q).toChar.toString * 10,
      "10M", md, mapq, readMapped = true, readNegativeStrand = negStrand,
      duplicateRead = false, primaryAlignment = true, sampleId = "s1")
  }

  private def call(reads: Seq[Read]) = {
    import spark.implicits._
    val rds = reads.toDS()
    val variants = Seq(DiscoveredVariant("chr1", 105, "A", Some("C"))).toDS()
    BiallelicGenotyper.call(rds, variants, ploidy = 2, binSize = 100.0)
      .collect().map(r => r.getAs[String]("contigName") -> r).toMap.values.head
  }

  test("het pileup calls REF/ALT with hand-computed likelihoods") {
    val reads = (0 until 6).map(i => read(s"alt$i", snvOff = 5)) ++
      (0 until 4).map(i => read(s"ref$i"))
    val row = call(reads)
    assert(row.getAs[Int]("genotypeState") === 1)
    assert(row.getSeq[String](row.fieldIndex("alleles")).toList === Seq("REF", "ALT"))
    assert(row.getAs[Int]("readDepth") === 10)
    assert(row.getAs[Int]("alternateReadDepth") === 6)
    assert(row.getAs[Int]("referenceReadDepth") === 4)

    // hand-computed GL under the Li model
    val aLL = Likelihood.alleleLogLikelihoods(30, 60, 2)
    val oLL = Likelihood.otherLogLikelihoods(30, 60, 2)
    val expected = (0 to 2).map(g => 6 * aLL(g) + 4 * oLL(g))
    val got = row.getSeq[Double](row.fieldIndex("genotypeLikelihoods"))
    (0 to 2).foreach(g => assert(math.abs(got(g) - expected(g)) < 1e-9, s"state $g"))

    val sorted = expected.sorted.reverse
    val gq = 10.0 / math.log(10.0) * (sorted(0) - sorted(1))
    assert(math.abs(row.getAs[Double]("genotypeQuality") - gq) < 1e-3)
  }

  test("hom-alt pileup calls ALT/ALT") {
    val row = call((0 until 8).map(i => read(s"alt$i", snvOff = 5, negStrand = i % 2 == 0)))
    assert(row.getAs[Int]("genotypeState") === 2)
    assert(row.getSeq[String](row.fieldIndex("alleles")).toList === Seq("ALT", "ALT"))
    assert(row.getAs[Int]("alternateReadDepth") === 8)
  }

  test("hom-ref pileup calls REF/REF with zero alt depth") {
    val row = call((0 until 8).map(i => read(s"ref$i")))
    assert(row.getAs[Int]("genotypeState") === 0)
    assert(row.getAs[Int]("alternateReadDepth") === 0)
  }

  test("non-overlapping reads are excluded from the pileup") {
    val reads = (0 until 4).map(i => read(s"alt$i", snvOff = 5)) ++
      Seq(read("far", start = 5000))
    assert(call(reads).getAs[Int]("readDepth") === 4)
  }

  test("other-allele reads count as otherReadDepth") {
    // reads showing G at the site, scored against the A->C variant
    val gReads = (0 until 3).map { i =>
      val r = read(s"g$i", snvOff = 5)
      r.copy(sequence = r.sequence.updated(5, 'G'))
    }
    val row = call((0 until 5).map(i => read(s"alt$i", snvOff = 5)) ++ gReads)
    assert(row.getAs[Int]("otherReadDepth") === 3)
    assert(row.getAs[Int]("alternateReadDepth") === 5)
  }

  test("variable ploidy: a site inside a DUP region calls triploid states") {
    import spark.implicits._
    // DUP region covering the site -> copy number 3
    val features = Seq(("chr1", 100L, 120L, "DUP")).toDF("contigName", "start", "end", "featureType")
    val cnMap = CopyNumberMap.fromFeatures(features)
    val reads = (0 until 9).map(i => read(s"alt$i", snvOff = 5)) ++
      (0 until 3).map(i => read(s"ref$i"))
    val rds = reads.toDS()
    val variants = Seq(DiscoveredVariant("chr1", 105, "A", Some("C"))).toDS()
    val row = BiallelicGenotyper
      .call(rds, variants, ploidy = 2, binSize = 100.0, copyNumbers = Some(cnMap))
      .collect().head
    assert(row.getAs[Int]("copyNumber") === 3)
    assert(row.getSeq[Double](row.fieldIndex("genotypeLikelihoods")).length === 4)
    // 9 alt / 3 ref at cn=3 -> 2 alt copies most likely
    assert(row.getAs[Int]("genotypeState") === 2)
    assert(row.getSeq[String](row.fieldIndex("alleles")).toList === List("REF", "ALT", "ALT"))

    // outside any CNV -> diploid unchanged
    val far = Seq(DiscoveredVariant("chr1", 505, "A", Some("C"))).toDS()
    val farReads = (0 until 6).map(i => read(s"fa$i", start = 500, snvOff = 5)).toDS()
    val frow = BiallelicGenotyper
      .call(farReads, far, ploidy = 2, binSize = 100.0, copyNumbers = Some(cnMap))
      .collect().head
    assert(frow.getAs[Int]("copyNumber") === 2)
    assert(frow.getAs[Int]("genotypeState") === 2)
  }

  test("richer genotype schema: strand-bias components, nonref likelihoods, annotations") {
    import spark.implicits._
    val rds = ((0 until 6).map(i => read(s"f$i", snvOff = 5)) ++
      (0 until 4).map(i => read(s"r$i", snvOff = 5, negStrand = true)) ++
      (0 until 3).map(i => read(s"c$i"))).toDS()
    val variants = Seq(DiscoveredVariant("chr1", 105, "A", Some("C"))).toDS()
    val row = BiallelicGenotyper.call(rds, variants, ploidy = 2, binSize = 100.0)
      .collect().head
    // reference order [otherFwd, otherRev, altFwd, altRev]
    assert(row.getSeq[Int](row.fieldIndex("strandBiasComponents")).toList === List(3, 0, 6, 4))
    val vca = row.getStruct(row.fieldIndex("variantCallingAnnotations"))
    assert(vca.getAs[Double]("rmsMapQ") === 60.0)
    assert(vca.fieldIndex("fisherStrandBiasPValue") >= 0)
    assert(row.getSeq[Double](row.fieldIndex("nonReferenceLikelihoods")).length === 3)
  }

  test("nulled observations score only the nonref dimension") {
    // an ambiguity-window read (soft clip near the indel) keeps its depth
    // but must not push the alt/ref blend either way
    val del = Read("d1", "chr1", 100, 110, "A" * 8, "I" * 8, "4M2D4M", "4^CC4",
      60, readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")
    val clipped = Read("c1", "chr1", 100, 106, "A" * 8, "I" * 8, "6M2S", "6",
      60, readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")
    val v = DiscoveredVariant("chr1", 103, "ACC", Some("A"))
    val obs = Observer.observe(clipped, Seq(v))
    assert(obs.map(_.support) === Seq(Observer.SupportNonRef))
    import spark.implicits._
    val row = BiallelicGenotyper.call(Seq(del, del.copy(readName = "d2"), clipped).toDS(),
      Seq(v).toDS(), ploidy = 2, binSize = 100.0).collect().head
    assert(row.getAs[Int]("readDepth") === 3) // nulled read stays in depth
    assert(row.getAs[Int]("alternateReadDepth") === 2)
    assert(row.getAs[Int]("referenceReadDepth") === 0)
    val nr = row.getSeq[Double](row.fieldIndex("nonReferenceLikelihoods"))
    assert(nr.exists(_ != 0.0), "nulled obs must contribute to nonref dimension")
  }

  test("observer classifies indel support") {
    // read with a 2bp deletion: 4M2D4M over read AAAAAAAA, ref AAAA,CC,AAAA
    val del = Read("d1", "chr1", 100, 110, "A" * 8, "I" * 8, "4M2D4M", "4^CC4",
      60, readMapped = true, readNegativeStrand = false, duplicateRead = false,
      primaryAlignment = true, sampleId = "s1")
    val v = DiscoveredVariant("chr1", 103, "ACC", Some("A"))
    val obs = Observer.observe(del, Seq(v))
    assert(obs.map(_.support) === Seq(Observer.SupportAlt))

    // a pure-match read across the span supports REF
    val ref = read("r1")
    assert(Observer.observe(ref, Seq(v)).map(_.support) === Seq(Observer.SupportRef))
  }

  test("chooseBinSize targets the requested reads-per-bin band") {
    import spark.implicits._
    // 20k reads uniform over 100 kbp on one contig: density 0.2/base,
    // so target 5000 reads/bin -> ~25 kbp bins
    val uniform = (0 until 20000).map(i => read(s"u$i", start = (i * 5) % 100000)).toDS()
    val bs = BiallelicGenotyper.chooseBinSize(uniform, targetReadsPerBin = 5000L,
      fraction = 0.5)
    val readsPerBin = 0.2 * bs
    assert(readsPerBin > 2000 && readsPerBin < 12500, s"binSize $bs")

    // a degenerate stack at one position must not produce sub-read bins
    val stacked = (0 until 5000).map(i => read(s"s$i", start = 100)).toDS()
    val bs2 = BiallelicGenotyper.chooseBinSize(stacked, targetReadsPerBin = 100L,
      fraction = 0.5)
    assert(bs2 >= 20.0, s"binSize $bs2 below 2x read span")
  }
}

package graft.genomics

import graft.kernels.LogMath
import graft.model.{DiscoveredVariant, Read}
import graft.operators.IntervalJoin
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Biallelic genotyper: score candidate variants against read evidence
  * and emit genotype calls (the reference's flagship pipeline,
  * BiallelicGenotyper.scala:88-556, re-expressed Spark-first).
  *
  * Plan shape (shuffles annotated for the 100 TB budget):
  *   reads ⨝ variants            bin-bucketed interval join (J1/J2) —
  *                               broadcast when the variant side is small,
  *                               else co-partitioned shuffle equi-join
  *   flatMap Observer kernel     narrow
  *   ⨝ broadcast(score table)    broadcast hash join (J3) — replaces
  *                               per-row log/exp with a lookup
  *   groupBy(site, sample).agg   the one unavoidable shuffle (A3):
  *                               partial+final hash agg, ~40 flat columns
  *   per-row emission exprs      narrow (argmax, GQ, Fisher, RMS)
  */
object BiallelicGenotyper {

  /** The metadata-validated entry point (P4; reference
    * BiallelicGenotyper.scala:99-105): require a single sample and
    * compatible sequence dictionaries BEFORE planning the join, then
    * [[call]]. This variant runs two small driver-side aggregations, so
    * it is separate from the pure plan constructor `call` — use it at
    * pipeline boundaries, not inside loops. The CLI calls `call`
    * directly and skips these two jobs.
    */
  def callValidated(
      reads: Dataset[Read],
      variants: Dataset[DiscoveredVariant],
      readsDict: SequenceDictionary = SequenceDictionary.empty,
      ploidy: Int = 2,
      binSize: Double = 1000.0,
      scoreAllSites: Boolean = false): DataFrame = {
    SequenceDictionary.validateSingleSample(reads)
    val rd = if (readsDict.isEmpty) SequenceDictionary.fromReads(reads) else readsDict
    val vd = SequenceDictionary.fromVariants(variants.toDF)
    SequenceDictionary.validateCompatibility(vd, rd)
    call(reads, variants, ploidy = ploidy, binSize = binSize,
      scoreAllSites = scoreAllSites)
  }

  /** Data-driven bin sizing for the pileup/interval-join shuffles —
    * the one tunable whose right value depends on the data, not the
    * code. Targets ~`targetReadsPerBin` reads per (contig, bin) group:
    * big enough to amortize per-group overhead, small enough that one
    * bin's pileup fits an executor's working set at any coverage. Stats
    * come from a bounded sample (one cheap job over `fraction` of the
    * reads — an explicit utility action, deliberately NOT inside the
    * pure plan constructor `call()`), scaled back up. Clamped to
    * [2x mean read span, 10 Mbp] so degenerate samples can't produce
    * sub-read bins or whole-contig bins (the hot-key failure mode).
    */
  def chooseBinSize(
      reads: Dataset[Read],
      targetReadsPerBin: Long = 5000L,
      fraction: Double = 0.01,
      seed: Long = 42L): Double = {
    val s = reads.sample(fraction, seed)
      .agg(
        count(lit(1)).as("n"),
        min(col("start")).as("lo"),
        max(col("end")).as("hi"),
        avg(col("end") - col("start")).as("span"),
        countDistinct(col("contigName")).as("contigs"))
      .head()
    val n = s.getAs[Long]("n")
    if (n == 0) return 1000.0
    val genome = math.max(1L, s.getAs[Long]("hi") - s.getAs[Long]("lo")) *
      math.max(1L, s.getAs[Long]("contigs"))
    val meanSpan = math.max(1.0, s.getAs[Double]("span"))
    // reads per base in the FULL data = sampled density / fraction
    val density = n / fraction / genome
    val raw = targetReadsPerBin / math.max(density, 1e-12)
    math.min(1e7, math.max(2.0 * meanSpan, raw))
  }

  /** Genotype calls for `variants` given `reads`. Output is flat
    * (scalar + array columns), one row per (site, sample).
    * `copyNumbers` switches on variable-ploidy calling: each site's state
    * space follows the CNV map's local copy number (SURVEY.md A8/J5
    * integration — the reference threads copyNumber through the
    * observation key the same way).
    */
  def call(
      reads: Dataset[Read],
      variants: Dataset[DiscoveredVariant],
      ploidy: Int = 2,
      maxQual: Int = 93,
      maxMapQ: Int = 93,
      binSize: Double = 1000.0,
      broadcastVariants: Boolean = true,
      copyNumbers: Option[CopyNumberMap.Built] = None,
      scoreAllSites: Boolean = false): DataFrame =
    callImpl(reads, variants.toDF, perSample = false, ploidy, maxQual, maxMapQ,
      binSize, broadcastVariants, copyNumbers, scoreAllSites)

  /** Multi-sample calling in ONE pass: `variants` carries a `sampleId`
    * column and each sample is scored ONLY against its own variant set —
    * sampleId joins the SNV equi-join, the indel interval join, and the
    * gVCF non-ref anti-join, and the wide agg already groups by sample.
    * Semantically identical to looping `call` over per-sample read
    * filters (the reference's per-sample invocation,
    * BiallelicGenotyper.scala:99-105 — its single-sample gate becomes
    * per-group scoping here), but the cohort reads are scanned a
    * CONSTANT number of times instead of 2x per sample, and there is no
    * S-way driver-built union plan.
    */
  def callPerSample(
      reads: Dataset[Read],
      variants: DataFrame,
      ploidy: Int = 2,
      maxQual: Int = 93,
      maxMapQ: Int = 93,
      binSize: Double = 1000.0,
      broadcastVariants: Boolean = true,
      copyNumbers: Option[CopyNumberMap.Built] = None,
      scoreAllSites: Boolean = false,
      materializePileup: Boolean = false): DataFrame = {
    require(variants.columns.contains("sampleId"),
      "callPerSample: variants must carry a sampleId column (use DiscoverVariants.discoverPerSample)")
    callImpl(reads, variants, perSample = true, ploidy, maxQual, maxMapQ,
      binSize, broadcastVariants, copyNumbers, scoreAllSites, materializePileup)
  }

  private def callImpl(
      reads: Dataset[Read],
      variantsDf: DataFrame,
      perSample: Boolean,
      ploidy: Int,
      maxQual: Int,
      maxMapQ: Int,
      binSize: Double,
      broadcastVariants: Boolean,
      copyNumbers: Option[CopyNumberMap.Built],
      scoreAllSites: Boolean,
      materializePileup: Boolean = false): DataFrame = {

    val spark = reads.sparkSession
    import spark.implicits._
    val maxP = math.max(ploidy, copyNumbers.map(_.maxPloidy).getOrElse(ploidy))
    val states = 0 to maxP
    val cnValues = copyNumbers
      .map(m => (m.minPloidy to m.maxPloidy) :+ m.basePloidy)
      .getOrElse(Seq(ploidy)).distinct

    // -- split candidate variants: SNVs ride the fully-declarative fast
    // path; indels need the alignment-aware object kernel.
    // No persist and no driver-side action here: call() must stay a pure
    // plan constructor (a limit(1).count() probe would launch a Spark job
    // on every call and the persist it guarded was never unpersisted — a
    // cache leak in long-lived sessions). The indel branch is always
    // unioned in; when no indel candidates exist it scans an empty
    // filtered side, which AQE collapses at runtime.
    val vdf = variantsDf.select(
      Seq(
        col("contigName").as("v_contig"),
        col("start").as("v_start"),
        col("referenceAllele").as("v_ref"),
        col("alternateAllele").as("v_alt"),
        (col("start") + greatest(length(col("referenceAllele")), lit(1))).as("v_end")) ++
        (if (perSample) Seq(col("sampleId").as("v_sample")) else Nil): _*)
    val isSnv = length(col("v_ref")) === 1 && length(col("v_alt")) === 1
    val snvV = vdf.where(col("v_alt").isNotNull && isSnv)
    val indelV = vdf.where(col("v_alt").isNull || !isSnv)

    // -- SNV fast path: compress the per-base pileup to weighted
    // observations — the reference's SummarizedObservation insight
    // (SummarizedObservation.scala:37-43): the discrete observation key
    // has tiny cardinality, so the variant-density fan-out multiplies
    // compressed rows, not raw bases. The compression itself shuffles
    // READS to position bins and hash-compresses per partition
    // (Observer.compressedPileup) — readLength× fewer shuffled rows
    // than exploding first. Then equi-join on (contig, position) with
    // codegen'd support classification. No per-(read,variant) kernel.
    // scoreAllSites references the pileup twice (SNV equi-join + the
    // non-ref anti-join); materializePileup (an EXPLICIT opt-in — it
    // runs a job, so the default call() stays a pure plan constructor)
    // evaluates the compression once instead of twice
    val pileup0 = Observer.compressedPileup(reads)
    val pileup = if (materializePileup) graft.util.Barriers.corpusScale(pileup0) else pileup0
    val snvSide = if (broadcastVariants) broadcast(snvV) else snvV
    val snvCond = {
      val base = pileup("contigName") === snvV("v_contig") && pileup("pos") === snvV("v_start")
      if (perSample) base && pileup("sampleId") === snvV("v_sample") else base
    }
    val snvObs = pileup
      .join(snvSide, snvCond)
      .select(
        col("contigName"),
        col("v_start").as("start"),
        col("v_ref").as("referenceAllele"),
        col("v_alt").as("alternateAllele"),
        col("sampleId"),
        when(col("base") === col("v_alt"), Observer.SupportAlt)
          .when(col("base") === col("v_ref"), Observer.SupportRef)
          .otherwise(Observer.SupportOther).as("support"),
        col("forwardStrand"), col("qual"), col("mapq"), col("w"))

    // -- indel path (K6/K8): interval join + per-read observation kernel
    // with nullOut ambiguity handling; indel candidate sets are orders of
    // magnitude smaller than the base pileup. Always unioned in: with no
    // indel candidates the join side is an empty filter (near-zero cost
    // under AQE), which keeps call() action-free.
    val indelJoined = IntervalJoin.overlap(
      reads.toDF, "start", "end",
      indelV, "v_start", "v_end",
      binSize,
      keys = Seq("contigName" -> "v_contig") ++
        (if (perSample) Seq("sampleId" -> "v_sample") else Nil),
      broadcastRight = broadcastVariants)
    val indelObs = indelJoined
      .select(
        struct(reads.columns.map(col): _*).as("r"),
        struct(col("v_start"), col("v_ref"), col("v_alt")).as("v"))
      .groupBy(col("r"))
      .agg(collect_list(col("v")).as("vs"))
      .as[(Read, Seq[(Long, String, Option[String])])]
      .flatMap { case (r, vs) =>
        Observer.observe(r, vs.map(t => DiscoveredVariant(r.contigName, t._1, t._2, t._3)))
      }
      .toDF()
      .select(col("contigName"), col("start"), col("referenceAllele"),
        col("alternateAllele"), col("sampleId"), col("support"),
        col("forwardStrand"), col("qual"), col("mapq"), lit(1L).as("w"))

    // -- gVCF non-ref model (P10/§2 gVCF; reference DiscoveredVariant
    // .scala:81 alternateAllele=None + ScoredObservation nonRef arrays):
    // when scoring all sites, every pileup position NOT under a candidate
    // variant emits a symbolic non-ref observation — support is "shows
    // the reference" vs "shows anything else", the alternate allele is
    // null, and the downstream likelihood blend gives the log-odds of
    // 0..m copies of an unknown non-reference allele. Anti-join on the
    // (tiny, broadcast) candidate-position set keeps this narrow.
    lazy val vPos = vdf.select(
      Seq(col("v_contig"), col("v_start")) ++
        (if (perSample) Seq(col("v_sample")) else Nil): _*).distinct()
    lazy val antiCond = {
      val base = pileup("contigName") === col("v_contig") && pileup("pos") === col("v_start")
      if (perSample) base && pileup("sampleId") === col("v_sample") else base
    }
    lazy val nonRefObs = pileup
      .join(if (broadcastVariants) broadcast(vPos) else vPos, antiCond, "left_anti")
      .select(
        col("contigName"),
        col("pos").as("start"),
        col("refBase").as("referenceAllele"),
        lit(null).cast("string").as("alternateAllele"),
        col("sampleId"),
        when(col("base") === col("refBase"), Observer.SupportRef)
          .otherwise(Observer.SupportAlt).as("support"),
        col("forwardStrand"), col("qual"), col("mapq"), col("w"))

    val obs =
      if (scoreAllSites) snvObs.unionByName(indelObs).unionByName(nonRefObs)
      else snvObs.unionByName(indelObs)

    // -- score attachment (S9 + J3): clamp quals to the domain, take the
    // per-site copy number from the broadcast CNV map (or flat ploidy),
    // then join the broadcast score table.
    val cnCol = copyNumbers
      .map(m => m.copyNumberAt(col("contigName"), col("start")))
      .getOrElse(lit(ploidy))
    // P8 clamp: real quals to [1, maxQual] (a phred-0 base would make
    // ε = 1 and poison a whole genotype state with log 0 = -Inf); the
    // NoQual sentinel (deletion observations, mapQ-only model) passes
    // through; mapq to [1, maxMapQ] for the same -Inf reason.
    val clamped = obs
      .withColumn("copyNumber", cnCol)
      .withColumn("qual",
        when(col("qual") < 0, lit(graft.kernels.Likelihood.NoQual))
          .otherwise(greatest(least(col("qual"), lit(maxQual)), lit(1))))
      .withColumn("mapq", greatest(least(col("mapq"), lit(maxMapQ)), lit(1)))
    val scores = ScoreTable.buildForCopyNumbers(spark, cnValues, maxP, maxQual, maxMapQ)
    val keyed = clamped.join(broadcast(scores), Seq("copyNumber", "qual", "mapq"))

    // -- per-row per-state contribution (weighted by the compressed
    // multiplicity), then the wide hash agg (A3). Nulled (nonref)
    // observations contribute ZERO to the genotype blend and their
    // alt-flavored likelihood to the nonref dimension (reference
    // ScoredObservation.scala:62-71: per-class arrays, zeros elsewhere;
    // nonReferenceLikelihoods = nonref obs + ref obs blended).
    val w = col("w")
    val contribs = states.map { g =>
      (when(col("support") === Observer.SupportAlt, col(s"a_ll_$g"))
        .when(col("support") === Observer.SupportNonRef, lit(0.0))
        .otherwise(col(s"o_ll_$g")) * w).as(s"c_$g")
    }
    val nrContribs = states.map { g =>
      (when(col("support") === Observer.SupportNonRef, col(s"a_ll_$g"))
        .when(col("support") === Observer.SupportRef, col(s"o_ll_$g"))
        .otherwise(lit(0.0)) * w).as(s"nr_c_$g")
    }
    val glSums = states.map(g => sum(col(s"c_$g")).as(s"gl_$g"))
    val nrSums = states.map(g => sum(col(s"nr_c_$g")).as(s"nr_ll_$g"))
    val aggd = keyed
      .select(col("contigName") +: col("start") +: col("referenceAllele") +:
        col("alternateAllele") +: col("sampleId") +: col("copyNumber") +:
        col("support") +: col("forwardStrand") +: col("mapq") +: col("w") +:
        (contribs ++ nrContribs): _*)
      .groupBy("contigName", "start", "referenceAllele", "alternateAllele", "sampleId", "copyNumber")
      .agg(
        glSums.head, (glSums.tail ++ nrSums ++ Seq(
          sum(w).cast("int").as("readDepth"),
          sum(when(col("support") === Observer.SupportRef, w).otherwise(0L)).cast("int").as("referenceReadDepth"),
          sum(when(col("support") === Observer.SupportAlt, w).otherwise(0L)).cast("int").as("alternateReadDepth"),
          sum(when(col("support") === Observer.SupportOther, w).otherwise(0L)).cast("int").as("otherReadDepth"),
          sum(when(col("support") === Observer.SupportAlt && col("forwardStrand"), w).otherwise(0L)).cast("int").as("altFwd"),
          sum(when(col("support") === Observer.SupportAlt && !col("forwardStrand"), w).otherwise(0L)).cast("int").as("altRev"),
          sum(when(col("support") =!= Observer.SupportAlt && col("forwardStrand"), w).otherwise(0L)).cast("int").as("otherFwd"),
          sum(when(col("support") =!= Observer.SupportAlt && !col("forwardStrand"), w).otherwise(0L)).cast("int").as("otherRev"),
          sum(col("mapq") * col("mapq") * w).as("sumSqMapQ"))): _*)

    // -- emission (K9/W4/K10): argmax over the site's own state space
    //    (sliced to copyNumber+1), GQ from top-2 margin, Fisher strand
    //    bias, RMS mapQ
    val glArr = slice(
      array(states.map(g => col(s"gl_$g")): _*), lit(1), col("copyNumber") + 1)
    val sorted = reverse(array_sort(glArr))
    aggd
      .withColumn("genotypeLikelihoods", glArr)
      .withColumn("genotypeState",
        (array_position(col("genotypeLikelihoods"), element_at(sorted, 1)) - 1).cast("int"))
      .withColumn("genotypeQuality",
        round(lit(10.0 / math.log(10.0)) * (element_at(sorted, 1) - element_at(sorted, 2)), 3))
      .withColumn("alleles",
        concat(
          array_repeat(lit("REF"), col("copyNumber") - col("genotypeState")),
          array_repeat(lit("ALT"), col("genotypeState"))))
      // K10 as a codegen'd Expression (same LogMath kernel the former
      // per-row UDF wrapped — bit-identical, but inlined in whole-stage
      // codegen instead of crossing a UDF serialization boundary)
      .withColumn("strandBiasPhred",
        round(graft.functions.NativeExpressions.fisher_phred(
          col("altFwd"), col("altRev"), col("otherFwd"), col("otherRev")), 3))
      .withColumn("rmsMapQ", round(sqrt(col("sumSqMapQ") / col("readDepth")), 3))
      // richer genotype schema (reference BiallelicGenotyper.scala
      // :699-747): strand-bias 2x2 components in the reference's order
      // [otherFwd, otherRev, altFwd, altRev], the symbolic non-ref
      // likelihood array (sliced like gl), and the nested annotations
      // struct downstream VCF tooling reads
      .withColumn("strandBiasComponents",
        array(col("otherFwd"), col("otherRev"), col("altFwd"), col("altRev")))
      .withColumn("nonReferenceLikelihoods",
        slice(array(states.map(g => col(s"nr_ll_$g")): _*), lit(1), col("copyNumber") + 1))
      .withColumn("variantCallingAnnotations",
        struct(col("rmsMapQ"), col("strandBiasPhred").as("fisherStrandBiasPValue")))
      .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1)))
      .drop((Seq("altFwd", "altRev", "otherFwd", "otherRev", "sumSqMapQ") ++
        states.map(g => s"nr_ll_$g")): _*)
  }
}

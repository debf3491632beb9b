package graft.genomics

import graft.functions.NativeExpressions
import graft.model.{DiscoveredVariant, Read}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Biallelic genotyper: score candidate variants against read evidence
  * and emit genotype calls (the reference's flagship pipeline,
  * BiallelicGenotyper.scala:88-556, re-expressed Spark-first).
  *
  * Plan shape of the default `call` (no gVCF): constructing it runs one
  * job, the collect of the candidates, as the reference's J1
  * (TreeRegionJoin.scala:43-50) also collects them. After it the
  * plan scans the reads once and has one shuffle, no join and no
  * broadcast exchange, checked by `PlanSpec`:
  *   MapPartitions (reads)       Observer.observations: each read finds
  *                               its candidates by binary search in the
  *                               broadcast per-contig arrays (a Spark
  *                               broadcast variable, not an exchange) and
  *                               is parsed once. SNV rows compress per
  *                               partition; indel rows have weight 1
  *   Project (per-row scoring)   genotype_log_likelihoods: the K7 kernel
  *                               on each compressed row, in the read
  *                               stage's codegen (the reference joins a
  *                               generated score table here, S9 + J3)
  *   groupBy(site, sample).agg   the one shuffle (A3): partial+final hash
  *                               agg keyed (site, sample, copyNumber),
  *                               ~40 flat columns; the partial agg runs in
  *                               the read stage
  *   per-row emission exprs      narrow (argmax, GQ, Fisher, RMS)
  * gVCF mode (scoreAllSites) observes every position instead: the
  * compressed pileup (reads shuffled on (contig, bin), then compressed
  * per bin), left-joined to the broadcast SNV candidates (a matched row is an SNV observation, an unmatched one a
  * non-ref observation), then anti-joined against the broadcast
  * candidate positions to drop the non-ref rows under indel candidates;
  * its indel rows come from the same one-pass observer.
  *
  * `binSize` stays in the signatures for their callers and is unused: the
  * observer needs no bin width, and its SNV groups and the gVCF pileup
  * bin at a fixed 1000 bp.
  */
object BiallelicGenotyper {

  /** The metadata-validated entry point (P4; reference
    * BiallelicGenotyper.scala:99-105): require a single sample and
    * compatible sequence dictionaries BEFORE planning the join, then
    * [[call]]. This variant runs two small aggregation jobs on top of
    * the candidate collect `call` runs — use it at pipeline
    * boundaries, not inside loops. The CLI calls `call` directly and
    * skips these two jobs.
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

  /** A bin width sized from the data: ~`targetReadsPerBin` reads per
    * (contig, bin), from one sampling job over `fraction` of the reads,
    * clamped to [2x mean read span, 10 Mbp]. No CLI path calls it, and
    * [[call]] ignores the width. It stays for perfbench's traced call
    * chain, which still times it and passes its width to [[call]].
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
    * observation key the same way). Construction collects the candidates
    * (one job); `binSize` is unused.
    */
  def call(
      reads: Dataset[Read],
      variants: Dataset[DiscoveredVariant],
      ploidy: Int = 2,
      maxQual: Int = 93,
      maxMapQ: Int = 93,
      binSize: Double = 1000.0,
      copyNumbers: Option[CopyNumberMap.Built] = None,
      scoreAllSites: Boolean = false): DataFrame =
    callImpl(reads, variants.toDF, perSample = false, ploidy, maxQual, maxMapQ,
      copyNumbers, scoreAllSites)

  /** Multi-sample calling in ONE pass: `variants` carries a `sampleId`
    * column and each sample is scored ONLY against its own variant set —
    * sampleId keys the observer's candidate lookup and the gVCF joins,
    * and the wide agg already groups by sample.
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
      copyNumbers: Option[CopyNumberMap.Built] = None,
      scoreAllSites: Boolean = false): DataFrame = {
    require(variants.columns.contains("sampleId"),
      "callPerSample: variants must carry a sampleId column (use DiscoverVariants.discoverPerSample)")
    callImpl(reads, variants, perSample = true, ploidy, maxQual, maxMapQ,
      copyNumbers, scoreAllSites)
  }

  private def callImpl(
      reads: Dataset[Read],
      variantsDf: DataFrame,
      perSample: Boolean,
      ploidy: Int,
      maxQual: Int,
      maxMapQ: Int,
      copyNumbers: Option[CopyNumberMap.Built],
      scoreAllSites: Boolean): DataFrame = {

    val maxP = math.max(ploidy, copyNumbers.map(_.maxPloidy).getOrElse(ploidy))
    val states = 0 to maxP

    // -- observations (K6/K8): one narrow pass over the reads, which
    // collects the candidates once (the one job `call` runs) and scores
    // no read twice. SNVs are observed at their own sites and compress
    // map-side to weighted rows (avocado's Observer; the reference's
    // SummarizedObservation insight, SummarizedObservation.scala:37-43 —
    // the discrete observation key has tiny cardinality); indels run the
    // alignment-aware kernel with nullOut ambiguity handling.
    val isSnv = col("alternateAllele").isNotNull &&
      length(col("referenceAllele")) === 1 && length(col("alternateAllele")) === 1

    // -- gVCF non-ref model (P10/§2 gVCF; reference DiscoveredVariant
    // .scala:81 alternateAllele=None + ScoredObservation nonRef arrays):
    // when scoring all sites, every pileup position NOT under a candidate
    // variant emits a symbolic non-ref observation — support is "shows
    // the reference" vs "shows anything else", the alternate allele is
    // null, and the downstream likelihood blend gives the log-odds of
    // 0..m copies of an unknown non-reference allele. One pass over the
    // pileup serves both kinds: a left join to the (broadcast) SNV
    // candidates classifies matched rows as SNV observations and leaves
    // the rest as non-ref rows; an anti-join on the (tiny, broadcast)
    // candidate-position set, whose null-alternate condition lets the SNV
    // rows through, drops the non-ref rows under indel candidates. The
    // indel rows come from the one-pass observer.
    val obs =
      if (!scoreAllSites) Observer.observations(reads, variantsDf, perSample)
      else {
        def renamed(df: DataFrame) = df.select(
          Seq(
            col("contigName").as("v_contig"),
            col("start").as("v_start"),
            col("referenceAllele").as("v_ref"),
            col("alternateAllele").as("v_alt")) ++
            (if (perSample) Seq(col("sampleId").as("v_sample")) else Nil): _*)
        val snvV = renamed(variantsDf.where(isSnv))
        val pileup = Observer.compressedPileup(reads)
        val snvCond = {
          val base = pileup("contigName") === snvV("v_contig") && pileup("pos") === snvV("v_start")
          if (perSample) base && pileup("sampleId") === snvV("v_sample") else base
        }
        val pileupObs = pileup
          .join(broadcast(snvV), snvCond, "left_outer")
          .select(
            col("contigName"),
            col("pos").as("start"),
            coalesce(col("v_ref"), col("refBase")).as("referenceAllele"),
            col("v_alt").as("alternateAllele"),
            col("sampleId"),
            when(col("v_alt").isNull,
              when(col("base") === col("refBase"), Observer.SupportRef)
                .otherwise(Observer.SupportAlt))
              .when(col("base") === col("v_alt"), Observer.SupportAlt)
              .when(col("base") === col("v_ref"), Observer.SupportRef)
              .otherwise(Observer.SupportOther).as("support"),
            col("forwardStrand"), col("qual"), col("mapq"), col("w"))
        val vPos = renamed(variantsDf).select(
          Seq(col("v_contig"), col("v_start")) ++
            (if (perSample) Seq(col("v_sample")) else Nil): _*).distinct()
        val antiCond = {
          val base = pileupObs("contigName") === col("v_contig") &&
            pileupObs("start") === col("v_start") && pileupObs("alternateAllele").isNull
          if (perSample) base && pileupObs("sampleId") === col("v_sample") else base
        }
        pileupObs.join(broadcast(vPos), antiCond, "left_anti")
          .unionByName(Observer.observations(reads, variantsDf.where(!isSnv), perSample))
      }

    // -- scoring (K7): clamp quals to the domain, take the per-site copy
    // number from the broadcast CNV map (or flat ploidy), then evaluate
    // the likelihood kernel on the row: `ll` holds the allele then the
    // other log-likelihood per state 0..maxP, zero above the row's copy
    // number (the same doubles the reference's generated score table
    // holds, S9, without a table to join).
    val cnCol = copyNumbers
      .map(m => m.copyNumberAt(col("contigName"), col("start")))
      .getOrElse(lit(ploidy))
    // P8 clamp: real quals to [1, maxQual] (a phred-0 base would make
    // ε = 1 and poison a whole genotype state with log 0 = -Inf); the
    // NoQual sentinel (deletion observations, mapQ-only model) passes
    // through; mapq to [1, maxMapQ] for the same -Inf reason.
    val qual = when(col("qual") < 0, lit(graft.kernels.Likelihood.NoQual))
      .otherwise(greatest(least(col("qual"), lit(maxQual)), lit(1)))
    val mapq = greatest(least(col("mapq"), lit(maxMapQ)), lit(1))
    val scored = obs
      .select(col("contigName"), col("start"), col("referenceAllele"), col("alternateAllele"),
        col("sampleId"), col("support"), col("forwardStrand"), mapq.as("mapq"),
        col("w"), cnCol.as("copyNumber"),
        NativeExpressions.genotype_log_likelihoods(cnCol, qual, mapq, maxP).as("ll"))
    def aLL(g: Int) = col("ll").getItem(g)
    def oLL(g: Int) = col("ll").getItem(maxP + 1 + g)

    // -- per-row per-state contribution (weighted by the compressed
    // multiplicity), then the wide hash agg (A3). Nulled (nonref)
    // observations contribute ZERO to the genotype blend and their
    // alt-flavored likelihood to the nonref dimension (reference
    // ScoredObservation.scala:62-71: per-class arrays, zeros elsewhere;
    // nonReferenceLikelihoods = nonref obs + ref obs blended).
    val w = col("w")
    val contribs = states.map { g =>
      (when(col("support") === Observer.SupportAlt, aLL(g))
        .when(col("support") === Observer.SupportNonRef, lit(0.0))
        .otherwise(oLL(g)) * w).as(s"c_$g")
    }
    val nrContribs = states.map { g =>
      (when(col("support") === Observer.SupportNonRef, aLL(g))
        .when(col("support") === Observer.SupportRef, oLL(g))
        .otherwise(lit(0.0)) * w).as(s"nr_c_$g")
    }
    val glSums = states.map(g => sum(col(s"c_$g")).as(s"gl_$g"))
    val nrSums = states.map(g => sum(col(s"nr_c_$g")).as(s"nr_ll_$g"))
    val aggd = scored
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
    val state = (array_position(glArr, element_at(sorted, 1)) - 1).cast("int")
    val rmsMapQ = round(sqrt(col("sumSqMapQ") / col("readDepth")), 3)
    // K10 as a codegen'd Expression (same LogMath kernel the former
    // per-row UDF wrapped — bit-identical, but inlined in whole-stage
    // codegen instead of crossing a UDF serialization boundary)
    val strandBias = round(NativeExpressions.fisher_phred(
      col("altFwd"), col("altRev"), col("otherFwd"), col("otherRev")), 3)
    aggd.select(
      (Seq("contigName", "start", "referenceAllele", "alternateAllele", "sampleId", "copyNumber") ++
        states.map(g => s"gl_$g") ++
        Seq("readDepth", "referenceReadDepth", "alternateReadDepth", "otherReadDepth")).map(col) ++
        Seq(
          glArr.as("genotypeLikelihoods"),
          state.as("genotypeState"),
          round(lit(10.0 / math.log(10.0)) * (element_at(sorted, 1) - element_at(sorted, 2)), 3)
            .as("genotypeQuality"),
          concat(array_repeat(lit("REF"), col("copyNumber") - state), array_repeat(lit("ALT"), state))
            .as("alleles"),
          strandBias.as("strandBiasPhred"),
          rmsMapQ.as("rmsMapQ"),
          // richer genotype schema (reference BiallelicGenotyper.scala
          // :699-747): strand-bias 2x2 components in the reference's
          // order [otherFwd, otherRev, altFwd, altRev], the symbolic
          // non-ref likelihood array (sliced like gl), and the nested
          // annotations struct downstream VCF tooling reads
          array(col("otherFwd"), col("otherRev"), col("altFwd"), col("altRev"))
            .as("strandBiasComponents"),
          slice(array(states.map(g => col(s"nr_ll_$g")): _*), lit(1), col("copyNumber") + 1)
            .as("nonReferenceLikelihoods"),
          struct(rmsMapQ.as("rmsMapQ"), strandBias.as("fisherStrandBiasPValue"))
            .as("variantCallingAnnotations"),
          (col("start") + greatest(length(col("referenceAllele")), lit(1))).as("end")): _*)
  }
}

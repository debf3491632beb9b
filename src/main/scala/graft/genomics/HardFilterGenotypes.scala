package graft.genomics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hard-filter annotation (SURVEY.md P5/P6; reference
  * HardFilterGenotypes.scala:176-660): genotypes failing a filter are
  * *annotated*, not dropped — each parameterized predicate records its
  * name into filtersFailed; filtersPassed is their absence. Only the
  * emission gate (quality/alt-presence) actually removes rows.
  *
  * Full reference matrix — 9 parameterized predicates per variant
  * class (SNP / INDEL), dispatched on allele lengths, with quality-by-
  * depth and allelic-fraction thresholds split by het/hom zygosity
  * (reference buildSnpHardFilters/buildIndelHardFilters,
  * HardFilterGenotypes.scala:259-343):
  *
  *   HET{c}QD      gq/dp  <  minHetQualityByDepth   (het rows)
  *   HOM{c}QD      gq/dp  <  minHomQualityByDepth   (hom-alt rows)
  *   {c}FS         fisher >  maxPhredStrandBias
  *   {c}MQ         rmsMapQ < minRMSMappingQuality
  *   {c}MINDP      dp < minDepth ; {c}MAXDP  dp > maxDepth
  *   HET{c}MINAF   af <= minHetAltAllelicFraction   (het rows)
  *   HET{c}MAXAF   af >  maxHetAltAllelicFraction   (het rows)
  *   HOM{c}MINAF   af <= minHomAltAllelicFraction   (hom-alt rows)
  *
  * A negative/zero threshold disables its predicate (reference
  * Option(...).filter(_ > 0)); a null annotation column skips the row
  * (reference's Option flatMap). All predicates are Column exprs
  * (codegen'd); the VCF FILTER header lines are generated from the same
  * thresholds (reference :186-241).
  */
object HardFilterGenotypes {

  /** One variant class's thresholds (defaults = the reference CLI's). */
  case class Thresholds(
      minHetQualityByDepth: Double = 2.0,
      minHomQualityByDepth: Double = 1.0,
      maxPhredStrandBias: Double = -1.0,
      minRmsMapQ: Double = 30.0,
      minDepth: Int = 10,
      maxDepth: Int = 200,
      minHetAltAllelicFraction: Double = 0.333,
      maxHetAltAllelicFraction: Double = 0.666,
      minHomAltAllelicFraction: Double = 0.666)

  /** The reference's per-class defaults: INDELs disable the RMS-mapQ
    * floor (CLI BiallelicGenotyper.scala:133-137).
    */
  val snpDefaults: Thresholds = Thresholds()
  val indelDefaults: Thresholds = Thresholds(minRmsMapQ = -1.0)

  /** The emission gate (P5): drop very-low-quality calls, and (opt.)
    * rows that called no alt — those are just sites we happened to
    * observe (reference emitGenotypeFilter, :375-384; quality strictly
    * greater-than).
    */
  def emissionFilter(
      df: DataFrame,
      minQuality: Double = 10.0,
      filterRefGenotypes: Boolean = true): DataFrame = {
    val qualOk = col("genotypeQuality").isNull || col("genotypeQuality") > minQuality
    if (filterRefGenotypes)
      df.where(array_contains(col("alleles"), "ALT") && qualOk)
    else df.where(qualOk)
  }

  /** One class's hard filter: its FILTER id, the threshold that enables
    * it (> 0), its `##FILTER` description and its failing predicate.
    */
  private case class HardFilter(id: String, threshold: Double, description: String, fails: Column)

  /** The enabled ones of the 9 filters of class `c` ("SNP" or "INDEL"),
    * in header order: the one table [[annotate]] and [[filterHeaderLines]]
    * both read.
    */
  private def filters(t: Thresholds, c: String): Seq[HardFilter] = {
    val dp = col("readDepth")
    val gq = col("genotypeQuality")
    val hom = col("genotypeState") > 0 &&
      col("genotypeState") === coalesce(col("copyNumber"), lit(2))
    val qd = gq / dp
    val af = col("alternateReadDepth").cast("double") / dp
    val hasAf = dp.isNotNull && col("alternateReadDepth").isNotNull
    def f(v: Double) = "%f".format(v)
    Seq(
      HardFilter(s"HET${c}QD", t.minHetQualityByDepth,
        s"Quality by depth was below ${f(t.minHetQualityByDepth)} for a heterozygous $c.",
        !hom && dp.isNotNull && gq.isNotNull && qd < t.minHetQualityByDepth),
      HardFilter(s"HOM${c}QD", t.minHomQualityByDepth,
        s"Quality by depth was below ${f(t.minHomQualityByDepth)} for a homozygous $c.",
        hom && dp.isNotNull && gq.isNotNull && qd < t.minHomQualityByDepth),
      HardFilter(s"${c}FS", t.maxPhredStrandBias,
        s"Phred Fisher scored strand bias was above ${f(t.maxPhredStrandBias)} for a $c.",
        col("strandBiasPhred").isNotNull && col("strandBiasPhred") > t.maxPhredStrandBias),
      HardFilter(s"${c}MQ", t.minRmsMapQ,
        s"RMS mapping quality was below ${f(t.minRmsMapQ)} for a $c.",
        col("rmsMapQ").isNotNull && col("rmsMapQ") < t.minRmsMapQ),
      HardFilter(s"${c}MINDP", t.minDepth.toDouble,
        s"Read depth was below ${t.minDepth} for a $c.",
        dp.isNotNull && dp < t.minDepth),
      HardFilter(s"${c}MAXDP", t.maxDepth.toDouble,
        s"Read depth was above ${t.maxDepth} for a $c.",
        dp.isNotNull && dp > t.maxDepth),
      HardFilter(s"HET${c}MINAF", t.minHetAltAllelicFraction,
        s"Allelic fraction was below ${f(t.minHetAltAllelicFraction)} for a het $c.",
        !hom && hasAf && af <= t.minHetAltAllelicFraction),
      HardFilter(s"HET${c}MAXAF", t.maxHetAltAllelicFraction,
        s"Allelic fraction was above ${f(t.maxHetAltAllelicFraction)} for a het $c.",
        !hom && hasAf && af > t.maxHetAltAllelicFraction),
      HardFilter(s"HOM${c}MINAF", t.minHomAltAllelicFraction,
        s"Allelic fraction was below ${f(t.minHomAltAllelicFraction)} for a hom $c.",
        hom && hasAf && af <= t.minHomAltAllelicFraction))
      .filter(_.threshold > 0)
  }

  /** Annotate (never drop): filtersFailed lists every failed filter for
    * the row's variant class, in declaration order; filtersPassed = none
    * failed.
    */
  def annotate(
      df: DataFrame,
      snp: Thresholds = snpDefaults,
      indel: Thresholds = indelDefaults): DataFrame = {
    val isSnp = length(col("referenceAllele")) === 1 &&
      length(col("alternateAllele")) === 1
    // concat of per-predicate 0/1-element arrays, NOT
    // array_compact(array(when(p, n), ...)): array_compact plans as the
    // higher-order filter(array, lambda) which is CodegenFallback, so
    // the whole 18-predicate matrix was evaluated INTERPRETED — the
    // plan showed a bare non-codegen Project between two codegen spans
    // and p6b spent ~3 s on a 600 k-row scan. The concat form is
    // value-identical (non-null names in declaration order) and keeps
    // every predicate inside one whole-stage-codegen span.
    val none = typedLit(Seq.empty[String])
    val snpFails = filters(snp, "SNP")
      .map(h => when(isSnp && h.fails, array(lit(h.id))).otherwise(none))
    val indelFails = filters(indel, "INDEL")
      .map(h => when(!isSnp && h.fails, array(lit(h.id))).otherwise(none))
    // `none` first keeps the type an array when every filter is disabled
    df.withColumn("filtersFailed", concat(none +: (snpFails ++ indelFails): _*))
      .withColumn("filtersPassed", size(col("filtersFailed")) === 0)
  }

  /** Generated VCF FILTER header lines for the active thresholds
    * (reference :186-241 — one ##FILTER line per enabled predicate,
    * message text matching).
    */
  def filterHeaderLines(
      snp: Thresholds = snpDefaults,
      indel: Thresholds = indelDefaults): Seq[String] =
    (filters(snp, "SNP") ++ filters(indel, "INDEL"))
      .map(h => s"""##FILTER=<ID=${h.id},Description="${h.description}">""")

  /** Full pipeline: emission gate then annotation. */
  def apply(df: DataFrame, minEmitQuality: Double = 10.0,
      snp: Thresholds = snpDefaults,
      indel: Thresholds = indelDefaults,
      filterRefGenotypes: Boolean = true): DataFrame =
    annotate(emissionFilter(df, minEmitQuality, filterRefGenotypes), snp, indel)
}

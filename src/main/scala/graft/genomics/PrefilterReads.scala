package graft.genomics

import graft.model.Read
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._

/** Read prefilter (SURVEY.md P1-P4; reference PrefilterReads.scala:67-264):
  * a conjunction of Column predicates — expressed declaratively (never as
  * opaque lambdas) so Catalyst pushes them into the parquet scan.
  */
object PrefilterReads {

  /** GRC-style and bare autosome names: chr1..chr22 / 1..22. */
  def isAutosome(contig: Column): Column = contig.rlike("^(chr)?([1-9]|1[0-9]|2[0-2])$")

  /** Sex chromosomes: chrX/chrY/X/Y. */
  def isSex(contig: Column): Column = contig.rlike("^(chr)?[XY]$")

  /** Mitochondrial: chrM/chrMT/M/MT. */
  def isMitochondrial(contig: Column): Column = contig.rlike("^(chr)?MT?$")

  def keptContig(contig: Column, autosomes: Boolean, sex: Boolean, mito: Boolean): Column = {
    val preds = Seq(
      if (autosomes) Some(isAutosome(contig)) else None,
      if (sex) Some(isSex(contig)) else None,
      if (mito) Some(isMitochondrial(contig)) else None).flatten
    if (preds.isEmpty) lit(true) else preds.reduce(_ || _)
  }

  /** The P1 conjunction: mapped ∧ (primary ∨ keepNonPrimary) ∧
    * mapq ≥ min ∧ ¬duplicate (unless kept) ∧ contig kept.
    * Mate fields of reads whose mate lands on a dropped contig are
    * nulled out (P3) with conditional column rewrites.
    */
  def apply(
      reads: Dataset[Read],
      minMapQ: Int = 10,
      keepNonPrimary: Boolean = false,
      keepDuplicates: Boolean = false,
      autosomes: Boolean = true,
      sex: Boolean = true,
      mito: Boolean = true): Dataset[Read] = {
    import reads.sparkSession.implicits._
    val kept = reads.filter(
      col("readMapped") &&
        (col("primaryAlignment") || lit(keepNonPrimary)) &&
        col("mapq") >= minMapQ &&
        (!col("duplicateRead") || lit(keepDuplicates)) &&
        keptContig(col("contigName"), autosomes, sex, mito))
    val mateKept = col("mateContigName").isNotNull &&
      keptContig(col("mateContigName"), autosomes, sex, mito)
    kept
      .select(kept.columns.toSeq.map {
        case c @ ("mateStart" | "mateContigName") => when(mateKept, col(c)).as(c)
        case c @ "mateMapped" => when(mateKept, col(c)).otherwise(lit(false)).as(c)
        case c => col(c)
      }: _*)
      .as[Read]
  }
}

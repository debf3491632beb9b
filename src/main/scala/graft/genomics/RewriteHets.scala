package graft.genomics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Het→hom rewrite (SURVEY.md K15; reference RewriteHets.scala:95-170):
  * a heterozygous call whose alt-allele fraction is implausibly high for
  * a true het (>= maxHetFraction) is rewritten to homozygous-alt and its
  * genotype quality voided — pure conditional column rewrites, no kernel.
  */
object RewriteHets {

  def apply(df: DataFrame, maxHetFraction: Double = 0.8, ploidy: Int = 2): DataFrame = {
    // variable ploidy: genotyper output carries the site's copyNumber
    // (CNV-aware calling); fall back to the flat ploidy argument when
    // the column is absent
    val p = if (df.columns.contains("copyNumber")) col("copyNumber") else lit(ploidy)
    val isHet = col("genotypeState") > 0 && col("genotypeState") < p
    val af = col("alternateReadDepth").cast("double") / col("readDepth")
    // one projection: every rewrite reads the input state, so the
    // alleles and quality rewrites see the call's original genotypeState
    val rw = isHet && col("readDepth") > 0 && af >= maxHetFraction
    df.select(df.columns.toSeq.map {
      case c @ "genotypeState"   => when(rw, p.cast("int")).otherwise(col(c)).as(c)
      case c @ "alleles"         => when(rw, array_repeat(lit("ALT"), p)).otherwise(col(c)).as(c)
      case c @ "genotypeQuality" => when(rw, lit(null).cast("double")).otherwise(col(c)).as(c)
      case c                     => col(c)
    }: _*)
  }
}

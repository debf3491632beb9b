package graft.genomics

import graft.kernels.Likelihood
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated likelihood dimension table (SURVEY.md S9; reference
  * ScoredObservation.createScores, ScoredObservation.scala:101-165).
  *
  * The likelihood function's domain is tiny and discrete —
  * (baseQuality 0..maxQual) × (mapQ 0..maxMapQ) × genotype state — so
  * instead of evaluating log/exp per observation row (billions at WGS
  * scale), we materialize the function once (~8.8k rows), broadcast it,
  * and turn per-row math into a broadcast hash join. Per-state arrays
  * are flattened to scalar columns (a_ll_0.., o_ll_0..) so the downstream
  * sum aggregation stays in Tungsten codegen.
  */
object ScoreTable {

  def build(spark: SparkSession, ploidy: Int = 2, maxQual: Int = 93, maxMapQ: Int = 93): DataFrame =
    buildForCopyNumbers(spark, Seq(ploidy), ploidy, maxQual, maxMapQ)

  /** Variable-ploidy variant: one row per (copyNumber, qual, mapq), with
    * per-state columns sized for maxPloidy and zero-padded above each
    * row's own copy number (padding contributes nothing to the sums; the
    * emission slices to the site's real state count).
    */
  def buildForCopyNumbers(
      spark: SparkSession,
      copyNumbers: Seq[Int],
      maxPloidy: Int,
      maxQual: Int = 93,
      maxMapQ: Int = 93): DataFrame = {
    import spark.implicits._
    require(copyNumbers.nonEmpty && copyNumbers.max <= maxPloidy)
    // qual domain starts at the NoQual sentinel (-1): deletion
    // observations have no base quality and score on mapQ alone
    // (reference ScoredObservation.createScores seeds the table with
    // optQuality = None before 1..maxQual, ScoredObservation.scala:110-112)
    val rows = for {
      cn <- copyNumbers.distinct
      q <- Likelihood.NoQual to maxQual
      mq <- 0 to maxMapQ
    } yield {
      val a = Likelihood.alleleLogLikelihoods(q, mq, cn)
      val o = Likelihood.otherLogLikelihoods(q, mq, cn)
      def pad(xs: Array[Double]) = (xs ++ Array.fill(maxPloidy + 1 - xs.length)(0.0)).toSeq
      (cn, q, mq, pad(a), pad(o))
    }
    val nested = rows.toDF("copyNumber", "qual", "mapq", "a_ll", "o_ll")
    val states = 0 to maxPloidy
    nested.select(
      col("copyNumber") +: col("qual") +: col("mapq") +:
        (states.map(g => col("a_ll").getItem(g).as(s"a_ll_$g")) ++
          states.map(g => col("o_ll").getItem(g).as(s"o_ll_$g"))): _*)
  }
}

package graft.genomics

import graft.kernels.AlignmentOps
import graft.model.{DiscoveredVariant, Read}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.util.Try

/** Variant discovery: explode each read into candidate variants, then
  * dedup/threshold with a hash aggregation.
  *
  * Capability of the reference's DiscoverVariants
  * (avocado-core/.../genotyping/DiscoverVariants.scala:61-252), re-expressed
  * Spark-first: the per-read walk (K5) is a typed flatMap kernel; the
  * min-support threshold (A2) is a declarative groupBy().count().where()
  * so Catalyst plans a partial+final hash aggregation.
  */
object DiscoverVariants {

  /** Per-read variant extraction (kernel K5): the read's
    * [[AlignmentOps.variants]], kept when their quality reaches
    * `minPhred` — an SNV by its base's phred, an insertion by the mean
    * phred of its bases; deletions carry no base quality and are always
    * kept. Malformed reads yield no variants (per-row failure isolation,
    * as the reference warns-and-skips; DiscoverVariants.scala:121-127).
    */
  def variantsInRead(read: Read, minPhred: Int): Seq[DiscoveredVariant] =
    Try {
      val ops = AlignmentOps.parseRead(read.cigar, read.mdTag, read.sequence, read.qual)
      AlignmentOps.variants(read.start, read.sequence, read.qual, ops).collect {
        case v if v.quals == 0 || v.qualSum.toDouble / v.quals >= minPhred =>
          DiscoveredVariant(read.contigName, v.start, v.ref, Some(v.alt))
      }
    }.getOrElse(Nil)

  /** Discovery pipeline: flatMap kernel -> groupBy(site).count().where().
    * Output columns: contigName, start, referenceAllele, alternateAllele,
    * n_obs. Shuffles once, on the variant key; partial aggregation is
    * map-side so the shuffle carries one row per distinct variant per
    * partition — this is what keeps it viable at 100 TB of reads.
    */
  def discover(reads: Dataset[Read], minPhred: Int = 20, minObservations: Long = 2): DataFrame = {
    import reads.sparkSession.implicits._
    reads
      .flatMap(variantsInRead(_, minPhred))
      .groupBy($"contigName", $"start", $"referenceAllele", $"alternateAllele")
      .agg(count(lit(1)).as("n_obs"))
      .where($"n_obs" >= minObservations)
  }

  /** Per-sample discovery in ONE pass over a multi-sample cohort: same
    * per-read kernel, but the min-support threshold applies WITHIN each
    * sample (the reference's discovery is invoked per sample,
    * DiscoverVariants.scala:90-97 — adding sampleId to the group key
    * preserves that semantics without S driver-looped jobs). Still one
    * shuffle, keyed (sampleId, site); partial aggregation collapses
    * map-side, so the shuffle volume is one row per distinct
    * (sample, variant) per partition regardless of cohort size.
    */
  def discoverPerSample(
      reads: Dataset[Read], minPhred: Int = 20, minObservations: Long = 2): DataFrame = {
    import reads.sparkSession.implicits._
    reads
      .flatMap(r => variantsInRead(r, minPhred).map(v =>
        (r.sampleId, v.contigName, v.start, v.referenceAllele, v.alternateAllele)))
      .toDF("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
      .groupBy($"sampleId", $"contigName", $"start", $"referenceAllele", $"alternateAllele")
      .agg(count(lit(1)).as("n_obs"))
      .where($"n_obs" >= minObservations)
  }
}

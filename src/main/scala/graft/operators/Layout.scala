package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout operators: how rows are ARRANGED across files decides
  * how much of 100 TB a selective scan touches. Z-order clustering
  * (the OPTIMIZE ZORDER primitive of the lakehouse formats) sorts on a
  * space-filling curve so range predicates on EITHER clustered
  * dimension prune files — a single-column sort gives perfect pruning
  * on one dimension and none on the other; the curve trades a little of
  * the first for a lot of the second.
  */
object Layout {

  /** Cluster `df` on the z-order curve of two integer dimensions:
    * compute the Morton key ([[graft.functions.ZInterleave]] — a
    * codegen'd bit-twiddle, bit i → bits 2i/2i+1), range-partition on
    * it (one pass, sampled bounds — the same exchange a global sort
    * pays), and sort within partitions so per-file min/max statistics
    * are tight on BOTH dimensions. Inputs must fit 31 bits (mask or
    * bucket upstream — exact-units convention).
    */
  def zorder(df: DataFrame, aCol: Column, bCol: Column,
      partitions: Int, zName: String = "zval"): DataFrame =
    df.withColumn(zName,
        graft.functions.NativeExpressions.z_interleave(aCol, bCol))
      .repartitionByRange(partitions, col(zName))
      .sortWithinPartitions(zName)

  /** N-dimensional [[zorder]]: cluster on the variadic Morton key
    * ([[graft.functions.ZInterleaveN]] — ⌊63/N⌋ bits per dimension,
    * bit i of dim j → bit i·N+j). Same plan shape as the 2-D form: one
    * range exchange on the key, sort within partitions.
    */
  def zorderN(df: DataFrame, dims: Seq[Column],
      partitions: Int, zName: String = "zval"): DataFrame =
    df.withColumn(zName,
        graft.functions.NativeExpressions.z_interleave_n(dims: _*))
      .repartitionByRange(partitions, col(zName))
      .sortWithinPartitions(zName)

  /** Locality audit: per partition the bounding-box VOLUME over the
    * given dimensions (∏ max−min+1; the area for two). The sum over
    * partitions is what a min/max-pruned scan pays for a point/range
    * query — smaller is better.
    * BigInt: three dimensions near the 21-bit budget already put the
    * product past 2⁶³ — a Long would silently wrap negative and the
    * audit comparison would invert. Null dimension values are dropped
    * (a box over absent coordinates is undefined, and the audit is a
    * proxy over the rows a min/max-pruned scan would actually index).
    */
  def boundingVolumes(df: DataFrame, dims: Seq[Column]): Seq[BigInt] = {
    import df.sparkSession.implicits._
    val n = dims.size
    df.select(dims.zipWithIndex.map { case (d, j) => d.cast("long").as(s"d$j") }: _*)
      .filter(dims.indices.map(j => col(s"d$j").isNotNull).reduce(_ && _))
      .map(r => (0 until n).map(r.getLong).toArray)
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val lo = Array.fill(n)(Long.MaxValue)
          val hi = Array.fill(n)(Long.MinValue)
          it.foreach { a =>
            var j = 0
            while (j < n) {
              if (a(j) < lo(j)) lo(j) = a(j)
              if (a(j) > hi(j)) hi(j) = a(j)
              j += 1
            }
          }
          // serialize as string: Spark has no BigInt encoder-friendly
          // fixed type wide enough (Decimal(38) caps at ~2^126 which
          // fits, but a string is unambiguous for an audit value)
          Iterator((0 until n).map(j =>
            BigInt(hi(j)) - BigInt(lo(j)) + 1).product.toString)
        }
      }.collect().toSeq.map(BigInt(_))
  }
}

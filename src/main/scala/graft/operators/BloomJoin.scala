package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-pruned equi-join — the runtime-filter pattern made explicit:
  * a size-bounded Bloom sketch of the build side's keys (built by a
  * distributed treeAggregate, ~1.2 bytes/key at 1% fpp) is broadcast
  * and applied to the probe side BEFORE its shuffle, so a
  * sort-merge-join exchange carries only rows that can match. False
  * positives only admit rows the join itself then discards, so the
  * result IS the plain join — the sketch changes the exchange volume,
  * never the answer.
  *
  * When the build side is small enough to broadcast-hash-join, Catalyst
  * already avoids the probe-side shuffle and the sketch is redundant;
  * the win is the middle regime — a build side of millions of keys
  * (too big for a hash-table broadcast, trivially small as a bitset)
  * against a probe side of billions, where a selective build prunes
  * most of the probe exchange.
  */
object BloomJoin {

  /** Inner equi-join of `big` (probe) with `small` (build) on long
    * keys, probe side pre-filtered by the build-side Bloom sketch.
    * Join output columns = both sides' (caller projects).
    */
  def bloomPrunedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      fpp: Double = 0.01): DataFrame = {
    // size the sketch from NON-NULL keys (nulls never insert — counting
    // them oversizes the filter on null-heavy keys), and cache the
    // projected build side so the count job and the insert pass scan the
    // small relation once, not twice
    val keys = small.select(col(smallKey).cast("long")).na.drop().cache()
    // count + build both inside the try: a failed count job must not
    // leave the projection persisted for the rest of the session
    val bfOpt =
      try {
        val nKeys = keys.count()
        if (nKeys == 0L) None
        else Some(buildWith[Long](keys.rdd.map(_.getLong(0)), nKeys, fpp)(_ putLong _))
      } finally keys.unpersist()
    val bf = bfOpt.getOrElse {
      return big.join(small, big(bigKey) === small(smallKey))
    }
    val bcast = big.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: Long) => bcast.value.mightContainLong(k))
    big.where(col(bigKey).isNotNull && might(col(bigKey)))
      .join(small, big(bigKey) === small(smallKey))
  }

  /** Build the sketch at its OPTIMAL size with a correct-at-size path.
    *
    * Two findings from the r15 investigation (PROFILE_r15.md §5, the
    * "j8 11x over the last decade" mystery), both against
    * `stat.bloomFilter`'s BloomFilterAggregate path:
    *
    *  1. It silently CLAMPS the bit count to
    *     `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`
    *     (default 2^26 = 8 MB): the sf100 leg's 30 M-key build got
    *     2.2 bits/key instead of the 9.6 that fpp 0.01 needs, and the
    *     probe pass rate collapsed to 0.957 (true match rate 0.2) —
    *     j8 degenerated to the plain join plus a useless 8 MB probe.
    *  2. With the clamp lifted it is BROKEN AT SIZE: a 30 M-key build
    *     at the optimal 288 M bits measures fp = 0.762 (synthetic
    *     disjoint probe, PROFILE_r15.md §5) — numerically the fp of an
    *     effective 2^26-bit filter — while the SAME insert/probe
    *     workload through the pure `util.sketch.BloomFilter` library
    *     measures fp = 0.0100 at both 3 M and 30 M keys.
    *
    * So the build runs on the pure sketch library distributed the
    * classic way: one partition-local filter per (bounded-count)
    * partition, OR-merged up a treeReduce — correct at every size, and
    * the partial count is capped so partial traffic stays
    * partitions × filter bytes, not tasks × filter bytes. 100 TB
    * sizing: bits scale linearly with keys (~1.2 bytes/key at 1%) — a
    * 1 B-key build is a 1.2 GB broadcast, at which point raise fpp or
    * fall back to the plain join; that trade now happens by CHOICE,
    * not by a silent clamp.
    */
  private[graft] def buildBloom(
      small: DataFrame,
      smallKey: String,
      nKeys: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    buildWith[Long](
      small.select(col(smallKey).cast("long")).na.drop().rdd.map(_.getLong(0)),
      nKeys, fpp)(_ putLong _)

  /** String-key flavor of [[buildBloom]] (d9's benchmark-gram sketch —
    * same clamp/at-size exposure once the gram set outgrows 2^26 bits).
    */
  private[graft] def buildBloomString(
      small: DataFrame,
      smallKey: String,
      nKeys: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    buildWith[String](
      small.select(col(smallKey)).na.drop().rdd.map(_.getString(0)),
      nKeys, fpp)(_ putString _)

  private def buildWith[T](
      keys: org.apache.spark.rdd.RDD[T],
      nKeys: Long,
      fpp: Double)(
      put: (org.apache.spark.util.sketch.BloomFilter, T) => Unit)
      : org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    // bound the partial count: each partial is the full bitmap, so the
    // merge traffic is partials × (1.2 bytes/key × nKeys)
    val parts = math.max(1, math.min(keys.getNumPartitions, 64))
    keys.coalesce(parts).mapPartitions { it =>
      val f = BloomFilter.create(nKeys, fpp)
      it.foreach(put(f, _))
      Iterator.single(f)
    }.treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
  }
}

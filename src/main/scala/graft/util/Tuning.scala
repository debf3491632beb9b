package graft.util

/** Engine-wide shuffle-partition sizing (the rule SURVEY §"100 TB
  * posture" promises, proven on w2 in round 15: 370.5 s at 32
  * partitions → 73.0 s at 256 on the same sf100 leg — the difference
  * is per-task sort/agg spill residency, not operator algebra).
  *
  * A fixed `spark.sql.shuffle.partitions = cpus` is correct only while
  * every shuffle partition fits executor memory; at sf100 (600 M
  * lineitem rows) 32 partitions is ~19 M rows per sort task and the
  * whole window/agg family falls off a spill cliff. The scale-safe
  * rule is bytes-derived: one shuffle partition per ~64 MB of on-disk
  * leg parquet (compressed bytes — decompressed shuffle rows run
  * 3-6x that, so a 64 MB-disk partition is a few-hundred-MB sort,
  * comfortably in-memory at 4 GB/task), floored at the core count so
  * small legs keep full parallelism, capped at 4096 locally. AQE's
  * partition coalescing (enabled in every entry point) merges the
  * small post-filter shuffles back down, so oversizing costs only
  * task-launch overhead that AQE reclaims; undersizing costs spill,
  * which nothing reclaims.
  *
  * On a real 1000-executor cluster the same rule is expressed as AQE's
  * `initialPartitionNum` (bytes/64MB over the 100 TB input, uncapped)
  * — the local cap exists only because local[32] gains nothing past a
  * few thousand tasks per stage.
  *
  * To A/B a different count, pass
  * `SPARK_GRAFT_EXTRA_CONF="spark.sql.shuffle.partitions=N"` to
  * `tools/QueryProbe`: the catalog session applies extra confs after
  * this rule.
  */
object Tuning {
  val BytesPerPartition: Long = 64L << 20
  val MaxLocalPartitions: Int = 4096

  /** Total on-disk bytes of the data files under a leg directory
    * (recursive; parquet directories count their part files). */
  def legBytes(sfDir: String): Long = {
    val root = new java.io.File(sfDir)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    if (root.exists) walk(root) else 0L
  }

  /** Shuffle-partition count for a leg:
    * max(cpus, ceil(legBytes / 64MB)) capped at 4096. */
  def shufflePartitions(sfDir: String, cpus: Int): Int = {
    val byBytes = ((legBytes(sfDir) + BytesPerPartition - 1) / BytesPerPartition).toInt
    math.max(cpus, math.min(MaxLocalPartitions, byBytes))
  }

  /** Streaming STATE partition count for a leg: the same bytes-derived
    * rule WITHOUT the core-count floor (floored at 4), env-overridable
    * via SPARK_GRAFT_STATE_PARTITIONS.
    *
    * A stateful streaming operator creates one state store instance per
    * shuffle partition, and EVERY micro-batch pays O(partitions) fixed
    * cost per stateful operator: store open/load, delta write + CRC,
    * commit bookkeeping — regardless of how much state each store
    * holds. [[shufflePartitions]]'s cpus floor exists for batch sort/agg
    * spill headroom; applied to streaming state it buys nothing (the
    * floor only binds when per-partition state is far below the 64 MB
    * sizing target, i.e. exactly when store-open overhead dominates
    * compute) and costs ~3x per-trigger wall at the small legs
    * (measured at sf0.1, OPTIMIZATION_r17.md change 1: addBatch
    * 3.4-4.1 s at 32 partitions vs 1.1-1.2 s at 4 for the identical
    * windowed agg).
    * From sf10 up the bytes-derived count exceeds any core count and the
    * two rules agree, so the at-scale posture is unchanged: state
    * volume, not a constant, sizes the store count — on a cluster this
    * is the `spark.sql.shuffle.partitions` a stateful job pins at its
    * first checkpoint, sized to expected state, not to one node's cores.
    */
  def streamStatePartitions(sfDir: String): Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.trim.toInt).getOrElse {
      val byBytes = ((legBytes(sfDir) + BytesPerPartition - 1) / BytesPerPartition).toInt
      math.max(4, math.min(MaxLocalPartitions, byBytes))
    }
}

package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization barriers for re-referenced intermediates — the
  * fingerprint-once pattern (optimization guide §8) with the storage
  * decision made explicit per class (VERDICT r17 #3).
  *
  * Two classes of barriered table exist in this engine:
  *
  *  - BOUNDED: sketch registers, vocab/candidate/winner tables, HLL/CMS
  *    state, discovered-variant sets — size is fixed by the operator's
  *    parameters or grows like distinct keys, NOT like the corpus.
  *    `localCheckpoint` (memory+disk blocks on the executors that
  *    computed them) is the right mechanism at every scale: blocks are
  *    small, and on executor loss recomputing the whole query is
  *    acceptable for something this cheap. These sites call
  *    [[Dataset.localCheckpoint]] directly, each with an in-source note
  *    of what bounds it.
  *
  *  - CORPUS-PROPORTIONAL: per-document shingle sets / signatures /
  *    sketches, per-image hashes, the compressed pileup, the cohort
  *    gVCF — one row (or a few longs) per corpus item. The trade (one
  *    materialization instead of 2-5 corpus passes) is still right, but
  *    `localCheckpoint` pins executor-local blocks whose loss kills the
  *    job and whose lifetime extends until the DataFrame is GC'd — on a
  *    long-lived cluster session that is a stability risk the local
  *    bench never sees. Those sites call [[corpusScale]] below.
  *
  * [[corpusScale]] picks the mechanism from the session's posture: when
  * a RELIABLE checkpoint directory is configured
  * (`sparkContext.setCheckpointDir`, the normal cluster setup for
  * iterative/barriered jobs), it uses `Dataset.checkpoint()` — blocks
  * live in the fault-tolerant store, executor loss does not kill the
  * job, and nothing pins executor storage. Locally (no checkpoint dir —
  * the bench/test posture, where the harness releases blocks at every
  * query boundary and a lost "executor" is a lost JVM anyway) it uses
  * `localCheckpoint`, which measured consistently faster than
  * persist(DISK_ONLY) for these tables and identical in result. Both
  * mechanisms produce the same rows; the choice is availability, not
  * semantics.
  */
object Barriers {

  /** Materialize a corpus-proportional intermediate once: reliable
    * checkpoint when the session has a checkpoint dir (cluster
    * posture), localCheckpoint otherwise (single-JVM posture).
    */
  def corpusScale(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The query boundary `Bench` and `QueryProbe` run between queries:
    * unpersist, blocking, every persistent RDD whose id is not in
    * `preexisting`, then `System.gc()`.
    *
    * Queries that materialize intermediates (g6's cohort gVCF, d9's
    * bench grams) pin RDD blocks until the ASYNC ContextCleaner gets to
    * them, so a `System.gc()` alone still lets block debris leak into
    * later queries' timings (BENCH_r05: g4 16.9 s in-suite vs 7.1 s
    * isolated, identical code); unpersist is synchronous. The GC then
    * prompts the GC-triggered ContextCleaner for broadcast/shuffle
    * debris, which full GCs rarely reach on a large heap.
    *
    * RDDs persisted before the caller started (`preexisting`) belong to
    * someone else (getOrCreate can attach to an existing session):
    * unpersisting a localCheckpointed dataset truncates its lineage, so
    * its data would be lost, not recomputed.
    */
  def releaseSince(spark: SparkSession, preexisting: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!preexisting.contains(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
  }
}

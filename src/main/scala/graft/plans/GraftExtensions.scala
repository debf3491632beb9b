package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session extension registering the interval-join and band-join
  * rewrites.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => IntervalJoinRewrite())
    e.injectOptimizerRule(_ => BandJoinRewrite())
  }
}

object GraftExtensions {

  /** Add the late `extraOptimizations` copies of [[IntervalJoinRewrite]]
    * and [[BandJoinRewrite]], each only when it is missing, so repeated
    * calls never stack a duplicate rule.
    *
    * Two reasons a session wants them on top of the injected rules:
    *  - builder extensions are silently IGNORED when `getOrCreate`
    *    returns a pre-existing session (shared-JVM callers, tests), so
    *    without this a raw SQL overlap join could plan nested-loop;
    *  - BandJoinRewrite wants the last optimizer batch: an EXISTS-spelled
    *    band becomes a LeftSemi join only at RewriteSubquery, AFTER the
    *    injected operator batch, so only a late copy of the rule sees it.
    *
    * Stacking with the injected copies is safe: both rewrites are
    * idempotent (the interval rewrite's dedup predicate fails its
    * equis-only guard on an already-rewritten join; the band rewrite
    * refuses its own `__lband` references).
    */
  def install(spark: SparkSession): SparkSession = {
    val ex = spark.experimental
    if (!ex.extraOptimizations.exists(_.isInstanceOf[IntervalJoinRewrite]))
      ex.extraOptimizations = ex.extraOptimizations :+ IntervalJoinRewrite()
    if (!ex.extraOptimizations.exists(_.isInstanceOf[BandJoinRewrite]))
      ex.extraOptimizations = ex.extraOptimizations :+ BandJoinRewrite()
    spark
  }

  /** The session every catalog main runs on (`Bench`, `Verify`,
    * `QueryProbe`, `ExplainDump`), so their timings and plans are the
    * same plan: these extensions, `local[SPARK_GRAFT_CPUS]` (default 4),
    * shuffle partitions sized from the leg's bytes
    * ([[graft.util.Tuning.shufflePartitions]]), AQE, UTC, and the UI off.
    * events.parquet stores TIMESTAMP(NANOS), which Spark has no type
    * for, so it is read as a long of epoch-nanos (queries divide it
    * down). `extraConf` is applied last.
    */
  def catalogSession(sfDir: String, extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", graft.util.Tuning.shufflePartitions(sfDir, cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}

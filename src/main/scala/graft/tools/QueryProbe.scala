package graft.tools

/** Generic per-query step-up prober (dev tool, not part of the driver
  * contract): times named catalog queries on one or more data legs —
  * warm run first (JIT + plan cache), then the measured run — through
  * the same noop sink Bench uses so Catalyst cannot prune the measured
  * work, on the catalog session Bench builds
  * ([[graft.plans.GraftExtensions.catalogSession]]: `SPARK_GRAFT_CPUS`
  * threads, shuffle partitions sized by the first leg). One line per
  * (leg, query); feeds the PROFILE step-up tables.
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProbe c13_cdc_upsert,t16_subword_tokenize \
  *        /root/testdata/sf0.1 /tmp/sf1"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val legs = args.drop(1).toSeq
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — A/B a conf without editing code
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(';').map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    })
    val spark = graft.plans.GraftExtensions.catalogSession(legs.head, extra)
    // SPARK_GRAFT_STAGES=1: per-stage wall/max-task report after each run
    if (sys.env.contains("SPARK_GRAFT_STAGES")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = (for {s <- si.submissionTime; c <- si.completionTime}
              yield (c - s) / 1e3).getOrElse(-1.0)
            if (wall > 0.5)
              println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
                f"wall=$wall%6.2fs  ${si.name.take(70)}")
          }
        })
    }
    spark.sparkContext.setLogLevel("ERROR")
    for (leg <- legs; name <- names) {
      val fn = graft.SparkEntry.queries(name)
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, leg).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run() // first execution: plan compile + JIT included
      val warm = run()
      println(f"[query-probe] $leg $name%-28s cold $cold%8.2f s  warm $warm%8.2f s")
    }
    spark.stop()
  }
}

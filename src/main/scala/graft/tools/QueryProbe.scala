package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.util.Barriers
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The catalog profiler, a development tool. It
  * times named catalog queries on one or more data legs the way `Bench`
  * does: on the session Bench builds
  * ([[graft.plans.GraftExtensions.catalogSession]]: `SPARK_GRAFT_CPUS`
  * threads, shuffle partitions sized by the first leg), after Bench's
  * JVM/codegen warm-up, through the noop sink, and with Bench's query
  * boundary ([[graft.util.Barriers.releaseSince]]) after every run, so a
  * row's time does not depend on where it sits in the list.
  *
  * Per (leg, query) it prints two lines: the cold time (first
  * execution: plan compile + JIT included) and the warm time, then the
  * warm run's executed-plan counts (file scans, shuffle/broadcast
  * exchanges, reused exchanges, sort-merge joins, broadcast hash joins,
  * windows), read after the timer stops. They are summed over every SQL
  * execution of the warm run: the barriers a query materializes while it
  * is being built (`Barriers.corpusScale`'s checkpoints, which hold m9's
  * audio scan) and the plan the sink ran. Every stage over 0.5 s prints
  * a `[stage]` line with its task count, wall time and the run it
  * belongs to (`<query> cold|warm`, the job description, which AQE's
  * pool carries to the stages it submits) as it completes.
  *
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` A/Bs a conf without editing code;
  * the session applies it last, so e.g.
  * `spark.sql.shuffle.partitions=256` overrides the leg-sized count.
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProbe c13_cdc_upsert,t16_subword_tokenize \
  *        /root/testdata/sf0.1 /tmp/sf1"
  */
object QueryProbe {
  /** The local property `setJobDescription` sets (Spark keeps its own
    * name for it private). */
  private val JobDescription = "spark.job.description"

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val legs = args.drop(1).toSeq
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(';').map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    })
    val spark = graft.plans.GraftExtensions.catalogSession(legs.head, extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      private val runs = scala.collection.mutable.HashMap.empty[Int, String]
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        runs(ss.stageInfo.stageId) = Option(ss.properties)
          .flatMap(p => Option(p.getProperty(JobDescription))).getOrElse("-")
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = runs.remove(si.stageId).getOrElse("-")
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        if (wall > 0.5)
          println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"wall=$wall%6.2fs  $run  ${si.name.take(70)}")
      }
    })
    // the same warm-up Bench runs, so the first probed query does not
    // pay class loading and codegen for the rest
    val start = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    Barriers.releaseSince(spark, start)
    for (leg <- legs; name <- names) probe(spark, leg, name).foreach(println)
    spark.stop()
  }

  /** Probe one query: cold run, query boundary, warm run, query
    * boundary. Returns the timing line and the warm run's plan-count
    * line. The boundary releases only RDDs persisted after the call
    * started, so the caller's own persisted data survives.
    */
  def probe(spark: SparkSession, leg: String, name: String): Seq[String] = {
    val fn = graft.SparkEntry.queries(name)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // a run's last SQL execution is the noop sink's save, a V2
    // overwrite; listener events arrive asynchronously but in order, so
    // each run's executions are taken from this queue after the timed
    // runs, up to and including its overwrite
    val executions = new LinkedBlockingQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def run(label: String): Double = {
      val sc = spark.sparkContext
      val description = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(s"$name $label")
      val t0 = System.nanoTime()
      try {
        fn(spark, leg).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        sc.setJobDescription(description)
        Barriers.releaseSince(spark, preexisting)
      }
    }
    /** The plans of one run's executions, or None when its sink write
      * does not arrive. */
    def runPlans(): Option[Seq[SparkPlan]] = {
      val plans = Seq.newBuilder[SparkPlan]
      var next = executions.poll(30, TimeUnit.SECONDS)
      while (next != null && next._1 != "overwrite") {
        plans += next._2.executedPlan
        next = executions.poll(30, TimeUnit.SECONDS)
      }
      Option(next).map(w => (plans += w._2.executedPlan).result())
    }
    try {
      val cold = run("cold")
      val warm = run("warm")
      runPlans() // the cold run's
      val counts = runPlans().fold("plan unavailable")(planCounts)
      Seq(f"[query-probe] $leg $name%-28s cold $cold%8.2f s  warm $warm%8.2f s",
        s"[query-probe] $leg $name $counts")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Node counts of executed plans, summed, looking through adaptive
    * plans and query stages into what actually ran. */
  private def planCounts(plans: Seq[SparkPlan]): String = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    val all = plans.flatMap(nodes)
    def n(pf: PartialFunction[SparkPlan, Unit]) = all.count(pf.isDefinedAt)
    s"scans=${n { case _: FileSourceScanExec => }} " +
      s"exchanges=${n { case _: ShuffleExchangeExec | _: BroadcastExchangeExec => }} " +
      s"reusedExchanges=${n { case _: ReusedExchangeExec => }} " +
      s"sortMergeJoins=${n { case _: SortMergeJoinExec => }} " +
      s"broadcastJoins=${n { case _: BroadcastHashJoinExec => }} " +
      s"windows=${n { case _: WindowExec => }}"
  }
}

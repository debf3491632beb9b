package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Benchmark JVM. Three modes:
  *
  *   perfbench.Main setup
  *       builds the CLI's session, prints `SETUP <seconds since JVM start>`
  *   perfbench.Main generate --workload W --seed N --work DIR
  *       writes W's inputs for seed N (BAM, SAM, parquet, truth.tsv) under
  *       DIR/input and exits
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --work DIR --out FILE [--artifact FILE]
  *       generates W's inputs from N under DIR, runs one first pass, then
  *       steady passes for S seconds (at least two), checks every pass
  *       against the planted truth. With --trace 1 it runs one steady pass
  *       (the untraced reference) and then one traced pass. Writes the
  *       result object to FILE.
  *
  * Cores and master come from SPARK_MASTER / SPARK_GRAFT_CPUS, as for
  * the CLI.
  */
object Main {

  private val MinSteadyPasses = 2

  private def session(): (SparkSession, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.cli.Main.session()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    (spark, setupS)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        args.headOption match {
          case Some("setup")    => setup()
          case Some("generate") => run(args.drop(1), generateOnly = true)
          case _                => run(args.drop(1), generateOnly = false)
        }
        0
      }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def setup(): Unit = {
    val (spark, setupS) = session()
    println(s"SETUP $setupS")
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(argv: Array[String], generateOnly: Boolean): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val trace = opt.get("trace").contains("1")
    val work = new File(opt("work"))
    val (spark, setupS) = session()
    val cores = spark.sparkContext.defaultParallelism

    // the traced run scans every format; a timed run writes only its own
    val formats = if (trace || generateOnly) Set("bam", "sam", "parquet") else Set(w.format)
    val in = Generate.run(spark, w.shape, seed * 1000003L + w.name.hashCode, new File(work, "input"), formats)
    System.err.println(f"[perfbench] ${w.name} seed $seed: ${in.reads} reads, ${in.truth.size} truth rows, " +
      f"${in.bytes / 1e6}%.1f MB generated in ${in.seconds}%.2f s")
    if (generateOnly) { spark.stop(); return }
    val seconds = opt("seconds").toDouble
    val out = new File(work, "out")
    out.mkdirs()

    var attempted = 0
    var failed = 0
    var reference: Option[Set[Truth]] = None
    val truth = in.truth.map(Workloads.normalize(in.genome, _)).toSet
    val recalls, precisions = scala.collection.mutable.ArrayBuffer.empty[Double]
    val liveHeap = scala.collection.mutable.ArrayBuffer.empty[Double]
    /** Runs `body`, checks what it wrote, and records the heap still live
      * after a full collection (MiB); Some(seconds) when correct.
      */
    def checked(label: String)(body: => Unit): Option[Double] = {
      attempted += 1
      val r = try {
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc()
        // what the collection left in each heap pool (not what was
        // allocated since)
        val mem = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getCollectionUsage.getUsed).sum
        liveHeap += mem / 1048576.0
        val calls = w.calls(spark, out).map(Workloads.normalize(in.genome, _))
        val hit = (calls & truth).size.toDouble
        val recall = hit / math.max(1, truth.size)
        val precision = hit / math.max(1, calls.size)
        recalls += recall
        precisions += precision
        val same = reference.forall(_ == calls)
        if (reference.isEmpty) reference = Some(calls)
        System.err.println(f"[perfbench] $label: $dt%.3f s, live heap ${mem / 1048576.0}%.0f MB, " +
          f"recall $recall%.4f, precision $precision%.4f" +
          (if (same) "" else ", calls differ from the first pass"))
        if (same && recall >= w.minRecall && precision >= w.minPrecision) Some(dt) else None
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $label failed: $e")
          None
      }
      if (r.isEmpty) failed += 1
      r
    }

    val first = checked("first pass")(w.pass(spark, in, out))
    val steady = scala.collection.mutable.ArrayBuffer.empty[Double]
    val until = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    val minPasses = if (trace) 1 else MinSteadyPasses
    while (n < minPasses || (!trace && System.nanoTime() < until)) {
      n += 1
      checked(s"pass $n")(w.pass(spark, in, out)).foreach(steady += _)
    }
    val wallS = median(steady.toSeq)

    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("first_pass_s", first.getOrElse(0.0), "s"),
        ("wall_s", wallS, "s"),
        ("reads_per_core_s", if (wallS > 0) in.reads / (wallS * cores) else 0.0, "1/s"),
        ("live_heap_mb", median(liveHeap.toSeq), "MiB"),
        ("call_recall", median(recalls.toSeq), "ratio"),
        ("call_precision", median(precisions.toSeq), "ratio"),
        ("ok_share", (attempted - failed).toDouble / attempted, "ratio"))
      else {
        var layers = Seq.empty[(String, Double, String)]
        checked("traced pass") {
          layers = Trace.run(spark, w, in, out, cores, wallS,
            s"${w.name}-$seed", new File(opt("artifact")))
        }
        layers
      }
    spark.stop()

    val correct = failed == 0 && metrics.nonEmpty
    val pw = new PrintWriter(new File(opt("out")), "UTF-8")
    try pw.println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${Json.metrics(metrics)}}""")
    finally pw.close()
  }
}

object Json {
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "0.0" else x.toString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
}

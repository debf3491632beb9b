package perfbench

import graft.genomics._
import graft.kernels.AlignmentOps
import graft.model.{DiscoveredVariant, Read}
import graft.sources.{Bam, Sam, Vcf}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** One call into a layer's public function. Times are nanoTime; the task
  * figures are summed from the Spark stages submitted while it was open.
  */
final class Span(val id: Int, val name: String, val parent: Int, val onPath: Boolean) {
  var start = 0L
  var end = 0L
  var rows = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Each span tags the jobs it submits with a
  * local property; a listener maps stages to spans by that tag and adds
  * their task metrics to the span.
  */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private var ids = 0

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(id => Option(byId.get(id.toInt)))
        .foreach(stageSpan.put(e.stageInfo.stageId, _))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
  }
  sc.addSparkListener(listener)

  def newId(): Int = { ids += 1; ids }

  /** Run `body` inside a span; it returns its result and the rows it
    * produced.
    */
  def span[T](name: String, onPath: Boolean, id: Int = newId(), parent: Int = 0)(body: => (T, Long)): T = {
    val s = new Span(id, name, parent, onPath)
    spans += s
    byId.put(id, s)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    s.start = System.nanoTime()
    try {
      val (t, rows) = body
      s.rows = rows
      t
    } finally {
      s.end = System.nanoTime()
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Wait for every task event, then stop listening. */
  def close(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }
}

/** The traced run: every layer's public function is called on its own,
  * its output forced (persisted and counted) inside its span, in the
  * order the workload's pipeline uses them. Layers that are not on the
  * workload's path run afterwards on the same data, so every layer is
  * measured on every workload; only on-path spans make up the traced
  * total that is compared with the untraced pass.
  */
object Trace {

  val Layers: Seq[String] = Seq(
    "sources.Bam.read", "sources.Sam.read", "sources.parquet",
    "genomics.PrefilterReads", "genomics.Realigner.realign", "genomics.DiscoverVariants.discover",
    "genomics.BiallelicGenotyper.chooseBinSize", "genomics.Observer.compressedPileup",
    "genomics.BiallelicGenotyper.call", "genomics.HardFilterGenotypes",
    "genomics.SquareOff.squareOff", "genomics.JointAnnotatorCaller",
    "sink.parquet", "sources.Vcf.write")

  val Kernels: Seq[String] = Seq(
    "kernels.AlignmentOps.parse", "genomics.Observer.basePileup",
    "genomics.DiscoverVariants.variantsInRead", "genomics.Realigner.realignRead")

  private val KernelSample = 2000

  /** Per-layer metrics of one traced pass, plus the tracing overhead
    * against the untraced `wallS`. Spans and metrics are written to
    * `artifact`.
    */
  def run(spark: SparkSession, w: Workload, in: Inputs, out: File, cores: Int,
      wallS: Double, runId: String, artifact: File): Seq[(String, Double, String)] = {
    import spark.implicits._
    val t = new Tracer(spark)
    val persisted = ArrayBuffer.empty[Dataset[_]]
    def force[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += p
      (p, p.count())
    }
    def scan(name: String, on: Boolean, ds: => Dataset[Read]): Dataset[Read] = t.span(name, on)(force(ds))
    def realign(reads: Dataset[Read], on: Boolean): Dataset[Read] =
      t.span("genomics.Realigner.realign", on)(force(Realigner.realign(reads)))
    def writeParquet(df: DataFrame, path: File, on: Boolean): Unit =
      t.span("sink.parquet", on) { df.write.mode("overwrite").parquet(path.getPath); ((), df.count()) }
    def hardFilter(gts: DataFrame, on: Boolean): DataFrame =
      t.span("genomics.HardFilterGenotypes", on)(force(RewriteHets(HardFilterGenotypes(gts))))
    /** The jointer CLI's chain on this sample's calls: square off, joint
      * caller, recalled genotypes to VCF text.
      */
    def joint(gts: DataFrame, vcf: File): Unit = {
      val squared = t.span("genomics.SquareOff.squareOff", false)(force(SquareOff.squareOff(gts)))
      val j = t.span("genomics.JointAnnotatorCaller", false)(force(JointAnnotatorCaller(squared)))
      t.span("sources.Vcf.write", false) {
        Vcf.write(j.withColumn("genotypeState", col("recalledState"))
          .withColumn("genotypeQuality", col("recalledQuality")), vcf.getPath)
        ((), 0L)
      }
      t.spans.last.rows = spark.read.text(vcf.getPath).where(!col("value").startsWith("#")).count()
    }
    /** Prefilter -> discovery -> bin size -> pileup (child of call) -> call. */
    def callChain(reads: Dataset[Read]): (Dataset[Read], DataFrame, DataFrame) = {
      val pre = t.span("genomics.PrefilterReads", true)(force(PrefilterReads(reads)))
      val variants = t.span("genomics.DiscoverVariants.discover", true)(force(
        DiscoverVariants.discover(pre)
          .select("contigName", "start", "referenceAllele", "alternateAllele").as[DiscoveredVariant]))
      val bin = t.span("genomics.BiallelicGenotyper.chooseBinSize", true)(
        (BiallelicGenotyper.chooseBinSize(pre), 1L))
      // call's plan computes the pileup itself; forcing it alone first,
      // as call's child, lets call's self time exclude it
      val callId = t.newId()
      val pileup = t.span("genomics.Observer.compressedPileup", true, parent = callId)(
        force(Observer.compressedPileup(pre)))
      val gts = t.span("genomics.BiallelicGenotyper.call", true, id = callId)(force(
        BiallelicGenotyper.call(pre, variants, binSize = bin)))
      (pre, pileup, gts)
    }

    val calls = new File(out, "calls")
    val t0 = System.nanoTime()
    // ---- the workload's own path
    val (input, pre, pileup, gts, realignInput) = w match {
      case Workloads.WgsSnv =>
        val bam = scan("sources.Bam.read", true, Bam.read(spark, in.bam))
        val (pre, pileup, gts) = callChain(bam)
        writeParquet(hardFilter(gts, true), calls, true)
        (bam, pre, pileup, gts, pre)
      case Workloads.IndelRealign =>
        val sam = scan("sources.Sam.read", true, Sam.read(spark, in.sam))
        val realigned = realign(sam, true)
        val pq = new File(out, "realigned")
        writeParquet(realigned.toDF(), pq, true)
        val back = scan("sources.parquet", true, spark.read.parquet(pq.getPath).as[Read])
        val (pre, pileup, gts) = callChain(back)
        writeParquet(hardFilter(gts, true), calls, true)
        (sam, pre, pileup, gts, sam)
    }
    val tracedTotal = (System.nanoTime() - t0) / 1e9
    // ---- the remaining layers, on the same data
    w match {
      case Workloads.WgsSnv =>
        scan("sources.Sam.read", false, Sam.read(spark, in.sam))
        scan("sources.parquet", false, spark.read.parquet(in.parquet).as[Read])
        realign(pre, false)
      case Workloads.IndelRealign =>
        scan("sources.Bam.read", false, Bam.read(spark, in.bam))
    }
    joint(gts, new File(out, "offpath.vcf"))
    t.close()

    // ---- useful-outcome ratios, computed outside every span
    val alignedBases = pileup.agg(sum(col("w"))).head().getLong(0)
    val candidates = DiscoverVariants.discover(pre, minObservations = 1).count()
    val changed = realignInput.filter { r =>
      val o = Realigner.realignRead(r)
      o.cigar != r.cigar || o.mdTag != r.mdTag
    }.count()
    val realignRows = t.spans.filter(_.name == "genomics.Realigner.realign").map(_.rows).sum

    val sample = input.limit(KernelSample).collect()
    val kernelNs = Kernels.zip(Seq[Read => Any](
      r => AlignmentOps.parse(r.cigar, r.mdTag),
      r => Observer.basePileup(r),
      r => DiscoverVariants.variantsInRead(r, 20),
      r => Realigner.realignRead(r))).map { case (k, f) => k -> nsPerRead(sample, f) }
    persisted.foreach(_.unpersist())

    val layerMetrics = Layers.flatMap { layer =>
      val ss = t.spans.filter(_.name == layer).toSeq
      val busy = ss.map(_.seconds).sum
      val childIds = ss.map(_.id).toSet
      val children = t.spans.filter(c => childIds(c.parent)).map(_.seconds).sum
      val runS = ss.map(_.taskRunMs).sum / 1e3
      Seq(
        (s"$layer.busy_s", busy, "s"),
        (s"$layer.self_s", busy - children, "s"),
        (s"$layer.rows_out", ss.map(_.rows).sum.toDouble, "count"),
        (s"$layer.tasks", ss.map(_.tasks).sum.toDouble, "count"),
        (s"$layer.slot_util", if (busy > 0) runS / (busy * cores) else 0.0, "ratio"),
        (s"$layer.shuffle_write_mb", ss.map(_.shuffleWriteBytes).sum / 1e6, "MB"),
        (s"$layer.spill_mb", ss.map(_.spillBytes).sum / 1e6, "MB"),
        (s"$layer.gc_s", ss.map(_.gcMs).sum / 1e3, "s"))
    }
    def rows(layer: String) = t.spans.filter(_.name == layer).map(_.rows).sum.toDouble
    val ratios = Seq(
      ("genomics.Observer.compressedPileup.compression",
        rows("genomics.Observer.compressedPileup") / math.max(1L, alignedBases), "ratio"),
      ("genomics.DiscoverVariants.discover.kept_ratio",
        rows("genomics.DiscoverVariants.discover") / math.max(1L, candidates), "ratio"),
      ("genomics.Realigner.realign.changed_ratio",
        changed.toDouble / math.max(1L, realignRows), "ratio")) ++
      Seq("sources.Bam.read", "sources.Sam.read", "sources.parquet").map { l =>
        (s"$l.drop_ratio", 1.0 - rows(l) / t.spans.count(_.name == l) / in.reads, "ratio")
      }
    val kernels = kernelNs.map { case (k, ns) => (s"$k.ns_per_read", ns, "ns") }
    val all = layerMetrics ++ ratios ++ kernels :+ (("trace.overhead_s", tracedTotal - wallS, "s"))
    writeArtifact(artifact, w.name, runId, t0, t.spans.toSeq, tracedTotal, wallS, all)
    all
  }

  /** Single-threaded kernel cost over a fixed sample of reads, after a
    * short warm-up.
    */
  private def nsPerRead(sample: Array[Read], f: Read => Any): Double = {
    var sink = 0
    def loop(): Unit = sample.foreach(r => sink += f(r).hashCode)
    val warm = System.nanoTime() + 200000000L
    while (System.nanoTime() < warm) loop()
    var n = 0
    val t0 = System.nanoTime()
    while (n < 3 || System.nanoTime() - t0 < 300000000L) { loop(); n += 1 }
    val ns = (System.nanoTime() - t0).toDouble / (n.toLong * sample.length)
    if (sink == 42) println() // keeps the loop's results live
    ns
  }

  private def writeArtifact(file: File, workload: String, runId: String, t0: Long, spans: Seq[Span],
      tracedTotal: Double, wallS: Double, metrics: Seq[(String, Double, String)]): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      val ss = spans.map { s =>
        s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run_id": "$runId", """ +
          s""""on_path": ${s.onPath}, "start_s": ${Json.num((s.start - t0) / 1e9)}, """ +
          s""""end_s": ${Json.num((s.end - t0) / 1e9)}, "rows": ${s.rows}, "tasks": ${s.tasks}, """ +
          s""""task_run_s": ${Json.num(s.taskRunMs / 1e3)}, "shuffle_write_bytes": ${s.shuffleWriteBytes}, """ +
          s""""spill_bytes": ${s.spillBytes}, "gc_s": ${Json.num(s.gcMs / 1e3)}}"""
      }
      out.println(s"""{"workload": "$workload", "run_id": "$runId", "traced_total_s": ${Json.num(tracedTotal)}, """ +
        s""""wall_s": ${Json.num(wallS)},""")
      out.println(s""" "spans": [\n  ${ss.mkString(",\n  ")}],""")
      out.println(s""" "metrics": ${Json.metrics(metrics)}}""")
    } finally out.close()
  }
}

package graft.cli

import graft.SparkSpec
import graft.genomics._
import graft.model.{DiscoveredVariant, Read}
import graft.sources.Bam
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.Sample
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** The genotyping commands on seeded reads written in the repository's
  * own formats: their output against the library chain they run, no
  * sampling job on the way, and a usage error for a flag the CLI does
  * not know.
  */
class CliGenotyperSpec extends SparkSpec {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("cli-genotyper").toString

  private def seeded(samples: Seq[String]): Seq[Read] = {
    val gen = new scala.util.Random(31)
    val ref = GenotypeFixtures.reference(gen, 2600)
    (0 until 600).map(i => GenotypeFixtures.seededRead(ref, i, gen.nextInt(2400).toLong,
      samples(i % samples.size), gaps = 1, rnd = gen)).sortBy(_.start)
  }

  private lazy val bam = {
    val path = s"$tmp/reads.bam"
    Bam.write(seeded(Seq("s1")), path, sample = "s1")
    path
  }

  /** Prefilter -> discovery -> call at the default bin width. */
  private def called(reads: Dataset[Read]): DataFrame = {
    import spark.implicits._
    val pre = PrefilterReads(reads)
    val variants = DiscoverVariants.discover(pre, 20, 2)
      .select("contigName", "start", "referenceAllele", "alternateAllele").as[DiscoveredVariant]
    BiallelicGenotyper.call(pre, variants)
  }

  /** Runs the CLI and returns the analyzed plans of every SQL execution
    * it made. Listener events arrive asynchronously but in order, so a
    * marker query run after the CLI closes the list.
    */
  private def runPlans(args: String*): Seq[QueryExecution] = {
    val seen = new LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.put(qe)
    }
    spark.listenerManager.register(listener)
    try {
      Main.main(args.toArray)
      spark.range(1).toDF("cli_done").collect()
      val plans = Seq.newBuilder[QueryExecution]
      var next = seen.poll(60, TimeUnit.SECONDS)
      while (next != null && next.analyzed.output.map(_.name) != Seq("cli_done")) {
        plans += next
        next = seen.poll(60, TimeUnit.SECONDS)
      }
      assert(next != null, "the marker execution never arrived")
      plans.result()
    } finally spark.listenerManager.unregister(listener)
  }

  private def samples(plans: Seq[QueryExecution]): Seq[Sample] =
    plans.flatMap(_.analyzed.collect { case s: Sample => s })

  test("biallelicGenotyper writes the hard-filtered calls at the default width, with no sampling job") {
    val out = s"$tmp/calls"
    val plans = runPlans("biallelicGenotyper", bam, out)
    assert(plans.nonEmpty)
    assert(samples(plans).isEmpty, "a CLI pass runs no sampling job")
    val got = spark.read.parquet(out)
    val want = RewriteHets(HardFilterGenotypes(called(Bam.read(spark, bam))))
    assert(got.count() > 20, "enough calls to compare")
    assert(GenotypeFixtures.sameRows(got, want))
    assert(got.where(length(col("referenceAllele")) =!= length(col("alternateAllele"))).count() > 0,
      "indel calls")
  }

  test("biallelicGenotyper scans parquet input twice, broadcasts no string key") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
    import org.apache.spark.sql.types.StringType
    val reads = s"$tmp/parquet_reads"
    seeded(Seq("s1")).toDS().write.mode("overwrite").parquet(reads)
    val plans = runPlans("biallelicGenotyper", reads, s"$tmp/parquet_calls")
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })) ++ p.subqueries.flatMap(nodes)
    val all = plans.flatMap(qe => nodes(qe.executedPlan))
    val inputName = new java.io.File(reads).getName
    val scans = all.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.getName == inputName) => f
    }
    // one scan for discovery (the candidate collect), one for observation
    assert(scans.size === 2, scans.map(_.simpleString(100)))
    val stringKeyed = all.collect {
      case b: BroadcastExchangeExec => b.mode
    }.collect {
      case m @ HashedRelationBroadcastMode(keys, _) if keys.exists(_.dataType == StringType) => m
    }
    assert(stringKeyed.isEmpty, stringKeyed)
  }

  test("trioGenotyper writes the trio caller's rows over the same chain") {
    import spark.implicits._
    val reads = s"$tmp/trio_reads"
    seeded(Seq("mom", "dad", "kid")).toDS().write.mode("overwrite").parquet(reads)
    val out = s"$tmp/trio"
    val plans = runPlans("trioGenotyper", reads, out, "mom", "dad", "kid")
    assert(samples(plans).isEmpty, "a CLI pass runs no sampling job")
    val want = TrioCaller(called(spark.read.parquet(reads).as[Read])
      .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1))),
      "mom", "dad", "kid")
    val got = spark.read.parquet(out)
    assert(got.count() > 0)
    assert(GenotypeFixtures.sameRows(got, want))
  }

  test("-bin_size, or any flag the CLI does not know, is a usage error") {
    for (flags <- Seq(Seq("-bin_size", "500"), Seq("-binsize", "500"), Seq("-near_dup"))) {
      val out = s"$tmp/rejected"
      val e = intercept[IllegalArgumentException](
        Main.main((Seq("biallelicGenotyper", bam, out) ++ flags).toArray))
      assert(e.getMessage.contains(s"unknown flag '${flags.head}'") &&
        e.getMessage.contains("usage:"), e.getMessage)
      assert(!new java.io.File(out).exists(), "rejected before any work")
    }
  }
}

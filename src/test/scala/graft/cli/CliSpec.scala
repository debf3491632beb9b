package graft.cli

import graft.SparkSpec

/** End-to-end CLI smoke: each command mirrors a reference entry point;
  * run them against a real SAM fixture and check outputs land.
  */
class CliSpec extends SparkSpec {

  private val sam = "/root/reference/avocado-core/src/test/resources/NA12878.chr1.875159.sam"
  private lazy val tmp = java.nio.file.Files.createTempDirectory("cli").toString

  // CLI builds its own session via getOrCreate — warm ours first so it
  // reuses the test session instead of fighting over configs
  private def run(args: String*): Unit = { spark; Main.main(args.toArray) }

  test("CLI session plans a raw SQL overlap join bin-bucketed, idempotently") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shared-JVM worst case: a session already exists, so the builder's
    // withExtensions is silently ignored and Main.session() must ensure
    // the rewrite via the fallback path
    val s = Main.session()
    assert(s.experimental.extraOptimizations
      .count(_.isInstanceOf[graft.plans.IntervalJoinRewrite]) === 1)
    Main.session() // second call must not stack a duplicate rule
    assert(s.experimental.extraOptimizations
      .count(_.isInstanceOf[graft.plans.IntervalJoinRewrite]) === 1)
    val rnd = new scala.util.Random(5)
    (0 until 300).map { i =>
      val st = rnd.nextDouble() * 1000; (i.toLong, st, st + rnd.nextDouble() * 40)
    }.toDF("lid", "ls", "le").createOrReplaceTempView("cli_l")
    (0 until 300).map { i =>
      val st = rnd.nextDouble() * 1000; (i.toLong, st, st + rnd.nextDouble() * 40)
    }.toDF("rid", "rs", "re").createOrReplaceTempView("cli_r")
    val df = s.sql("SELECT lid, rid FROM cli_l JOIN cli_r ON ls < re AND rs < le")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"CLI SQL overlap join must plan bin-bucketed:\n$plan")
    // and correct: equals the nested-loop reference
    val l = spark.table("cli_l").as[(Long, Double, Double)].collect()
    val r = spark.table("cli_r").as[(Long, Double, Double)].collect()
    val ref = (for {
      (li, ls, le) <- l; (ri, rs, re) <- r if ls < re && rs < le
    } yield (li, ri)).toSet
    assert(df.as[(Long, Long)].collect().toSet === ref)
  }

  test("discover writes a variant parquet") {
    run("discover", sam, s"$tmp/disc")
    val v = spark.read.parquet(s"$tmp/disc")
    assert(v.count() > 0)
    assert(v.columns.contains("referenceAllele"))
  }

  test("biallelicGenotyper writes filtered calls") {
    run("biallelicGenotyper", sam, s"$tmp/calls")
    val g = spark.read.parquet(s"$tmp/calls")
    assert(g.count() > 0)
    assert(g.columns.contains("filtersPassed"))
  }

  test("reassemble writes realigned reads") {
    run("reassemble", sam, s"$tmp/realigned")
    assert(spark.read.parquet(s"$tmp/realigned").count() > 0)
  }

  test("mergeDiscovered dedups variant sets") {
    run("discover", sam, s"$tmp/d1")
    run("mergeDiscovered", s"$tmp/d1", s"$tmp/merged")
    assert(spark.read.parquet(s"$tmp/merged").count() ===
      spark.read.parquet(s"$tmp/d1").count()) // already distinct
  }

  test("biallelicGenotyper calls chrX at ploidy 1 with -contig_ploidy") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val reads = (0 until 8).map { i =>
      graft.model.Read(s"x$i", "chrX", 100L, 110L, "AAAAACAAAA", "IIIIIIIIII",
        "10M", "5A4", 60, readMapped = true, readNegativeStrand = false,
        duplicateRead = false, primaryAlignment = true, sampleId = "s1")
    }
    reads.toDS().write.mode("overwrite").parquet(s"$tmp/xreads")
    run("biallelicGenotyper", s"$tmp/xreads", s"$tmp/xcalls",
      "-contig_ploidy", "chrX=1,chrY=1")
    val row = spark.read.parquet(s"$tmp/xcalls")
      .where(col("start") === 105L).collect().head
    assert(row.getAs[Int]("copyNumber") === 1, "haploid contig override")
    assert(row.getAs[Seq[String]]("alleles") === Seq("ALT"), "one allele at ploidy 1")
    assert(row.getAs[Int]("genotypeState") === 1, "haploid alt state")
  }

  test("biallelicGenotyper -cnv calls a triploid state inside a GFF DUP region") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 12 alt + 6 ref reads at chr1:105 — inside the DUP the genotyper
    // explores states 0..3 and the 2/3 alt fraction lands on 2-of-3;
    // depth 18 keeps the top-2 margin above the 10-phred emission gate
    // (at depth 9 the state-2 vs state-3 margin is sub-threshold and the
    // CLI's emission filter rightly drops the call)
    val reads = ((0 until 12).map { i =>
      graft.model.Read(s"alt$i", "chr1", 100L, 110L, "AAAAACAAAA", "IIIIIIIIII",
        "10M", "5A4", 60, readMapped = true, readNegativeStrand = false,
        duplicateRead = false, primaryAlignment = true, sampleId = "s1")
    } ++ (0 until 6).map { i =>
      graft.model.Read(s"ref$i", "chr1", 100L, 110L, "AAAAAAAAAA", "IIIIIIIIII",
        "10M", "10", 60, readMapped = true, readNegativeStrand = false,
        duplicateRead = false, primaryAlignment = true, sampleId = "s1")
    })
    reads.toDS().write.mode("overwrite").parquet(s"$tmp/cnvreads")
    val gff = s"$tmp/dup.gff"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(gff),
      "##gff-version 3\nchr1\tcnvkit\tDUP\t51\t200\t.\t+\t.\tID=dup1\n")
    run("biallelicGenotyper", s"$tmp/cnvreads", s"$tmp/cnvcalls", "-cnv", gff)
    val row = spark.read.parquet(s"$tmp/cnvcalls")
      .where(col("start") === 105L).collect().head
    assert(row.getAs[Int]("copyNumber") === 3, "DUP region is triploid")
    assert(row.getAs[Int]("genotypeState") === 2, "2 of 3 alleles alt")
    assert(row.getAs[Seq[String]]("alleles") === Seq("REF", "ALT", "ALT"))
  }

  test("cleanCorpus runs the composed cleaning pipeline end to end") {
    run("cleanCorpus", s"${sf("0.001")}/documents.parquet", s"$tmp/cleaned")
    val c = spark.read.parquet(s"$tmp/cleaned")
    assert(c.count() > 0)
    assert(c.columns.contains("doc_id") && c.columns.contains("n_tokens"))
  }

  test("dedup writes exact groups; -near writes LSH pairs") {
    run("dedup", s"${sf("0.001")}/documents.parquet", s"$tmp/dedup")
    val g = spark.read.parquet(s"$tmp/dedup")
    assert(g.count() > 0 && g.columns.contains("keep_id"))
    run("dedup", s"${sf("0.001")}/documents.parquet", s"$tmp/neardup", "-near")
    val p = spark.read.parquet(s"$tmp/neardup")
    assert(p.columns.contains("doc_a") && p.columns.contains("doc_b"))
  }

  test("dedup -clusters writes keeper elections; decodeImages decodes payloads") {
    run("dedup", s"${sf("0.001")}/documents.parquet", s"$tmp/clusters", "-clusters")
    val k = spark.read.parquet(s"$tmp/clusters")
    assert(k.count() > 0)
    assert(k.columns.toSet === Set("cluster_id", "n_members", "keeper_id", "keeper_tokens"))

    import spark.implicits._
    graft.operators.Multimodal.attachSynthPng(
      Seq(1L, 2L).toDF("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/payloads")
    run("decodeImages", s"$tmp/payloads", s"$tmp/decoded")
    val d = spark.read.parquet(s"$tmp/decoded")
    assert(d.count() === 2)
    assert(d.columns.contains("px_sum"))
  }

  test("CRAM input runs discover end-to-end (referenceless fixture)") {
    val sam = graft.sources.Sam.read(spark,
      "/root/reference/avocado-core/src/test/resources/NA12878.chr1.875159.sam", "NA12878")
      .collect().toSeq.map(r => if (!r.readMapped) r.copy(mapq = 0) else r)
    graft.sources.Cram.write(sam, s"$tmp/reads.cram", sample = "NA12878")
    run("discover", s"$tmp/reads.cram", s"$tmp/cram_variants")
    val vs = spark.read.parquet(s"$tmp/cram_variants")
    assert(vs.count() > 0)
    assert(vs.columns.contains("alternateAllele"))
  }

  test("jointer -from_gvcf squares a gVCF before the joint layer") {
    run("jointer",
      "/root/reference/avocado-core/src/test/resources/gvcf_multiallelic.g.vcf",
      s"$tmp/joint_vcf", "-from_gvcf")
    val out = spark.read.text(s"$tmp/joint_vcf")
    assert(out.where(org.apache.spark.sql.functions.col("value")
      .startsWith("#CHROM")).count() === 1)
    // the called multiallelic site's alleles survive square-off + recall
    val data = out.collect().map(_.getString(0)).filterNot(_.startsWith("#"))
    assert(data.nonEmpty)
    assert(data.exists(l => l.contains("16157604") || l.contains("18030096")),
      s"expected a recalled site line in:\n${data.mkString("\n")}")
  }
}

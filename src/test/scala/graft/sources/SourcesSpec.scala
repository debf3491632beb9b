package graft.sources

import graft.SparkSpec
import graft.genomics.CopyNumberMap
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {

  test("SAM line parse: coordinates, flags, MD tag, mate fields") {
    val line = "r1\t99\tchr1\t101\t60\t5M1I4M\tchr2\t301\t0\tACGTACGTAC\tIIIIIIIIII\tNM:i:1\tMD:Z:9"
    val r = Sam.parseLine(line, "s1").get
    assert(r.readName === "r1")
    assert(r.start === 100) // 1-based -> 0-based
    assert(r.end === 109)   // 9 ref-consumed bases
    assert(r.mdTag === "9")
    assert(r.readMapped && r.primaryAlignment && !r.readNegativeStrand && !r.duplicateRead)
    assert(r.mateContigName === Some("chr2"))
    assert(r.mateStart === Some(300L))
    assert(Sam.parseLine("@HD\tVN:1.6") === None)
    assert(Sam.parseLine("garbage") === None)

    // flag decoding: 1024 duplicate, 16 reverse, 256 secondary, '=' mate
    val r2 = Sam.parseLine("r2\t1299\tchr1\t11\t3\t10M\t=\t101\t0\tACGTACGTAC\tIIIIIIIIII").get
    assert(r2.duplicateRead && r2.readNegativeStrand && !r2.primaryAlignment)
    assert(r2.mateContigName === Some("chr1"))
  }

  test("VCF round trip: render -> write -> read recovers calls") {
    import spark.implicits._
    val calls = Seq(
      ("chr1", 100L, "A", "C", 1, 45.2, 30),
      ("chr1", 222L, "AGG", "A", 2, 99.0, 41),
      ("chr2", 5L, "T", "G", 0, 10.0, 12)
    ).toDF("contigName", "start", "referenceAllele", "alternateAllele",
      "genotypeState", "genotypeQuality", "readDepth")
    val dir = java.nio.file.Files.createTempDirectory("vcf").toString + "/out"
    Vcf.write(calls, dir, singleFile = true)
    val back = Vcf.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getInt(r.fieldIndex("genotypeState")), r.getInt(r.fieldIndex("readDepth")))).toSet
    assert(back === Set(
      ("chr1", 100L, "A", "C", 1, 30),
      ("chr1", 222L, "AGG", "A", 2, 41),
      ("chr2", 5L, "T", "G", 0, 12)))

    // POS is 1-based; site QUAL = max variant-sample genotype quality,
    // "." at a hom-ref site; GT is the state's allele string
    val fields = spark.read.text(dir).collect().map(_.getString(0))
      .filterNot(_.startsWith("#"))
      .map(l => { val f = l.split("\t"); f(1) -> f }).toMap
    assert(fields.keySet === Set("101", "223", "6"))
    assert(fields("101").take(5).toSeq === Seq("chr1", "101", ".", "A", "C"))
    assert(fields.view.mapValues(_(5)).toMap === Map("101" -> "45.2", "223" -> "99.0", "6" -> "."))
    assert(fields.view.mapValues(_(9).split(":").head).toMap ===
      Map("101" -> "0/1", "223" -> "1/1", "6" -> "0/0"))
  }

  test("VCF render emits 1-based positions and GT strings") {
    import spark.implicits._
    val calls = Seq(("chr1", 100L, "A", "C", 1, 45.2, 30))
      .toDF("contigName", "start", "referenceAllele", "alternateAllele",
        "genotypeState", "genotypeQuality", "readDepth")
    val dir = java.nio.file.Files.createTempDirectory("vcfrender").toString + "/out"
    Vcf.write(calls, dir, singleFile = true)
    val Array(line) = spark.read.text(dir).collect().map(_.getString(0))
      .filterNot(_.startsWith("#"))
    val f = line.split("\t")
    assert(f.take(7).toSeq === Seq("chr1", "101", ".", "A", "C", "45.2", "PASS"))
    val sample = f(8).split(":").zip(f(9).split(":")).toMap
    assert(sample("GT") === "0/1")
    assert(sample("GQ") === "45")
    assert(sample("DP") === "30")
  }

  test("VCF annotation round trip: MQ/FS/SB survive write -> read per sample") {
    import spark.implicits._
    val calls = Seq(
      ("chr1", 100L, "A", "C", "s1", 1, 45.2, 30, 55.317, 12.4, Seq(10, 11, 4, 5)),
      ("chr1", 100L, "A", "C", "s2", 2, 60.0, 22, 59.958, 0.211, Seq(6, 7, 8, 9)),
      ("chr2", 42L, "TG", "T", "s1", 1, 33.3, 18, 41.5, 3.0, Seq(1, 2, 3, 4))
    ).toDF("contigName", "start", "referenceAllele", "alternateAllele",
      "sampleId", "genotypeState", "genotypeQuality", "readDepth",
      "rmsMapQ", "strandBiasPhred", "strandBiasComponents")
    val dir = java.nio.file.Files.createTempDirectory("vcfann").toString + "/out"
    Vcf.write(calls, dir, singleFile = true)
    val fmtLine = spark.read.text(dir).as[String].collect()
      .find(l => !l.startsWith("#")).get.split("\t")(8)
    assert(fmtLine === "GT:AD:DP:GQ:PL:MQ:FS:SB")
    // the squared-off matrix includes a ./. row for (chr2, s2) — absent
    // sample at the site, annotations legitimately null
    val back = Vcf.read(spark, dir)
      .where(col("genotypeState") >= 0)
      .select("contigName", "start", "sampleId", "rmsMapQ", "strandBiasPhred",
        "strandBiasComponents")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getDouble(4), r.getSeq[Int](5))).toSet
    assert(back === Set(
      ("chr1", 100L, "s1", 55.317, 12.4, Seq(10, 11, 4, 5)),
      ("chr1", 100L, "s2", 59.958, 0.211, Seq(6, 7, 8, 9)),
      ("chr2", 42L, "s1", 41.5, 3.0, Seq(1, 2, 3, 4))))
    // site-level INFO annotations ride alongside the FORMAT fields:
    // MQ = RMS across the site's reads (reconstructed from per-sample
    // RMS + depth: sqrt((55.317^2*30 + 59.958^2*22)/52) = 57.326),
    // FS = max across samples; declared in the header and parsed back
    // as siteRmsMapQ / siteStrandBiasPhred
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.exists(_.startsWith("##INFO=<ID=MQ")), lines.take(8).mkString("\n"))
    assert(lines.exists(_.startsWith("##INFO=<ID=FS")), lines.take(8).mkString("\n"))
    val infoByPos = lines.filterNot(_.startsWith("#"))
      .map(l => { val f = l.split("\t"); f(1) -> f(7) }).toMap
    assert(infoByPos("101") === "MQ=57.326;FS=12.4")
    assert(infoByPos("43") === "MQ=41.5;FS=3.0")
    val site = Vcf.read(spark, dir)
      .select("start", "siteRmsMapQ", "siteStrandBiasPhred").distinct()
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(site === Set((100L, 57.326, 12.4), (42L, 41.5, 3.0)))

    // null SB arrays must degrade to "." cells, never an empty string
    val nullSb = Seq(
      ("chr1", 7L, "A", "G", "s1", 1, 20.0, 9, 33.0, 1.5,
        null.asInstanceOf[Seq[Int]]))
      .toDF("contigName", "start", "referenceAllele", "alternateAllele",
        "sampleId", "genotypeState", "genotypeQuality", "readDepth",
        "rmsMapQ", "strandBiasPhred", "strandBiasComponents")
    val dir3 = java.nio.file.Files.createTempDirectory("vcfnullsb").toString + "/out"
    Vcf.write(nullSb, dir3, singleFile = true)
    val cell3 = spark.read.text(dir3).as[String].collect()
      .find(l => !l.startsWith("#")).get.split("\t")(9)
    assert(cell3.endsWith(":."), cell3)
    assert(!cell3.endsWith(":"), cell3)

    // files without annotation columns keep the exact golden FORMAT shape
    val plain = calls.drop("rmsMapQ", "strandBiasPhred", "strandBiasComponents")
    val dir2 = java.nio.file.Files.createTempDirectory("vcfplain").toString + "/out"
    Vcf.write(plain, dir2, singleFile = true)
    val fmt2 = spark.read.text(dir2).as[String].collect()
      .find(l => !l.startsWith("#")).get.split("\t")(8)
    assert(fmt2 === "GT:AD:DP:GQ:PL")
    val info2 = spark.read.text(dir2).as[String].collect()
      .find(l => !l.startsWith("#")).get.split("\t")(7)
    assert(info2 === ".", "plain dumps keep an empty INFO column")
  }

  test("bucketed reads: groupBy and join on bucket keys plan no exchange") {
    import spark.implicits._
    val reads = (0 until 500).map { i =>
      graft.model.Read(s"r$i", "chr" + (i % 3), (i * 37L) % 5000, (i * 37L) % 5000 + 10,
        "ACGTACGTAC", "IIIIIIIIII", "10M", "10", 60, readMapped = true,
        readNegativeStrand = false, duplicateRead = false,
        primaryAlignment = true, sampleId = "s1")
    }.toDS()
    val dir = java.nio.file.Files.createTempDirectory("bucketed").toString
    Bucketed.writeReadsBinned(reads, "t_reads_binned", s"$dir/reads", binSize = 1000L, buckets = 8)
    try {
      val t = Bucketed.read(spark, "t_reads_binned")
      // the pileup-shaped aggregation: partial+final over the bucket keys
      // must run directly on the bucketed scan — zero shuffles
      val agg = t.groupBy("contigName", "bin")
        .agg(count(lit(1)).as("depth"), sum(col("mapq")).as("mq"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"), aggPlan)
      assert(agg.count() > 0)

      // identically-bucketed second table: the (contig, bin) join is
      // exchange-free on both sides
      val variants = reads.select(col("contigName"),
        floor(col("start") / 1000L).cast("long").as("bin"),
        col("start").as("vstart")).distinct()
      Bucketed.write(variants.toDF(), "t_vars_binned", s"$dir/vars",
        bucketCols = Seq("contigName", "bin"), buckets = 8)
      val joined = Bucketed.read(spark, "t_reads_binned").as("r")
        .join(Bucketed.read(spark, "t_vars_binned").as("v"), Seq("contigName", "bin"))
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"), joinPlan)
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_reads_binned")
      spark.sql("DROP TABLE IF EXISTS t_vars_binned")
    }
  }

  test("copy number map: broadcast probe with binary search") {
    import spark.implicits._
    val features = Seq(
      ("chr1", 100L, 200L, "DUP"),
      ("chr1", 500L, 600L, "DEL"),
      ("chr2", 0L, 50L, "DUP")
    ).toDF("contigName", "start", "end", "featureType")
    val m = CopyNumberMap.fromFeatures(features)
    assert(m.basePloidy === 2 && m.minPloidy === 1 && m.maxPloidy === 3)
    assert(m.at("chr1", 150) === 3)  // inside DUP
    assert(m.at("chr1", 550) === 1)  // inside DEL
    assert(m.at("chr1", 300) === 2)  // between
    assert(m.at("chr1", 200) === 2)  // half-open end
    assert(m.at("chr3", 10) === 2)   // unknown contig

    // column probe inside a distributed pipeline
    val probed = Seq(("chr1", 150L), ("chr1", 700L), ("chr2", 10L))
      .toDF("c", "p")
      .select(m.copyNumberAt(col("c"), col("p")).as("cn"))
      .as[Int].collect().toSeq
    assert(probed === Seq(3, 2, 3))
  }
}

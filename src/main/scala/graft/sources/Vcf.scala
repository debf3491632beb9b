package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VCF text source/sink (SURVEY.md S3/S7): genotype calls to/from VCF
  * lines. Rendering is a narrow projection to one string column; the
  * single-file option is a coalesce(1) — the distributed write is the
  * default, a directory of part files, exactly how a 100 TB callset
  * must be written.
  */
object Vcf {

  def header(sampleIds: Seq[String], filterLines: Seq[String] = Nil,
      extraFormatLines: Seq[String] = Nil,
      extraInfoLines: Seq[String] = Nil): String =
    (Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=END,Number=1,Type=Integer,Description=\"End of the reference-model block (gVCF)\">"
    ) ++ extraInfoLines ++ filterLines ++ Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths for the ref and alt alleles\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read Depth\">",
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype Quality\">",
      "##FORMAT=<ID=PL,Number=G,Type=Integer,Description=\"Phred-scaled genotype likelihoods\">"
    ) ++ extraFormatLines ++ Seq(
      ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: sampleIds).mkString("\t")
    )).mkString("\n")

  /** Write a valid multi-sample VCF: per-sample cells are pivoted onto
    * one line per site (fixed sample-column order from the data's
    * distinct sample ids — a driver-side collect of the tiny sample set,
    * like the reference's sample metadata), and the header (with those
    * sample ids) is prepended via a sort key so it lands at the head of
    * part-00000. singleFile concatenates through one task (small outputs
    * only — a cohort VCF at scale stays distributed; a cat of the part
    * files in name order is a valid VCF either way).
    */
  def write(gtsIn: DataFrame, path: String, singleFile: Boolean = false,
      filterHeaderLines: Seq[String] = Nil): Unit = {
    val spark = gtsIn.sparkSession
    import spark.implicits._
    // single-sample dumps without a sampleId column get the default id
    val gts =
      if (gtsIn.columns.contains("sampleId")) gtsIn
      else gtsIn.withColumn("sampleId", lit("sample"))
    val samples = gts.select("sampleId").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val gt = when(col("genotypeState") === 0, "0/0")
      .when(col("genotypeState") === 1, "0/1")
      .when(col("genotypeState") === 2, "1/1")
      .otherwise("./.")
    val gq = coalesce(round(col("genotypeQuality"), 0).cast("int").cast("string"), lit("."))
    val dp = coalesce(col("readDepth").cast("string"), lit("."))
    // AD (ref,alt depths) and PL (phred-scaled, normalized so the best
    // genotype is 0) when the caller's columns are present
    val has = gts.columns.toSet
    val ad =
      if (has("referenceReadDepth") && has("alternateReadDepth"))
        concat_ws(",",
          coalesce(col("referenceReadDepth").cast("string"), lit(".")),
          coalesce(col("alternateReadDepth").cast("string"), lit(".")))
      else lit(".")
    val pl =
      if (has("genotypeLikelihoods")) {
        val best = array_max(col("genotypeLikelihoods"))
        concat_ws(",", transform(col("genotypeLikelihoods"),
          gl => round((best - gl) * lit(10.0 / math.log(10.0)), 0).cast("int").cast("string")))
      } else if (has("gl_0") && has("gl_1") && has("gl_2")) {
        val arr = array(col("gl_0"), col("gl_1"), col("gl_2"))
        val best = array_max(arr)
        concat_ws(",", transform(arr,
          gl => round((best - gl) * lit(10.0 / math.log(10.0)), 0).cast("int").cast("string")))
      } else lit(".")
    // variant-calling annotations ride FORMAT (per-sample, lossless —
    // the reference's converter carries variantCallingAnnotations through
    // ADAM; here MQ = rmsMapQ, FS = phred Fisher strand bias, SB = the
    // 2x2 strand components). Emitted only when the columns exist, so
    // plain genotype dumps keep the exact golden GT:AD:DP:GQ:PL shape.
    val hasMq = has("rmsMapQ")
    val hasFs = has("strandBiasPhred")
    val hasSb = has("strandBiasComponents")
    val annCells =
      (if (hasMq) Seq(coalesce(col("rmsMapQ").cast("string"), lit("."))) else Nil) ++
        (if (hasFs) Seq(coalesce(col("strandBiasPhred").cast("string"), lit("."))) else Nil) ++
        // concat_ws over a NULL array is "" (not null), which would slip
        // past the coalesce and emit an empty VCF cell — nullify it first
        (if (hasSb) Seq(coalesce(nullif(concat_ws(",",
          col("strandBiasComponents").cast("array<string>")), lit("")), lit("."))) else Nil)
    val fmtKeys = Seq("GT", "AD", "DP", "GQ", "PL") ++
      (if (hasMq) Seq("MQ") else Nil) ++
      (if (hasFs) Seq("FS") else Nil) ++
      (if (hasSb) Seq("SB") else Nil)
    val fmtHeaderLines =
      (if (hasMq) Seq("##FORMAT=<ID=MQ,Number=1,Type=Float,Description=\"RMS mapping quality\">") else Nil) ++
        (if (hasFs) Seq("##FORMAT=<ID=FS,Number=1,Type=Float,Description=\"Phred-scaled Fisher strand bias p-value\">") else Nil) ++
        (if (hasSb) Seq("##FORMAT=<ID=SB,Number=4,Type=Integer,Description=\"Strand bias components: other fwd, other rev, alt fwd, alt rev\">") else Nil)
    val missingCell = ("./." +: Seq.fill(fmtKeys.size - 1)(".")).mkString(":")
    val cell = concat_ws(":", Seq(gt, ad, dp, gq, pl) ++ annCells: _*)
    val site = Seq("contigName", "start", "referenceAllele", "alternateAllele")
    // FILTER column from the hard-filter annotation when present
    // (site-level: any sample's failures; P6's annotate-don't-drop).
    // Window over the site key (constant per site) so it can ride the
    // pivot's groupBy as a key — no extra join, null-alt rows safe.
    val siteW = org.apache.spark.sql.expressions.Window
      .partitionBy(site.map(col): _*)
    val filterCell =
      if (gts.columns.contains("filtersFailed"))
        max(when(size(col("filtersFailed")) > 0,
          concat_ws(";", col("filtersFailed")))).over(siteW)
      else lit(null).cast("string")
    // gVCF reference blocks ([start, end) with null alt) keep their span
    // via INFO END (site-level: the widest sample block — per-sample
    // blocks belong in per-sample gVCF files)
    val infoCell =
      if (has("end"))
        max(when(col("alternateAllele").isNull && col("end") > col("start") + 1,
          col("end"))).over(siteW)
      else lit(null).cast("long")
    // site-level INFO annotations (the reference's converter also emits
    // the calling annotations at the site, CORE/genotyping/
    // BiallelicGenotyper.scala:731-747): MQ/FS summarized across the
    // site's samples via the same window that carries FILTER/END/QUAL.
    // Site MQ is the RMS across the site's READS (reference semantics),
    // reconstructed exactly from per-sample RMS + depth:
    // sqrt(Σ_s rms_s² · dp_s / Σ_s dp_s); samples without an MQ are
    // excluded from both sums. Falls back to max when depth is absent.
    val mqInfoCell =
      if (hasMq && has("readDepth"))
        round(sqrt(
          sum(pow(col("rmsMapQ"), 2) * col("readDepth")).over(siteW) /
            sum(when(col("rmsMapQ").isNotNull, col("readDepth"))).over(siteW)), 3)
      else if (hasMq) max(col("rmsMapQ")).over(siteW)
      else lit(null).cast("double")
    val fsInfoCell =
      if (hasFs) max(col("strandBiasPhred")).over(siteW) else lit(null).cast("double")
    val infoHeaderLines =
      (if (hasMq) Seq("##INFO=<ID=MQ,Number=1,Type=Float,Description=\"RMS mapping quality across samples at the site\">") else Nil) ++
        (if (hasFs) Seq("##INFO=<ID=FS,Number=1,Type=Float,Description=\"Phred-scaled Fisher strand bias at the site\">") else Nil)
    // site QUAL: confidence any sample carries the alt — the max variant
    // genotype quality at the site (reference blocks stay "."). Site-level
    // like FILTER/END, so it rides the pivot keys via the same window.
    val qualCell =
      if (has("genotypeQuality"))
        max(when(col("genotypeState") > 0 && col("alternateAllele").isNotNull,
          col("genotypeQuality"))).over(siteW)
      else lit(null).cast("double")
    val pivotedF = gts
      .withColumn("__cell", cell)
      .withColumn("__filter", filterCell)
      .withColumn("__end", infoCell)
      .withColumn("__mq", mqInfoCell)
      .withColumn("__fs", fsInfoCell)
      .withColumn("__qual", qualCell)
      .groupBy((site :+ "__filter" :+ "__end" :+ "__mq" :+ "__fs" :+ "__qual").map(col): _*)
      .pivot("sampleId", samples)
      .agg(max(col("__cell")))
    // INFO = ;-joined key=value pairs; concat(..., null) drops a pair,
    // an all-null site degrades to "."
    val info = coalesce(nullif(concat_ws(";",
      concat(lit("END="), col("__end").cast("string")),
      concat(lit("MQ="), col("__mq").cast("string")),
      concat(lit("FS="), col("__fs").cast("string"))), lit("")), lit("."))
    val dataLine = concat_ws("\t",
      Seq(
        col("contigName"),
        (col("start") + 1).cast("string"),
        lit("."),
        col("referenceAllele"),
        coalesce(col("alternateAllele"), lit(".")),
        coalesce(round(col("__qual"), 2).cast("string"), lit(".")),
        coalesce(col("__filter"), lit("PASS")),
        info,
        lit(fmtKeys.mkString(":"))) ++
        samples.map(s => coalesce(col(s), lit(missingCell))): _*)
    val data = pivotedF
      .select(lit(1).as("__k"), col("contigName"), col("start"), dataLine.as("value"))
    val head = header(samples, filterHeaderLines, fmtHeaderLines, infoHeaderLines)
      .split("\n").toSeq.zipWithIndex
      .map { case (l, i) => (0, "", i.toLong, l) }
      .toDF("__k", "contigName", "start", "value")
    val lines = head.unionByName(data)
      .orderBy(col("__k"), col("contigName"), col("start"))
      .select("value").as[String]
    val out = if (singleFile) lines.coalesce(1) else lines
    out.write.mode("overwrite").text(path)
  }

  /** Parse VCF data lines back to the genotype schema, one row per
    * (site, sample, alternate allele). Sample ids come from the #CHROM
    * header line (headerless dumps — e.g. this sink's own output — get a
    * single "sample"); per-sample fields are located via the FORMAT
    * column.
    *
    * gVCF semantics (reference SquareOffReferenceModel.scala:140-188 +
    * loadGenotypes' VCF codec):
    *  - multiallelic ALT splits into one row per alternate allele, with
    *    genotypeState = count of that allele's index in GT;
    *  - symbolic `<NON_REF>` alleles are the reference model — an ALT of
    *    only `.`/`<NON_REF>` yields a null-alt reference-block row;
    *  - INFO END=n sets the block's end (else start + len(ref));
    *  - PL (phred-scaled likelihoods) recovers gl_0..2 for the allele's
    *    diploid genotypes via the VCF ordering PL[k(k+1)/2 + j].
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.text(path)
    val samples: Seq[String] = raw
      .where(col("value").startsWith("#CHROM"))
      .collect().headOption
      .map(_.getString(0).split("\t").drop(9).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(Seq("sample"))
    val sampleArr = typedlit(samples)
    def fmtField(name: String) = {
      val i = array_position(split(element_at(col("f"), 9), ":"), name).cast("int")
      // '.' = missing per spec; must become null before any ANSI cast
      nullif(when(i > 0, element_at(col("smp"), i)), lit("."))
    }
    // INFO key=value lookup; regexp_extract yields '' on no match, which
    // must become null, not an ANSI cast error
    def infoField(name: String) =
      nullif(regexp_extract(element_at(col("f"), 8), "(^|;)" + name + "=([^;]+)", 2), lit(""))
    val glFromPl = (a: org.apache.spark.sql.Column, g: Int) => {
      // PL index of genotype with g copies of allele a (diploid):
      // (j,k) -> k(k+1)/2 + j with (j,k) = (0,0)/(0,a)/(a,a)
      val idx = g match {
        case 0 => lit(0)
        case 1 => (a * (a + 1)) / 2
        case _ => (a * (a + 1)) / 2 + a
      }
      (element_at(col("pl"), idx.cast("int") + 1).cast("double") *
        lit(-math.log(10.0) / 10.0)).as(s"gl_$g")
    }
    raw.where(!col("value").startsWith("#"))
      .withColumn("f", split(col("value"), "\t"))
      .withColumn("idx", explode(sequence(lit(0), lit(samples.length - 1))))
      .withColumn("sampleId", element_at(sampleArr, col("idx") + 1))
      .withColumn("smp", split(element_at(col("f"), col("idx") + 10), ":"))
      .withColumn("gt", col("smp").getItem(0))
      .withColumn("pl", split(fmtField("PL"), ","))
      .withColumn("alts", split(element_at(col("f"), 5), ","))
      .withColumn("realAlts",
        filter(col("alts"), a => a =!= "." && a =!= "<NON_REF>"))
      // one row per real alternate allele; pure reference-model lines
      // (no real alts) produce a single null-alt block row (aIdx = 0)
      .withColumn("aIdx",
        explode(when(size(col("realAlts")) > 0,
          sequence(lit(1), size(col("realAlts")))).otherwise(array(lit(0)))))
      .withColumn("gtAlleles", filter(split(col("gt"), "[/|]"), a => a =!= ""))
      .withColumn("end",
        coalesce(
          infoField("END").cast("long"),
          col("f").getItem(1).cast("long") - 1 + length(col("f").getItem(3))))
      .select(
        // original column order first (positional compatibility), gVCF
        // columns appended
        col("f").getItem(0).as("contigName"),
        (col("f").getItem(1).cast("long") - 1).as("start"),
        col("f").getItem(3).as("referenceAllele"),
        when(col("aIdx") === 0, lit(null).cast("string"))
          .otherwise(element_at(col("realAlts"), col("aIdx"))).as("alternateAllele"),
        col("sampleId"),
        when(col("gt").contains("."), -1)
          .when(col("aIdx") === 0, 0)
          .otherwise(size(filter(col("gtAlleles"),
            a => a === col("aIdx").cast("string"))))
          .as("genotypeState"),
        fmtField("DP").cast("int").as("readDepth"),
        col("end"),
        fmtField("GQ").cast("double").as("genotypeQuality"),
        nullif(try_element_at(split(fmtField("AD"), ","), lit(1)), lit("."))
          .cast("int").as("referenceReadDepth"),
        nullif(try_element_at(split(fmtField("AD"), ","), lit(2)), lit("."))
          .cast("int").as("alternateReadDepth"),
        // reference blocks (aIdx 0) read PL as ref vs the symbolic
        // non-ref allele, i.e. allele index 1
        glFromPl(greatest(col("aIdx"), lit(1)), 0),
        glFromPl(greatest(col("aIdx"), lit(1)), 1),
        glFromPl(greatest(col("aIdx"), lit(1)), 2),
        // variant-calling annotations written by this sink's FORMAT
        // extension (null when the file predates/omits them)
        fmtField("MQ").cast("double").as("rmsMapQ"),
        fmtField("FS").cast("double").as("strandBiasPhred"),
        transform(split(fmtField("SB"), ","), x => x.cast("int"))
          .as("strandBiasComponents"),
        // site-level INFO annotations (this sink's write emits MQ/FS at
        // the site alongside the per-sample FORMAT fields)
        infoField("MQ").cast("double").as("siteRmsMapQ"),
        infoField("FS").cast("double").as("siteStrandBiasPhred"))
  }
}

package graft.cli

import graft.genomics._
import graft.model.{DiscoveredVariant, Read}
import graft.sources.{Bam, Cram, Gff, Sam, Vcf}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** CLI entry points mirroring the reference's six commands
  * (reference AvocadoMain.scala:32-38: biallelicGenotyper, discover,
  * jointer, mergeDiscovered, reassemble, trioGenotyper), so a user of
  * the reference can run the same workflows:
  *
  *   graft.cli.Main discover <reads> <out> [minPhred] [minObs]
  *   graft.cli.Main biallelicGenotyper <reads> <out> [minPhred] [minObs]
  *       [-ploidy N] [-contig_ploidy chrX=1,chrY=1] [-cnv calls.gff]
  *   graft.cli.Main jointer <genotypes-parquet|vcf> <out-vcf> [-from_gvcf]
  *   graft.cli.Main mergeDiscovered <variants-glob> <out>
  *   graft.cli.Main reassemble <reads> <out>
  *   graft.cli.Main trioGenotyper <reads> <out> <mother> <father> <child>
  *       [-ploidy N]
  *
  * Reads: .sam/.bam/.cram files or parquet directories of the Read
  * schema. CRAM with neither an embedded reference nor RR=false needs
  * `-reference genome.fa` (the htsjdk-style external FASTA). Outputs:
  * parquet
  * (calls/variants/reads) or VCF text (jointer). -ploidy sets the base
  * ploidy; -contig_ploidy overrides whole contigs (sex chromosomes),
  * threading variable-ploidy calling through the genotyper's
  * copy-number path. -cnv feeds a GFF3 (or parquet) file of DUP/DEL
  * calls into the same path (reference
  * avocado-cli/.../BiallelicGenotyper.scala:245-251); interval CNV calls
  * and whole-contig overrides compose, intervals winning inside their
  * span. A flag not listed here is a usage error.
  *
  * The genotyper takes no bin width: `call` collects the candidates
  * once and observes every read against them in one narrow pass, so no
  * pass runs a sizing job.
  */
object Main {

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // builder extensions are ignored when a session already exists, and
    // the band rewrite wants the late optimizer batch: install ensures both
    graft.plans.GraftExtensions.install(s)
  }

  private def loadReads(spark: SparkSession, path: String,
      reference: Option[String] = None): Dataset[Read] = {
    import spark.implicits._
    if (path.endsWith(".cram")) Cram.read(spark, path, reference)
    else if (path.endsWith(".sam")) Sam.read(spark, path)
    else if (path.endsWith(".bam")) Bam.read(spark, path)
    else spark.read.parquet(path).as[Read]
  }

  /** Value of a `-flag value` pair, if present. */
  private def flagValue(args: Array[String], flag: String): Option[String] = {
    val i = args.indexOf(flag)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private val Usage = "usage: <command> <in> <out> [...] [-ploidy N] [-contig_ploidy c=N,...]" +
    " [-cnv calls.gff] [-reference genome.fa] [-from_gvcf] [-near] [-clusters]"

  /** Positional args with `-flag value` pairs and bare switches removed;
    * a flag that is neither is a usage error, not a positional. */
  private def positional(args: Array[String]): Array[String] = {
    val valued = Set("-ploidy", "-contig_ploidy", "-cnv", "-reference")
    val switches = Set("-from_gvcf", "-near", "-clusters")
    val out = Array.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (valued(a)) i += 2
      else if (switches(a)) i += 1
      else {
        require(!a.startsWith("-"), s"unknown flag '$a'; $Usage")
        out += a
        i += 1
      }
    }
    out.result()
  }

  /** -ploidy / -contig_ploidy -> (basePloidy, optional copy-number map).
    * Contig overrides ride the genotyper's CopyNumberMap path, the same
    * machinery CNV calls use — one variable-ploidy mechanism, two feeds.
    */
  private def ploidyConfig(spark: SparkSession, args: Array[String]): (Int, Option[CopyNumberMap.Built]) = {
    val base = flagValue(args, "-ploidy").map(_.toInt).getOrElse(2)
    val perContig = flagValue(args, "-contig_ploidy").map { spec =>
      spec.split(",").map { kv =>
        val Array(c, p) = kv.split("=")
        c -> p.toInt
      }.toMap
    }.getOrElse(Map.empty[String, Int])
    val features = flagValue(args, "-cnv").map { p =>
      if (p.endsWith(".gff") || p.endsWith(".gff3")) Gff.read(spark, p).toDF
      else spark.read.parquet(p)
    }
    val cn = (features, perContig.nonEmpty) match {
      case (Some(f), _)     => Some(CopyNumberMap.fromFeatures(f, base, perContig))
      case (None, true)     => Some(CopyNumberMap.fromContigPloidies(spark, perContig, base))
      case (None, false)    => None
    }
    (base, cn)
  }

  /** Prefilter -> discovery -> genotype calls, the steps
    * biallelicGenotyper and trioGenotyper share. */
  private def genotype(spark: SparkSession, args: Array[String], readsPath: String,
      minPhred: Int, minObs: Long): DataFrame = {
    import spark.implicits._
    val (basePloidy, cn) = ploidyConfig(spark, args)
    val reads = PrefilterReads(loadReads(spark, readsPath, flagValue(args, "-reference")))
    val variants = DiscoverVariants.discover(reads, minPhred, minObs)
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
    BiallelicGenotyper.call(reads, variants, ploidy = basePloidy, copyNumbers = cn)
  }

  def main(args: Array[String]): Unit = {
    val pos = positional(args)
    require(pos.length >= 3, Usage)
    val cmd = pos(0)
    // reuse an already-running session (tests, notebooks); own and stop
    // only a session we created
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse(session())
    spark.sparkContext.setLogLevel("WARN")

    cmd match {
      case "discover" =>
        val minPhred = if (pos.length > 3) pos(3).toInt else 20
        val minObs = if (pos.length > 4) pos(4).toLong else 2L
        DiscoverVariants.discover(PrefilterReads(loadReads(spark, pos(1), flagValue(args, "-reference"))), minPhred, minObs)
          .write.mode("overwrite").parquet(pos(2))

      case "biallelicGenotyper" =>
        val minPhred = if (pos.length > 3) pos(3).toInt else 20
        val minObs = if (pos.length > 4) pos(4).toLong else 2L
        RewriteHets(HardFilterGenotypes(genotype(spark, args, pos(1), minPhred, minObs)))
          .write.mode("overwrite").parquet(pos(2))

      case "jointer" =>
        // -from_gvcf (reference CLI Jointer.scala:74-146): square the
        // per-sample gVCFs (exact calls win, reference blocks fill) before
        // the joint layer; otherwise genotypes are already squared
        val fromGvcf = args.contains("-from_gvcf")
        val in0 = {
          val p = pos(1)
          if (p.endsWith(".vcf") || p.endsWith(".g.vcf")) Vcf.read(spark, p)
          else spark.read.parquet(p)
        }
        val in = if (in0.columns.contains("end")) in0
          else in0.withColumn("end", col("start") + 1)
        val gts = if (fromGvcf) SquareOff.squareOff(in) else in
        val joint = JointAnnotatorCaller(gts)
        Vcf.write(joint.withColumn("genotypeState", col("recalledState"))
          .withColumn("genotypeQuality", col("recalledQuality")), pos(2))

      case "mergeDiscovered" =>
        spark.read.parquet(pos(1))
          .dropDuplicates("contigName", "start", "referenceAllele", "alternateAllele")
          .write.mode("overwrite").parquet(pos(2))

      case "reassemble" =>
        Realigner.realign(loadReads(spark, pos(1), flagValue(args, "-reference")))
          .write.mode("overwrite").parquet(pos(2))

      case "trioGenotyper" =>
        require(pos.length >= 6, "trioGenotyper <reads> <out> <mother> <father> <child>")
        val called = genotype(spark, args, pos(1), 20, 2L)
          .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1)))
        TrioCaller(called, pos(3), pos(4), pos(5))
          .write.mode("overwrite").parquet(pos(2))

      case "cleanCorpus" =>
        // the LLM-data side of the engine from the command line:
        // documents parquet in, cleaned corpus out (exact dedup ->
        // contamination cut -> quality gate -> language gate)
        graft.operators.Pipeline
          .cleanCorpus(spark.read.parquet(pos(1)), "doc_id", "text")
          .write.mode("overwrite").parquet(pos(2))

      case "dedup" =>
        // exact duplicate groups (fingerprint, multiplicity, keeper id);
        // -near switches to MinHash-LSH near-dup pairs on the xx64
        // production hash family; -clusters runs the full resolution
        // (pairs -> connected components -> per-cluster keeper election)
        val docs = spark.read.parquet(pos(1))
        lazy val nearPairs = graft.operators.Dedup.minHashLshPairs(
          docs, "doc_id", "text", n = 3, k = 64, bands = 32,
          minAgree = 0.5, hashFamily = "xx64")
        val out =
          if (args.contains("-clusters"))
            graft.operators.Dedup.clusterKeepers(docs,
              graft.operators.Dedup.connectedComponents(nearPairs, "doc_a", "doc_b"),
              "doc_id", "text")
          else if (args.contains("-near")) nearPairs
          else graft.operators.Dedup.exactGroups(docs, "doc_id", "text")
        out.write.mode("overwrite").parquet(pos(2))

      case "decodeImages" =>
        // image payloads (id + binary column) -> decoded pixel stats via
        // javax.imageio; corrupt payloads drop (counted on the
        // multimodal.decode.badPayloads accumulator) instead of failing
        graft.operators.Multimodal
          .decodeBatch(spark.read.parquet(pos(1)), "doc_id", "payload")
          .toDF()
          .write.mode("overwrite").parquet(pos(2))

      case other => sys.error(s"unknown command '$other'")
    }
    if (existing.isEmpty) spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File

/** One benchmark workload: how its input is shaped, the pipeline pass
  * that is timed, and how the pass's calls are read back for the truth
  * check.
  */
sealed trait Workload {
  def name: String
  def shape: Shape
  /** The input format its pipeline reads: "bam", "sam" or "parquet". */
  def format: String
  /** Lowest recall and precision a pass may show and still count as correct. */
  def minRecall: Double
  def minPrecision: Double
  def pass(spark: SparkSession, in: Inputs, out: File): Unit
  def calls(spark: SparkSession, out: File): Set[Truth]
}

object Workloads {

  val all: Seq[Workload] = Seq(WgsSnv, IndelRealign)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  /** Non-reference genotype rows of a genotype table as truth-shaped keys. */
  def nonRef(df: DataFrame): Set[Truth] =
    df.where(col("genotypeState") > 0 && col("alternateAllele").isNotNull)
      .select("contigName", "start", "referenceAllele", "alternateAllele", "sampleId", "genotypeState")
      .collect()
      .map(r => Truth(r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4), r.getInt(5)))
      .toSet

  /** The left-aligned, minimal representation of a call (the usual
    * normalization before comparing variant sets): trim a shared last
    * base, re-anchoring one base to the left when an allele empties,
    * then trim shared leading bases down to one anchor. Calls and truth
    * are compared in this form, so an indel placed anywhere inside its
    * repeat matches.
    */
  def normalize(genome: Map[String, String], t: Truth): Truth = {
    val g = genome(t.contig)
    var p = t.pos.toInt
    var r = t.ref
    var a = t.alt
    var moved = true
    while (moved) {
      moved = false
      if (r.nonEmpty && a.nonEmpty && r.last == a.last && (r.length > 1 || a.length > 1)) {
        r = r.init; a = a.init; moved = true
      }
      if ((r.isEmpty || a.isEmpty) && p > 0) {
        p -= 1; r = s"${g(p)}$r"; a = s"${g(p)}$a"; moved = true
      }
    }
    while (r.length > 1 && a.length > 1 && r.head == a.head) { r = r.tail; a = a.tail; p += 1 }
    t.copy(pos = p.toLong, ref = r, alt = a)
  }

  private def cli(args: String*): Unit = graft.cli.Main.main(args.toArray)

  /** One sample, 100 bp reads at 30x, SNPs ~1/kbp and a light indel
    * rate; BAM through the CLI's biallelicGenotyper.
    */
  object WgsSnv extends Workload {
    val name = "wgs_snv"
    val format = "bam"
    val shape = Shape(contigs = 2, contigLen = 50000, readLen = 100, depth = 30,
      snpEvery = 1000, indelEvery = 10000, repeatEvery = 0, sloppyShare = 0.0)
    val minRecall = 0.9
    val minPrecision = 0.9
    def pass(spark: SparkSession, in: Inputs, out: File): Unit =
      cli("biallelicGenotyper", in.bam, new File(out, "calls").getPath)
    def calls(spark: SparkSession, out: File): Set[Truth] =
      nonRef(spark.read.parquet(new File(out, "calls").getPath))
  }

  /** One sample, 150 bp reads over a repeat-rich genome with dense
    * indels, some written as mismatch runs; SAM through the CLI's
    * reassemble, then biallelicGenotyper on the realigned parquet.
    */
  object IndelRealign extends Workload {
    val name = "indel_realign"
    val format = "sam"
    val shape = Shape(contigs = 2, contigLen = 16000, readLen = 150, depth = 30,
      snpEvery = 400, indelEvery = 150, repeatEvery = 150, sloppyShare = 0.3)
    val minRecall = 0.9
    val minPrecision = 0.6
    def pass(spark: SparkSession, in: Inputs, out: File): Unit = {
      val realigned = new File(out, "realigned").getPath
      cli("reassemble", in.sam, realigned)
      cli("biallelicGenotyper", realigned, new File(out, "calls").getPath)
    }
    def calls(spark: SparkSession, out: File): Set[Truth] =
      nonRef(spark.read.parquet(new File(out, "calls").getPath))
  }
}

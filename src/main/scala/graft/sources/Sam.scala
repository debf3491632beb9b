package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.util.Try

/** SAM text source (SURVEY.md S1): parse SAM lines into the Read model.
  * (BAM/CRAM require htsjdk-style codecs not present in this build; the
  * text format covers the interchange path and the parser shape.)
  * Malformed lines are skipped — per-row failure isolation.
  */
object Sam {

  private val FlagPaired = 0x1
  private val FlagUnmapped = 0x4
  private val FlagMateUnmapped = 0x8
  private val FlagReverse = 0x10
  private val FlagSecondary = 0x100
  private val FlagDuplicate = 0x400
  private val FlagSupplementary = 0x800

  /** Parse one SAM data line (None for headers/malformed). */
  def parseLine(line: String, sampleId: String = "sample"): Option[Read] = {
    if (line.isEmpty || line.startsWith("@")) return None
    Try {
      val f = line.split("\t")
      val flag = f(1).toInt
      val start = f(3).toLong - 1 // SAM is 1-based
      val cigar = f(5)
      val md = f.drop(11).collectFirst { case t if t.startsWith("MD:Z:") => t.substring(5) }
      Read(
        readName = f(0),
        contigName = f(2),
        start = start,
        end = start + AlignmentOps.cigarRefLength(cigar),
        sequence = f(9),
        qual = f(10),
        cigar = cigar,
        mdTag = md.getOrElse(""),
        mapq = f(4).toInt,
        readMapped = (flag & FlagUnmapped) == 0,
        readNegativeStrand = (flag & FlagReverse) != 0,
        duplicateRead = (flag & FlagDuplicate) != 0,
        primaryAlignment = (flag & (FlagSecondary | FlagSupplementary)) == 0,
        sampleId = sampleId,
        mateContigName = if ((flag & FlagPaired) != 0 && f(6) != "*")
          Some(if (f(6) == "=") f(2) else f(6)) else None,
        mateStart = if ((flag & FlagPaired) != 0 && f(7) != "0") Some(f(7).toLong - 1) else None,
        mateMapped = (flag & FlagPaired) != 0 && (flag & FlagMateUnmapped) == 0)
    }.toOption
  }

  /** Distributed SAM text scan. With no explicit `sampleId`, the sample
    * name comes from the header's first `@RG SM:` tag — same rule as
    * [[Bam.read]] and as the reference's loader (ADAM attaches the RG
    * sample to every record) — falling back to "sample" for untagged
    * files. The header probe is one tiny driver-side read of the file's
    * leading lines, not a second full scan.
    */
  def read(spark: SparkSession, path: String, sampleId: String = null): Dataset[Read] = {
    import spark.implicits._
    val sample = Option(sampleId).getOrElse(headerSample(spark, path))
    spark.read.textFile(path).flatMap(parseLine(_, sample))
  }

  /** First `@RG SM:` tag of the SAM header, else "sample". */
  private def headerSample(spark: SparkSession, path: String): String = {
    spark.read.textFile(path)
      .filter(_.startsWith("@RG")).limit(1).collect().headOption
      .flatMap(_.split("\t").find(_.startsWith("SM:")).map(_.substring(3)))
      .getOrElse("sample")
  }

  /** Sequence dictionary from the file's @SQ header lines (P4). */
  def dictionary(spark: SparkSession, path: String): graft.genomics.SequenceDictionary = {
    graft.genomics.SequenceDictionary.fromSamHeader(
      spark.read.textFile(path)
        .filter(_.startsWith("@SQ")).collect().toSeq)
  }
}

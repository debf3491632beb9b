package graft.sources

import graft.kernels.AlignmentOps
import graft.model.Read
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.util.Try

/** SAM text source (SURVEY.md S1): parse SAM lines into the Read model.
  * [[Bam]] and [[Cram]] read and write the binary formats; all three
  * share the record conventions of [[SamFormat]]. Malformed lines are
  * skipped — per-row failure isolation.
  */
object Sam {

  /** Parse one SAM data line (None for headers/malformed). A mate column
    * counts only on a paired record: RNEXT `=` is the read's own contig,
    * `*` none; PNEXT `0` is no mate start.
    */
  def parseLine(line: String, sampleId: String = SamFormat.DefaultSample): Option[Read] = {
    if (line.isEmpty || line.startsWith("@")) return None
    Try {
      val f = line.split("\t")
      val flag = f(1).toInt
      val paired = SamFormat.isPaired(flag)
      val start = f(3).toLong - 1 // SAM is 1-based
      val cigar = f(5)
      val md = f.drop(11).collectFirst { case t if t.startsWith("MD:Z:") => t.substring(5) }
      SamFormat.toRead(f(0), f(2), start, start + AlignmentOps.cigarRefLength(cigar),
        f(9), f(10), cigar, md.getOrElse(""), f(4).toInt, flag, sampleId,
        mateContigName = if (paired && f(6) != "*") Some(if (f(6) == "=") f(2) else f(6)) else None,
        mateStart = if (paired && f(7) != "0") Some(f(7).toLong - 1) else None)
    }.toOption
  }

  /** Distributed SAM text scan. With no explicit `sampleId`, the sample
    * name comes from the header's first `@RG SM:` tag — same rule as
    * [[Bam.read]] and as the reference's loader (ADAM attaches the RG
    * sample to every record) — falling back to the default sample for
    * untagged files. The header probe is one tiny driver-side read of the
    * file's leading lines, not a second full scan.
    */
  def read(spark: SparkSession, path: String, sampleId: String = null): Dataset[Read] = {
    import spark.implicits._
    val sample = Option(sampleId).getOrElse(SamFormat.sample(
      spark.read.textFile(path).filter(_.startsWith("@RG")).limit(1).collect().toSeq,
      SamFormat.DefaultSample))
    spark.read.textFile(path).flatMap(parseLine(_, sample))
  }

  /** Sequence dictionary from the file's @SQ header lines (P4). */
  def dictionary(spark: SparkSession, path: String): graft.genomics.SequenceDictionary = {
    graft.genomics.SequenceDictionary.fromSamHeader(
      spark.read.textFile(path)
        .filter(_.startsWith("@SQ")).collect().toSeq)
  }
}

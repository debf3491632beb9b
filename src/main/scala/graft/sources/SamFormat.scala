package graft.sources

import graft.model.Read
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import scala.reflect.ClassTag

/** The SAM record conventions the SAM, BAM and CRAM readers and writers
  * share (the reference gets them from one htsjdk record converter): the
  * flag bits and their mapping to [[Read]] fields both ways, the
  * `@HD/@SQ/@RG` header lines both ways, and the split scan. Each format
  * keeps its own encoding of the mate fields.
  */
object SamFormat {

  /** Sample of a record whose file names none in an `@RG SM:` tag. */
  val DefaultSample = "sample"

  val FlagPaired = 0x1
  val FlagUnmapped = 0x4
  val FlagMateUnmapped = 0x8
  val FlagReverse = 0x10
  val FlagSecondary = 0x100
  val FlagDuplicate = 0x400
  val FlagSupplementary = 0x800

  def isPaired(flag: Int): Boolean = (flag & FlagPaired) != 0

  /** The Read of one record, its flag fields taken from `flag`: primary
    * is neither secondary nor supplementary, and the mate is mapped when
    * the read is paired and the mate-unmapped bit is clear.
    */
  def toRead(readName: String, contigName: String, start: Long, end: Long,
      sequence: String, qual: String, cigar: String, mdTag: String, mapq: Int,
      flag: Int, sampleId: String,
      mateContigName: Option[String], mateStart: Option[Long]): Read =
    Read(readName, contigName, start, end, sequence, qual, cigar, mdTag, mapq,
      readMapped = (flag & FlagUnmapped) == 0,
      readNegativeStrand = (flag & FlagReverse) != 0,
      duplicateRead = (flag & FlagDuplicate) != 0,
      primaryAlignment = (flag & (FlagSecondary | FlagSupplementary)) == 0,
      sampleId = sampleId,
      mateContigName = mateContigName,
      mateStart = mateStart,
      mateMapped = isPaired(flag) && (flag & FlagMateUnmapped) == 0)

  /** The flag word of `r`, the inverse of [[toRead]]: a read that names a
    * mate contig or start is paired; a non-primary read is secondary.
    */
  def flag(r: Read): Int = {
    var bits = 0
    if (!r.readMapped) bits |= FlagUnmapped
    if (r.readNegativeStrand) bits |= FlagReverse
    if (r.duplicateRead) bits |= FlagDuplicate
    if (!r.primaryAlignment) bits |= FlagSecondary
    if (r.mateContigName.isDefined || r.mateStart.isDefined) {
      bits |= FlagPaired
      if (!r.mateMapped) bits |= FlagMateUnmapped
    }
    bits
  }

  /** The contigs a writer declares, in name order: every one but the
    * unplaced `*`, as long as its reads reach plus 1000.
    */
  def contigLengths(reads: Seq[Read]): Seq[(String, Long)] =
    reads.filter(_.contigName != "*").groupBy(_.contigName)
      .map { case (c, rs) => c -> (rs.map(_.end).max + 1000) }.toSeq.sortBy(_._1)

  /** Header of a written file: `@HD`, an `@SQ` per contig, read group `rg1`. */
  def headerText(contigs: Seq[(String, Long)], sample: String): String =
    (Seq("@HD\tVN:1.6\tSO:coordinate") ++
      contigs.map { case (name, len) => s"@SQ\tSN:$name\tLN:$len" } ++
      Seq(s"@RG\tID:rg1\tSM:$sample")).mkString("", "\n", "\n")

  /** The value of a header line's `tag:` field. */
  def headerField(line: String, tag: String): Option[String] =
    line.split("\t").find(_.startsWith(tag + ":")).map(_.substring(tag.length + 1))

  /** `@SQ SN:` names in header order: the reference ids records index. */
  def contigNames(header: Seq[String]): IndexedSeq[String] =
    header.filter(_.startsWith("@SQ")).flatMap(headerField(_, "SN")).toIndexedSeq

  /** Each `@RG` line's `SM:`, or `defaultSample`, in header order. */
  def samples(header: Seq[String], defaultSample: String): IndexedSeq[String] =
    header.filter(_.startsWith("@RG")).map(headerField(_, "SM").getOrElse(defaultSample)).toIndexedSeq

  /** The first read group's sample. */
  def sample(header: Seq[String], defaultSample: String): String =
    samples(header, defaultSample).headOption.getOrElse(defaultSample)

  /** Past this many splits, neighbouring splits share a task. */
  private val MaxScanTasks = 10000

  /** `path`, or the files in directory `path` named `*suffix`, sorted. */
  def inputFiles(path: String, suffix: String): Seq[String] = {
    val p = new java.io.File(path)
    if (p.isDirectory) p.listFiles().filter(_.getName.endsWith(suffix)).map(_.getPath).sorted.toSeq
    else Seq(path)
  }

  /** Decode `splits` one per task with no exchange: `parallelize` slices
    * contiguously, so no partition is empty, where a repartition would
    * round-robin each one-row partition from a random start and collide.
    */
  def scanSplits[S: Encoder: ClassTag](spark: SparkSession, splits: Seq[S])(
      decode: S => Iterator[Read]): Dataset[Read] = {
    import spark.implicits._
    val tasks = math.max(1, math.min(splits.size, MaxScanTasks))
    spark.createDataset(spark.sparkContext.parallelize(splits, tasks)).flatMap(decode)
  }
}

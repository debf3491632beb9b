package graft.genomics

import graft.model.Read
import graft.sources.SamFormat
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sequence-dictionary metadata model (SURVEY.md P4; reference
  * validates SequenceDictionary/RecordGroup/Sample compatibility before
  * every join — BiallelicGenotyper.scala:99-105: variant and read
  * dictionaries must agree on every shared contig, and the genotyper
  * operates on a single sample).
  *
  * The dictionary is driver-resident metadata (a genome has O(100)
  * contigs); deriving one from data is a small distributed agg.
  */
case class SequenceRecord(name: String, length: Long)

case class SequenceDictionary(records: Seq[SequenceRecord]) {

  private lazy val byName: Map[String, Long] =
    records.map(r => r.name -> r.length).toMap

  def contains(name: String): Boolean = byName.contains(name)
  def apply(name: String): Option[Long] = byName.get(name)
  def isEmpty: Boolean = records.isEmpty

  /** Compatible = every contig name present in both has the same
    * length (the reference's SequenceDictionary.isCompatibleWith —
    * for header-derived dictionaries).
    */
  def isCompatibleWith(other: SequenceDictionary): Boolean =
    records.forall(r => other(r.name).forall(_ == r.length))

  /** Bounds containment for DATA-derived (lower-bound) dictionaries:
    * every contig here exists in `other` and fits inside it.
    */
  def boundedBy(other: SequenceDictionary): Boolean =
    records.forall(r => other(r.name).exists(_ >= r.length))

  /** Union, keeping the longer length on (incompatible) collisions. */
  def ++(other: SequenceDictionary): SequenceDictionary = {
    val merged = (records ++ other.records)
      .groupBy(_.name).view
      .mapValues(_.map(_.length).max)
      .toSeq.sortBy(_._1)
      .map { case (n, l) => SequenceRecord(n, l) }
    SequenceDictionary(merged)
  }

  override def toString: String =
    records.map(r => s"${r.name}:${r.length}").mkString("SequenceDictionary(", ", ", ")")
}

object SequenceDictionary {

  val empty: SequenceDictionary = SequenceDictionary(Nil)

  /** From SAM/BAM @SQ header lines (SN:/LN: fields). */
  def fromSamHeader(headerLines: Iterable[String]): SequenceDictionary =
    SequenceDictionary(headerLines
      .filter(_.startsWith("@SQ"))
      .flatMap { l =>
        for {
          sn <- SamFormat.headerField(l, "SN")
          ln <- SamFormat.headerField(l, "LN")
        } yield SequenceRecord(sn, ln.toLong)
      }.toSeq)

  /** Derive a lower-bound dictionary from mapped reads (contig ->
    * max end). One small distributed agg; used when no header exists.
    */
  def fromReads(reads: Dataset[Read]): SequenceDictionary =
    SequenceDictionary(
      reads.filter(_.readMapped).toDF()
        .groupBy("contigName").agg(max(col("end")).as("len"))
        .collect()
        .map(r => SequenceRecord(r.getString(0), r.getLong(1)))
        .sortBy(_.name).toSeq)

  /** Derive from any DataFrame with contigName + an end/start column. */
  def fromVariants(df: DataFrame): SequenceDictionary = {
    val endCol = if (df.columns.contains("end")) col("end")
      else col("start") + greatest(length(col("referenceAllele")), lit(1))
    SequenceDictionary(
      df.groupBy("contigName").agg(max(endCol).as("len"))
        .collect()
        .map(r => SequenceRecord(r.getString(0), r.getLong(1)))
        .sortBy(_.name).toSeq)
  }

  /** The reference's pre-join gate: require compatible dictionaries and
    * a single sample (BiallelicGenotyper.scala:99-105). Data-derived
    * dictionaries are lower bounds, so the variant dictionary must be
    * BOUNDED by the read dictionary (contig present, span inside);
    * header-derived pairs can use strict isCompatibleWith directly.
    */
  def validateCompatibility(
      variants: SequenceDictionary,
      reads: SequenceDictionary): Unit =
    require(variants.boundedBy(reads),
      s"Variant sequence dictionary ($variants) is not compatible with read dictionary ($reads).")

  def validateSingleSample(reads: Dataset[Read]): String = {
    val samples = reads.toDF().select("sampleId").distinct()
      .collect().map(_.getString(0))
    require(samples.length == 1,
      s"Currently, we only support a single sample. Saw: ${samples.mkString(", ")}.")
    samples.head
  }
}

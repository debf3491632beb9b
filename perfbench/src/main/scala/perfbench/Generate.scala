package perfbench

import graft.model.Read
import graft.sources.Bam
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** A planted variant, VCF-style: 0-based `pos`, indels left-anchored and
  * left-normalized (the representation the engine's discovery emits for
  * a left-aligned gap).
  */
final case class Planted(contig: String, pos: Long, ref: String, alt: String) {
  def isIndel: Boolean = ref.length != 1 || alt.length != 1
}

/** One truth row: `sample` carries `alt` with `gt` copies (1 het, 2 hom). */
final case class Truth(contig: String, pos: Long, ref: String, alt: String, sample: String, gt: Int)

/** What a workload's input looks like: one sample's reads, at `depth`
  * over `contigs` random contigs of `contigLen` bases.
  */
final case class Shape(
    contigs: Int,
    contigLen: Int,
    readLen: Int,
    depth: Double,
    snpEvery: Int,
    indelEvery: Int,
    repeatEvery: Int,
    sloppyShare: Double)

/** Files written for one (workload, seed), with the truth that was
  * planted in them.
  */
final case class Inputs(
    bam: String,
    sam: String,
    parquet: String,
    reads: Long,
    genome: Map[String, String],
    truth: Seq[Truth],
    bytes: Long,
    seconds: Double)

/** Seeded input generator. Everything is a function of (shape, seed):
  * the same seed writes byte-identical BAM, SAM and parquet files. Truth
  * is known by construction, independent of the engine: reads are
  * sampled from the sample's two haplotypes, which carry the planted
  * variants, and their CIGAR/MD are derived from that walk.
  */
object Generate {

  val Sample = "S01"
  private val Bases = "ACGT"
  private val ErrorRate = 0.002
  private val ParquetFiles = 8
  /** No two planted variants come closer than this (keeps truth unambiguous). */
  private val Spacing = 15
  /** A gap this close to a read's end may be written as a mismatch run. */
  private val SloppyTail = 25

  /** Writes the reads in the formats named by `formats` ("bam", "sam",
    * "parquet") under `dir`.
    */
  def run(spark: SparkSession, shape: Shape, seed: Long, dir: File, formats: Set[String]): Inputs = {
    val t0 = System.nanoTime()
    val rnd = new Random(seed)
    dir.mkdirs()
    val contigs = (1 to shape.contigs).map(_.toString)
    val genome = contigs.map(c => c -> genomeOf(rnd, shape)).toMap
    val planted = contigs.flatMap(c => plant(rnd, shape, c, genome(c)))
    // half of the variants hom-alt, the rest het on one haplotype or the other
    val carried = planted.map { v =>
      v -> (if (rnd.nextBoolean()) (true, true) else if (rnd.nextBoolean()) (true, false) else (false, true))
    }
    val truth = carried.map { case (v, (a, b)) =>
      Truth(v.contig, v.pos, v.ref, v.alt, Sample, (if (a) 1 else 0) + (if (b) 1 else 0))
    }
    val haps = Seq[((Boolean, Boolean)) => Boolean](_._1, _._2).map { onHap =>
      carried.filter(c => onHap(c._2)).map(_._1)
        .groupBy(_.contig).view.mapValues(_.sortBy(_.pos).toArray).toMap
    }
    val n = (shape.depth * shape.contigs * shape.contigLen / shape.readLen).toInt
    val reads = (0 until n).map { i =>
      val c = contigs(rnd.nextInt(contigs.size))
      val hap = haps(rnd.nextInt(2)).getOrElse(c, Array.empty[Planted])
      sampleRead(rnd, shape, genome(c), c, hap, s"r$i")
    }.sortBy(r => (r.contigName.toInt, r.start, r.readName))

    val bam = new File(dir, "reads.bam").getPath
    val sam = new File(dir, "reads.sam").getPath
    val pq = new File(dir, "reads.parquet")
    if (formats("bam")) Bam.write(reads, bam, Sample)
    if (formats("sam")) writeSam(reads, genome, sam)
    if (formats("parquet")) writeParquet(spark, reads, pq)
    writeTruth(truth, new File(dir, "truth.tsv"))
    val bytes = Seq(new File(bam), new File(sam)).map(_.length).sum +
      Option(pq.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
    Inputs(bam, sam, pq.getPath, reads.size.toLong, genome, truth, bytes,
      (System.nanoTime() - t0) / 1e9)
  }

  /** Random sequence; with `repeatEvery > 0`, homopolymers and short
    * tandem repeats start every ~repeatEvery bases.
    */
  private def genomeOf(rnd: Random, shape: Shape): String = {
    val sb = new StringBuilder(shape.contigLen + 64)
    while (sb.length < shape.contigLen) {
      if (shape.repeatEvery > 0 && rnd.nextInt(shape.repeatEvery) == 0) {
        if (rnd.nextBoolean()) sb.append(Bases(rnd.nextInt(4)).toString * (6 + rnd.nextInt(9)))
        else {
          val unit = (0 until 2 + rnd.nextInt(3)).map(_ => Bases(rnd.nextInt(4))).mkString
          sb.append(unit * (4 + rnd.nextInt(5)))
        }
      } else sb.append(Bases(rnd.nextInt(4)))
    }
    sb.substring(0, shape.contigLen)
  }

  /** SNPs every ~snpEvery and indels (1-4 bp) every ~indelEvery bases,
    * left-normalized, never within [[Spacing]] of each other or of the
    * contig ends.
    */
  private def plant(rnd: Random, shape: Shape, contig: String, g: String): Seq[Planted] = {
    val taken = new Array[Boolean](g.length)
    val margin = shape.readLen
    def free(lo: Int, hi: Int): Boolean =
      lo >= margin && hi < g.length - margin && (lo to hi).forall(!taken(_))
    def take(v: Planted): Option[Planted] = {
      val lo = v.pos.toInt - Spacing
      val hi = v.pos.toInt + v.ref.length + Spacing
      if (free(lo, hi)) { (lo to hi).foreach(taken(_) = true); Some(v) } else None
    }
    val snps = (0 until g.length / shape.snpEvery).flatMap { _ =>
      val p = rnd.nextInt(g.length)
      val ref = g(p)
      val alt = Bases.filter(_ != ref)(rnd.nextInt(3))
      take(Planted(contig, p, ref.toString, alt.toString))
    }
    val indels =
      if (shape.indelEvery <= 0) Nil
      else (0 until g.length / shape.indelEvery).flatMap { _ =>
        val p = margin + rnd.nextInt(g.length - 2 * margin)
        val len = 1 + rnd.nextInt(4)
        val v =
          if (rnd.nextBoolean()) normalizedDeletion(g, p, len)
          else normalizedInsertion(g, p, (0 until len).map(_ => Bases(rnd.nextInt(4))).mkString)
        take(v.copy(contig = contig))
      }
    (snps ++ indels).sortBy(_.pos)
  }

  /** Deletion of g[p+1 .. p+len], shifted left while equivalent. */
  private def normalizedDeletion(g: String, p0: Int, len: Int): Planted = {
    var p = p0
    while (p > 0 && g(p) == g(p + len)) p -= 1
    Planted("", p, g.substring(p, p + len + 1), g.substring(p, p + 1))
  }

  /** Insertion of `ins` after g[p], shifted left while equivalent. */
  private def normalizedInsertion(g: String, p0: Int, ins0: String): Planted = {
    var p = p0
    var ins = ins0
    while (p > 0 && g(p) == ins.last) { ins = g(p).toString + ins.dropRight(1); p -= 1 }
    Planted("", p, g.substring(p, p + 1), g.substring(p, p + 1) + ins)
  }

  private def phred(q: Int): Char = (q + 33).toChar

  /** One read from one haplotype: walk the reference from a random start,
    * applying the haplotype's variants, with sequencing errors at low
    * quality. A share of reads whose only gaps sit in the last
    * [[SloppyTail]] bases are written as an ungapped mismatch run instead.
    */
  private def sampleRead(rnd: Random, shape: Shape, g: String, contig: String,
      hap: Array[Planted], name: String): Read = {
    val len = shape.readLen
    var start = rnd.nextInt(g.length - len - 2 * Spacing - 8)
    // a read cannot begin inside a deleted span of its own haplotype
    hap.find(v => v.ref.length > 1 && v.pos < start && start < v.pos + v.ref.length)
      .foreach(v => start = (v.pos + v.ref.length).toInt)
    var vi = {
      val i = hap.indexWhere(_.pos >= start)
      if (i < 0) hap.length else i
    }
    val seq = new StringBuilder(len)
    val qual = new StringBuilder(len)
    val ops = ArrayBuffer.empty[(Int, Char)] // CIGAR (length, op), merged
    val md = new StringBuilder
    var mdRun = 0
    val gaps = ArrayBuffer.empty[Int] // read index of each gap
    def op(n: Int, c: Char): Unit =
      if (ops.nonEmpty && ops.last._2 == c) ops(ops.length - 1) = (ops.last._1 + n, c)
      else ops += ((n, c))
    def base(b: Char): Unit = {
      val err = rnd.nextDouble() < ErrorRate
      seq.append(if (err) Bases.filter(_ != b)(rnd.nextInt(3)) else b)
      qual.append(phred(if (err && rnd.nextDouble() < 0.8) 8 + rnd.nextInt(8) else 30 + rnd.nextInt(11)))
    }
    def aligned(r: Int): Unit = {
      val rb = g(r)
      if (seq.last == rb) mdRun += 1 else { md.append(mdRun).append(rb); mdRun = 0 }
      op(1, 'M')
    }
    var r = start
    while (seq.length < len) {
      val left = len - seq.length
      val v = if (vi < hap.length && hap(vi).pos == r) Some(hap(vi)) else None
      v match {
        case Some(s) if !s.isIndel =>
          base(s.alt(0)); aligned(r); r += 1
        case Some(d) if d.ref.length > 1 && left >= 2 =>
          base(g(r)); aligned(r)
          val del = d.ref.substring(1)
          gaps += seq.length
          op(del.length, 'D')
          md.append(mdRun).append('^').append(del); mdRun = 0
          r += d.ref.length
        case Some(i) if i.alt.length > 1 && left >= i.alt.length + 1 =>
          base(g(r)); aligned(r)
          gaps += seq.length
          i.alt.substring(1).foreach(base)
          op(i.alt.length - 1, 'I')
          r += 1
        case _ =>
          base(g(r)); aligned(r); r += 1
      }
      while (vi < hap.length && hap(vi).pos < r) vi += 1
    }
    md.append(mdRun)
    val sloppy = gaps.nonEmpty && gaps.forall(_ >= len - SloppyTail) &&
      rnd.nextDouble() < shape.sloppyShare
    val (cigar, mdTag, end) =
      if (!sloppy) (ops.map { case (n, c) => s"$n$c" }.mkString, md.toString, r.toLong)
      else {
        val m = new StringBuilder
        var run = 0
        (0 until len).foreach { i =>
          if (seq(i) == g(start + i)) run += 1 else { m.append(run).append(g(start + i)); run = 0 }
        }
        m.append(run)
        (s"${len}M", m.toString, (start + len).toLong)
      }
    Read(
      readName = name, contigName = contig, start = start.toLong, end = end,
      sequence = seq.toString, qual = qual.toString, cigar = cigar, mdTag = mdTag,
      mapq = if (rnd.nextInt(100) == 0) 5 else 60,
      readMapped = true,
      readNegativeStrand = rnd.nextBoolean(),
      duplicateRead = rnd.nextInt(100) == 0,
      primaryAlignment = true,
      sampleId = Sample)
  }

  private def writeSam(reads: Seq[Read], genome: Map[String, String], path: String): Unit = {
    val out = new PrintWriter(path, "US-ASCII")
    try {
      out.print("@HD\tVN:1.6\tSO:coordinate\n")
      genome.keys.toSeq.sortBy(_.toInt).foreach(c => out.print(s"@SQ\tSN:$c\tLN:${genome(c).length}\n"))
      out.print(s"@RG\tID:rg1\tSM:$Sample\n")
      reads.foreach { r =>
        val flag = (if (r.readNegativeStrand) 0x10 else 0) | (if (r.duplicateRead) 0x400 else 0)
        out.print(s"${r.readName}\t$flag\t${r.contigName}\t${r.start + 1}\t${r.mapq}\t${r.cigar}" +
          s"\t*\t0\t0\t${r.sequence}\t${r.qual}\tMD:Z:${r.mdTag}\n")
      }
    } finally out.close()
  }

  /** Reads parquet as [[ParquetFiles]] files with fixed names, so the
    * directory's bytes depend only on the reads.
    */
  private def writeParquet(spark: SparkSession, reads: Seq[Read], dir: File): Unit = {
    import spark.implicits._
    dir.mkdirs()
    val per = (reads.size + ParquetFiles - 1) / ParquetFiles
    reads.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = new File(dir.getParentFile, s"tmp-parquet-$i")
      spark.createDataset(chunk).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, f"part-$i%05d.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  private def writeTruth(truth: Seq[Truth], file: File): Unit = {
    val out = new PrintWriter(file, "US-ASCII")
    try {
      out.print("contig\tpos\tref\talt\tsample\tgenotype\n")
      truth.sortBy(t => (t.contig.toInt, t.pos))
        .foreach(t => out.print(s"${t.contig}\t${t.pos}\t${t.ref}\t${t.alt}\t${t.sample}\t${t.gt}\n"))
    } finally out.close()
  }
}

package graft.sources

import graft.SparkSpec
import graft.genomics.{BiallelicGenotyper, DiscoverVariants}
import graft.model.DiscoveredVariant
import org.apache.spark.sql.functions._

/** BAM codec: BGZF framing + binary record round trip, and golden-site
  * equivalence — the genotyper must produce the same call from a .bam
  * as from the .sam it was transcoded from.
  */
class BamSpec extends SparkSpec {

  private val res = "/root/reference/avocado-core/src/test/resources"

  test("BAM round trip preserves every Read field") {
    val sam = Sam.read(spark, s"$res/NA12878.chr1.875159.sam", "NA12878")
      .collect().toSeq.sortBy(r => (r.start, r.readName))
    val dir = java.nio.file.Files.createTempDirectory("bam").toString
    Bam.write(sam, s"$dir/test.bam", sample = "NA12878")
    val back = Bam.readLocal(s"$dir/test.bam")
      .sortBy(r => (r.start, r.readName))
    assert(back.size === sam.size)
    sam.zip(back).foreach { case (a, b) => assert(a === b) }
  }

  test("distributed BAM scan reads a directory of shards") {
    val sam = Sam.read(spark, s"$res/NA12878.chr1.877715.sam", "NA12878")
      .collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("bamdir").toString
    val (h1, h2) = sam.splitAt(sam.size / 2)
    Bam.write(h1, s"$dir/shard1.bam", sample = "NA12878")
    Bam.write(h2, s"$dir/shard2.bam", sample = "NA12878")
    val ds = Bam.read(spark, dir)
    assert(ds.count() === sam.size)
    assert(ds.rdd.getNumPartitions === 2)
  }

  test("split scan of one multi-block BAM equals the single-task scan") {
    import graft.model.Read
    val rnd = new scala.util.Random(7)
    val reads = (0 until 3000).map { i =>
      val seq = Array.fill(100)("ACGT"(rnd.nextInt(4))).mkString
      Read(s"r$i", "chr" + (i % 3), i * 5L, i * 5L + 100, seq, "I" * 100,
        "100M", "100", 60, readMapped = true, readNegativeStrand = false,
        duplicateRead = false, primaryAlignment = true, sampleId = "NA12878")
    }
    val dir = java.nio.file.Files.createTempDirectory("bamsplit").toString
    Bam.write(reads, s"$dir/big.bam", sample = "NA12878")

    // split sizes far below the file size force many chunks, including
    // chunks that start mid-block (resync path), chunks owning no block
    // start (must yield nothing, not duplicates), and chunk boundaries
    // at varied positions relative to block starts
    val whole = Bam.readLocal(s"$dir/big.bam").sortBy(_.readName)
    for (splitSize <- Seq(1000L, 8192L, 77777L)) {
      val split = Bam.read(spark, s"$dir/big.bam", splitSize = splitSize)
      // one chunk per partition, placed without an exchange
      val chunks = (new java.io.File(s"$dir/big.bam").length() + splitSize - 1) / splitSize
      assert(chunks > 1, s"splitSize $splitSize: one chunk")
      assert(split.rdd.getNumPartitions === chunks, s"splitSize $splitSize")
      val scanPlan = split.queryExecution.executedPlan.toString
      assert(!scanPlan.contains("Exchange"), scanPlan)
      val got = split.collect().toSeq.sortBy(_.readName)
      assert(got.size === whole.size, s"splitSize $splitSize")
      got.zip(whole).foreach { case (a, b) => assert(a === b, s"splitSize $splitSize") }
    }
  }

  test("golden site from BAM: hom alt deletion at 1/875159 matches SAM result") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bamg").toString
    val sam = Sam.read(spark, s"$res/NA12878.chr1.875159.sam", "NA12878").collect().toSeq
    Bam.write(sam, s"$dir/golden.bam", sample = "NA12878")

    val reads = Bam.read(spark, s"$dir/golden.bam").filter(_.mapq > 0)
    val discovered = DiscoverVariants.discover(reads, minPhred = 20, minObservations = 2)
    val want = discovered.where(
      col("start") === 875158L && col("referenceAllele") === "AGCCAGTGGACGCCGACCT" &&
        col("alternateAllele") === "A")
    assert(want.count() === 1, "variant not discovered from BAM")
    val variants = want
      .select("contigName", "start", "referenceAllele", "alternateAllele")
      .as[DiscoveredVariant]
    val gts = BiallelicGenotyper.call(reads, variants, ploidy = 2, binSize = 512.0).collect()
    assert(gts.length === 1)
    assert(gts.head.getAs[Int]("genotypeState") === 2, "expected hom alt (same as SAM)")
    assert(gts.head.getAs[String]("sampleId") === "NA12878")
  }
}

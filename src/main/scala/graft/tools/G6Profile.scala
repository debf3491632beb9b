package graft.tools

import graft.genomics._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: stage-level timing for the g6 single-pass cohort gVCF. */
object G6Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[g6prof] $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    val rds = graft.queries.Queries.cohortReadsForProfile(spark, dir)
    time("warmup reads count")(rds.count())
    time("pileup")(Observer.compressedPileup(rds).count())
    val vs = DiscoverVariants.discoverPerSample(rds, 20, 2)
      .select("sampleId", "contigName", "start", "referenceAllele", "alternateAllele")
    time("discoverPerSample")(vs.count())
    val cohort = BiallelicGenotyper
      .callPerSample(rds, vs, ploidy = 2, binSize = 20.0, scoreAllSites = true)
      .withColumn("end", col("start") + greatest(length(col("referenceAllele")), lit(1)))
      .select("contigName", "start", "end", "referenceAllele", "alternateAllele",
        "sampleId", "genotypeState", "genotypeQuality", "readDepth",
        "gl_0", "gl_1", "gl_2")
    time("callPerSample (cohort gvcf)")(cohort.count())
    time("squareOff (incl. 2x cohort recompute)")(SquareOff.squareOff(cohort, binSize = 20.0).count())
    time("full g6 (checkpointed cohort)")(graft.queries.Queries.g6_gvcf_squareoff(spark, dir).count())
    spark.stop()
  }
}

package graft.tools

/** Dev tool: dump `.explain("formatted")` for named catalog queries to
  * `<outDir>/<name>_<tag>.txt` — the plan evidence the optimization
  * rounds commit under plans/r{N}/. Streaming (ev*) queries RUN inside
  * their constructor and return a memory-sink table, so their dumped
  * plan is the post-sink read; the streaming plan itself is asserted by
  * specs instead.
  *
  * Usage:
  *   sbt "runMain graft.tools.ExplainDump before g2_genotype_calls,d2_ngram_jaccard_pairs \
  *        /root/testdata/sf0.1 plans/r17"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(3).getOrElse("plans/r17")
    val spark = graft.plans.GraftExtensions.catalogSession(dir)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val fn = graft.SparkEntry.queries(name)
        val df = fn(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
        println(s"[explain-dump] wrote $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain-dump] $name failed: $e")
      }
    }
    spark.stop()
  }
}

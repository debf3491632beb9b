package graft.tools

import graft.SparkSpec

/** The profiler's per-query routine leaves the block manager as it found
  * it: barrier blocks a query pins are released before the next query
  * is timed, while data the caller persisted beforehand survives.
  */
class QueryProbeSpec extends SparkSpec {

  private val query = "m9_audio_neardup"

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("the query under probe takes a barrier") {
    val before = persistentIds
    graft.SparkEntry.queries(query)(spark, sf("0.001"))
    val pinned = persistentIds -- before
    assert(pinned.nonEmpty, s"$query no longer pins a table; pick a query that does")
    pinned.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("probe reports cold, warm and plan counts, releases its barriers, keeps the caller's") {
    val callers = spark.sparkContext.parallelize(1 to 100).cache()
    callers.count()
    val before = persistentIds
    val out = QueryProbe.probe(spark, sf("0.001"), query)
    val after = persistentIds
    assert(after.subsetOf(before), s"RDDs left persisted by the probe: ${after -- before}")
    assert(after.contains(callers.id), "an RDD persisted before the probe was released")
    assert(out.exists(l => l.contains(query) &&
      """cold +\d+\.\d+ s +warm +\d+\.\d+ s""".r.findFirstIn(l).isDefined), out.mkString("\n"))
    assert(out.exists(l => l.contains(query) &&
      ("""scans=\d+ exchanges=\d+ reusedExchanges=\d+ sortMergeJoins=\d+ """ +
        """broadcastJoins=\d+ windows=\d+""").r.findFirstIn(l).isDefined), out.mkString("\n"))
    callers.unpersist(blocking = true)
  }

  test("plan counts cover every execution of the warm run, the barriers built with the query") {
    // m9's audio scan runs in the Barriers.corpusScale checkpoint its
    // constructor materializes; the plan its sink runs reads that barrier
    val out = QueryProbe.probe(spark, sf("0.001"), query)
    val scans = out.flatMap(l => """scans=(\d+)""".r.findFirstMatchIn(l)).map(_.group(1).toInt)
    assert(scans.size === 1 && scans.head > 0, out.mkString("\n"))
  }
}

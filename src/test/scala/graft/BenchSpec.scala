package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's artifact-acceptance machinery, driven without a Spark
  * session: a run whose mid-probe convicts a window that could not be
  * cleanly re-measured must not produce `bench_out.json` — the r8/r9
  * official records were both contended driver runs whose heavy rows
  * sat 4-15x their isolated bands while the hard gate looked only at
  * the pre/post probes.
  */
class BenchSpec extends AnyFunSuite {

  test("partitionConvicted: heavy rows re-measure, cheap rows are recorded, failures are neither") {
    val timing = Map(
      "g2_genotype_calls" -> 81.6,
      "t1_token_count" -> 0.4,
      "w1_sort_limit" -> 1.9,
      "ev1_time_window_agg" -> -1.0)
    val (victims, skipped) = Bench.partitionConvicted(
      timing.keys.toSeq.sorted, timing)
    assert(victims === Seq("g2_genotype_calls"))
    // sub-floor queries keep their (possibly inflated) timing but leave
    // a marker; the failed query's -1.0 is already not a measurement
    assert(skipped.toSet === Set("t1_token_count", "w1_sort_limit"))
  }

  test("shouldReject: unremediated conviction rejects even with clean pre/post probes") {
    val cleanPost = Bench.CalRefSec // well under the gate
    assert(Bench.shouldReject(cleanPost, Seq("g2_genotype_calls")))
    assert(!Bench.shouldReject(cleanPost, Nil))
    assert(Bench.shouldReject(Bench.CalGate * Bench.CalRefSec * 1.01, Nil))
  }

  test("convicts: a memory-only conviction marks the run contended, a clean window does not") {
    val memRef = 8.0
    // CPU probe clean, memory bus stalled below MemGate x the run's best
    assert(Bench.convicts(Bench.CalRefSec, 0.5 * memRef, memRef))
    // CPU probe hot, memory clean
    assert(Bench.convicts(1.6 * Bench.CalRefSec, memRef, memRef))
    // both inside their bands
    assert(!Bench.convicts(Bench.CalRefSec, 0.9 * memRef, memRef))
  }

  test("simulated hot mid-probe with no quiet box: no bench_out.json is written") {
    // the window the hot probe convicts: one heavy query, one cheap one
    val timing = Map("g6_gvcf_squareoff" -> 121.6, "a1_distinct" -> 0.3)
    val (victims, skipped) = Bench.partitionConvicted(timing.keys.toSeq.sorted, timing)
    assert(victims === Seq("g6_gvcf_squareoff") && skipped === Seq("a1_distinct"))
    // quietBox timed out -> the victims land in unremediated -> reject
    val unremediated = victims
    val rejected = Bench.shouldReject(calPost = Bench.CalRefSec, unremediated)
    assert(rejected)
    val dir = java.nio.file.Files.createTempDirectory("bench_spec")
    val written = Bench.writeArtifact("""{"rejected":true}""", rejected, dir)
    assert(written.getFileName.toString === "bench_out.rejected.json")
    assert(!java.nio.file.Files.exists(dir.resolve("bench_out.json")))
  }

  test("headline list covers EVERY catalog query (the round-8 coverage policy)") {
    // the bench enumerates an explicit ordered list, not the map — a new
    // catalog query that never lands in `headline` silently ships with
    // no perf record (it happened: the first r10 continuation bench ran
    // 110 of 115). This pins list == registry.
    val missing = SparkEntry.queries.keySet -- Bench.headline.toSet
    val stale = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"queries missing from Bench.headline: $missing")
    assert(stale.isEmpty, s"Bench.headline names unknown queries: $stale")
  }

  test("accepted run writes bench_out.json") {
    val dir = java.nio.file.Files.createTempDirectory("bench_spec")
    val written = Bench.writeArtifact("""{"rejected":false}""",
      Bench.shouldReject(Bench.CalRefSec, Nil), dir)
    assert(written.getFileName.toString === "bench_out.json")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algebra over edge DataFrames — the join-per-round
  * shape (like [[Dedup.connectedComponents]] and the k-means Lloyd loop)
  * where each iteration is ONE co-partitioned shuffle join + one
  * partial+final aggregation, and the iteration count is fixed so the
  * whole computation is a deterministic closed form an SQL oracle can
  * unroll.
  *
  * Engine-exact determinism: ranks live as INTEGER parts-per-million
  * (`rank_ppm`), every per-round op is long arithmetic (`div` in Spark,
  * `//` in DuckDB — identical on non-negatives), so there is no
  * floating-point accumulation order to disagree about. The damping
  * factor is the rational 17/20 (0.85) applied as `(17 * x) div 20`.
  */
object Graph {

  /** Fixed-iteration PageRank over an UNDIRECTED edge list (each input
    * row is one edge {a, b}; the walk uses both directions). Vertices
    * are the edge endpoints — rank centrality is only defined on the
    * graph; isolated rows of the underlying table simply don't appear.
    *
    * Scale shape: edges are localCheckpointed once (the caller's edge
    * generator — e.g. an LSH pair enumeration — must not re-run per
    * round), the degree table is computed once, and each round is one
    * equi-join on the vertex key + one sum aggregation, both shuffling
    * on the same key so AQE co-partitions them. Rank state is one long
    * per vertex. A symmetrized graph has no dangling vertices, so no
    * dangling-mass redistribution is needed.
    */
  def pageRankFixed(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3,
      scalePpm: Long = 1000000L): DataFrame = {
    val e = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val n = deg.count()
    require(n > 0, "pageRankFixed: empty edge set")
    // (1 - d)/N and the initial uniform rank, floored in ppm — the same
    // long divisions the oracle's `//` performs
    val base = 3L * scalePpm / (20L * n)
    var ranks = deg.select(col("src").as("node"), lit(scalePpm / n).as("rank_ppm"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst"), expr("rank_ppm div deg").as("share"))
        .groupBy("dst")
        .agg(sum("share").as("__c"))
      ranks = contrib
        .select(col("dst").as("node"),
          (lit(base) + expr("(17 * __c) div 20")).as("rank_ppm"))
        .localCheckpoint(true)
    }
    ranks
  }
}

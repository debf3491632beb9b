package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: enrich each left row with the LATEST right row
  * whose timestamp is <= the left row's, within the same key — the
  * point-in-time lookup every feature/training pipeline needs
  * (most-recent account state at event time, last order before a click),
  * and a canonical operator Spark has no builtin for.
  *
  * Implementation is the union-scan, NOT an inequality join: tag both
  * sides, union them, and per key carry the last-seen right payload
  * forward over the (ts, tag, tie) ordering. ONE window shuffle on the
  * join key — whose cardinality grows with the data, so partitions stay
  * bounded at 100 TB — zero per-row probes, linear in |left| + |right|.
  * The naive `l.ts >= r.ts` join plans as a nested loop (or explodes a
  * range bucketing); this shape is why engines with a native ASOF JOIN
  * (DuckDB, kdb) implement it as exactly this merge-scan.
  *
  * Skew note: like any per-key ordered scan, ALL rows of one key land in
  * one window partition — a single pathologically hot key (one user with
  * 10^9 events) serializes onto one task. That is inherent to per-key
  * ordering semantics, not this implementation; if such keys exist,
  * pre-split them upstream (e.g. sessionize first) or accept the tail.
  */
object AsOfJoin {

  private val Reserved = Seq("__k", "__ts", "__tag", "__p", "__m")

  /** Left as-of join.
    *
    * @param payload   right columns carried onto each left row (all from
    *                  the SAME matched right row; null when the key has
    *                  no right row at or before the left timestamp)
    * @param rightTies deterministic tie-break among right rows sharing
    *                  (key, ts): the LARGEST tie tuple wins. Supply this
    *                  whenever right (key, ts) pairs can collide — with it
    *                  empty, which of the colliding rows wins is
    *                  partition-order-dependent and may vary across runs.
    *
    * Timestamp columns must already be mutually comparable (same type /
    * unit) — unit conversion is the caller's one job.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      rightTies: Seq[String] = Nil): DataFrame = {
    val reserved = Reserved ++ rightTies.map("__tie_" + _)
    val clash = (left.columns ++ right.columns).filter(reserved.contains)
    require(clash.isEmpty,
      s"asOf: input columns collide with reserved working names: ${clash.mkString(", ")}")
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
    // the payload rides as ONE struct so every output column comes from
    // the same matched right row (per-column last() could mix rows when
    // a payload value is legitimately null)
    val r = right.select(
      Seq(col(rightKey).as("__k"), col(rightTs).as("__ts"), lit(0).as("__tag"),
        struct(payload.map(col): _*).as("__p")) ++
        rightTies.map(c => col(c).as("__tie_" + c)): _*)
    val u = l.unionByName(r, allowMissingColumns = true)
    // right rows (__tag 0) sort before a left row at the same ts, so the
    // as-of is inclusive; among equal-ts right rows the largest tie wins
    val ord = Seq(col("__ts"), col("__tag")) ++ rightTies.map(c => col("__tie_" + c))
    val w = Window.partitionBy(col("__k")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(c => col("__m").getField(c).as(c)): _*)
  }
}

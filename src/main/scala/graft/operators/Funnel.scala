package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-sequence (funnel) analytics over an event stream — "of the
  * users who viewed, how many then clicked, and then purchased?" — the
  * events-table twin of the corpus pipeline's conversion reporting.
  *
  * The match rule is strict subsequence: step k counts only if an
  * event of step k's type occurs strictly AFTER the matched step-k-1
  * event in (order, tiebreak) order — the standard funnel semantic
  * (a purchase before the first view is not conversion).
  *
  * Shape: one chained (filter -> groupBy user -> min(struct)) per step
  * — K tiny aggregations and K-1 equi-joins on the user key, which AQE
  * co-partitions; no window over a global ordering, no per-user event
  * collection, so user cardinality and history length scale out. The
  * conversion report is integer basis points (x10000 div), engine-
  * exact.
  */
object Funnel {

  /** Per-user matched step times: one row per user per reached step,
    * with the (order, tiebreak) struct of the matched event.
    */
  /** `maxGapNs`: when set, step k (k >= 2) must also land within the
    * gap of the matched step-k-1 event in `orderCol` units — the
    * "conversion within N days" form every product funnel defaults to.
    * The match rule stays first-occurrence greedy (each step anchors on
    * the EARLIEST qualifying event): deterministic and what the major
    * product-analytics funnels report, though not a maximal matching —
    * a later step-k event could extend the step-k+1 window where the
    * earliest one does not.
    */
  def funnelSteps(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      orderCol: String,
      tiebreakCol: String,
      steps: Seq[String],
      maxGapNs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col(userCol).as("user_id"), col(typeCol).as("et"),
      struct(col(orderCol), col(tiebreakCol)).as("o"))
    var reached: DataFrame = null
    var acc: DataFrame = null
    steps.zipWithIndex.foreach { case (st, i) =>
      val leg = e.where(col("et") === st)
      val matched =
        if (i == 0) leg.groupBy("user_id").agg(min(col("o")).as("o"))
        else {
          val after = leg
            .join(reached.select(col("user_id"), col("o").as("__prev")), "user_id")
            .where(col("o") > col("__prev"))
          val windowed = maxGapNs.fold(after)(g => after.where(
            col(s"o.$orderCol") <= col(s"__prev.$orderCol") + lit(g)))
          windowed.groupBy("user_id").agg(min(col("o")).as("o"))
        }
      reached = matched
      val tagged = matched.select(col("user_id"), lit(i + 1L).as("step"),
        lit(st).as("step_name"))
      acc = if (acc == null) tagged else acc.unionByName(tagged)
    }
    acc
  }

  /** The funnel report: per step, users reaching it and the conversion
    * from the previous step in integer basis points (step 1 converts
    * from the number of distinct users in the table).
    */
  def funnelReport(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      orderCol: String,
      tiebreakCol: String,
      steps: Seq[String],
      maxGapNs: Option[Long] = None): DataFrame =
    reportFromSteps(
      funnelSteps(events, userCol, typeCol, orderCol, tiebreakCol, steps,
        maxGapNs),
      events, userCol)

  /** The report arithmetic alone, from an already-matched step table
    * (one row per user per reached step) — shared by the batch matcher
    * above and the streaming matcher's emitted step-reach log.
    */
  def reportFromSteps(
      stepRows: DataFrame,
      events: DataFrame,
      userCol: String): DataFrame = {
    // 1-row distinct-user base rides a broadcast, not a driver count
    val base = events.agg(countDistinct(col(userCol)).as("__base"))
    val counts = stepRows
      .groupBy("step", "step_name").agg(count(lit(1)).as("n_users"))
    // prev-step counts via a self-join on step-1 (step 1 joins the base)
    val prev = counts.select((col("step") + 1).as("step"), col("n_users").as("__p"))
    counts.join(prev, Seq("step"), "left")
      .crossJoin(broadcast(base))
      .select(col("step"), col("step_name"), col("n_users"),
        expr("(n_users * 10000) div coalesce(__p, __base)").as("conv_bp"))
  }
}

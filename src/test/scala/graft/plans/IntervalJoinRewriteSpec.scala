package graft.plans

import graft.SparkSpec

/** The optimizer rule must turn a raw SQL overlap join (normally a
  * nested-loop plan) into a binned equi-join with identical results.
  * The rule comes from the shared session's production rule set
  * ([[SparkSpec]] installs it); this suite sets only the bin width, and
  * unsets it afterwards for the suites that share the session.
  */
class IntervalJoinRewriteSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.graft.intervalJoin.binSize", "50")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.graft.intervalJoin.binSize")
    super.afterAll()
  }

  test("GraftExtensions registers the rule on a builder") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  private def mkTables(): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    (0 until 400).map { i =>
      val s = rnd.nextDouble() * 1000; (i.toLong, s, s + rnd.nextDouble() * 60)
    }.toDF("lid", "ls", "le").createOrReplaceTempView("lint")
    (0 until 400).map { i =>
      val s = rnd.nextDouble() * 1000; (i.toLong, s, s + rnd.nextDouble() * 60)
    }.toDF("rid", "rs", "re").createOrReplaceTempView("rint")
  }

  test("SQL overlap join is rewritten to an equi-join and stays correct") {
    mkTables()
    val q = "SELECT lid, rid FROM lint JOIN rint ON ls < re AND rs < le"
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"overlap join not rewritten:\n$plan")

    // correctness vs in-memory nested loop
    import spark.implicits._
    val l = spark.table("lint").as[(Long, Double, Double)].collect()
    val r = spark.table("rint").as[(Long, Double, Double)].collect()
    val expected = (for {
      (lid, ls, le) <- l; (rid, rs, re) <- r; if ls < re && rs < le
    } yield (lid, rid)).toSet
    val got = df.as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicate pairs")
    assert(got.toSet === expected)
  }

  test("joins with equality keys plus overlap also rewrite") {
    import spark.implicits._
    Seq(("a", 0.0, 10.0, 1L), ("b", 0.0, 10.0, 2L)).toDF("lk", "ls", "le", "lid")
      .createOrReplaceTempView("lk")
    Seq(("a", 5.0, 6.0, 10L), ("b", 20.0, 30.0, 20L)).toDF("rk", "rs", "re", "rid")
      .createOrReplaceTempView("rk")
    val df = spark.sql(
      "SELECT lid, rid FROM lk JOIN rk ON lk = rk AND ls < re AND rs < le")
    assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(df.as[(Long, Long)].collect().toSet === Set((1L, 10L)))
  }

  test("non-strict (<=) and mixed-strictness overlap joins also rewrite, boundary-exact") {
    mkTables()
    // closed intervals: SQL users write BETWEEN-style bounds — strictness
    // must be preserved in the residual, not silently tightened/loosened
    val q = "SELECT lid, rid FROM lint JOIN rint ON ls <= re AND rs < le"
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"mixed-strictness overlap join not rewritten:\n$plan")
    import spark.implicits._
    val l = spark.table("lint").as[(Long, Double, Double)].collect()
    val r = spark.table("rint").as[(Long, Double, Double)].collect()
    val expected = (for {
      (lid, ls, le) <- l; (rid, rs, re) <- r; if ls <= re && rs < le
    } yield (lid, rid)).toSet
    assert(df.as[(Long, Long)].collect().toSet === expected)

    // exact boundary touch: [0,10] vs [10,20] matches ONLY with <=
    Seq((1L, 0.0, 10.0)).toDF("lid", "ls", "le").createOrReplaceTempView("lb")
    Seq((2L, 10.0, 20.0)).toDF("rid", "rs", "re").createOrReplaceTempView("rb")
    val closed = spark.sql(
      "SELECT lid, rid FROM lb JOIN rb ON ls <= re AND rs <= le")
    assert(closed.as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    assert(!closed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val open = spark.sql(
      "SELECT lid, rid FROM lb JOIN rb ON ls < re AND rs < le")
    assert(open.as[(Long, Long)].collect().isEmpty, "strict bounds exclude the touch")
  }

  test("non-overlap theta joins are left alone") {
    mkTables()
    // single inequality: not an interval overlap; must still work
    val df = spark.sql("SELECT count(*) FROM lint JOIN rint ON ls < rs")
    assert(df.head().getLong(0) > 0)
  }
}

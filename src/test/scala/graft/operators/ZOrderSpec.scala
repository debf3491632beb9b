package graft.operators

import graft.SparkSpec
import graft.functions.{NativeExpressions, ZInterleave}
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Naive per-bit reference for the five-round mask-shift spread. */
  private def zRef(a: Long, b: Long): Long =
    (0 until 31).map { i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)

  test("z_interleave equals the per-bit reference on random and edge inputs") {
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0x7FFFFFFFL, 0x7FFFFFFFL),
      (0x55555555L, 0x2AAAAAAAL)) ++
      Seq.fill(200)((rnd.nextLong() & 0x7FFFFFFFL, rnd.nextLong() & 0x7FFFFFFFL))
    cases.foreach { case (a, b) =>
      assert(ZInterleave.z(a, b) == zRef(a, b), s"($a, $b)")
    }
    // Column + SQL paths agree with the kernel; null propagates
    val df = cases.toDF("a", "b")
    df.select(col("a"), col("b"),
      NativeExpressions.z_interleave(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (a, b, z) => assert(z == ZInterleave.z(a, b)) }
    NativeExpressions.register(spark)
    assert(spark.sql("SELECT z_interleave(5, 3) AS z").head().getLong(0) ==
      ZInterleave.z(5, 3))
    assert(spark.sql(
      "SELECT z_interleave(CAST(NULL AS BIGINT), 1) IS NULL AS n").head().getBoolean(0))
  }

  test("curve order is monotone per dimension (other held fixed)") {
    val rnd = new scala.util.Random(11)
    (0 until 100).foreach { _ =>
      val b = rnd.nextLong() & 0x7FFFFFFFL
      val a1 = rnd.nextLong() & 0x7FFFFFFFL
      val a2 = rnd.nextLong() & 0x7FFFFFFFL
      if (a1 != a2) {
        val (lo, hi) = if (a1 < a2) (a1, a2) else (a2, a1)
        assert(ZInterleave.z(lo, b) < ZInterleave.z(hi, b))
        assert(ZInterleave.z(b, lo) < ZInterleave.z(b, hi))
      }
    }
  }

  /** Naive per-bit reference for the variadic interleave. */
  private def zNRef(xs: Seq[Long]): Long = {
    val n = xs.length
    (0 until 63 / n).flatMap(i => xs.indices.map(j =>
      ((xs(j) >> i) & 1L) << (i * n + j))).reduce(_ | _)
  }

  test("z_interleave_n equals the per-bit reference; N=2 equals the binary form") {
    val rnd = new scala.util.Random(13)
    for (n <- 2 to 5) {
      val bp = 63 / n
      val mask = (1L << bp) - 1
      val cases = Seq.fill(100)(Seq.fill(n)(rnd.nextLong() & mask)) :+
        Seq.fill(n)(0L) :+ Seq.fill(n)(mask)
      cases.foreach { xs =>
        assert(graft.functions.ZInterleaveN.z(xs.toArray) == zNRef(xs), s"n=$n $xs")
      }
    }
    // N = 2 generic mapping IS the twiddled binary form (same bit plan)
    (0 until 100).foreach { _ =>
      val a = rnd.nextLong() & 0x7FFFFFFFL
      val b = rnd.nextLong() & 0x7FFFFFFFL
      assert(graft.functions.ZInterleaveN.z(Array(a, b)) == ZInterleave.z(a, b))
    }
    // codegen'd Column path + SQL registration + null propagation
    val df3 = Seq((5L, 3L, 7L), (0L, 0L, 0L), (9L, 1L, 2L)).toDF("a", "b", "c")
    df3.select(col("a"), col("b"), col("c"),
      NativeExpressions.z_interleave_n(col("a"), col("b"), col("c")).as("z"))
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (a, b, c, z) =>
        assert(z == graft.functions.ZInterleaveN.z(Array(a, b, c))) }
    NativeExpressions.register(spark)
    assert(spark.sql("SELECT z_interleave_n(5, 3, 7) AS z").head().getLong(0) ==
      graft.functions.ZInterleaveN.z(Array(5L, 3L, 7L)))
    assert(spark.sql(
      "SELECT z_interleave_n(1, CAST(NULL AS BIGINT), 2) IS NULL AS n")
      .head().getBoolean(0))
  }

  test("z_interleave_n truncates out-of-range inputs; _checked raises instead") {
    // 3 dims -> 21-bit budget: 2^21 aliases to 0 in the unchecked form
    val aliased = spark.sql(
      s"SELECT z_interleave_n(${1L << 21}, 0, 0) = z_interleave_n(0, 0, 0) AS eq")
      .head().getBoolean(0)
    assert(aliased, "unchecked form must mask to the low 21 bits")
    val e = intercept[Exception] {
      spark.sql(s"SELECT z_interleave_n_checked(${1L << 21}, 0, 0)").head()
    }
    assert(e.getMessage.contains("exceeds the 21-bit budget") ||
      Option(e.getCause).exists(_.getMessage.contains("exceeds the 21-bit budget")))
    // in-range values agree between the two flavors
    assert(spark.sql(
      "SELECT z_interleave_n_checked(5, 9, 130) = z_interleave_n(5, 9, 130) AS eq")
      .head().getBoolean(0))
  }

  test("3-D curve order is monotone per dimension (others held fixed)") {
    val rnd = new scala.util.Random(17)
    val mask = (1L << 21) - 1
    (0 until 100).foreach { _ =>
      val base = Array.fill(3)(rnd.nextLong() & mask)
      (0 until 3).foreach { j =>
        val hi = base.clone()
        hi(j) = math.min(mask, base(j) + 1 + (rnd.nextInt(1000)))
        if (hi(j) > base(j))
          assert(graft.functions.ZInterleaveN.z(base) <
            graft.functions.ZInterleaveN.z(hi))
      }
    }
  }

  test("3-D z-order layout's bounding volumes beat a hash layout >2x") {
    val ev = graft.streaming.StreamingOps
      .readEventsBatch(spark, s"${sf("0.001")}/events.parquet")
      .select(pmod(col("user_id"), lit(64L)).as("a"),
        expr("ts div 86400000000000").as("b"),
        ascii(col("event_type")).cast("long").as("c"))
    val parts = 16
    val dims = Seq(col("a"), col("b"), col("c"))
    val zed = Layout.zorderN(ev, dims, parts)
    val hashed = ev.repartition(parts)
    val zVol = Layout.boundingVolumes(zed, dims).sum
    val hVol = Layout.boundingVolumes(hashed, dims).sum
    assert(zVol * 2 < hVol,
      s"3-D curve locality must beat hash layout: z=$zVol hash=$hVol")
    assert(zed.count() == ev.count())
  }

  test("z-order layout's per-partition bounding boxes beat a hash layout >2x") {
    val ev = graft.streaming.StreamingOps
      .readEventsBatch(spark, s"${sf("0.001")}/events.parquet")
      .select(pmod(col("user_id"), lit(64L)).as("a"),
        expr("ts div 86400000000000").as("b"))
    val parts = 16
    val zed = Layout.zorder(ev, col("a"), col("b"), parts)
    val hashed = ev.repartition(parts)
    val zArea = Layout.boundingVolumes(zed, Seq(col("a"), col("b"))).sum
    val hArea = Layout.boundingVolumes(hashed, Seq(col("a"), col("b"))).sum
    assert(zArea * 2 < hArea,
      s"curve locality must beat hash layout: z=$zArea hash=$hArea")
    // the layout is a pure rearrangement: no rows gained or lost
    assert(zed.count() == ev.count())
  }
}

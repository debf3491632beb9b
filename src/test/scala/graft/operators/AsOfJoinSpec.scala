package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Direct evidence for the as-of join's claimed semantics, independent of
  * the ev7 query: inclusive-at-equal-ts, largest-tie-wins tie-break,
  * null payload when no prior right row, and the reserved-name guard.
  */
class AsOfJoinSpec extends SparkSpec {

  private def run(
      left: Seq[(Long, Long, Long)],          // (id, key, ts)
      right: Seq[(Long, Long, Long, Double)], // (key, ts, ok, price)
      ties: Seq[String] = Seq("ok")) = {
    import spark.implicits._
    val l = left.toDF("id", "k", "ts")
    val r = right.toDF("rk", "rts", "ok", "price")
    AsOfJoin.asOf(l, r, "k", "rk", "ts", "rts",
      payload = Seq("ok", "price"), rightTies = ties)
      .orderBy("id")
      .select("id", "ok", "price")
      .collect()
      .map(row => (row.getLong(0),
        if (row.isNullAt(1)) None else Some(row.getLong(1)),
        if (row.isNullAt(2)) None else Some(row.getDouble(2))))
      .toSeq
  }

  test("picks the latest right row at or before each left ts, per key") {
    val out = run(
      left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 100L)),
      right = Seq((10L, 50L, 1L, 1.0), (10L, 200L, 2L, 2.0), (20L, 90L, 3L, 3.0)))
    assert(out === Seq(
      (1L, Some(1L), Some(1.0)),   // ts 100: order@50 is latest <= 100
      (2L, Some(2L), Some(2.0)),   // ts 250: order@200 supersedes
      (3L, Some(3L), Some(3.0))))  // key 20 sees only its own rows
  }

  test("inclusive at equal timestamp: a right row AT the left ts matches") {
    val out = run(
      left = Seq((1L, 10L, 100L)),
      right = Seq((10L, 100L, 7L, 7.0)))
    assert(out === Seq((1L, Some(7L), Some(7.0))))
  }

  test("null payload when the key has no right row at or before left ts") {
    val out = run(
      left = Seq((1L, 10L, 100L), (2L, 30L, 500L)),
      right = Seq((10L, 150L, 1L, 1.0))) // only AFTER left ts; key 30 absent
    assert(out === Seq((1L, None, None), (2L, None, None)))
  }

  test("equal-(key,ts) right rows: largest tie tuple wins, atomically") {
    val out = run(
      left = Seq((1L, 10L, 100L)),
      right = Seq((10L, 100L, 5L, 5.0), (10L, 100L, 9L, 9.0), (10L, 100L, 2L, 2.0)))
    // ok=9 wins AND carries its own price (payload from one row, not mixed)
    assert(out === Seq((1L, Some(9L), Some(9.0))))
  }

  /** Deterministic property driver (no scalatestplus in the offline
    * cache): sample the generator across fixed seeds.
    */
  private def forAllSeeded[T](gen: org.scalacheck.Gen[T], n: Int)(body: T => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).foreach { i =>
      gen.apply(params, org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }
  }

  test("property: asOf == brute-force latest-at-or-before on random data") {
    import org.scalacheck.Gen
    // small key/ts domains force heavy collisions — equal timestamps,
    // shared keys, keys on one side only
    val gen = for {
      nl <- Gen.choose(1, 60)
      nr <- Gen.choose(0, 60)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 20L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 20L)))
    } yield (ls, rs)
    forAllSeeded(gen, 25) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
      val right = rs.zipWithIndex.map { case ((k, ts), i) =>
        (k, ts, i.toLong, i * 1.5) // ok = index (unique tie-break), price
      }
      val got = run(left, right)
      val want = left.map { case (id, k, ts) =>
        val cands = right.filter(r => r._1 == k && r._2 <= ts)
        if (cands.isEmpty) (id, None, None)
        else {
          // latest ts; among equal ts the LARGEST ok wins
          val best = cands.maxBy(r => (r._2, r._3))
          (id, Some(best._3), Some(best._4))
        }
      }.sortBy(_._1)
      assert(got === want, s"left=$left right=$right")
    }
  }

  test("rejects inputs whose columns collide with reserved working names") {
    import spark.implicits._
    val l = Seq((1L, 1L, 1L)).toDF("id", "__k", "ts")
    val r = Seq((1L, 1L, 1L)).toDF("rk", "rts", "ok")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(l, r, "__k", "rk", "ts", "rts", payload = Seq("ok"))
    }
    assert(e.getMessage.contains("__k"))
  }
}

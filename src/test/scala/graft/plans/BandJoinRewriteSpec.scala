package graft.plans

import graft.SparkSpec

/** The band-join optimizer rule must turn a raw SQL abs-difference join
  * (normally a nested-loop plan) into a bucketed equi-join with
  * identical results. The rule comes from the shared session's
  * production rule set ([[SparkSpec]] installs it).
  */
class BandJoinRewriteSpec extends SparkSpec {

  private def mkTables(): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(33)
    // negatives included: the floor-div bucketing must not split a band
    // across the zero boundary
    (0 until 500).map(i => (i.toLong, rnd.nextLong() % 5000))
      .toDF("lid", "lv").createOrReplaceTempView("lband")
    (0 until 500).map(i => (i.toLong, rnd.nextLong() % 5000))
      .toDF("rid", "rv").createOrReplaceTempView("rband")
  }

  test("SQL abs-band join is rewritten to an equi-join and stays correct") {
    mkTables()
    val q = "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100"
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join not rewritten:\n$plan")

    import spark.implicits._
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val want = (for {
      (lid, lv) <- l; (rid, rv) <- r if math.abs(lv - rv) <= 100
    } yield (lid, rid)).toSet
    val got = df.as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("strict < and flipped >= forms rewrite too; extra equi keys survive") {
    mkTables()
    for (q <- Seq(
      "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) < 100",
      "SELECT lid, rid FROM lband JOIN rband ON 100 >= abs(lv - rv)",
      "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100 AND lid % 3 = rid % 3")) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"not rewritten: $q\n$plan")
    }
    // strictness preserved by the residual: < and <= genuinely differ
    import spark.implicits._
    val le = spark.sql("SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100")
      .as[(Long, Long)].collect().toSet
    val lt = spark.sql("SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) < 100")
      .as[(Long, Long)].collect().toSet
    assert(lt.subsetOf(le))
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val boundary = (for {
      (lid, lv) <- l; (rid, rv) <- r if math.abs(lv - rv) == 100
    } yield (lid, rid)).toSet
    assert((le diff lt) === boundary)
  }

  test("non-band joins are left alone (no spurious rewrite)") {
    mkTables()
    // a float eps over integral columns is CANONICALIZED by Spark
    // (UnwrapCastInBinaryComparison: <= 100.5 over bigints becomes
    // <= 100) before this rule runs — so it legitimately rewrites, and
    // the residual keeps it correct
    import spark.implicits._
    val fl = spark.sql(
      "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100.5")
      .as[(Long, Long)].collect().toSet
    val le = spark.sql(
      "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100")
      .as[(Long, Long)].collect().toSet
    assert(fl === le, "canonicalized float band must equal the integer band")
    // DOUBLE-typed columns: the matcher must refuse (exact-units only)
    spark.sql("SELECT lid, lv / 2.0 AS lvd FROM lband")
      .createOrReplaceTempView("lbandd")
    spark.sql("SELECT rid, rv / 2.0 AS rvd FROM rband")
      .createOrReplaceTempView("rbandd")
    val dd = spark.sql(
      "SELECT lid, rid FROM lbandd JOIN rbandd ON abs(lvd - rvd) <= 50.0")
    assert(!dd.queryExecution.optimizedPlan.toString.contains("__lband"))
    // OR condition: not a conjunctive band — refuse
    val df2 = spark.sql(
      "SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100 OR lid = rid")
    assert(!df2.queryExecution.optimizedPlan.toString.contains("__lband"))
  }

  test("BETWEEN spelling rewrites and equals the abs-form results") {
    mkTables()
    import spark.implicits._
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val want = (for {
      (lid, lv) <- l; (rid, rv) <- r if math.abs(lv - rv) <= 100
    } yield (lid, rid)).toSet
    for (q <- Seq(
      "SELECT lid, rid FROM lband JOIN rband ON lv BETWEEN rv - 100 AND rv + 100",
      "SELECT lid, rid FROM lband JOIN rband ON lv >= rv - 100 AND lv <= rv + 100",
      "SELECT lid, rid FROM lband JOIN rband ON rv - 100 <= lv AND rv + 100 >= lv")) {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"BETWEEN band not rewritten: $q\n$plan")
      assert(df.as[(Long, Long)].collect().toSet === want, q)
    }
  }

  test("asymmetric conjunct-pair band: max-width bucket, residual keeps exactness") {
    mkTables()
    import spark.implicits._
    val q = "SELECT lid, rid FROM lband JOIN rband ON lv >= rv - 40 AND lv <= rv + 100"
    val df = spark.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"asymmetric band not rewritten:\n$plan")
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val want = (for {
      (lid, lv) <- l; (rid, rv) <- r if lv >= rv - 40 && lv <= rv + 100
    } yield (lid, rid)).toSet
    assert(df.as[(Long, Long)].collect().toSet === want)
  }

  test("LeftSemi and LeftAnti band joins rewrite; existence preserved") {
    mkTables()
    import spark.implicits._
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val matched = l.collect {
      case (lid, lv) if r.exists { case (_, rv) => math.abs(lv - rv) <= 2 } => lid
    }.toSet
    val semi = spark.sql(
      "SELECT lid FROM lband WHERE EXISTS (SELECT 1 FROM rband WHERE abs(lv - rv) <= 2)")
    val anti = spark.sql(
      "SELECT lid FROM lband WHERE NOT EXISTS (SELECT 1 FROM rband WHERE lv BETWEEN rv - 2 AND rv + 2)")
    for ((df, name) <- Seq((semi, "semi"), (anti, "anti"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name band join not rewritten:\n$plan")
    }
    assert(semi.as[Long].collect().toSet === matched)
    assert(anti.as[Long].collect().toSet === (l.map(_._1).toSet diff matched))
    assert(matched.nonEmpty && matched.size < l.length,
      "fixture must exercise both matched and unmatched rows")
  }

  test("LeftOuter band join rewrites with exact multiplicity") {
    mkTables()
    import spark.implicits._
    val louter = spark.sql(
      "SELECT lid, rid FROM lband LEFT JOIN rband ON abs(lv - rv) <= 100")
    val plan = louter.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"left-outer band not rewritten:\n$plan")
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    val want = l.toSeq.flatMap { case (lid, lv) =>
      val rs = r.toSeq.collect { case (rid, rv) if math.abs(lv - rv) <= 100 => rid }
      if (rs.isEmpty) Seq((lid, Option.empty[Long]))
      else rs.map(rid => (lid, Option(rid)))
    }.groupBy(x => x).view.mapValues(_.length).toMap
    val got = louter.as[(Long, Option[Long])].collect().toSeq
      .groupBy(x => x).view.mapValues(_.length).toMap
    assert(got === want, "left-outer multiplicity must match the NL oracle exactly")
  }

  test("RightOuter band join rewrites via left-side expansion") {
    mkTables()
    import spark.implicits._
    // eps 2, not 100: the fixture must leave some right rows UNMATCHED
    // (at +-100 every value in [-5000, 5000] finds a partner)
    val router = spark.sql(
      "SELECT lid, rid FROM lband RIGHT JOIN rband ON abs(lv - rv) <= 2")
    val plan = router.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"right-outer band not rewritten:\n$plan")
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    // NL oracle: every matched (l, r) pair once; every unmatched RIGHT
    // row exactly once with a null left side
    val want = r.toSeq.flatMap { case (rid, rv) =>
      val ls = l.toSeq.collect { case (lid, lv) if math.abs(lv - rv) <= 2 => lid }
      if (ls.isEmpty) Seq((Option.empty[Long], rid))
      else ls.map(lid => (Option(lid), rid))
    }.groupBy(x => x).view.mapValues(_.length).toMap
    val got = router.as[(Option[Long], Long)].collect().toSeq
      .groupBy(x => x).view.mapValues(_.length).toMap
    assert(got === want, "right-outer multiplicity must match the NL oracle exactly")
    assert(want.keys.exists(_._1.isEmpty) && want.keys.exists(_._1.nonEmpty),
      "fixture must exercise both matched and unmatched right rows")
  }

  test("FullOuter band join rewrites as LeftOuter union null-extended anti") {
    mkTables()
    import spark.implicits._
    // eps 2 so BOTH sides keep unmatched rows (at +-100 every value in
    // the fixture range finds a partner)
    val fouter = spark.sql(
      "SELECT lid, rid FROM lband FULL JOIN rband ON abs(lv - rv) <= 2")
    val plan = fouter.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"full-outer band not rewritten:\n$plan")
    val l = spark.table("lband").as[(Long, Long)].collect()
    val r = spark.table("rband").as[(Long, Long)].collect()
    // NL oracle: every matched (l, r) pair once; every unmatched row of
    // EITHER side exactly once, null-extended
    val matchedPairs = for {
      (lid, lv) <- l.toSeq; (rid, rv) <- r.toSeq if math.abs(lv - rv) <= 2
    } yield (Option(lid), Option(rid))
    val matchedL = matchedPairs.map(_._1.get).toSet
    val matchedR = matchedPairs.map(_._2.get).toSet
    val want = (matchedPairs ++
      l.toSeq.collect { case (lid, _) if !matchedL(lid) => (Option(lid), Option.empty[Long]) } ++
      r.toSeq.collect { case (rid, _) if !matchedR(rid) => (Option.empty[Long], Option(rid)) })
      .groupBy(x => x).view.mapValues(_.length).toMap
    val got = fouter.as[(Option[Long], Option[Long])].collect().toSeq
      .groupBy(x => x).view.mapValues(_.length).toMap
    assert(got === want, "full-outer multiplicity must match the NL oracle exactly")
    assert(want.keys.exists(_._1.isEmpty) && want.keys.exists(_._2.isEmpty),
      "fixture must exercise unmatched rows on BOTH sides")
  }

  test("rule is idempotent: one Generate, applied once") {
    mkTables()
    val df = spark.sql("SELECT lid, rid FROM lband JOIN rband ON abs(lv - rv) <= 100")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__rband"), opt)
    assert("Generate".r.findAllIn(opt).size == 1,
      s"expected exactly one Generate (rule must not re-fire):\n$opt")
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NativeExpressionsSpec extends SparkSpec {

  test("nfc_normalize recomposes, is idempotent, ASCII-identity, and null-propagating") {
    import spark.implicits._
    val composed = "caf\u00e9"   // e-acute as one codepoint
    val decomposed = "cafe\u0301" // e + combining acute
    val df = Seq(decomposed, composed, "plain ascii", "").toDF("s")
    val out = df.select(
      NativeExpressions.nfc_normalize(col("s")).as("n"),
      length(col("s")).as("pre"))
      .withColumn("post", length(col("n")))
      .as[(String, Int, Int)].collect()
    assert(out(0)._1 == composed && out(0)._2 == 5 && out(0)._3 == 4,
      "decomposed input must compose")
    assert(out(1)._1 == composed, "composed input is a fixed point")
    assert(out(2)._1 == "plain ascii" && out(3)._1 == "")
    // SQL registration + null propagation + expression nesting
    NativeExpressions.register(spark)
    val r = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS a, " +
        s"nfc_normalize(nfc_normalize('$decomposed')) AS b, " +
        "nfc_normalize(CAST(NULL AS STRING)) IS NULL AS n").head()
    assert(r.getString(0) == composed && r.getString(1) == composed)
    assert(r.getBoolean(2))
  }

  test("fisher_phred matches the LogMath kernel bit-exactly; SQL + null propagation") {
    import spark.implicits._
    // tables spanning the branches: empty, balanced, extreme bias, and a
    // margin-degenerate row
    val tables = Seq(
      (0, 0, 0, 0), (5, 5, 5, 5), (30, 0, 0, 30), (12, 3, 4, 11),
      (0, 10, 10, 0), (7, 0, 5, 2), (1, 1, 100, 100))
    val df = tables.toDF("a", "b", "c", "d")
    val got = df.select(
      NativeExpressions.fisher_phred(col("a"), col("b"), col("c"), col("d")).as("p"))
      .as[Double].collect()
    tables.zip(got).foreach { case ((a, b, c, d), p) =>
      // bit-identical, not approximately: the Expression must call the
      // same kernel the former UDF wrapped
      assert(p === graft.kernels.LogMath.fisherExactPhred(a, b, c, d), s"($a,$b,$c,$d)")
    }
    // codegen'd path (no UDF / interpreted fallback in the plan)
    val plan = df.select(
      NativeExpressions.fisher_phred(col("a"), col("b"), col("c"), col("d")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // SQL registration + QuaternaryExpression default null propagation
    NativeExpressions.register(spark)
    val viaSql = spark.sql("SELECT fisher_phred(30, 0, 0, 30) AS p").head().getDouble(0)
    assert(viaSql === graft.kernels.LogMath.fisherExactPhred(30, 0, 0, 30))
    assert(spark.sql(
      "SELECT fisher_phred(CAST(NULL AS INT), 1, 2, 3) IS NULL AS n").head().getBoolean(0))
    assert(spark.sql(
      "SELECT fisher_phred(1, 2, 3, CAST(NULL AS INT)) IS NULL AS n").head().getBoolean(0))
  }

  test("fisher_phred coerces arguments at analysis time (ImplicitCastInputTypes)") {
    NativeExpressions.register(spark)
    // BIGINT/SMALLINT args get an analyzer cast to INT instead of a
    // runtime ClassCastException-or-silent-(int)-truncation in codegen
    val viaLong = spark.sql(
      "SELECT fisher_phred(CAST(30 AS BIGINT), CAST(0 AS SMALLINT), 0, 30) AS p")
      .head().getDouble(0)
    assert(viaLong === graft.kernels.LogMath.fisherExactPhred(30, 0, 0, 30))
    // string args go through an analyzer-inserted ANSI cast: numeric
    // strings coerce, junk fails as a principled CAST error — never the
    // old codegen-compile-fallback ClassCastException in nullSafeEval
    val viaStr = spark.sql("SELECT fisher_phred('30', '0', 0, 30) AS p").head().getDouble(0)
    assert(viaStr === graft.kernels.LogMath.fisherExactPhred(30, 0, 0, 30))
    val err = intercept[Throwable] {
      spark.sql("SELECT fisher_phred('x', 0, 0, 30)").head()
    }
    assert(!err.isInstanceOf[ClassCastException], err.toString)
    assert(err.getMessage.contains("CAST_INVALID_INPUT") ||
      err.getMessage.toLowerCase.contains("cast"), err.getMessage)
  }

  test("native cosine expressions are bit-identical to the HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    val query = Array.fill(dim)(rnd.nextGaussian())
    val rows = (0L until 50L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val df = rows.toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))

    // HOF ground truth: separate left folds, dot / (||v|| * ||q||)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val hofDot = aggregate(zip_with(col("v"), typedlit(query.toSeq), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (acc, x) => acc + x))
    val expected = df.select(col("id"), (hofDot / (hofNorm * lit(qNorm))).as("c"))
      .as[(Long, Double)].collect().toMap
    val got = df.select(col("id"),
      NativeExpressions.cosine_to_query(col("v"), query).as("c"))
      .as[(Long, Double)].collect().toMap
    rows.foreach { case (id, _) => assert(got(id) === expected(id), s"id $id") }

    // pairwise form vs its HOF ground truth
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(200)
    val pDot = aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val pNa = sqrt(aggregate(transform(col("va"), x => x * x), lit(0.0), (acc, x) => acc + x))
    val pNb = sqrt(aggregate(transform(col("vb"), x => x * x), lit(0.0), (acc, x) => acc + x))
    val both = pairs.select(
      (pDot / (pNa * pNb)).as("hof"),
      NativeExpressions.cosine_sim(col("va"), col("vb")).as("native"))
      .as[(Double, Double)].collect()
    both.foreach { case (h, n) => assert(h === n) }

    // SQL registration + null propagation
    NativeExpressions.register(spark)
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT cosine_sim(v, v) AS c FROM vecs").as[Double].collect()
    viaSql.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    assert(spark.sql("SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) IS NULL AS n")
      .head().getBoolean(0))
  }
}

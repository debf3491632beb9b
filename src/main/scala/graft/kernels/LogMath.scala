package graft.kernels

/** Pure log-space math used by the genotyping kernels (no Spark).
  * Capability of the reference's LogUtils/LogPhred
  * (avocado-core/.../util/LogUtils.scala:39-137, LogPhred.scala:38-40),
  * re-derived from standard numerics (log-sum-exp, phred scale,
  * log-factorial, Fisher's exact test).
  */
object LogMath {

  private val LN10 = math.log(10.0)

  /** log(exp(a) + exp(b)) without leaving log space (Durbin trick). */
  def logSum(a: Double, b: Double): Double = {
    if (a.isNegInfinity) b
    else if (b.isNegInfinity) a
    else {
      val hi = math.max(a, b)
      val lo = math.min(a, b)
      hi + math.log1p(math.exp(lo - hi))
    }
  }

  /** Sum of log-probabilities, largest-first for stability. */
  def sumLogProbabilities(ls: Array[Double]): Double =
    ls.sortBy(-_).foldLeft(Double.NegativeInfinity)(logSum)

  /** Phred scale: log error probability -> phred quality. */
  def logErrorToPhred(l: Double): Double = -10.0 * l / LN10

  /** Phred quality -> success probability (1 - 10^(-q/10)). */
  def phredToSuccessProbability(q: Int): Double = 1.0 - math.pow(10.0, -q / 10.0)

  // log n! — exact cumulative table for small n, Stirling series beyond.
  private val LogFactCache: Array[Double] = {
    val a = new Array[Double](4096)
    var i = 2
    while (i < a.length) { a(i) = a(i - 1) + math.log(i); i += 1 }
    a
  }

  def logFactorial(n: Int): Double = {
    require(n >= 0, s"logFactorial($n)")
    if (n < LogFactCache.length) LogFactCache(n)
    else {
      val x = n.toDouble
      // Stirling with 1/(12n) correction — error < 1e-10 at n >= 4096
      x * math.log(x) - x + 0.5 * math.log(2.0 * math.Pi * x) + 1.0 / (12.0 * x)
    }
  }

  /** log binomial coefficient C(n, k). */
  def logChoose(n: Int, k: Int): Double =
    logFactorial(n) - logFactorial(k) - logFactorial(n - k)

  /** Fisher's exact test (two-sided) on a 2x2 table
    * [[a, b], [c, d]], returned phred-scaled (−10·log10 p) — the
    * strand-bias annotation (reference BiallelicGenotyper.scala:755-797).
    * Two-sided by summing all tables (same margins) with point
    * probability <= observed.
    */
  def fisherExactPhred(a: Int, b: Int, c: Int, d: Int): Double = {
    val n = a + b + c + d
    if (n == 0) return 0.0
    val r1 = a + b; val c1 = a + c
    def logP(x: Int): Double =
      logChoose(r1, x) + logChoose(n - r1, c1 - x) - logChoose(n, c1)
    val obs = logP(a)
    val lo = math.max(0, c1 - (n - r1))
    val hi = math.min(r1, c1)
    val terms = (lo to hi).iterator.map(logP).filter(_ <= obs + 1e-9).toArray
    val logPTotal = math.min(0.0, sumLogProbabilities(terms))
    logErrorToPhred(logPTotal)
  }
}

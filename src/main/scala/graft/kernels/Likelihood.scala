package graft.kernels

/** The biallelic genotype likelihood model (Li 2011 / samtools mpileup
  * family, as used by the reference's Observer kernel —
  * avocado-core/.../genotyping/Observer.scala:151-185): for a site with
  * copy number m and a read with combined success probability
  * p = P(mapped correctly)·P(base called correctly), ε = 1 − p, the
  * likelihood of the read under genotype state g (g alt copies of m) is
  *
  *   P(read shows ALT | g) = (g·(1−ε) + (m−g)·ε) / m
  *   P(read shows REF | g) = (g·ε + (m−g)·(1−ε)) / m
  *
  * Log-space, per state. The genotyper evaluates it on every compressed
  * observation row ([[logLikelihoods]] behind the `genotype_log_likelihoods`
  * expression); a compressed row stands for many reads, so the per-row
  * cost is small next to a join against a precomputed table.
  */
object Likelihood {

  /** Sentinel for "no base quality": deletion observations carry no
    * per-base quality (the deleted bases aren't in the read), so their
    * error model is mapping-quality-only — the reference's
    * optQuality = None (Observer.scala:120-137, ScoredObservation
    * .scala:163-165: baseSuccessProb defaults to 1.0).
    */
  final val NoQual = -1

  /** ε = 1 − P(map ok)·P(base ok); baseQ < 0 means no base quality
    * (P(base ok) = 1).
    */
  def epsilon(baseQ: Int, mapQ: Int): Double = {
    val baseOk = if (baseQ < 0) 1.0 else LogMath.phredToSuccessProbability(baseQ)
    1.0 - baseOk * LogMath.phredToSuccessProbability(mapQ)
  }

  private def alleleLogLikelihood(e: Double, m: Int, g: Int): Double =
    math.log(g * (1.0 - e) + (m - g) * e) - math.log(m.toDouble)

  private def otherLogLikelihood(e: Double, m: Int, g: Int): Double =
    math.log(g * e + (m - g) * (1.0 - e)) - math.log(m.toDouble)

  /** Both per-state vectors of one observation, sized for `maxPloidy`:
    * `[allele 0..maxPloidy, other 0..maxPloidy]`, with ε computed once.
    * The allele vector is the log-likelihood of a read *supporting the
    * allele* under g = 0..m alt copies, the other vector that of a read
    * supporting the reference (or any other allele). States above the
    * copy number `m` are 0.0, so a site scored at a lower copy number
    * than its neighbours adds nothing in them.
    */
  def logLikelihoods(baseQ: Int, mapQ: Int, m: Int, maxPloidy: Int): Array[Double] = {
    val e = epsilon(baseQ, mapQ)
    val out = new Array[Double](2 * (maxPloidy + 1))
    var g = 0
    while (g <= math.min(m, maxPloidy)) {
      out(g) = alleleLogLikelihood(e, m, g)
      out(maxPloidy + 1 + g) = otherLogLikelihood(e, m, g)
      g += 1
    }
    out
  }
}

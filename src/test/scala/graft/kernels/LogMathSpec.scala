package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

class LogMathSpec extends AnyFunSuite {
  import LogMath._

  test("logSum matches direct computation") {
    val a = math.log(0.3); val b = math.log(0.2)
    assert(math.abs(logSum(a, b) - math.log(0.5)) < 1e-12)
    assert(logSum(Double.NegativeInfinity, a) === a)
  }

  test("logSum is commutative and stable for spread magnitudes") {
    val xs = Array(-1000.0, -1.0, -500.0, -2.0)
    assert(math.abs(sumLogProbabilities(xs) - sumLogProbabilities(xs.reverse)) < 1e-12)
    // dominated by the largest term
    assert(math.abs(sumLogProbabilities(Array(-1e9, -1.0)) - logSum(-1.0, -1e9)) < 1e-12)
  }

  test("phred round trips") {
    assert(math.abs(logErrorToPhred(math.log(0.001)) - 30.0) < 1e-9)
    assert(math.abs(phredToSuccessProbability(20) - 0.99) < 1e-12)
  }

  test("logFactorial exact small, Stirling large, continuous at the seam") {
    assert(logFactorial(0) === 0.0)
    assert(logFactorial(1) === 0.0)
    assert(math.abs(logFactorial(5) - math.log(120.0)) < 1e-12)
    val atSeam = logFactorial(4095) + math.log(4096.0)
    assert(math.abs(logFactorial(4096) - atSeam) < 1e-8)
  }

  test("logChoose") {
    assert(math.abs(logChoose(5, 2) - math.log(10.0)) < 1e-12)
    assert(math.abs(logChoose(10, 5) - math.log(252.0)) < 1e-12)
  }

  test("fisher exact 2x2 against known p-values") {
    // balanced table -> p = 1 -> phred 0
    assert(math.abs(fisherExactPhred(5, 5, 5, 5)) < 1e-9)
    // the classic tea-tasting table [[3,1],[1,3]]: two-sided p ~ 0.4857
    val phred = fisherExactPhred(3, 1, 1, 3)
    val p = math.pow(10.0, -phred / 10.0)
    assert(math.abs(p - 0.485714285) < 1e-6)
    // extreme skew -> small p -> large phred
    assert(fisherExactPhred(20, 0, 0, 20) > 50.0)
  }
}

package graft.similarity

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Pins the r16 allocation-free HALF_UP rounding ([[Ann.round9]]) to the
  * BigDecimal reference the kNN kernels used before — the value every
  * similarity ranking (and the oracle hash behind it) depends on. The
  * fast path must be BIT-identical (java doubleToRawLongBits equality),
  * including at adversarial rounding boundaries where it must fall back
  * to the exact decimal path. No SparkSession needed: the contract is
  * pure arithmetic. */
class Round9Spec extends AnyFlatSpec with Matchers {

  private def reference(raw: Double): Double =
    BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def check(raw: Double): Unit = {
    val got = Ann.round9(raw)
    val want = reference(raw)
    assert(java.lang.Double.doubleToRawLongBits(got) ==
      java.lang.Double.doubleToRawLongBits(want),
      s"round9($raw) = $got != BigDecimal reference $want")
  }

  "round9" should "match BigDecimal HALF_UP bit-for-bit on a seeded random sweep" in {
    val rnd = new scala.util.Random(0x9167L) // deterministic
    (1 to 500000).foreach { _ =>
      // similarity range with margin, both signs
      check(rnd.nextDouble() * 2.2 - 1.1)
    }
  }

  it should "match on exact multiples of 1e-9 and their neighbors" in {
    val rnd = new scala.util.Random(42)
    (1 to 50000).foreach { _ =>
      val k = rnd.nextInt(2000000001).toLong - 1000000000L
      val v = k / 1e9 // nearest double to an exact 9-digit decimal
      Seq(v, math.nextUp(v), math.nextDown(v), -v,
        math.nextUp(-v), math.nextDown(-v)).foreach(check)
    }
  }

  it should "match on half-way rounding boundaries (the slow-path band)" in {
    val rnd = new scala.util.Random(7)
    (1 to 50000).foreach { _ =>
      val k = rnd.nextInt(2000000000).toLong - 1000000000L
      val v = (k + 0.5) / 1e9 // sits ON the HALF_UP tie (up to double error)
      Seq(v, math.nextUp(v), math.nextDown(v), -v,
        math.nextUp(-v), math.nextDown(-v)).foreach(check)
    }
  }

  it should "match on magnitudes far beyond any cosine (the exact path)" in {
    val rnd = new scala.util.Random(11)
    (1 to 100000).foreach { _ =>
      val v = 100 + rnd.nextDouble() * 4e6
      check(v); check(-v)
    }
  }

  it should "match on signed zeros, units and extremes" in {
    Seq(0.0, -0.0, 1.0, -1.0, 0.5e-9, -0.5e-9, 1.5e-9, -1.5e-9,
      4.9e-10, -4.9e-10, 5.1e-10, -5.1e-10,
      0.9999999995, -0.9999999995, 1.0000000005, -1.0000000005,
      Double.MinPositiveValue, -Double.MinPositiveValue).foreach(check)
  }
}

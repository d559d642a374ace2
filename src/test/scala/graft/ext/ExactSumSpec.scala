package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ExactSumSpec extends AnyFunSuite with Matchers {

  private def exact(xs: Seq[Double]): Double =
    xs.foldLeft(java.math.BigDecimal.ZERO)((a, x) => a.add(new java.math.BigDecimal(x)))
      .doubleValue

  test("value is the correctly rounded sum, whatever the add and merge order") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 200) {
      // wide exponents and mixed signs: a naive left fold loses bits here
      val xs = Seq.fill(1 + rnd.nextInt(60)) {
        (if (rnd.nextBoolean()) 1.0 else -1.0) * rnd.nextDouble() *
          math.pow(10, rnd.nextInt(40) - 20)
      }
      val want = exact(xs)
      withClue(s"trial $trial: ") {
        ExactSum.of(xs.iterator).value shouldBe want
        ExactSum.of(rnd.shuffle(xs).iterator).value shouldBe want
        val (a, b) = rnd.shuffle(xs).splitAt(rnd.nextInt(xs.size + 1))
        ExactSum.of(a.iterator).merge(ExactSum.of(b.iterator)).value shouldBe want
      }
    }
  }

  test("cancellation and ties: exact where a double fold is not") {
    ExactSum.of(Iterator(1e16, 1.0, -1e16)).value shouldBe 1.0
    ExactSum.of(Iterator(0.1, 0.2, 0.3)).value shouldBe exact(Seq(0.1, 0.2, 0.3))
    // the fsum half-even case: 1e-16 breaks the tie upward
    ExactSum.of(Iterator(1e-16, 1.0, 1e16)).value shouldBe exact(Seq(1e-16, 1.0, 1e16))
    new ExactSum().value shouldBe 0.0
  }
}

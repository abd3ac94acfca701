package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median reports its value and sample count") {
    val odd = Stats.median(Seq(5.0, 1.0, 3.0))
    assert(odd.value == 3.0 && odd.n == 3)
    val even = Stats.median(Seq(4.0, 1.0, 3.0, 2.0))
    assert(even.value == 2.5 && even.n == 4)
  }

  test("p90 of 100 samples is the 90th by rank, with 10 beyond it") {
    val q = Stats.tail((1 to 100).map(_.toDouble).reverse, 0.9)
    assert(q.value == 90.0 && q.n == 100 && q.beyond == 10)
  }

  test("a tail percentile with fewer than 10 samples beyond it fails loudly") {
    val e = intercept[IllegalStateException](Stats.tail((1 to 99).map(_.toDouble), 0.9))
    assert(e.getMessage.contains("99 samples"))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).beyond == 9)
  }

  test("no samples is an error, not a zero") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(xs, 0) == 1.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.percentile == 90)
    assert(t.samples == 100)
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) >= 10)
    assert(xs.count(_ > Stats.percentile(xs, t.percentile + 1)) < 10)
  }

  test("tail follows the sample count") {
    assert(Stats.tail((1 to 40).map(_.toDouble)).get.percentile == 75)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).get.percentile == 99)
    // 20 samples: the median is the highest rank with 10 beyond it
    assert(Stats.tail((1 to 20).map(_.toDouble)).get.percentile == 50)
    // 11 samples: only the minimum has 10 beyond it
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11.value == 1.0 && t11.samples == 11)
  }

  test("no tail without more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 57).map(_.toDouble)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs))
  }

  test("parallel efficiency is busy time over wall time times cores") {
    assert(Stats.parallelEfficiency(8.0, 4.0, 4) == 0.5)
    assert(Stats.parallelEfficiency(16.0, 4.0, 4) == 1.0)
    assertThrows[IllegalArgumentException](Stats.parallelEfficiency(1.0, 0.0, 4))
  }

  test("byte ratios need a positive base") {
    assert(Stats.ratio(300L, 100L) == 3.0)
    assert(Stats.ratio(50L, 100L) == 0.5)
    assertThrows[IllegalArgumentException](Stats.ratio(1L, 0L))
  }

  test("raw row bytes count 8 per number and the string's UTF-8 length") {
    assert(TableOps.rawBytes(TableOps.R(1L, 2L, 3.0, 4.0, "N", 5L)) == 41L)
  }
}

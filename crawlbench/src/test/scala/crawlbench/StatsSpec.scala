package crawlbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("reported percentile is the highest with at least ten samples beyond it") {
    val twenty = (1 to 20).map(_.toDouble)
    val r20 = Stats.highestSupported(twenty)
    assert(r20.percentile == 50 && r20.samples == 20 && r20.value == 10.5)

    val hundred = (1 to 100).map(_.toDouble)
    val r100 = Stats.highestSupported(hundred)
    assert(r100.percentile == 90 && r100.samples == 100)
    assert(math.abs(r100.value - 90.1) < 1e-9)

    assert(Stats.highestSupported((1 to 1000).map(_.toDouble)).percentile == 99)
    assert(Stats.highestSupported((1 to 10000).map(_.toDouble)).percentile == 999)
  }

  test("a sample too small for any tail still reports its median and size") {
    val r = Stats.highestSupported(Seq(5.0, 7.0))
    assert(r.percentile == 50 && r.value == 6.0 && r.samples == 2)
  }
}

package vecbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("tail picks the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(ramp(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(ramp(200)) == Some((95.0, 190.0)))
    assert(Stats.tail(ramp(1000)) == Some((99.0, 990.0)))
    // 99 samples: p90 leaves only 9 above its rank, so p75 it is
    assert(Stats.tail(ramp(99)) == Some((75.0, 75.0)))
    assert(Stats.tail(ramp(20)) == Some((50.0, 10.0)))
    assert(Stats.tail(ramp(19)).isEmpty)
  }

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 100) == 5.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("warm rejects a series whose first half is much slower") {
    assert(Stats.warm(Seq(100, 102, 98, 101).map(_.toDouble), 0.3))
    assert(!Stats.warm(Seq(200, 190, 100, 101).map(_.toDouble), 0.3))
    assert(Stats.warm(Seq(500.0), 0.3))
  }
}

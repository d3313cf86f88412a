package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the selected tail percentile has at least ten samples beyond it") {
    for (n <- 1 to 3000) {
      val level = Stats.tailLevel(n)
      level.foreach(q => assert(Stats.beyond(n, q) >= 10, s"n=$n q=$q"))
      // and no higher level on the ladder would have qualified
      val higher = Seq(0.99, 0.95, 0.9, 0.75, 0.5).filter(q => level.forall(q > _))
      higher.foreach(q => assert(Stats.beyond(n, q) < 10, s"n=$n q=$q"))
    }
    assert(Stats.tailLevel(100).contains(0.9))
    assert(Stats.tailLevel(99).contains(0.75))
    assert(Stats.tailLevel(1000).contains(0.99))
    assert(Stats.tailLevel(19).isEmpty)
    val xs = (1 to 200).map(_.toDouble)
    val q = Stats.tailLevel(xs.size).get
    assert(xs.count(_ > Stats.percentile(xs, q)) >= 10)
  }

  test("driver gap is the op time no job interval covers") {
    // jobs overlap each other and the last one runs past the op's end
    val jobs = Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (9.0, 12.0))
    assert(Stats.covered(0, 10, jobs) == 4.0 + 1.0 + 1.0)
    assert(Stats.selfTime(0, 10, jobs) == 4.0)
    assert(Stats.selfTime(0, 10, Nil) == 10.0)
    assert(Stats.selfTime(0, 10, Seq((-5.0, 20.0))) == 0.0)
  }

  test("self time subtracts the union of child spans once") {
    val children = Seq((10.0, 30.0), (20.0, 40.0), (50.0, 60.0), (20.0, 25.0))
    assert(Stats.selfTime(0, 100, children) == 100.0 - 30.0 - 10.0)
    // children outside the span do not count
    assert(Stats.selfTime(0, 100, Seq((100.0, 120.0), (-10.0, 0.0))) == 100.0)
    // touching children merge without double counting
    assert(Stats.selfTime(0, 10, Seq((0.0, 5.0), (5.0, 10.0))) == 0.0)
  }
}

package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentile") {
    assert(Stats.percentile(hundred, 0.5) == 50.0)
    assert(Stats.percentile(hundred, 0.9) == 90.0)
    assert(Stats.percentile(hundred, 1.0) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
  }

  test("tail level is the highest with at least ten samples beyond it") {
    // 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    assert(Stats.tailLevel(100, 0.99).contains(0.9))
    assert(Stats.tailLevel(99, 0.99).contains(0.8))
    assert(Stats.tailLevel(200, 0.99).contains(0.95))
    assert(Stats.tailLevel(1000, 0.99).contains(0.99))
    assert(Stats.tailLevel(5000, 0.99).contains(0.99))
  }

  test("tail level respects the cap and gives up below twenty samples") {
    assert(Stats.tailLevel(5000, 0.9).contains(0.9))
    assert(Stats.tailLevel(72, 0.8).contains(0.8))
    assert(Stats.tailLevel(49, 0.99).contains(0.75))
    assert(Stats.tailLevel(20, 0.99).contains(0.5))
    assert(Stats.tailLevel(19, 0.99).isEmpty)
  }

  test("every reported tail leaves ten samples beyond it") {
    (20 to 3000 by 7).foreach { n =>
      val level = Stats.tailLevel(n, 0.99).get
      assert(Stats.beyond(n, level) >= Stats.MinBeyond, s"n=$n level=$level")
    }
  }

  test("summary falls back to the median for tiny samples") {
    val s = Stats.summarize(Seq(1.0, 2.0, 3.0), 0.99)
    assert(s.tailLevel == 0.5 && s.tail == 2.0 && s.p50 == 2.0 && s.n == 3)
  }
}

package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A clock that only moves when someone sleeps or work is simulated. */
final class FakeClock extends Clock {
  var now = 1000000000L
  def nanoTime(): Long = now
  def sleepMs(ms: Long): Unit = now += ms * 1000000L
  def advanceMs(ms: Long): Unit = now += ms * 1000000L
}

class OpenLoopSpec extends AnyFunSuite {

  test("objects are offered at their due times") {
    val clock = new FakeClock
    val loop = new OpenLoop(100.0, 50, tickMs = 10, clock = clock)
    val offeredAt = scala.collection.mutable.Map[Int, Long]()
    loop.run(is => is.foreach(i => offeredAt(i) = clock.nanoTime()))
    assert(offeredAt.size == 50)
    (0 until 50).foreach { i =>
      assert(offeredAt(i) >= loop.dueNs(i))
      assert(offeredAt(i) - loop.dueNs(i) <= 10000000L, s"object $i offered late")
    }
  }

  test("a stalled consumer is charged to every object due during the stall") {
    val clock = new FakeClock
    // 100 objects/s: one due every 10 ms
    val loop = new OpenLoop(100.0, 100, tickMs = 5, clock = clock)
    var calls = 0
    loop.run { is =>
      calls += 1
      // the consumer makes each batch visible when it returns; the third
      // call stalls for 500 ms first
      if (calls == 3) clock.advanceMs(500)
      is.foreach(i => loop.visible(i, clock.nanoTime()))
    }
    assert(loop.missing == 0)
    val lat = loop.latenciesS
    // object 2 waited out the whole stall
    assert(lat(2) >= 0.5)
    // objects due during the stall are timed from their due times, so the
    // latency falls by 10 ms per object through the stall, not to zero
    (3 to 40).foreach { i =>
      assert(math.abs(lat(i) - (lat(2) - (i - 2) * 0.01)) < 1e-6, s"object $i")
    }
    // the generator itself fell behind by the stall
    assert(loop.maxLagS >= 0.49)
    // after the stall the schedule recovers
    assert(lat(99) < 0.02)
  }

  test("objects never made visible are missing, not counted") {
    val clock = new FakeClock
    val loop = new OpenLoop(50.0, 10, clock = clock)
    loop.run(is => is.filter(_ % 2 == 0).foreach(i => loop.visible(i, clock.nanoTime())))
    assert(loop.missing == 5)
    assert(loop.latenciesS.length == 5)
  }
}

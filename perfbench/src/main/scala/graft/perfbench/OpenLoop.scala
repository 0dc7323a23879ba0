package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

/** Time source, so the open-loop schedule can be tested without sleeping. */
trait Clock {
  def nanoTime(): Long
  def sleepMs(ms: Long): Unit
}

object SystemClock extends Clock {
  def nanoTime(): Long = System.nanoTime()
  def sleepMs(ms: Long): Unit = if (ms > 0) Thread.sleep(ms)
}

/** An open-loop offer schedule: object `i` is due at
  * `t0 + i / ratePerSec`, whatever the system under test is doing.
  * Latency is measured from the due time, so a stall in the consumer is
  * charged to every object that fell due during it, not only to the one
  * being handled (no coordinated omission).
  *
  * [[run]] wakes every `tickMs`, offers every object that has fallen due
  * since the last wake in one call, and stops after `count` objects. When
  * `offer` blocks, the objects that fell due meanwhile go out in the next
  * call, still timed from their own due times; [[maxLagS]] records how far
  * behind its schedule the generator itself ran.
  */
final class OpenLoop(ratePerSec: Double, count: Int, tickMs: Long = 10L,
    clock: Clock = SystemClock) {
  require(ratePerSec > 0 && count > 0)

  private val visibleNs = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var t0 = 0L
  @volatile private var lagNs = 0L

  def dueNs(i: Int): Long = t0 + (i / ratePerSec * 1e9).toLong

  /** Offers all `count` objects on schedule; returns the start time. */
  def run(offer: Seq[Int] => Unit): Long = {
    t0 = clock.nanoTime()
    var next = 0
    while (next < count) {
      val now = clock.nanoTime()
      var due = next
      while (due < count && dueNs(due) <= now) due += 1
      if (due > next) {
        lagNs = math.max(lagNs, now - dueNs(next))
        offer(next until due)
        next = due
      }
      if (next < count) {
        val wake = math.min(dueNs(next), clock.nanoTime() + tickMs * 1000000L)
        clock.sleepMs(math.max(0L, wake - clock.nanoTime() + 999999L) / 1000000L)
      }
    }
    t0
  }

  /** Records that object `i` became visible at `nowNs` (first time wins). */
  def visible(i: Int, nowNs: Long): Unit = {
    visibleNs.putIfAbsent(i, nowNs); ()
  }

  def visibleCount: Int = visibleNs.size

  /** Due → visible seconds of every visible object, in object order. */
  def latenciesS: Seq[Double] =
    (0 until count).flatMap(i => Option(visibleNs.get(i))
      .map(v => (v.longValue - dueNs(i)) / 1e9))

  /** Objects offered but never seen visible. */
  def missing: Int = count - visibleNs.size

  /** Largest delay between an object's due time and its offer. */
  def maxLagS: Double = lagNs / 1e9
}

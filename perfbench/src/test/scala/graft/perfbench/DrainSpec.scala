package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DrainSpec extends AnyFunSuite {

  test("draining waits until two consecutive polls agree") {
    val clock = new FakeClock
    // the counter is still moving on the first five polls
    val seen = Iterator(1, 3, 6, 9, 9, 12, 12, 12)
    var polls = 0
    val (v, settled) = Drain.untilStable(() => { polls += 1; seen.next() },
      pollMs = 50, maxMs = 10000, clock)
    assert(settled)
    assert(v == 9 && polls == 5)
  }

  test("a single fixed wait would have stopped early") {
    val clock = new FakeClock
    val seen = Iterator(5, 7, 7)
    val (v, _) = Drain.untilStable(() => seen.next(), 50, 10000, clock)
    assert(v == 7)
  }

  test("draining gives up at the deadline") {
    val clock = new FakeClock
    var n = 0
    val (v, settled) = Drain.untilStable(() => { n += 1; n }, 100, 1000, clock)
    assert(!settled)
    assert(v == n && n == 11)
  }

  test("the listener attributes jobs to job groups and pools") {
    val spark = SparkSession.builder().master("local[2]").appName("DrainSpec")
      .config("spark.ui.enabled", "false").config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    try {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      val tracer = new Tracer(true, spark.sparkContext)
      tracer.span("layer.a") { spark.range(1000).repartition(3).count() }
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "p1")
      tracer.span("layer.b") {
        tracer.span("layer.c") { spark.range(10).count() }
        spark.range(10).count()
      }
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      l.drained(pollMs = 100)
      val a = l.group("layer.a")
      assert(a.jobs >= 1 && a.tasks >= 3 && a.shuffleWriteBytes > 0)
      // each count() is the same job(s): the inner span's go to its own
      // group, both to the pool that was set around them
      val b0 = l.group("layer.b").jobs
      assert(b0 >= 1 && l.group("layer.c").jobs == b0)
      assert(l.pool("p1").jobs == 2 * b0)
      val spans = tracer.spans
      val self = Tracer.selfTimes(spans)
      val b = spans.find(_.name == "layer.b").get
      val c = spans.find(_.name == "layer.c").get
      assert(c.parent == b.id)
      assert(math.abs(self(b.id) - (b.durS - c.durS)) < 1e-9)
      // the enclosing job group is restored after a span
      assert(spark.sparkContext.getLocalProperty(Tracer.GroupKey) == null)
    } finally spark.stop()
  }
}

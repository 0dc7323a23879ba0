package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark work counted per key: per job group (a [[Tracer]] span name) and
  * per scheduler pool (the engine's graft-commit / graft-read /
  * graft-maintenance pools, or "default").
  */
final class LayerCounts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var schedWaitMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def copy(): LayerCounts = {
    val c = new LayerCounts
    c.jobs = jobs; c.tasks = tasks; c.runMs = runMs; c.cpuNs = cpuNs
    c.inputBytes = inputBytes; c.inputRecords = inputRecords
    c.shuffleWriteBytes = shuffleWriteBytes; c.outputBytes = outputBytes
    c.spillBytes = spillBytes; c.schedWaitMs = schedWaitMs
    c.jobIntervals ++= jobIntervals
    c
  }

  /** Wall time (ns) during which at least one of these jobs ran. */
  def jobBusyNs: Long = Tracer.unionLength(jobIntervals.toSeq)
}

/** Counts jobs, tasks, executor run and CPU time, input, shuffle-write,
  * output and spill bytes, and time tasks waited for a slot after their
  * stage was submitted, per job group and per scheduler pool.
  *
  * The listener bus delivers events asynchronously, so read the counts
  * through [[drained]], which polls until they stop changing.
  */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap[String, LayerCounts]()
  private val byPool = mutable.HashMap[String, LayerCounts]()
  private val stageKeys = mutable.HashMap[Int, (String, String)]()
  private val jobKeys = mutable.HashMap[Int, (String, String, Long)]()
  private val stageSubmitMs = mutable.HashMap[(Int, Int), Long]()
  private var events = 0L

  private def counts(m: mutable.HashMap[String, LayerCounts], k: String) =
    m.getOrElseUpdate(k, new LayerCounts)

  private def both(keys: (String, String))(f: LayerCounts => Unit): Unit = {
    f(counts(byGroup, keys._1)); f(counts(byPool, keys._2))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("none")
    val pool = props.flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
      .getOrElse("default")
    jobKeys(e.jobId) = (group, pool, e.time)
    e.stageIds.foreach(s => stageKeys(s) = (group, pool))
    both((group, pool))(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobKeys.remove(e.jobId).foreach { case (group, pool, start) =>
      both((group, pool))(_.jobIntervals += ((start * 1000000L, e.time * 1000000L)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      events += 1
      val info = e.stageInfo
      stageSubmitMs((info.stageId, info.attemptNumber())) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val keys = stageKeys.getOrElse(e.stageId, ("none", "default"))
    val m = Option(e.taskMetrics)
    val info = Option(e.taskInfo)
    val waitMs = info.flatMap(i =>
      stageSubmitMs.get((e.stageId, e.stageAttemptId))
        .map(s => math.max(0L, i.launchTime - s))).getOrElse(0L)
    both(keys) { c =>
      c.tasks += 1
      c.schedWaitMs += waitMs
      m.foreach { t =>
        c.runMs += t.executorRunTime
        c.cpuNs += t.executorCpuTime
        c.inputBytes += t.inputMetrics.bytesRead
        c.inputRecords += t.inputMetrics.recordsRead
        c.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
        c.outputBytes += t.outputMetrics.bytesWritten
        c.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    }
  }

  /** Events handled so far — the drain's progress signal. */
  def eventCount: Long = synchronized(events)

  def group(name: String): LayerCounts =
    synchronized(byGroup.get(name).map(_.copy()).getOrElse(new LayerCounts))

  def pool(name: String): LayerCounts =
    synchronized(byPool.get(name).map(_.copy()).getOrElse(new LayerCounts))

  /** Waits until the event count is the same on two polls `pollMs`
    * apart (at most `maxMs`), then returns this listener.
    */
  def drained(pollMs: Long = 100L, maxMs: Long = 10000L): LayerListener = {
    Drain.untilStable(() => eventCount, pollMs, maxMs, SystemClock)
    this
  }
}

object Drain {

  /** Polls `read` every `pollMs` until two consecutive polls agree, or
    * `maxMs` has passed; returns the last value read and whether it
    * settled.
    */
  def untilStable[T](read: () => T, pollMs: Long, maxMs: Long,
      clock: Clock): (T, Boolean) = {
    val deadline = clock.nanoTime() + maxMs * 1000000L
    var prev = read()
    var settled = false
    while (!settled && clock.nanoTime() < deadline) {
      clock.sleepMs(pollMs)
      val cur = read()
      settled = cur == prev
      prev = cur
    }
    (prev, settled)
  }
}

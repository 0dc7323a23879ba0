package graft.perfbench

/** Per-layer metrics of one traced run, from the spans of a layer (its
  * calls) and the Spark work its calls submitted (the listener's counts
  * for the job group of the same name). Every figure is per call of the
  * layer unless its name says otherwise.
  */
final class Layers(spans: Seq[Span], listener: LayerListener) {
  private val self = Tracer.selfTimes(spans)
  private val byName = spans.groupBy(_.name)

  def calls(layer: String): Int = byName.get(layer).map(_.size).getOrElse(0)

  def wallS(layer: String): Double =
    byName.get(layer).map(_.map(_.durS).sum).getOrElse(0.0)

  def counts(layer: String): LayerCounts = listener.group(layer)

  private def perCall(layer: String, total: Double): Double = {
    val n = calls(layer)
    if (n == 0) 0.0 else total / n
  }

  def selfS(layer: String): Double =
    perCall(layer, byName.getOrElse(layer, Nil).map(s => self(s.id)).sum)

  /** Wall time of the calls not covered by one of their Spark jobs:
    * planning, submission and driver-side compute.
    */
  def driverS(layer: String): Double =
    perCall(layer, math.max(0.0, wallS(layer) - counts(layer).jobBusyNs / 1e9))

  def jobs(layer: String): Double = perCall(layer, counts(layer).jobs.toDouble)

  def taskCpuS(layer: String): Double = perCall(layer, counts(layer).cpuNs / 1e9)

  def inputMb(layer: String): Double =
    perCall(layer, counts(layer).inputBytes / 1e6)

  def shuffleWriteMb(layer: String): Double =
    perCall(layer, counts(layer).shuffleWriteBytes / 1e6)

  def outputMb(layer: String): Double =
    perCall(layer, counts(layer).outputBytes / 1e6)

  /** The metrics every layer span reports, per call: self time, the
    * task-seconds its tasks waited for a slot after their stage was
    * submitted, and spill.
    */
  def common(report: Report, layer: String): Unit = {
    val c = counts(layer)
    report.layer(s"$layer.self_s", selfS(layer), "s/call")
    report.layer(s"$layer.sched_wait_s", perCall(layer, c.schedWaitMs / 1e3), "task-s/call")
    report.layer(s"$layer.spill_mb", perCall(layer, c.spillBytes / 1e6), "MB/call")
  }
}

object Layers {
  /** Seconds of a `wallNs` window not covered by any of `spans` (all of
    * which started in the window).
    */
  def unattributedS(wallNs: Long, spans: Seq[Span]): Double =
    math.max(0L, wallNs - Tracer.unionLength(spans.map(s => (s.startNs, s.endNs)))) / 1e9

  /** Layers whose spans report self time, scheduler wait and spill. */
  val Spanned: Seq[String] = Seq("vectorsearch.topk",
    "vectorsearch.ivf_search", "productworkload.write_indexed",
    "vectorsearch.build_ivf", "profilepipeline.run", "sources.local_embed",
    "streaming.commit", "streaming.prepared_read", "streaming.compact")

  /** Every per-layer metric a traced run reports, with its unit. A
    * workload that does not reach a layer reports 0 for its metrics.
    */
  val All: Seq[(String, String)] =
    Spanned.flatMap(l => Seq(s"$l.self_s" -> "s/call",
      s"$l.sched_wait_s" -> "task-s/call", s"$l.spill_mb" -> "MB/call")) ++ Seq(
      "vectorsearch.topk.driver_s" -> "s/call",
      "vectorsearch.topk.jobs" -> "jobs/call",
      "vectorsearch.topk.task_cpu_s" -> "s/call",
      "vectorsearch.topk.input_mb" -> "MB/call",
      "vectorsearch.topk.rows_per_result" -> "rows/row",
      "vectorsearch.ivf_search.driver_s" -> "s/call",
      "vectorsearch.ivf_search.jobs" -> "jobs/call",
      "vectorsearch.ivf_search.input_mb" -> "MB/call",
      "vectorsearch.ivf_search.exact_switches" -> "count",
      "vectorsearch.ivf_search.thin_support_plans" -> "count",
      "productworkload.write_indexed.task_cpu_s" -> "s/call",
      "productworkload.write_indexed.shuffle_write_mb" -> "MB/call",
      "productworkload.write_indexed.output_mb" -> "MB/call",
      "vectorsearch.build_ivf.driver_s" -> "s/call",
      "vectorsearch.build_ivf.jobs" -> "jobs/call",
      "vectorsearch.build_ivf.task_cpu_s" -> "s/call",
      "profilepipeline.run.driver_s" -> "s/call",
      "profilepipeline.run.jobs" -> "jobs/call",
      "profilepipeline.run.task_cpu_s" -> "s/call",
      "sources.local_embed_s" -> "s/commit",
      "streaming.queue_s" -> "s/object",
      "streaming.commit_s" -> "s/commit",
      "streaming.objects_per_commit" -> "objects",
      "pool.graft-commit.jobs" -> "jobs/commit",
      "streaming.prepared_read_s" -> "s/read",
      "streaming.read_fallbacks" -> "count",
      "streaming.live_deltas" -> "count",
      "streaming.compact_s" -> "s/cycle",
      "streaming.rewritten_bytes_per_user_byte" -> "ratio",
      "pool.graft-maintenance.task_run_s" -> "s",
      "jvm.gc_pause_s" -> "s",
      "jvm.gc_max_pause_s" -> "s",
      "trace.unattributed_s" -> "s",
      "trace.p50_s" -> "s",
      "trace.tail_s" -> "s",
      "trace.setup_s" -> "s")
}

package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.ProductWorkload
import graft.operators.VectorSearch
import graft.sources.ProductGen
import graft.streaming.{BucketedStore, UpsertStream}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `upsert`: single-object re-embedded upserts offered open-loop at a
  * fixed rate against a `BucketedStore`, with one closed-loop reader.
  *
  * Set-up (repeated [[SetupReps]] times, the median reported) initializes
  * the store with the producer-owned bucket layout, prepares and primes
  * the reader's `prepareTopK` handle on the 1% tier, starts
  * `UpsertStream.runDelta` (re-embedding each object driver-side through
  * `ProductGen.localRow`, bucket folds off during the window) and commits
  * three warm-up batches.
  *
  * Before the clock starts, [[WarmSeconds]] of the window's own shape run
  * untimed: objects offered open-loop at [[RatePerSec]] with the reader
  * running.
  *
  * The window offers [[RatePerSec]] new objects per second; each is timed
  * from its due time to the `onCommit` that makes it visible. The reader
  * calls `read()` back to back meanwhile. After the window, bounded
  * `compact` cycles drain the deltas, and the store is checked: row count,
  * sampled `lookup` embeddings against `ProductGen.localRow`, and a final
  * prepared read against an exact `topK` over `store.read`.
  */
object UpsertWorkload {
  val Rows = 1000L
  val Dims = 2688
  val Buckets = 8
  /** The reference's 20-QPS tier, offered at twice its rate as
    * `graft.Bench`'s `upsert_stream` tier does. Its 200/s top tier does
    * not hold the 2 s bar steadily at local[4] on a shared 4-vCPU VM: the
    * due → visible latency is set by the micro-batch cycle (~0.45 s) and
    * the L0 consolidation every eighth commit (~0.5 s more), not by the
    * rate, and both stretch with the host's steal time. At 100/s the p95
    * ranged 1.1-2.2 s over some twenty runs (one over the bar); at 40/s
    * the batches, and so the consolidations, are smaller, and it ranged
    * 0.7-1.4 s over some thirty.
    */
  val RatePerSec = 40.0
  val SetupReps = 3
  /** The p95 due → visible bar every run must meet. */
  val P95Bar = 2.0
  /** The bar's percentile: a 10 s window of 400 objects leaves ten
    * beyond p95 but not p99.
    */
  val TailCap = 0.95
  val ReadTailCap = 0.9
  val K = 100
  val WarmBatches = Seq(1, 16, 128)
  /** Untimed seconds of open-loop offers, reader running, before the
    * window. Without them the first seconds of the window committed ~30%
    * slower than the rest (code still being compiled) and the first L0
    * consolidation of `runDelta` ran cold inside the window.
    */
  val WarmSeconds = 3
  /** Keys of the untimed warm-up objects: clear of the base rows, the
    * set-up batches and the measured objects.
    */
  val WarmKeyBase = 800000000L
  val MaxDrainCycles = 64
  /** Pause between the reader's reads (closed loop: the next read starts
    * this long after the previous one returned).
    */
  val ReaderThinkMs = 10L
  val VisibleTimeoutS = 60

  /** A started store + stream + prepared reader. */
  final class Live(val dir: Path, val store: BucketedStore,
      val read: BucketedStore#PreparedTopK, val mem: MemoryStream[Long],
      val query: StreamingQuery)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val report = ctx.report
    val tier = ProductWorkload.selPreds(2)._2
    val rnd = new scala.util.Random(ctx.seed)
    val readerQuery = ProductGen.localRow((rnd.nextDouble() * Rows).toLong, Dims)
      .getSeq[Float](16).toArray
    val count = (RatePerSec * ctx.seconds).toInt
    // object i upserts the new key objBase + i
    val objBase = 100000L + (ctx.seed.abs % 1000) * 20000L

    // written by the stream thread (localMap, then onCommit, per batch)
    @volatile var loop: OpenLoop = null
    @volatile var pickupNs = 0L
    @volatile var embedEndNs = 0L
    val queueS = mutable.ArrayBuffer[Double]()
    var commits = 0
    var objectsCommitted = 0

    val embedLocal: Seq[Row] => Seq[Row] = rows => {
      pickupNs = System.nanoTime()
      val out = rows.map(r => ProductGen.localRow(r.getLong(0), Dims))
      embedEndNs = System.nanoTime()
      ctx.tracer.record("sources.local_embed", pickupNs, embedEndNs)
      out
    }
    val onCommit: (Int, Seq[Row]) => Unit = (_, rows) => {
      val now = System.nanoTime()
      val l = loop
      if (l != null) {
        ctx.tracer.record("streaming.commit", embedEndNs, now)
        commits += 1
        rows.foreach { r =>
          val i = r.getAs[String]("parent_asin").substring(1).toLong - objBase
          if (i >= 0 && i < count) {
            l.visible(i.toInt, now)
            queueS.synchronized { queueS += (pickupNs - l.dueNs(i.toInt)) / 1e9 }
            objectsCommitted += 1
          }
        }
      }
    }

    def start(rep: Int): Live = {
      val dir = ctx.work.resolve(s"upsert-$rep")
      val store = new BucketedStore(dir.resolve("store").toString, Buckets)
      val base = ProductGen.baseColumns(
        spark.range(0, Rows, 1, ctx.cores).toDF("id"))
      val full = ProductGen.withDerived(
          base.repartition(store.nBuckets, store.bucketExpr("parent_asin")), Dims)
        .select(ProductGen.schema(Dims).fieldNames.map(col).toIndexedSeq: _*)
      store.initialize(full, "parent_asin", preBucketed = true)
      val read = store.prepareTopK(spark, "embedding", readerQuery, K,
        Some(tier), projection = Seq("parent_asin"))
      read.read()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[Long]
      val query = UpsertStream.runDelta(
        mem.toDF().withColumnRenamed("value", "id"), store, "parent_asin",
        dir.resolve("checkpoint").toString, trigger = Trigger.ProcessingTime(0),
        compactEvery = Int.MaxValue,
        localMap = Some((embedLocal, ProductGen.schema(Dims))),
        onCommit = onCommit)
      var warmId = 900000000L + rep * 1000L
      WarmBatches.foreach { n =>
        mem.addData((0 until n).map { j => warmId + j }: _*)
        warmId += n
        query.processAllAvailable()
      }
      new Live(dir, store, read, mem, query)
    }

    // ---- set-up ----
    var live: Live = null
    val setupS = (0 until SetupReps).map { rep =>
      if (live != null) {
        live.query.stop()
        graft.FsUtil.deleteRecursively(live.dir)
      }
      val (started, s) = ctx.timed(start(rep))
      live = started
      s
    }
    val store = live.store
    val warmObjects = (RatePerSec * WarmSeconds).toInt
    val warmRows = WarmBatches.sum.toLong + warmObjects

    // ---- warm-up, untimed: the window's shape ----
    // the reader runs from here on; a read counts once it starts inside
    // the window, a failed read always
    val readLat = mutable.ArrayBuffer[Double]()
    @volatile var reading = true
    @volatile var measureFromNs = Long.MaxValue
    var readFailures = 0L
    val reader = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-read")
      while (reading) {
        val t0 = System.nanoTime()
        try {
          ctx.tracer.span("streaming.prepared_read") { live.read.read() }
          if (t0 >= measureFromNs) readLat += (System.nanoTime() - t0) / 1e9
          if (ReaderThinkMs > 0) Thread.sleep(ReaderThinkMs)
        } catch { case e: Exception =>
          readFailures += 1
          report.check(false, s"read threw ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()
    new OpenLoop(RatePerSec, warmObjects)
      .run(is => live.mem.addData(is.map(WarmKeyBase + _): _*))
    live.query.processAllAvailable()

    // ---- window ----
    val commitPool0 = ctx.listener.map(_.drained().pool("graft-commit"))
    val fallbacks0 = live.read.fallbackReadCount
    val l = new OpenLoop(RatePerSec, count)
    loop = l
    ctx.gc.start()
    val w0 = System.nanoTime()
    measureFromNs = w0
    l.run(is => live.mem.addData(is.map(objBase + _): _*))
    val visibleBy = System.nanoTime() + VisibleTimeoutS * 1000000000L
    while (l.visibleCount < count && System.nanoTime() < visibleBy)
      Thread.sleep(5)
    val windowNs = System.nanoTime() - w0
    reading = false
    reader.join()
    ctx.gc.stop()
    loop = null
    val liveDeltas = store.liveDeltaCount
    val fallbacks = live.read.fallbackReadCount - fallbacks0
    val commitPool1 = ctx.listener.map(_.drained().pool("graft-commit"))
    live.query.stop()

    // ---- drain ----
    val maint0 = ctx.listener.map(_.drained().pool("graft-maintenance"))
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-maintenance")
    var cycles = 0
    val (_, drainS) = ctx.timed {
      while (store.liveDeltaCount > 0 && cycles < MaxDrainCycles) {
        ctx.tracer.span("streaming.compact") {
          store.compact(spark, "parent_asin", maxBuckets = Buckets / 2)
        }
        cycles += 1
      }
    }
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    val maint1 = ctx.listener.map(_.drained().pool("graft-maintenance"))

    // ---- checks ----
    val lat = l.latenciesS
    val visible = l.visibleCount
    report.attempted = count.toLong + readLat.size + readFailures
    report.failed = l.missing.toLong + readFailures
    report.check(l.missing == 0, s"${l.missing} of $count objects never became visible")
    report.check(readLat.nonEmpty, "the reader finished no read")
    if (lat.isEmpty || readLat.isEmpty) return
    val up = Stats.summarize(lat, TailCap)
    val p95 = Stats.percentile(lat, 0.95)
    report.check(p95 <= P95Bar, f"upsert p95 $p95%.3f s exceeds the $P95Bar%.1f s bar")
    report.check(store.liveDeltaCount == 0,
      s"${store.liveDeltaCount} deltas still live after $cycles compact cycles")
    val rowsNow = store.read(spark).count()
    val rowsWant = Rows + warmRows + visible
    report.check(rowsNow == rowsWant, s"store holds $rowsNow rows, expected $rowsWant")
    val sampled = Seq.fill(3)(objBase + rnd.nextInt(count)) :+
      (rnd.nextDouble() * Rows).toLong
    sampled.foreach { id =>
      val got = store.lookup(spark, "B%09d".format(id)).collect()
      val want = ProductGen.localRow(id, Dims).getSeq[Float](16)
      report.check(got.length == 1 && got(0).getAs[Seq[Float]]("embedding") == want,
        s"lookup of $id returned ${got.length} rows or a different embedding")
    }
    // both shaped (parent_asin, score)
    def hits(rows: Array[Row]) = rows.map(r =>
      (r.getString(0), r.get(1).asInstanceOf[Number].doubleValue)).toSeq
    val prepared = hits(live.read.read())
    val exact = hits(VectorSearch.topK(store.read(spark), "embedding",
      readerQuery, K, Some(tier), projection = Seq("parent_asin")).collect())
    report.check(SearchWorkload.sameTopK(prepared, exact),
      "the final prepared read differs from an exact topK over store.read")

    val rd = Stats.summarize(readLat.toSeq, ReadTailCap)
    val setup = Stats.median(setupS)
    report.metric("p50_s", up.p50, "s")
    report.metric("tail_s", up.tail, "s")
    report.metric("setup_s", setup, "s")
    report.detail ++= Seq(
      "rows" -> Rows,
      "warmup_objects" -> warmObjects,
      "setup_reps_s" -> setupS,
      "tail_level" -> up.tailLevel,
      "objects" -> count,
      "visible" -> visible,
      "objects_per_s" -> visible / (windowNs / 1e9),
      "generator_max_lag_s" -> l.maxLagS,
      "upsert_p50_s" -> Map("value" -> up.p50, "unit" -> "s", "n" -> up.n),
      "upsert_p95_s" -> Map("value" -> p95, "unit" -> "s", "n" -> up.n),
      "upsert_read_p50_s" -> Map("value" -> rd.p50, "unit" -> "s", "n" -> rd.n),
      "upsert_read_p90_s" -> Map("value" -> rd.tail, "unit" -> "s", "n" -> rd.n,
        "level" -> rd.tailLevel),
      "upsert_drain_s" -> Map("value" -> drainS, "unit" -> "s", "cycles" -> cycles),
      "live_deltas_after_window" -> liveDeltas,
      "read_fallbacks" -> fallbacks)

    for (lsn <- ctx.listener; c0 <- commitPool0; c1 <- commitPool1;
         m0 <- maint0; m1 <- maint1) {
      val spans = ctx.tracer.spans
      val ly = new Layers(spans, lsn)
      val windowSpans = spans.filter(s => s.startNs >= w0 && s.startNs < w0 + windowNs)
      def meanDur(name: String) =
        Stats.mean(windowSpans.filter(_.name == name).map(_.durS))
      val n = math.max(commits, 1)
      report.layer("sources.local_embed_s", meanDur("sources.local_embed"), "s/commit")
      report.layer("streaming.queue_s", queueS.synchronized(Stats.mean(queueS.toSeq)), "s/object")
      report.layer("streaming.commit_s", meanDur("streaming.commit"), "s/commit")
      report.layer("streaming.objects_per_commit", objectsCommitted.toDouble / n, "objects")
      report.layer("pool.graft-commit.jobs", (c1.jobs - c0.jobs).toDouble / n, "jobs/commit")
      report.layer("streaming.prepared_read_s", Stats.mean(readLat.toSeq), "s/read")
      report.layer("streaming.read_fallbacks", fallbacks.toDouble, "count")
      report.layer("streaming.live_deltas", liveDeltas.toDouble, "count")
      report.layer("streaming.compact_s", if (cycles == 0) 0.0 else drainS / cycles, "s/cycle")
      report.layer("streaming.rewritten_bytes_per_user_byte",
        (m1.outputBytes - m0.outputBytes).toDouble /
          math.max(1L, c1.outputBytes - c0.outputBytes), "ratio")
      report.layer("pool.graft-maintenance.task_run_s", (m1.runMs - m0.runMs) / 1e3, "s")
      Seq("sources.local_embed", "streaming.prepared_read", "streaming.compact")
        .foreach(ly.common(report, _))
      report.layer("streaming.commit.self_s", meanDur("streaming.commit"), "s/call")
      report.layer("streaming.commit.sched_wait_s",
        (c1.schedWaitMs - c0.schedWaitMs) / 1e3 / n, "task-s/call")
      report.layer("streaming.commit.spill_mb",
        (c1.spillBytes - c0.spillBytes) / 1e6 / n, "MB/call")
      report.layer("jvm.gc_pause_s", ctx.gc.pauseS, "s")
      report.layer("jvm.gc_max_pause_s", ctx.gc.maxPauseS, "s")
      report.layer("trace.unattributed_s",
        Layers.unattributedS(windowNs, windowSpans), "s")
      report.layer("trace.p50_s", up.p50, "s")
      report.layer("trace.tail_s", up.tail, "s")
      report.layer("trace.setup_s", setup, "s")
    }
  }
}

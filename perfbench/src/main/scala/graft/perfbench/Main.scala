package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Int, val work: Path, val tracer: Tracer,
    val listener: Option[LayerListener], val gc: GcMonitor,
    val report: Report) {

  /** `body`'s value and its wall seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark run: `--workload search|upsert --seed N --seconds S
  * --trace 0|1 --work DIR --cores C --heap-gb H`. Writes the run's result
  * as JSON to `DIR/result.json`; `perfbench/run.py` builds the classpath,
  * sizes the JVM and prints the result.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "search" -> SearchWorkload.run,
    "upsert" -> UpsertWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    Files.createDirectories(work)

    val report = new Report
    report.detail ++= Seq("workload" -> workload, "seed" -> opt("seed").toLong,
      "seconds" -> opt("seconds").toInt, "trace" -> trace, "cores" -> cores,
      "heap_gb" -> opt("heap-gb").toInt,
      "io_probe_mb_per_s" -> ioProbeMbps(work))

    val spark = session(cores, work)
    val listener = if (trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val gc = new GcMonitor
    report.detail("spark_conf") = sparkConf(spark)
    try {
      run(new Ctx(spark, cores, opt("seed").toLong, opt("seconds").toInt,
        work, new Tracer(trace, spark.sparkContext), listener, gc, report))
      if (trace) Layers.All.foreach { case (name, unit) =>
        if (!report.layers.contains(name)) report.layer(name, 0.0, unit)
      }
    } finally {
      gc.close()
      spark.stop()
    }
    Files.writeString(work.resolve("result.json"), report.toJson(trace))
  }

  /** A local session with the engine's defaults and nothing else: no
    * environment overrides (the runner refuses to start with any set).
    */
  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    GraftSession.defaults.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
  }

  /** The session's Spark and SQL configuration, without the entries that
    * differ between two runs of one configuration (ports, ids, times,
    * per-run directories).
    */
  def sparkConf(spark: SparkSession): Map[String, String] = {
    val volatileKey = Set("spark.app.id", "spark.app.startTime",
      "spark.app.submitTime", "spark.driver.port", "spark.driver.host",
      "spark.executor.id", "spark.local.dir", "spark.sql.warehouse.dir",
      "spark.app.initial.jar.urls", "spark.repl.class.uri",
      "spark.repl.class.outputDir")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !volatileKey(k) }
      .toSeq.sortBy(_._1).toMap
  }

  /** Write-and-fsync throughput of the work directory's device, MB/s.
    * A diagnostic only: nothing is gated or retried on it.
    */
  def ioProbeMbps(work: Path): Double = {
    val f = work.resolve("io_probe.bin")
    val block = java.nio.ByteBuffer.allocate(1 << 20)
    val mb = 32
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      (0 until mb).foreach { _ => block.clear(); ch.write(block) }
      ch.force(true)
    } finally ch.close()
    val s = (System.nanoTime() - t0) / 1e9
    Files.delete(f)
    mb * 1.048576 / s
  }
}

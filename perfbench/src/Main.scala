package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.BucketState

/** State shared by a workload run: the session, its seed and time
  * budget, the tracer, and what the run reports.
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Int, val tracer: Tracer,
                val listener: Option[LayerListener], val small: Boolean) {
  def sc = spark.sparkContext
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  /** End-to-end metrics (reported with tracing off). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (reported by the traced run). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private val measureStartNs = new AtomicLong(0L)

  /** Start the timed region: spans and counters from setup are dropped. */
  def startMeasuring(): Unit = {
    phase("measure")
    tracer.spans.clear()
    listener.foreach(_.reset())
    measureStartNs.set(System.nanoTime())
  }

  /** End the timed region: later jobs (the checks) are not counted. */
  def stopMeasuring(): Unit = {
    phase("check")
    tracer.active = false
  }

  /** Log the JVM uptime at the start of a phase. */
  def phase(name: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $name")
  def elapsedS: Double = (System.nanoTime() - measureStartNs.get()) / 1e9
  def budgetLeft: Boolean = elapsedS < seconds

  /** Count one operation; a failed one is logged and counted. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  /** A correctness diff: every nonzero diff fails the run. */
  def check(name: String, diff: Long): Unit = {
    layers(s"check.$name") = layers.getOrElse(s"check.$name", 0.0) + diff
    op(diff == 0L, s"check $name: diff $diff")
  }

  /** Counters of `layer` from the listener (zeros with tracing off). */
  def counts(layer: String): (Long, Double, Double, Double) =
    listener.map { l =>
      val c = l.of(layer)
      (c.jobs.get(), c.cpuNs.get() / 1e9, c.shuffleWrite.get() / 1e6, c.spill.get() / 1e6)
    }.getOrElse((0L, 0.0, 0.0, 0.0))

  /** Setup time: JVM and session start once, then the median of
    * repeated input generations, plus the warm-up.
    */
  def setSetup(sessionS: Double, genS: Seq[Double], warmS: Double): Unit =
    e2e("setup_s") = sessionS + Stats.median(genS) + warmS

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `bucket_state` layer read from outside the program: manifests,
    * segments per bucket, referenced versions, files and bytes.
    */
  def bucketState(dirs: Seq[String]): Unit = {
    val ms = for (d <- dirs; _ <- 0 until 3) yield timed(BucketState.readManifest(spark, d))
    val segs = ms.flatMap(_._1.buckets.values.map(_.size))
    layers("bucket_state.max_segs_per_bucket") = if (segs.isEmpty) 0.0 else segs.max.toDouble
    layers("bucket_state.live_versions") =
      dirs.map(d => BucketState.readManifest(spark, d).buckets.values.flatten.toSet.size).sum.toDouble
    layers("bucket_state.manifest_read_ms_p50") = Stats.median(ms.map(_._2 * 1000))
    val du = dirs.map(Stats.du)
    layers("bucket_state.files") = du.map(_._1).sum.toDouble
    layers("bucket_state.mb") = du.map(_._2).sum / 1e6
  }

  /** Self times along the blocking path (per root span `rootName`) and
    * the tracing overhead: traced over untraced unit time.
    */
  def selfAndOverhead(rootName: String, tracedS: Seq[Double],
                      untracedS: Seq[Double]): Unit = if (tracer.on) {
    val (self, unattributed) = tracer.selfTimes(rootName)
    self.foreach { case (layer, s) => layers(s"self.${layer}_s") = s }
    layers("self.unattributed_s") = unattributed
    if (tracedS.nonEmpty && untracedS.nonEmpty)
      layers("trace.overhead_pct") =
        (Stats.median(tracedS) / Stats.median(untracedS) - 1) * 100
  }
}

/** Benchmark entry: one workload, one seed, one time budget.
  *
  * Usage: `graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <workDir> <resultFile> <spansFile> <full|small>` — `perfbench/run.py`
  * builds the classpath and calls this.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, resultFile, spansFile, size) = args
    val traced = traceS == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val tracer = new Tracer(traced, s"$workload-$seedS")
    val listener = if (traced) Some(new LayerListener(tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    // streaming jobs run under the query's run id as job group: count
    // them as the cdc_stream layer while the query runs
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        tracer.openGroup(e.runId.toString, "cdc_stream")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        tracer.closeGroup(e.runId.toString)
    })

    val run = new Run(spark, work, seedS.toLong, secondsS.toInt, tracer,
      listener, size == "small")
    workload match {
      case "cdc_catchup" => Catchup(run, sessionS)
      case "curation_drops" => Curation(run, sessionS)
      case other => sys.error(s"unknown workload $other")
    }
    run.layers("jvm.gc_s") = Stats.gcSeconds()
    run.layers("jvm.heap_peak_mb") = Stats.heapPeakMb()
    listener.foreach { _ =>
      val (jobs, cpu, _, _) = run.counts("untagged")
      run.layers("untagged.jobs") = jobs.toDouble
      run.layers("untagged.task_cpu_s") = cpu
    }
    if (traced) tracer.writeSpans(Paths.get(spansFile))
    run.phase("done")

    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
        .mkString("{", ",", "}")
    val json =
      s"""{"attempted":${run.attempted.get()},"failed":${run.failed.get()},""" +
        s""""e2e":${obj(run.e2e)},"layers":${obj(run.layers)}}"""
    Files.write(Paths.get(resultFile), json.getBytes(UTF_8))
    spark.stop()
  }
}

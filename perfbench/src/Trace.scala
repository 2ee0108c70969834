package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark side. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, run: String) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans and per-layer Spark counters for one run.
  *
  * With `on = false` every method is a pass-through: no job groups are
  * set, no listener is registered and no span is kept, so end-to-end
  * numbers are measured with tracing off.
  *
  * Job attribution: each layer call runs under a Spark job group named
  * after the layer. A job is counted for that layer only while a call of
  * that layer is open; otherwise (a pool thread that inherited a stale
  * group, the audit Future, background work) it lands in `untagged`, so
  * the totals over all layers stay complete.
  */
final class Tracer(val on: Boolean, val run: String) {
  private val seq = new AtomicLong(0L)
  private val openCalls = new ConcurrentHashMap[String, AtomicInteger]()
  private val groupLayer = new ConcurrentHashMap[String, String]()
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  val spans = new ConcurrentLinkedQueue[Span]()

  /** In a traced run, work units alternate job tagging and counting on
    * and off (spans are always kept), so the tracing overhead is the
    * traced minus the untraced unit time.
    */
  @volatile var active: Boolean = on
  def tracing: Boolean = on && active

  /** Span clock reading of an epoch-millisecond instant (for spans
    * rebuilt from Structured Streaming progress reports).
    */
  def nsOfEpochMs(ms: Long): Long = baseNs + (ms - baseEpochMs) * 1000000L

  /** Count jobs of Spark job group `group` (a streaming query's run id)
    * under `layer`, which stays open until [[closeGroup]].
    */
  def openGroup(group: String, layer: String): Unit = if (on) {
    groupLayer.put(group, layer)
    openCount(layer).incrementAndGet()
  }

  def closeGroup(group: String): Unit = if (on) {
    Option(groupLayer.get(group)).foreach(openCount(_).decrementAndGet())
  }

  /** The open layer a job of `group` is counted under, if any. */
  def layerOf(group: String): Option[String] =
    Some(groupLayer.getOrDefault(group, group)).filter(isOpen)

  private def openCount(layer: String) =
    openCalls.computeIfAbsent(layer, _ => new AtomicInteger(0))

  def isOpen(layer: String): Boolean =
    Option(openCalls.get(layer)).exists(_.get() > 0)

  def record(parent: Long, name: String, startNs: Long, endNs: Long): Long =
    if (!on) 0L
    else {
      val id = seq.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs, run))
      id
    }

  /** Run `f` as a call into `layer` (span parent `parent`), tagged with
    * the layer's job group on the calling thread. Returns the result and
    * the call's wall time in seconds (measured in both modes).
    */
  def call[T](sc: SparkContext, layer: String, parent: Long = 0L)(f: => T): (T, Double) = {
    val t = tracing
    val prev = if (t) Option(sc.getLocalProperty("spark.jobGroup.id")) else None
    if (t) {
      openCount(layer).incrementAndGet()
      sc.setJobGroup(layer, layer)
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      record(parent, layer, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally if (t) {
      prev match {
        case Some(g) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
      openCount(layer).decrementAndGet()
    }
  }

  /** A root span (unit of work on the blocking path) with a fresh id. */
  def root[T](name: String)(f: Long => T): (T, Double) = {
    val id = if (on) seq.incrementAndGet() else 0L
    val t0 = System.nanoTime()
    val r = f(id)
    val t1 = System.nanoTime()
    if (on) spans.add(Span(id, 0L, name, t0, t1, run))
    (r, (t1 - t0) / 1e9)
  }

  /** Per-layer self time along the blocking path, averaged per root span
    * named `rootName`: a span's duration minus the part of it its
    * children cover. The root's own self time is the unattributed rest.
    */
  def selfTimes(rootName: String): (Map[String, Double], Double) = {
    val all = spans.asScala.toSeq
    val roots = all.filter(s => s.parent == 0L && s.name == rootName)
    if (roots.isEmpty) return (Map.empty, 0.0)
    val byParent = all.groupBy(_.parent)
    def covered(s: Span): Double = {
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total / 1e9
    }
    val selfByLayer = scala.collection.mutable.Map.empty[String, Double]
    def walk(s: Span): Unit = byParent.getOrElse(s.id, Nil).foreach { k =>
      selfByLayer(k.name) = selfByLayer.getOrElse(k.name, 0.0) + k.durS - covered(k)
      walk(k)
    }
    roots.foreach(walk)
    val unattributed = roots.map(r => r.durS - covered(r)).sum
    (selfByLayer.toMap.map { case (k, v) => k -> v / roots.size },
      unattributed / roots.size)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-layer job, stage, task, CPU, shuffle and spill counters. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong(); val stages = new AtomicLong()
    val tasks = new AtomicLong(); val cpuNs = new AtomicLong()
    val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
  }
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  /** Stages of jobs started while tracing was paused. */
  private val Off = "\u0000off"

  def of(layer: String): Counts = counts.computeIfAbsent(layer, _ => new Counts)

  def reset(): Unit = counts.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (!tracer.active) e.stageIds.foreach(stageLayer.put(_, Off))
    else {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val layer = group.flatMap(tracer.layerOf).getOrElse("untagged")
      of(layer).jobs.incrementAndGet()
      e.stageIds.foreach(stageLayer.put(_, layer))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val layer = stageLayer.getOrDefault(e.stageInfo.stageId, "untagged")
    if (layer != Off) of(layer).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "untagged")
    if (layer == Off) return
    val c = of(layer)
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{CdcApply, Changelog}
import graft.streaming.CdcStream

/** One non-empty micro-batch as Structured Streaming reported it. */
final case class BatchProgress(batchId: Long, startMs: Long, rows: Long,
                               durMs: Map[String, Long]) {
  def d(k: String): Long = durMs.getOrElse(k, 0L)
  def endMs: Long = startMs + d("triggerExecution")
}

object BatchProgress {
  def of(q: StreamingQuery): Seq[BatchProgress] = {
    import scala.jdk.CollectionConverters._
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      BatchProgress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
    }.groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
  }
}

/** `cdc_catchup`: closed loop. Each unit is a full catch-up of a seeded
  * envelope backlog through `CdcStream.runPartitioned` (AvailableNow, two
  * files per trigger, so about five micro-batches that each touch all 64
  * buckets) into a fresh replica; units repeat until the time budget is
  * spent. After each unit the replica snapshot is read a few times.
  */
object Catchup {
  private val FilesPerTrigger = 2
  private val ReadsPerUnit = 8

  def apply(r: Run, sessionS: Double): Unit = {
    val spark = r.spark
    val nKeys = if (r.small) 2000 else 20000
    val nFiles = 10
    val gens = (0 until 3).map { i =>
      r.timed(Gen.writeBacklog(Paths.get(s"${r.work}/in$i"), r.seed, nKeys, nFiles))
    }
    val in = s"${r.work}/in0"
    val nEnv = gens.head._1.toLong
    (1 until 3).foreach(i => Stats.deleteTree(s"${r.work}/in$i"))
    // warm-up: a catch-up of the first six backlog files (three batches
    // of the timed shape; a one-batch warm-up leaves the first timed unit
    // measurably colder)
    val (_, warmS) = r.timed {
      val warmIn = java.nio.file.Files.createDirectories(Paths.get(s"${r.work}/warm-in"))
      (0 until 6).foreach { f =>
        val name = f"part-$f%05d.json"
        java.nio.file.Files.copy(Paths.get(in, name), warmIn.resolve(name))
      }
      unit(r, warmIn.toString, s"${r.work}/warm", -1)
    }
    r.setSetup(sessionS, gens.map(_._2), warmS)

    final case class UnitResult(streamS: Double, progress: Seq[BatchProgress],
                                traced: Boolean, durS: Double)
    val units = ArrayBuffer.empty[UnitResult]
    val reads = ArrayBuffer.empty[Double]
    r.startMeasuring()
    var i = 0
    while (i == 0 || r.budgetLeft || (r.tracer.on && i < 2)) {
      r.tracer.active = i % 2 == 0
      val base = s"${r.work}/it$i"
      val (startMs, endMs, progress, durS) = unit(r, in, base, i)
      units += UnitResult((endMs - startMs) / 1000.0, progress, r.tracer.active, durS)
      r.op(progress.map(_.rows).sum == nEnv,
        s"unit $i streamed ${progress.map(_.rows).sum} of $nEnv envelopes")
      (0 until ReadsPerUnit).foreach { _ =>
        val (n, s) = r.tracer.call(r.sc, "reader") {
          CdcStream.partitionedSnapshot(spark, s"$base/state").count()
        }
        reads += s * 1000
        r.op(n > 0, s"unit $i replica read returned no rows")
      }
      r.tracer.active = r.tracer.on
      i += 1
    }
    val measuredUnits = i
    r.stopMeasuring()

    // ---- correctness, outside the timed region ----------------------
    val raw = spark.read.text(in)
    val (parsed, parseS) = r.tracer.call(r.sc, "changelog") {
      Changelog.fromEnvelopeJson(raw).count()
    }
    val dead = Changelog.deadLetters(raw).count()
    r.check("parsed_envelopes", parsed - nEnv)
    r.check("dead_letters", dead)
    val (ref, foldS) = r.tracer.call(r.sc, "cdc_apply") {
      val s = CdcApply.snapshot(Changelog.fromEnvelopeJson(raw)).persist()
      s.count(); s
    }
    val refRows = ref.count()
    (0 until measuredUnits).foreach { u =>
      val base = s"${r.work}/it$u"
      val got = CdcStream.partitionedSnapshot(spark, s"$base/state")
      r.check("snapshot_diff", got.exceptAll(ref).count() + ref.exceptAll(got).count())
      r.check("audit_rows", spark.read.parquet(s"$base/audit").count() - nEnv)
    }
    ref.unpersist()

    // ---- store, from outside ----------------------------------------
    val state = s"${r.work}/it0/state"
    r.bucketState(Seq(state))
    r.e2e("store_mb") = Stats.du(state)._2 / 1e6
    (1 until measuredUnits).foreach(u => Stats.deleteTree(s"${r.work}/it$u"))

    // ---- end-to-end -------------------------------------------------
    // pooled over units: whole-window figures ride out short host stalls
    r.e2e("throughput_per_s") = nEnv * units.size / units.map(_.streamS).sum
    // a micro-batch commits when its trigger ends
    r.e2e("commit_p50_ms") =
      Stats.median(units.flatMap(_.progress).map(_.d("triggerExecution").toDouble).toSeq)
    r.e2e("read_p50_ms") = Stats.median(reads.toSeq)

    // ---- per layer --------------------------------------------------
    val ps = units.flatMap(_.progress).toSeq
    val traced = units.filter(_.traced)
    val tracedBatches = math.max(1, traced.map(_.progress.size).sum)
    r.layers("changelog.parse_s") = parseS
    r.layers("changelog.dead_letters") = dead.toDouble
    r.layers("cdc_apply.fold_s") = foldS
    r.layers("cdc_apply.snapshot_rows") = refRows.toDouble
    streamLayer(r, ps, units.size, tracedBatches)
    engineMetrics(r, ps)
    r.layers("reader.reads") = reads.size.toDouble
    r.layers("reader.jobs_per_read") = r.counts("reader")._1.toDouble /
      math.max(1, traced.size * ReadsPerUnit)
    r.selfAndOverhead("catchup", units.filter(_.traced).map(_.durS).toSeq,
      units.filterNot(_.traced).map(_.durS).toSeq)
  }

  /** One catch-up of `in` into fresh dirs under `base`: returns stream
    * start and drain (epoch ms), the batch reports and the unit time.
    */
  private def unit(r: Run, in: String, base: String, i: Int)
      : (Long, Long, Seq[BatchProgress], Double) = {
    val ((startMs, endMs, progress), durS) = r.tracer.root("catchup") { rootId =>
      val startMs = System.currentTimeMillis()
      val q = CdcStream.runPartitioned(
        CdcStream.fromFiles(r.spark, in, maxFilesPerTrigger = Some(FilesPerTrigger)),
        s"$base/audit", s"$base/state", s"$base/ckpt")
      if (!q.awaitTermination(150000L)) { q.stop(); sys.error(s"catch-up $i did not drain") }
      val endMs = System.currentTimeMillis()
      val progress = BatchProgress.of(q)
      // the foreachBatch call of each batch, placed at the end of its
      // trigger (addBatch is followed only by the offset commit)
      progress.foreach { p =>
        val end = r.tracer.nsOfEpochMs(p.endMs - p.d("commitOffsets"))
        r.tracer.record(rootId, "cdc_stream", end - p.d("addBatch") * 1000000L, end)
      }
      (startMs, endMs, progress)
    }
    (startMs, endMs, progress, durS)
  }

  /** `cdc_stream` layer metrics over all units' batches; job and
    * resource counters per traced batch.
    */
  private def streamLayer(r: Run, ps: Seq[BatchProgress], units: Int, tracedBatches: Int): Unit = {
    val (jobs, cpu, shuffle, spill) = r.counts("cdc_stream")
    r.layers("cdc_stream.batches") = ps.size.toDouble / math.max(1, units)
    r.layers("cdc_stream.rows_per_batch_p50") = Stats.median(ps.map(_.rows.toDouble))
    r.layers("cdc_stream.apply_p50_ms") = Stats.median(ps.map(_.d("addBatch").toDouble))
    r.layers("cdc_stream.apply_max_ms") =
      if (ps.isEmpty) 0.0 else ps.map(_.d("addBatch")).max.toDouble
    r.layers("cdc_stream.jobs_per_batch") = jobs.toDouble / tracedBatches
    r.layers("cdc_stream.task_cpu_s") = cpu / tracedBatches
    r.layers("cdc_stream.shuffle_write_mb") = shuffle / tracedBatches
    r.layers("cdc_stream.spill_mb") = spill / tracedBatches
  }

  /** Engine-layer metrics: the trigger's own cost next to the batch. */
  private def engineMetrics(r: Run, ps: Seq[BatchProgress]): Unit = {
    r.layers("engine.trigger_overhead_ms_p50") =
      Stats.median(ps.map(p => (p.d("triggerExecution") - p.d("addBatch")).toDouble))
    r.layers("engine.latest_offset_ms_p50") = Stats.median(ps.map(_.d("latestOffset").toDouble))
    r.layers("engine.wal_commit_ms_p50") = Stats.median(ps.map(_.d("walCommit").toDouble))
  }
}

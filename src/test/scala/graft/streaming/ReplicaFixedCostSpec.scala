package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.{CdcApply, Changelog}

/** Pins the replace-merge replica's per-batch fixed cost by counts, not
  * by time: a catch-up touching every bucket writes each bucket dir from
  * exactly one task with at most one task per core, and neither a batch's
  * state read nor a snapshot read launches a file-listing job.
  */
class ReplicaFixedCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Records job descriptions, stage task counts, and which stages write
    * output files.
    */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val ended = new ConcurrentLinkedQueue[Int]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val writing = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(e.jobId -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
        writing.add(e.stageId)
    def clear(): Unit = { jobs.clear(); stageTasks.clear(); writing.clear() }
    def listingJobs: Seq[String] =
      jobs.asScala.map(_._2).filter(_.startsWith("Listing leaf files")).toSeq
    /** Task count of every stage that wrote files. */
    def writeStageTasks: Seq[Int] = writing.asScala.toSeq.map(stageTasks.get)
  }

  /** Runs a marker job and waits until the listener has seen it end:
    * listener events are delivered in order, so every earlier event has
    * been delivered too.
    */
  private def drain(rec: Recorder): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription("drain-marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def seen = rec.jobs.asScala.collectFirst { case (id, "drain-marker") => id }
      .exists(id => rec.ended.contains(id))
    while (!seen) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(10)
    }
  }

  private def env(pos: Long, key: Int, inv: Option[Int]) = inv match {
    case Some(v) =>
      s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$v},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""
    case None =>
      s"""{"payload":{"before":{"order_id":$key,"invoice_number":0},"after":null,"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"d","ts_ms":$pos}}"""
  }

  test("all-bucket catch-up: one file per bucket dir, one write task per core, no listing job") {
    val nBuckets = 64
    val base = Files.createTempDirectory("graft-fixed-cost").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    // batch 0 inserts 4 keys per bucket; batch 1 updates or deletes every
    // key, so both batches touch all 64 buckets and batch 1 reads them all
    val keys = 0 until nBuckets * 4
    val batches = Seq(
      keys.map(k => env(k + 1L, k, Some(k * 10))),
      keys.map(k => env(1000L + k, k, if (k % 3 == 0) None else Some(k * 10 + 1))))
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(s"$in/b$i.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(now - (batches.size - i) * 60000))
    }

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      CdcStream.runPartitioned(CdcStream.fromFiles(spark, in, Some(1)),
        s"$base/audit", s"$base/state", s"$base/ckpt", nBuckets)
        .awaitTermination(120000)
      drain(rec)
      val dp = spark.sparkContext.defaultParallelism
      val batchListing = rec.listingJobs
      val writeTasks = rec.writeStageTasks
      rec.clear()

      val m = BucketState.readManifest(spark, s"$base/state")
      assert(m.fp.map(_._1).contains(2L), "both batches committed")
      assert(m.buckets.keySet === ((-1L until nBuckets.toLong).toSet))
      // every committed (version, bucket) dir holds exactly one data file
      m.buckets.foreach { case (b, vs) => vs.foreach { v =>
        val files = new java.io.File(s"$base/state/v=$v/p=$b").listFiles()
          .map(_.getName).filter(n => n.endsWith(".parquet"))
        assert(files.length === 1, s"v=$v/p=$b holds ${files.mkString(",")}")
      } }

      assert(batchListing.isEmpty, s"listing jobs during the batches: $batchListing")
      // each batch's state write (and audit write) runs at most one task
      // per core, though it fills 65 bucket dirs
      assert(writeTasks.size >= 2, s"write stages: $writeTasks")
      assert(writeTasks.forall(_ <= dp), s"write stage task counts $writeTasks over $dp")

      val snap = CdcStream.partitionedSnapshot(spark, s"$base/state")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      drain(rec)
      assert(rec.listingJobs.isEmpty, s"listing jobs during the snapshot: ${rec.listingJobs}")

      val expected = CdcApply.snapshot(Changelog.fromEnvelopeJson(
          spark.createDataset(batches.flatten)(org.apache.spark.sql.Encoders.STRING)
            .toDF("value")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(snap.size === keys.count(_ % 3 != 0))
      assert(snap === expected)
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}

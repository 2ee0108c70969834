package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{IncrementalDedup, IncrementalKeepBest, IncrementalNearDup,
  IncrementalVecIndex}

/** Every store write goes through [[BucketState.stageVersion]] and the
  * fork-free local filesystem: under a JFR recording of process starts,
  * no `chmod` is launched from a data writer or from [[BucketState]];
  * each staged write runs one task per core (AQE cannot fold it into
  * one task); each committed `p=` dir holds one parquet file; and each
  * store's empty frame, which pins its reads' schema, matches what the
  * store writes.
  */
class StoreForkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Which stages wrote files, their task counts, and the output path of
    * the SQL write each belongs to.
    */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, String)]()
    val ended = new ConcurrentLinkedQueue[Int]()
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    val stageExec = new ConcurrentHashMap[Int, Long]()
    val execOutput = new ConcurrentHashMap[Long, String]()
    val writing = ConcurrentHashMap.newKeySet[Int]()
    private val WriteTo =
      ("\\) Execute InsertIntoHadoopFsRelationCommand\\s+Input: \\[[^\\]]*\\]\\s+" +
        "Arguments: ([^,\\s]+),").r.unanchored
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      jobs.add(e.jobId -> props
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => e.stageIds.foreach(stageExec.put(_, x.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
        writing.add(e.stageId)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.physicalPlanDescription match {
          case WriteTo(path) => execOutput.put(s.executionId, path)
          case _ =>
        }
      case _ =>
    }
    /** (output path, tasks) of every stage that wrote files. */
    def writeStages: Seq[(String, Int)] = writing.asScala.toSeq.map(id =>
      Option(stageExec.get(id)).flatMap(x => Option(execOutput.get(x))).getOrElse("?") ->
        stageTasks.get(id))
  }

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

  /** A frame that belongs to a data write or to the store layer. */
  private def writerFrame(cls: String): Boolean =
    cls.startsWith("graft.streaming.BucketState") ||
      Seq("FileFormatWriter", "FileFormatDataWriter", "OutputWriter", "OutputCommitter",
        "CommitProtocol", "InsertIntoHadoopFsRelationCommand").exists(cls.contains)

  private def env(pos: Long, key: Int, inv: Int) =
    s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$inv},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""

  private def fieldTypes(schema: org.apache.spark.sql.types.StructType) =
    schema.fields.filter(_.name != "p").map(f => f.name -> f.dataType.catalogString).toMap

  test("store writes: no chmod from a writer, one task per core, one file per bucket dir") {
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable,
      "the native Hadoop library sets permissions without a child process")
    val base = Files.createTempDirectory("graft-store-fork").toString
    val nBuckets = 8
    val docs = (1L to 48L).map(i => (i, s"document ${i % 20} talks about topic ${i % 7} " +
      s"and keeps going with words ${i % 5} ${i % 3}"))
    def drop(from: Long, to: Long): DataFrame =
      docs.filter { case (i, _) => i >= from && i <= to }.toDF("doc_id", "text")
    val vecs = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val in = s"$base/cdc-in"; Files.createDirectories(Paths.get(in))
    val now = System.currentTimeMillis()
    (0 until 2).foreach { b =>
      val f = Paths.get(s"$in/b$b.json")
      Files.write(f, (0 until 64).map(k => env(b * 100L + k + 1, k, b * 1000 + k))
        .mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(now - (2 - b) * 60000))
    }

    val jfr = new Recording()
    jfr.enable("jdk.ProcessStart").withStackTrace()
    val rec = new Recorder
    jfr.start()
    spark.sparkContext.addSparkListener(rec)
    val stores = Map(
      "exact" -> s"$base/exact", "nd" -> s"$base/nd", "kb" -> s"$base/kb",
      "vec" -> s"$base/vec", "cdc" -> s"$base/cdc")
    try {
      // positive control: a plain write with the stock filesystem forks
      // chmod from a writer frame, so the recording sees what it must
      spark.range(4).write.parquet(s"$base/control")
      Seq((1L, 24L), (25L, 48L)).zipWithIndex.foreach { case ((from, to), b) =>
        IncrementalDedup.ingest(spark, stores("exact"), drop(from, to), b, nBuckets = nBuckets)
          .count()
        IncrementalNearDup.ingest(spark, stores("nd"), drop(from, to), b, nBuckets = nBuckets)
          .count()
        IncrementalKeepBest.ingest(spark, stores("kb"), drop(from, to), b, nBuckets = nBuckets)
          .count()
        IncrementalVecIndex.ingest(spark, stores("vec"),
          vecs.filter(if (b == 0) col("vec_id") <= 249 else col("vec_id") > 249), b)
      }
      CdcStream.runPartitioned(CdcStream.fromFiles(spark, in, Some(1)),
        s"$base/cdc-audit", stores("cdc"), s"$base/cdc-ckpt", nBuckets)
        .awaitTermination(120000)
      BucketState.compactConcurrent(spark, stores("exact"), IncrementalDedup.emptyIdx(spark))
      drain(rec)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      jfr.stop()
    }
    val dump = Paths.get(s"$base/forks.jfr")
    jfr.dump(dump)
    jfr.close()

    val chmods = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(_.getString("command").startsWith("chmod"))
      .map(e => e.getString("command") ->
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName))
    val fromWriters = chmods.filter(_._2.exists(writerFrame))
    assert(fromWriters.exists(_._1.contains(s"$base/control")),
      s"the recording saw no chmod of the control write: ${chmods.map(_._1).take(5)}")
    val storeForks = fromWriters.filterNot(_._1.contains(s"$base/control"))
    assert(storeForks.isEmpty,
      s"${storeForks.size} chmod launches from store writes, e.g. ${storeForks.take(3)}")

    // every staged write (into a `v=` version dir): an explicit task
    // count, one task per core
    val dp = spark.sparkContext.defaultParallelism
    assert(dp >= 2)
    val staged = rec.writeStages.filter(_._1.matches(".*/v=\\d+"))
    assert(staged.size >= 10, s"staged writes seen: $staged among ${rec.writeStages}")
    assert(staged.forall(_._2 == math.min(nBuckets, dp)), s"staged write tasks: $staged")

    // one parquet file per committed bucket dir; the store's empty frame
    // (its pinned read schema) names the types it writes
    val empties = Map(
      "exact" -> IncrementalDedup.emptyIdx(spark), "nd" -> IncrementalNearDup.emptyIdx(spark),
      "kb" -> IncrementalKeepBest.emptyIdx(spark), "vec" -> IncrementalVecIndex.emptyIdx(spark),
      "cdc" -> CdcStream.emptyState(spark))
    stores.foreach { case (name, dir0) =>
      val dir = if (name == "vec") IncrementalVecIndex.liveDir(spark, dir0) else dir0
      val m = BucketState.readManifest(spark, dir)
      assert(m.buckets.nonEmpty, name)
      m.buckets.foreach { case (b, vs) => vs.foreach { v =>
        val files = new java.io.File(s"$dir/v=$v/p=$b").listFiles()
          .map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length === 1, s"$name v=$v/p=$b holds ${files.mkString(",")}")
        assert(fieldTypes(spark.read.parquet(s"$dir/v=$v/p=$b/${files.head}").schema) ===
          fieldTypes(empties(name).schema), s"$name v=$v/p=$b")
      } }
    }
    graft.Shared.deleteDirTree(base)
  }
}

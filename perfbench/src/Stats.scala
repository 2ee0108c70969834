package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Stats {

  /** Median (mean of the middle two for an even count); 0 when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** (files, bytes) under `dir`, 0s when it does not exist. */
  def du(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try {
        val files = st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size(_: Path)).sum)
      } finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[BucketState.readBuckets]] splits a version's bucket dirs into reads
  * no larger than the session's partition-discovery threshold; the split
  * must be invisible in the result.
  */
class ReadBucketsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("readBuckets over more dirs than the discovery threshold equals one read per dir") {
    val threshold =
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val base = Files.createTempDirectory("graft-read-buckets").toString
    // v=1 holds more bucket dirs than the threshold, v=2 a second,
    // overlapping range: some buckets are referenced in both versions
    val v1 = 0L until threshold + 8L
    val v2 = threshold.toLong until 2L * threshold + 3
    def write(v: Long, buckets: Seq[Long]): Unit =
      spark.range(0, buckets.size * 3L)
        .select(col("id").cast(IntegerType).as("k"),
          (col("id") * 7 + v).cast(StringType).as("s"),
          lit(buckets.head).plus(col("id") % buckets.size).as("p"))
        .write.partitionBy("p").parquet(s"$base/v=$v")
    write(1, v1)
    write(2, v2)
    val manifest = (v1.map(_ -> 1L) ++ v2.map(_ -> 2L))
      .groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).toSet }
    assert(manifest.size > threshold)
    assert(v1.size > threshold)

    val schema = StructType(Seq(StructField("k", IntegerType), StructField("s", StringType),
      StructField("p", LongType)))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("s"), col("p").cast(LongType)).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val perDir = manifest.toSeq.flatMap { case (b, vs) => vs.toSeq.map { v =>
      spark.read.option("basePath", s"$base/v=$v").parquet(s"$base/v=$v/p=$b")
    } }.reduce(_.unionByName(_))
    val expected = rows(perDir)
    assert(expected.size === v1.size * 3 + v2.size * 3)

    assert(rows(BucketState.readBuckets(spark, base, manifest, empty)) === expected)
  }
}

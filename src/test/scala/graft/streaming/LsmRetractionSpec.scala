package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Out-of-band key retraction (GDPR takedown) against the LSM replica:
  * a pos-scoped tombstone is a PER-KEY TRUNCATE HORIZON — history at or
  * below it is erased from every read (snapshot, time travel, change
  * feed), events above it serve normally (rebirth), compaction removes
  * the rows physically and folds covered tombstones out, and a
  * tombstone pinned above the folded max survives to mask the appends
  * it still covers.
  */
class LsmRetractionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val S = CdcStream

  private def env(pos: Long, key: Int, inv: Option[Int]) = inv match {
    case Some(v) =>
      s"""{"payload":{"before":null,"after":{"order_id":$key,"invoice_number":$v},"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"c","ts_ms":$pos}}"""
    case None =>
      s"""{"payload":{"before":{"order_id":$key,"invoice_number":0},"after":null,"source":{"ts_ms":$pos,"pos":$pos,"db":"dev","table":"invoice"},"op":"d","ts_ms":$pos}}"""
  }

  private def parsed(lines: Seq[String]) = {
    import spark.implicits._
    graft.cdc.Changelog.fromEnvelopeJson(lines.toDF("value"))
  }

  private def keysDf(ks: Int*) = {
    import spark.implicits._
    ks.toDF("k")
  }

  private def snap(state: String): Map[Long, Long] =
    S.partitionedSnapshotLsm(spark, state).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap

  test("retraction erases history from snapshot, as-of, and change feed; a rebirth above the horizon serves") {
    val base = Files.createTempDirectory("graft-lsm-retr").toString
    val (state, audit) = (s"$base/state", s"$base/audit")
    S.applyLsmBatch(parsed(Seq(env(1, 1, Some(10)), env(2, 2, Some(20)),
      env(3, 3, Some(30)))), 0, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    S.applyLsmBatch(parsed(Seq(env(7, 1, Some(11)), env(8, 4, Some(40)))),
      1, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    S.retractLsmKeys(spark, state, keysDf(1, 2), throughPos = 8)
    S.applyLsmBatch(parsed(Seq(env(11, 1, Some(100)), env(12, 5, Some(50)))),
      2, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)

    // snapshot: k1 reborn ABOVE the horizon, k2 erased, others untouched
    assert(snap(state) === Map(1L -> 100L, 3L -> 30L, 4L -> 40L, 5L -> 50L))
    // time travel is masked RETROACTIVELY: at pos 8 the pre-retraction
    // images of k1/k2 existed, but erased history must not resurrect
    val at8 = S.partitionedSnapshotLsmAsOf(spark, state, 8).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap
    assert(at8 === Map(3L -> 30L, 4L -> 40L))
    val at2 = S.partitionedSnapshotLsmAsOf(spark, state, 2).count()
    assert(at2 === 0, "every pre-horizon row of the retracted keys is gone")
    // change feed: both prefix views masked — k1 reports a plain INSERT
    // (its pre-retraction life never visible), k2 reports nothing at all
    val ch = S.lsmChangesBetween(spark, state, 8, 12).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(ch === Map(1 -> "i", 5 -> "i"))
    // duplicate retraction commits are idempotent by semantics
    S.retractLsmKeys(spark, state, keysDf(1, 2), throughPos = 8)
    assert(snap(state) === Map(1L -> 100L, 3L -> 30L, 4L -> 40L, 5L -> 50L))
    graft.Shared.deleteDirTree(base)
  }

  test("compaction removes erased rows physically and keeps tombstones as the standing mask") {
    val base = Files.createTempDirectory("graft-lsm-retrc").toString
    val (state, audit) = (s"$base/state", s"$base/audit")
    S.applyLsmBatch(parsed(Seq(env(1, 1, Some(10)), env(2, 2, Some(20)),
      env(3, 3, Some(30)))), 0, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    S.applyLsmBatch(parsed(Seq(env(4, 4, Some(40)))),
      1, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    // k1's horizon sits at the current max; k2's is pinned FORWARD
    S.retractLsmKeys(spark, state, keysDf(1), throughPos = 4)
    S.retractLsmKeys(spark, state, keysDf(2), throughPos = 100)
    val before = snap(state)
    assert(before === Map(3L -> 30L, 4L -> 40L))
    S.compactLsm(spark, state, 4)
    assert(snap(state) === before, "the fold must not change the view")
    val m = BucketState.readManifest(spark, state)
    assert(m.buckets.contains(S.LsmRetractBucket),
      "tombstones survive folds — out-of-order delivery means a covered-" +
        "looking horizon can still have stragglers to mask")
    // erased rows are PHYSICALLY gone: raw read of the folded data
    // segments holds no row of either retracted key
    val raw = BucketState.readBuckets(spark, state,
        m.buckets.view.filterKeys(b => b != S.LsmRetractBucket && b != -1L).toMap,
        S.emptyState(spark).withColumn("p", org.apache.spark.sql.functions.lit(-1L)))
      .collect().map(_.getInt(0)).toSet
    assert(!raw.contains(1) && !raw.contains(2))
    // a STRAGGLER delivered after the fold, under k1's folded-away
    // horizon, is still erased — the reason tombstones persist
    S.applyLsmBatch(parsed(Seq(env(2, 1, Some(99)))),
      2, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    assert(snap(state) === before)
    // an append UNDER k2's surviving horizon stays masked; one above serves
    S.applyLsmBatch(parsed(Seq(env(50, 2, Some(222)))),
      3, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    assert(snap(state) === before)
    S.applyLsmBatch(parsed(Seq(env(150, 2, Some(223)))),
      4, audit, state, 4, graft.cdc.CdcSchema.invoiceSpec)
    assert(snap(state) === before + (2L -> 223L))
    // folds stay view-preserving with the standing mask in place, and
    // the tombstone bucket stays exactly one narrow row per taken-down
    // key (duplicates deduped to the per-key max)
    S.compactLsm(spark, state, 4)
    val m2 = BucketState.readManifest(spark, state)
    assert(m2.buckets.contains(S.LsmRetractBucket))
    assert(BucketState.readBuckets(spark, state,
        m2.buckets.view.filterKeys(_ == S.LsmRetractBucket).toMap,
        S.emptyState(spark).withColumn("p", org.apache.spark.sql.functions.lit(-1L))).count() === 2)
    assert(snap(state) === before + (2L -> 223L))
    graft.Shared.deleteDirTree(base)
  }
}

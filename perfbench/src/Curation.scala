package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFns
import graft.operators.{Dedup, IncrementalDedup, IncrementalKeepBest, IncrementalNearDup,
  IncrementalVecIndex, TextAnalysis}

/** `curation_drops`: closed loop, one drop after another. Each unit
  * ingests a seeded corpus, split into drops of ascending doc_id, into
  * four fresh stores; per drop the calls run serially:
  * `IncrementalDedup.ingest` → `IncrementalNearDup.bandRowsOf` →
  * `IncrementalNearDup.ingestWithEdges` → `IncrementalKeepBest.ingest`
  * (overlay, `edgesIn`) → `IncrementalVecIndex.ingest`. Drops are small,
  * so fixed per-drop cost dominates. After each drop the vector index
  * serves five top-k searches.
  */
object Curation {
  private val SearchesPerDrop = 5

  def apply(r: Run, sessionS: Double): Unit = {
    val spark = r.spark
    val nDocs = if (r.small) 600 else 3000
    val nDrops = 2
    val gens = (0 until 3).map { i =>
      r.timed(Gen.writeCorpus(spark, s"${r.work}/in$i", r.seed, nDocs, nDrops))
    }
    val in = s"${r.work}/in0"
    (1 until 3).foreach(i => Stats.deleteTree(s"${r.work}/in$i"))
    val qrng = new scala.util.Random(r.seed)
    val queries = Array.fill(8)(Array.fill(64)(qrng.nextGaussian()))
    // warm-up: the first drop into scratch stores; a traced run warms up
    // on a full unit, so its traced and untraced units compare without
    // a warm-up bias
    val (_, warmS) = r.timed(
      unit(r, in, if (r.tracer.on) nDrops else 1, s"${r.work}/warm", queries))
    r.setSetup(sessionS, gens.map(_._2), warmS)

    val units = ArrayBuffer.empty[UnitResult]
    r.startMeasuring()
    var i = 0
    while (i == 0 || r.budgetLeft || (r.tracer.on && i < 2)) {
      r.tracer.active = i % 2 == 0
      units += unit(r, in, nDrops, s"${r.work}/it$i", queries)
      r.tracer.active = r.tracer.on
      i += 1
    }

    r.stopMeasuring()
    // ---- correctness of the first unit's stores, outside the timed region
    val stores = s"${r.work}/it0"
    val (kbRows, vecRows) = check(r, in, stores)
    // every later unit ingested the same drops: same answers
    units.tail.foreach { u =>
      r.check("unit_repeat", (u.exactAdmitted - units.head.exactAdmitted) +
        (u.ndAdmitted - units.head.ndAdmitted) + (u.edges - units.head.edges))
    }
    val dirs = Seq("exact", "nd", "kb", "vec").map(d => s"$stores/$d")
    r.bucketState(dirs.map(d =>
      if (d.endsWith("vec")) IncrementalVecIndex.liveDir(spark, d) else d))
    r.e2e("store_mb") = dirs.map(Stats.du(_)._2).sum / 1e6
    (1 until i).foreach(u => Stats.deleteTree(s"${r.work}/it$u"))

    // ---- end-to-end -------------------------------------------------
    val drops = units.flatMap(_.dropS).toSeq
    r.e2e("throughput_per_s") = nDocs.toDouble * units.size / drops.sum
    r.e2e("commit_p50_ms") = Stats.median(drops) * 1000
    val reads = units.flatMap(_.readS).toSeq.map(_ * 1000)
    r.e2e("read_p50_ms") = Stats.median(reads)

    // ---- per layer --------------------------------------------------
    val traced = units.filter(_.traced)
    val tracedDrops = math.max(1, traced.size * nDrops)
    def layer(name: String, times: UnitResult => Seq[Double]): Unit = {
      val (jobs, _, shuffle, _) = r.counts(name)
      r.layers(s"$name.ingest_s_p50") = Stats.median(units.flatMap(times).toSeq)
      r.layers(s"$name.jobs_per_drop") = jobs.toDouble / tracedDrops
      r.layers(s"$name.shuffle_write_mb") = shuffle / tracedDrops
    }
    layer("exact", _.exactS); layer("nd", _.ndS); layer("kb", _.kbS); layer("vec", _.vecS)
    r.layers("nd.bands_s_p50") = Stats.median(units.flatMap(_.bandsS).toSeq)
    r.layers("nd.jobs_per_drop") += r.counts("nd_bands")._1.toDouble / tracedDrops
    r.layers("nd.shuffle_write_mb") += r.counts("nd_bands")._3 / tracedDrops
    val u0 = units.head
    r.layers("exact.admit_ratio") = u0.exactAdmitted.toDouble / nDocs
    r.layers("nd.admit_ratio") = u0.ndAdmitted.toDouble / u0.exactAdmitted
    r.layers("nd.edges") = u0.edges.toDouble
    r.layers("kb.snapshot_rows") = kbRows.toDouble
    r.layers("vec.rows") = vecRows.toDouble
    r.layers("reader.reads") = reads.size.toDouble
    r.layers("reader.jobs_per_read") =
      r.counts("reader")._1.toDouble / math.max(1, tracedDrops * SearchesPerDrop)
    r.selfAndOverhead("drop", traced.flatMap(_.dropS).toSeq,
      units.filterNot(_.traced).flatMap(_.dropS).toSeq)
  }

  final case class UnitResult(traced: Boolean, dropS: Seq[Double], exactS: Seq[Double],
                              bandsS: Seq[Double], ndS: Seq[Double], kbS: Seq[Double],
                              vecS: Seq[Double], readS: Seq[Double], exactAdmitted: Long,
                              ndAdmitted: Long, edges: Long)

  /** Ingest every drop of `in` into fresh stores under `base`. */
  private def unit(r: Run, in: String, nDrops: Int, base: String,
                   queries: Array[Array[Double]]): UnitResult = {
    val spark = r.spark
    val sc = r.sc
    val emb = spark.read.parquet(s"$in/corpus/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // per drop: drop, exact, bands, nd, kb and vec seconds
    val t = Array.fill(6)(ArrayBuffer.empty[Double])
    val readS = ArrayBuffer.empty[Double]
    var exactN = 0L; var ndN = 0L; var edgeN = 0L
    (0 until nDrops).foreach { b =>
      val docs = spark.read.schema(Gen.DocSchema).json(f"$in/drops/d$b%03d")
      val ((exact, ndInput, bands, admitted, seen, batch), dropS) = r.tracer.root("drop") { root =>
        val (exact, te) = r.tracer.call(sc, "exact", root) {
          IncrementalDedup.ingest(spark, s"$base/exact", docs, b)
        }
        val ndInput = docs.join(exact.select(col("doc_id")), Seq("doc_id")).persist()
        val (bands, tb) = r.tracer.call(sc, "nd_bands", root) {
          val x = IncrementalNearDup.bandRowsOf(ndInput).persist(StorageLevel.MEMORY_AND_DISK_SER)
          x.count(); x
        }
        val ((admitted, seen, batch), tn) = r.tracer.call(sc, "nd", root) {
          IncrementalNearDup.ingestWithEdges(spark, s"$base/nd", ndInput, b, bandsIn = Some(bands))
        }
        val (_, tk) = r.tracer.call(sc, "kb", root) {
          IncrementalKeepBest.ingest(spark, s"$base/kb", ndInput, b, edgesIn = Some((seen, batch)))
        }
        val (_, tv) = r.tracer.call(sc, "vec", root) {
          IncrementalVecIndex.ingest(spark, s"$base/vec",
            admitted.select(col("doc_id").as("vec_id")).join(emb, Seq("vec_id")), b)
        }
        Seq(te, tb, tn, tk, tv).zipWithIndex.foreach { case (x, k) => t(k + 1) += x }
        (exact, ndInput, bands, admitted, seen, batch)
      }
      t(0) += dropS
      System.err.println(f"[perfbench] drop $b: $dropS%.2f s")
      exactN += exact.count(); ndN += admitted.count(); edgeN += seen.count() + batch.count()
      bands.unpersist(); ndInput.unpersist(); seen.unpersist(); batch.unpersist()
      (0 until SearchesPerDrop).foreach { k =>
        val (n, s) = r.tracer.call(sc, "reader") {
          IncrementalVecIndex.searchTopk(spark, s"$base/vec", s"$in/corpus",
            queries((b * SearchesPerDrop + k) % queries.length)).count()
        }
        readS += s
        r.op(n == 10L, s"top-k search returned $n rows")
      }
      (0 until 5).foreach(_ => r.op(ok = true, ""))
    }
    UnitResult(r.tracer.active, t(0).toSeq, t(1).toSeq, t(2).toSeq, t(3).toSeq, t(4).toSeq,
      t(5).toSeq, readS.toSeq, exactN, ndN, edgeN)
  }

  /** The stores under `stores` against their one-shot equivalents over
    * the whole corpus (the `PipelineSoak` diffs without the gate,
    * decontamination and takedown stages). Returns the keep-best and
    * vector snapshot row counts.
    */
  private def check(r: Run, in: String, stores: String): (Long, Long) = {
    val spark = r.spark
    val all = spark.read.schema(Gen.DocSchema).json(s"$in/drops/d*")
    val winners = all.select(TextFns.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
    val exactGot = IncrementalDedup.snapshot(spark, s"$stores/exact")
    r.check("exact_diff",
      exactGot.exceptAll(winners).count() + winners.exceptAll(exactGot).count())

    val exactDocs = all.join(winners.select(col("doc_id")), Seq("doc_id"))
    val bands = IncrementalNearDup.bandRowsOf(exactDocs).persist()
    val maxBucket = bands.groupBy(col("band"), col("bh")).count()
      .agg(max("count")).first().getLong(0)
    // the uncapped pairwise replay equals the prefix-capped ingest only
    // while no band bucket reaches the cap
    r.op(maxBucket <= IncrementalNearDup.DefaultBucketCap,
      s"band bucket of $maxBucket docs exceeds the cap")
    def pairs(cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            cmp(col("x.doc_id"), col("y.doc_id")))
        .filter(IncrementalNearDup.nearDup(col("x.sig"), col("y.sig")))
    val rejected = pairs(_ > _).select(col("x.doc_id").as("doc_id")).distinct()
    val expected = bands.select(col("doc_id")).distinct()
      .join(rejected, Seq("doc_id"), "left_anti")
    val admitted = IncrementalNearDup.admittedSnapshot(spark, s"$stores/nd")
    r.check("pipeline_diff",
      admitted.exceptAll(expected).count() + expected.exceptAll(admitted).count())

    val kbPairs = pairs(_ < _)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
    val kbExpected = Dedup.keepBestOf(
      Dedup.clustersOf(spark, kbPairs, exactDocs.select(col("doc_id"))),
      exactDocs.select(col("doc_id"), TextAnalysis.scoreExpr(col("text")).as("score")))
    val kbGot = IncrementalKeepBest.snapshot(spark, s"$stores/kb")
    r.check("kb_diff", kbGot.exceptAll(kbExpected).count() + kbExpected.exceptAll(kbGot).count())

    val emb = spark.read.parquet(s"$in/corpus/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vecGot = IncrementalVecIndex.snapshot(spark, s"$stores/vec")
    val vecExpected = IncrementalVecIndex.encodeWithParams(spark,
      IncrementalVecIndex.readParams(spark, s"$stores/vec"),
      expected.select(col("doc_id").as("vec_id")).join(emb, Seq("vec_id")))
    r.check("vec_diff", vecGot.exceptAll(vecExpected).count() + vecExpected.exceptAll(vecGot).count())
    bands.unpersist()
    (kbGot.count(), vecGot.count())
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed, bucket-partitioned persistent state — the shared
  * durability substrate under both the CDC replica ([[CdcStream]]
  * `runPartitioned`) and incremental corpus dedup
  * (`operators.IncrementalDedup`).
  *
  * Layout: `stateDir/v=<version>/p=<bucket>/` parquet files in immutable version
  * dirs plus a `_CURRENT` manifest mapping each live bucket to the version
  * that last rewrote it. A writer stages a new version dir, then commits
  * with ONE atomic rename of `_CURRENT` — a crash before the rename leaves
  * readers on complete pre-batch state; a crash after leaves garbage dirs
  * the next batch's GC removes. The manifest also records the committing
  * batch's input fingerprint so a replay can distinguish "this exact batch
  * already committed" (idempotent no-op) from "checkpoint was reset
  * against retained state" (fail loudly).
  *
  * At 100 TB this is the point: an incremental batch touches only the
  * buckets its keys hash into, so both the pre-state read (partition-
  * pruned paths) and the rewrite (one version dir holding only touched
  * buckets) are O(batch), never O(state).
  */
private[graft] object BucketState {

  /** Parsed `_CURRENT`: bucket → version, plus the committing batch's
    * (version, input fingerprint).
    */
  final case class Manifest(buckets: Map[Long, Set[Long]], fp: Option[(Long, Long)])

  // ---- concurrent-writer coordination (in-process) -------------------
  //
  // The manifest commit is an atomic rename, but a read-modify-write of
  // it is not: two writers that both read manifest M and commit their
  // own successor lose one update. The LSM replica wants exactly that
  // concurrency — the streaming apply path appending segments while a
  // BACKGROUND compaction folds them (off the hot path) — so three
  // in-process primitives make it safe:
  //
  //  - [[manifestLock]]: one lock object per state dir; every
  //    read-manifest→commit-manifest critical section runs under it, so
  //    concurrent commits serialize and each sees the other's result.
  //  - [[reserveVersion]]: unique, monotonically-increasing physical
  //    version numbers per state dir — an apply and a compaction that
  //    both derive "max+1" from the same manifest snapshot would stage
  //    into the SAME `v=` dir and clobber each other's files.
  //  - in-flight registration (reserve/[[releaseVersion]]): a staged-but-
  //    uncommitted version dir is referenced by no manifest, so a
  //    concurrent writer's [[gcVersions]] would delete it mid-write;
  //    gcVersions transparently spares every registered in-flight
  //    version. Registrations die with the process — a crash leaves an
  //    orphan dir that the next writer's GC removes, same as before.
  //
  // Cross-process writers remain out of scope (same stance as the
  // checkpoint contract: one owning stream per state dir).

  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private val counters =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private val inFlight =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Unit]

  /** Per-state-dir lock for manifest read-modify-write sections. */
  def manifestLock(stateDir: String): Object =
    locks.getOrElseUpdate(stateDir, new Object)

  /** Reserve a physical version number ≥ `atLeast`, unique within this
    * process for `stateDir`, and register it as in-flight (spared by
    * [[gcVersions]] until [[releaseVersion]]).
    */
  def reserveVersion(stateDir: String, atLeast: Long): Long = {
    val c = counters.getOrElseUpdate(stateDir, new java.util.concurrent.atomic.AtomicLong(0L))
    var v = 0L
    var done = false
    while (!done) {
      val cur = c.get()
      v = math.max(atLeast, cur + 1)
      done = c.compareAndSet(cur, v)
    }
    inFlight.put((stateDir, v), ())
    v
  }

  /** Deregister an in-flight version (after its commit or abandonment). */
  def releaseVersion(stateDir: String, v: Long): Unit =
    inFlight.remove((stateDir, v))

  private def inFlightVersions(stateDir: String): Set[Long] =
    inFlight.keysIterator.collect { case (d, v) if d == stateDir => v }.toSet

  // ---- read leases ---------------------------------------------------
  //
  // In-flight registration protects a writer's own STAGED dir from a
  // concurrent GC; it does nothing for the version dirs a writer READS.
  // The LSM apply path never reads state, so the original concurrent
  // protocol didn't need this — but the incremental index ingests
  // (IncrementalDedup / IncrementalNearDup) anti-join each batch against
  // prior segments, and a compaction running concurrently would swap the
  // manifest and GC exactly those segment dirs while the ingest's Spark
  // jobs are still scanning their files. A read lease pins the versions
  // a writer is reading: gcVersions spares every leased version, and the
  // lease dies with release (or the process — an orphaned lease after a
  // crash costs nothing: the next process starts with an empty registry
  // and its first GC removes the then-unreferenced dirs).

  private val readLeases =
    scala.collection.concurrent.TrieMap.empty[Long, (String, Set[Long])]
  private val leaseSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pin `versions` of `stateDir` against GC until [[releaseReads]]. */
  def leaseReads(stateDir: String, versions: Set[Long]): Long = {
    val id = leaseSeq.incrementAndGet()
    readLeases.put(id, (stateDir, versions))
    id
  }

  def releaseReads(leaseId: Long): Unit = readLeases.remove(leaseId)

  /** Manifest read + read lease on every referenced version, ATOMIC with
    * respect to concurrent locked swaps/GC snapshots (all take this
    * lock): either this read sees the pre-swap manifest and its lease is
    * registered before the swap's GC snapshot can run, or it sees the
    * post-swap manifest and leases the folded version — in both orders
    * every dir the caller will read survives until [[releaseReads]].
    * A lease taken from an UNLOCKED manifest read would race the
    * snapshot and pin nothing.
    */
  def readManifestLeased(spark: SparkSession, stateDir: String): (Manifest, Long) =
    manifestLock(stateDir).synchronized {
      val m = readManifest(spark, stateDir)
      (m, leaseReads(stateDir, m.buckets.values.flatten.toSet))
    }

  private def leasedVersions(stateDir: String): Set[Long] =
    readLeases.values.collect { case (d, vs) if d == stateDir => vs }
      .foldLeft(Set.empty[Long])(_ ++ _)

  // ---- single-writer session read view --------------------------------
  //
  // The ingest hot loop re-reads the SAME immutable segments every drop:
  // at the 1M pipeline soak the near-dup band store is ~2.1M rows by
  // drop 16 and the touched-bucket parquet read dominates the guard job
  // (traced 0.9 → 3.0 s/drop) even though all but the newest segment's
  // bytes were read last drop. Segments are immutable and the manifest
  // is the single source of truth for which (version, bucket) pairs are
  // live, so the manifest IS a cache key: this view caches the store's
  // rows as persisted in-memory leaves and maintains them incrementally —
  //
  //  - manifest unchanged            → the cached frame, zero I/O;
  //  - segments APPENDED (a commit)  → read only the delta pairs, one
  //    more persisted leaf unioned on (bounded by [[MaxViewLeaves]],
  //    and folds reset it long before the bound at normal cadences);
  //  - pairs REMOVED (fold/compact)  → full reset from parquet — the
  //    folded store is exactly one segment, so the reset read is the
  //    small one.
  //
  // Exactness: the view frame is readBuckets over the same manifest —
  // identical rows, so every consumer (guards, anti-joins, masks) is
  // bit-identical with the direct read; StoreViewSpec pins it across
  // appends, folds, and retractions. Scale shape: the leaves live in
  // executor block storage (MEMORY_AND_DISK_SER), exactly an LSM block
  // cache distributed over the cluster; the per-drop read cost drops
  // from O(store) to O(batch).
  //
  // Safety contracts, in the order they bite:
  //  - SINGLE WRITER per state dir (the checkpoint contract, declared
  //    since r9): a foreign writer's commit changes the manifest, which
  //    misses the cache and resets the view — stale data is impossible,
  //    only stale MEMORY would be, and the key prevents that.
  //  - GC: each view holds a read lease on every version it references
  //    (registered under the manifest lock, like every other lease), so
  //    a concurrent fold's GC spares the dirs backing un-materialized or
  //    evicted-and-recomputing blocks; the lease moves to the new
  //    version set on every view update.
  //  - Block loss is SAFE, not fatal: leaves are persist()ed, never
  //    localCheckpoint()ed, so a lost block recomputes from the leased
  //    parquet files.
  //  - The keep-best store releases batch scratch as a tracked
  //    getPersistentRDDs DIFF; view leaves materialized inside that
  //    window must survive it, so their cached-RDD ids are registered in
  //    [[viewRddIds]] and the sweeps subtract them.
  //
  // Opt-out: spark.graft.store.readCache=false restores direct reads.

  private final class ViewLeaf(val df: DataFrame) {
    @volatile var rddIds: Set[Int] = Set.empty
  }
  private final case class StoreView(pairs: Set[(Long, Long)],
                                     frame: DataFrame,
                                     leaves: List[ViewLeaf],
                                     leaseId: Long) {
    @volatile var lastUse: Long = System.nanoTime()
  }
  private val storeViews =
    scala.collection.concurrent.TrieMap.empty[String, StoreView]
  private val viewRdds =
    scala.collection.concurrent.TrieMap.empty[Int, Unit]
  // last pair set served per dir while NOT caching: a view is only built
  // once a dir shows the streaming signature — a second read whose pairs
  // EXTEND the first's. A one-shot chunked query (two ingests, one
  // stored read) never caches, so it never pays the view's extra
  // store materialization — at the 5M-doc decade rung that
  // materialization would be the dominant new cost for zero reuse.
  // Folds seed this with the folded pairs (compact/compactConcurrent),
  // so a post-fold stream resumes caching on its first read.
  private val lastSeen =
    scala.collection.concurrent.TrieMap.empty[String, Set[(Long, Long)]]
  /** Union-tree depth bound before a full reset re-bases the view. */
  private val MaxViewLeaves = 8
  /** Live views bound — one-shot driver queries churn temp store dirs.
    * Default; override with spark.graft.store.maxViews for workloads
    * streaming into more than this many stores at once (each eviction
    * under pressure costs the victim a full O(store) re-materialization
    * on its next drop — the warning below is the signal).
    */
  private val MaxViewsDefault = 8
  private def maxViews(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.store.maxViews")
      .map(_.toInt).getOrElse(MaxViewsDefault)
  /** Recency window (ns) inside which an evicted view counts as LIVE —
    * evicting one means the cache bound is defeated, not that a stale
    * one-shot dir aged out.
    */
  private val LiveEvictionNs = 60L * 1000 * 1000 * 1000

  /** Cached-RDD ids owned by live view leaves — tracked-diff scratch
    * sweeps (IncrementalKeepBest) must spare these blocks.
    */
  def viewRddIds: Set[Int] = viewRdds.keySet.toSet

  /** Is a view live for `stateDir`? (spec visibility — the one-shot
    * chunked-query pattern must NEVER build one.)
    */
  def hasView(stateDir: String): Boolean = storeViews.contains(stateDir)

  private def releaseView(v: StoreView): Unit = {
    releaseReads(v.leaseId)
    v.leaves.foreach { l =>
      l.rddIds.foreach(viewRdds.remove)
      l.df.unpersist(blocking = false)
    }
  }

  /** Drop the cached view for `stateDir` (callers that DELETE a store
    * dir outright — temp indexes — release its pinned blocks here;
    * normal folds/commits invalidate by manifest key change instead).
    */
  def invalidateView(stateDir: String): Unit = {
    val old = manifestLock(stateDir).synchronized {
      lastSeen.remove(stateDir)
      storeViews.remove(stateDir)
    }
    old.foreach(releaseView)
  }

  /** Scheme-stripped, dot-normalized, trailing-slash-free form of a
    * state-dir string, for PREFIX MATCHING only (registration keys stay
    * raw — they key locks and leases too). Catches the `file:` URI and
    * trailing-slash variants a caller might delete under; symlink
    * aliasing is out of scope (normalization never hits the filesystem).
    * Over-matching is safe here — invalidation only drops a cache.
    */
  private def normForMatch(s: String): String = {
    val p = new org.apache.hadoop.fs.Path(s).toUri.getPath
    if (p.length > 1 && p.endsWith("/")) p.dropRight(1) else p
  }

  /** Drop every view rooted under `path` — a recursive scratch-dir
    * delete (Shared.deleteDirTree) may hold several store dirs. Sweeps
    * `lastSeen` too: dirs that only ever did direct reads (the 2-chunk
    * driver-query pattern) have a signature entry but no view, and a
    * long Verify/bench session churns thousands of such temp dirs.
    * Matching is on normalized paths (see [[normForMatch]]) so a
    * `file:` URI or trailing-slash variant of the deleted root still
    * releases the views registered under the plain form.
    */
  def invalidateViewsUnder(path: String): Unit = {
    val root = normForMatch(path)
    (storeViews.keys ++ lastSeen.keys).toList.distinct
      .filter { d =>
        val n = normForMatch(d)
        n == root || n.startsWith(root + "/")
      }
      .foreach(invalidateView)
  }

  /** Release every live view (between-query cleanup in Verify/Bench —
    * Shared.releaseTransient — so leases and leaf blocks go together).
    */
  def invalidateAllViews(): Unit =
    (storeViews.keys ++ lastSeen.keys).toList.distinct.foreach(invalidateView)

  /** The store's rows under manifest `m` as a session-cached frame (all
    * buckets, `p` column included — callers filter). Falls back to a
    * direct [[readBuckets]] when disabled. See the section comment for
    * the maintenance and safety story.
    */
  def readStoreView(spark: SparkSession, stateDir: String, m: Manifest,
                    empty: => DataFrame): DataFrame = {
    if (!spark.conf.getOption("spark.graft.store.readCache")
          .forall(_.toBoolean))
      return readBuckets(spark, stateDir, m.buckets, empty)
    val want: Set[(Long, Long)] = m.buckets.toSeq
      .flatMap { case (b, vs) => vs.map(v => (v, b)) }.toSet
    if (want.isEmpty) return empty
    var toRelease: Option[StoreView] = None
    var newLeaf: Option[ViewLeaf] = None
    val frame = manifestLock(stateDir).synchronized {
      storeViews.get(stateDir) match {
        case Some(v) if v.pairs == want =>
          v.lastUse = System.nanoTime()
          v.frame
        case None if !lastSeen.get(stateDir)
              .exists(s => s.nonEmpty && s.subsetOf(want)) =>
          // no streaming signature yet: serve direct, remember the pairs
          lastSeen.put(stateDir, want)
          return readBuckets(spark, stateDir, m.buckets, empty)
        case prev =>
          // reusable base: current pairs extend it and the union tree
          // has room; otherwise (a fold removed pairs, or depth bound)
          // full reset — release the old leaves once the swap is done
          val base = prev.filter(p =>
            p.pairs.subsetOf(want) && p.leaves.size < MaxViewLeaves)
          val delta = base.fold(want)(b => want -- b.pairs)
          val deltaManifest: Map[Long, Set[Long]] = delta.groupBy(_._2)
            .view.mapValues(_.map(_._1)).toMap
          val leaf = new ViewLeaf(
            readBuckets(spark, stateDir, deltaManifest, empty)
              // SER: a deserialized-level A/B at the 1M soak was
              // timing-neutral (3,422 vs 3,207–3,542 docs/s spread,
              // same guard trend), so the smaller footprint wins —
              // at the decade the store's leaves must share executor
              // memory with everything else
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
          val merged = base.fold(leaf.df)(_.frame.unionByName(leaf.df))
          // lease BEFORE releasing the old one: version sets overlap on
          // the append path, so the dirs stay pinned across the swap
          val lease = leaseReads(stateDir, want.map(_._1))
          prev.foreach { p =>
            if (base.isEmpty) toRelease = Some(p)
            else releaseReads(p.leaseId)
          }
          newLeaf = Some(leaf)
          val view = StoreView(want, merged,
            leaf :: base.fold(List.empty[ViewLeaf])(_.leaves), lease)
          storeViews.put(stateDir, view)
          merged
      }
    }
    toRelease.foreach(releaseView)
    // materialize the new leaf OUTSIDE the lock (seconds-long on a
    // reset; the lease already pins its files) and claim its cached-RDD
    // ids — the before/after diff brackets only this count, and a
    // foreign id raced into the window costs one spared-scratch leak,
    // never a correctness miss
    newLeaf.foreach { l =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      l.df.count()
      val ids = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      l.rddIds = ids
      ids.foreach(viewRdds.put(_, ()))
    }
    // bound live views across store dirs (temp-dir churn in the driver
    // queries): evict the least-recently-used OTHER dir, outside our
    // lock — invalidateView takes the victim's own. A victim used within
    // the live window means MORE streams than slots — the cache is being
    // defeated, every drop re-pays O(store); warn so the operator raises
    // spark.graft.store.maxViews instead of silently thrashing
    if (storeViews.size > maxViews(spark))
      storeViews.toSeq.filter(_._1 != stateDir)
        .sortBy(_._2.lastUse).headOption
        .foreach { case (dir, v) =>
          if (System.nanoTime() - v.lastUse < LiveEvictionNs)
            System.err.println(
              s"[store-view] evicting recently-used view for $dir under " +
                s"maxViews=${maxViews(spark)} pressure — more concurrently " +
                "streaming stores than view slots; raise " +
                "spark.graft.store.maxViews to avoid per-drop O(store) re-reads")
          invalidateView(dir)
        }
    frame
  }

  /** FileSystem for a path via the session's Hadoop conf — works for
    * local, HDFS, and object-store state dirs alike (java.io.File would
    * silently see "no state" on any non-local URI and discard prior state).
    */
  def hadoopFs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Layout-version guard for stores whose PHYSICAL row encoding has
    * changed across releases (e.g. the near-dup index's v1 → v2 move of
    * signatures off the band rows). The manifest records versions and
    * fingerprints but nothing about row layout, so without a marker a
    * reader silently misinterprets an old index — for the near-dup index
    * that meant an empty seen-signature set and every cross-batch
    * duplicate silently admitted. Call under the writer's lease/lock:
    * an EMPTY store is stamped with `layoutId`; a non-empty store must
    * carry a matching stamp or the read fails loudly (the store carries
    * no cross-layout durability promise — rebuild from the corpus).
    * Stamp-then-crash before the first manifest commit just re-stamps
    * the same id on replay; the write is idempotent.
    */
  def checkOrStampLayout(spark: SparkSession, stateDir: String,
                         m: Manifest, layoutId: String): Unit = {
    val fs = hadoopFs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_LAYOUT")
    // stamp via tmp + atomic rename (the manifest pattern): the earlier
    // direct create-then-write left an EMPTY stamp when a SIGKILL landed
    // between the create and the write, and every relaunch then refused
    // the store as a layout mismatch — caught by the r15 chaos soak
    // (kill 15 of 20 landed exactly in that window on the kb overlay)
    def stamp(): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/_LAYOUT.tmp")
      val out = fs.create(tmp, true)
      try out.write(layoutId.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
          spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    if (fs.exists(p)) {
      val in = fs.open(p)
      val found =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (found.isEmpty && m.buckets.isEmpty)
        // torn stamp from a pre-atomic-write release's crash window:
        // nothing committed, so re-stamping loses nothing
        stamp()
      else require(found == layoutId,
        s"state at $stateDir has layout '$found' but this reader expects " +
          s"'$layoutId' — rebuild the index; it carries no cross-layout " +
          "durability promise")
    } else if (m.buckets.nonEmpty) {
      throw new IllegalStateException(
        s"state at $stateDir has committed segments but no _LAYOUT stamp " +
          s"(written by a pre-'$layoutId' release) — rebuild the index; " +
          "it carries no cross-layout durability promise")
    } else stamp()
  }

  /** `_CURRENT` manifest: one `bucket,version` line per live SEGMENT
    * (a bucket may list several — replace-merge writers like the CDC
    * replica keep exactly one per bucket, append-only writers like the
    * dedup index accumulate one per contributing batch, LSM-style) plus
    * one `fp,version,hash` line for the committing batch. Empty = no
    * committed state.
    */
  def readManifest(spark: SparkSession, stateDir: String): Manifest = {
    val fs = hadoopFs(spark, stateDir)
    val cur = new org.apache.hadoop.fs.Path(s"$stateDir/_CURRENT")
    if (!fs.exists(cur)) Manifest(Map.empty, None)
    else {
      val in = fs.open(cur)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(_.split(",")).toSeq
        Manifest(
          lines.collect { case Array(b, v) => b.toLong -> v.toLong }
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap,
          lines.collectFirst { case Array("fp", v, h) => v.toLong -> h.toLong })
      } finally in.close()
    }
  }

  /** Order-independent fingerprint of a batch's input rows (xor of
    * per-row xxhash64, count mixed in so duplicate pairs cannot cancel to
    * an empty-batch fingerprint). Recorded in the manifest at commit and
    * required to MATCH before a replay treats the batch as already
    * applied.
    */
  def inputFingerprint(batch: DataFrame): Long = {
    val colList = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
    val r = batch.selectExpr(
      s"coalesce(bit_xor(xxhash64(struct($colList))), 0L)", "count(*)").collect()(0)
    r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 32)
  }

  /** [[inputFingerprint]] and the batch's touched-bucket set in ONE
    * action (the fingerprint formula is bit-identical — manifests
    * recorded by either path replay against the other). Incremental
    * writers need both before staging; computing them separately costs a
    * second full pass over the batch, which at micro-batch cadence is
    * pure per-commit fixed overhead.
    */
  def inputFingerprintAndBuckets(batch: DataFrame,
                                 bucketCol: org.apache.spark.sql.Column)
      : (Long, Set[Long]) = {
    import org.apache.spark.sql.functions._
    val colList = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
    val r = batch
      .select(expr(s"xxhash64(struct($colList))").as("h"), bucketCol.as("p"))
      .agg(coalesce(bit_xor(col("h")), lit(0L)), count(lit(1)),
        collect_set(col("p")))
      .collect()(0)
    (r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 32),
      r.getSeq[Long](2).toSet)
  }

  /** Check an incoming data batch against the manifest. Returns the
    * PHYSICAL version dir to stage under when the batch should proceed —
    * strictly greater than every referenced dir (so the pre-state read
    * can never touch the dir being written), and equal to the batch's
    * logical version `batchId+1` until a [[compact]] has renumbered dirs
    * past it. The last committed DATA version is the manifest's fp line
    * (which compaction preserves verbatim), falling back to the bucket
    * max for pre-fingerprint manifests (where physical == logical).
    */
  def checkBatch(m: Manifest, batchId: Long, batchFp: Long): BatchCheck = {
    val logical = batchId + 1
    val bucketMax = m.buckets.values.flatten.reduceOption(_ max _)
    val lastData = m.fp.map(_._1).orElse(bucketMax)
    lastData match {
      case Some(v) if v > logical =>
        throw new IllegalArgumentException(
          s"state manifest has committed through batch version $v but the " +
            s"stream is at batch $batchId: checkpoint and state dir must be " +
            "retained (or cleared) together")
      case Some(v) if v == logical =>
        // Replay of an ALREADY-COMMITTED batch (crash landed between the
        // manifest rename and the checkpoint commit). "Committed at my
        // version" alone is ambiguous when exactly one batch had
        // committed: a reset checkpoint over retained state produces the
        // same picture with POSSIBLY DIFFERENT DATA, and a silent no-op
        // would lose those events forever — require the recorded input
        // fingerprint to match.
        require(m.fp.contains(logical -> batchFp),
          s"state manifest already references batch version $logical but its " +
            s"recorded input fingerprint ${m.fp.fold(
              "(none — manifest predates fingerprints)")(_.toString())} " +
            s"does not match this batch's ($logical,$batchFp): the checkpoint " +
            "appears to have been reset against a retained state dir — retain " +
            "(or clear) both together")
        AlreadyCommitted
      case _ =>
        Proceed(math.max(bucketMax.getOrElse(0L) + 1, logical))
    }
  }

  sealed trait BatchCheck
  case object AlreadyCommitted extends BatchCheck
  final case class Proceed(physicalVersion: Long) extends BatchCheck

  def commitManifest(spark: SparkSession, stateDir: String,
                     manifest: Map[Long, Set[Long]],
                     fp: Option[(Long, Long)]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/_CURRENT.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$stateDir/_CURRENT")
    val fs = hadoopFs(spark, stateDir)
    val out = fs.create(tmp, true)
    try out.write(
      (manifest.toSeq.flatMap { case (b, vs) => vs.map(b -> _) }.sorted
        .map { case (b, v) => s"$b,$v" }
        ++ fp.map { case (v, h) => s"fp,$v,$h" }).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // FileContext.rename(OVERWRITE) is the atomic-replace primitive
    // (plain FileSystem.rename won't clobber on local/HDFS). On stores
    // without atomic rename the deployment pins the manifest elsewhere.
    org.apache.hadoop.fs.FileContext.getFileContext(cur.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Union of each referenced segment's bucket dirs, partition-pruned:
    * group the (bucket → segment versions) map by version, one pruned
    * read per referenced version (bounded by segments-per-bucket ×
    * nBuckets; replace-merge writers keep 1-2 versions live, append
    * writers as many as batches since the last [[compact]]). `empty`
    * supplies the schema-correct zero-state (must already carry the `p`
    * column).
    */
  /** `readSchema`, when given, pins every per-version read to an EXPLICIT
    * schema (it must include the `p` partition column): parquet null-fills
    * requested fields a file lacks, so version dirs written under an
    * OLDER, narrower image struct (pre-ADD-COLUMN) read back widened —
    * schema evolution over at-rest state without rewriting untouched
    * buckets. Without it the per-version schemas are inferred (and must
    * agree), the pre-evolution behavior.
    *
    * Each version's dirs are read in groups no larger than the session's
    * `parallelPartitionDiscovery.threshold`: one `parquet(...)` call over
    * more paths than that launches a Spark listing job (one task per
    * dir), which at 64 buckets cost more than the read it served. Below
    * the threshold the dirs are listed serially on the driver — cheap
    * because the paths are known leaf dirs, never a scan of the whole
    * state root. Without `readSchema` only a version's first group infers
    * its schema (one footer job, as before); the rest reuse it.
    */
  def readBuckets(spark: SparkSession, stateDir: String,
                  manifest: Map[Long, Set[Long]], empty: => DataFrame,
                  readSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val pairs = manifest.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }
    if (pairs.isEmpty) return empty
    val group = math.max(1,
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    pairs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (v, entries) =>
      def read(schema: Option[org.apache.spark.sql.types.StructType], bs: Seq[Long]) = {
        val reader = spark.read.option("basePath", s"$stateDir/v=$v")
        schema.fold(reader)(reader.schema)
          .parquet(bs.map(b => s"$stateDir/v=$v/p=$b"): _*)
      }
      val groups = entries.map(_._2).sorted.grouped(group).toSeq
      val first = read(readSchema, groups.head)
      first +: groups.tail.map(read(Some(readSchema.getOrElse(first.schema)), _))
    }.reduce(_.unionByName(_))
  }

  // ---- per-batch answer files staged inside the segment write ---------
  //
  // Every incremental index commits TWO durable artifacts per batch: the
  // segment (bucket rows, folded away by compaction) and the batch's
  // ANSWER (survivors / admitted / members — immutable per-batch files a
  // replay returns and snapshots union). Writing them as two Spark jobs
  // doubled the per-batch job count for what is one logical write; the
  // answer rows now ride the SAME repartition+partitionBy job under the
  // reserved bucket below, and [[claimAnswer]] renames that partition
  // dir to its durable per-batch location BEFORE the manifest commit.
  // Crash story unchanged: the manifest rename stays the only commit
  // point, a crashed attempt's half-staged answer dir is overwritten by
  // the replay (same per-batch path), and the orphan version dir is
  // GC'd. The bucket number collides with nothing: data buckets are
  // non-negative, tombstones are -1.

  /** Reserved staging bucket for a batch's answer rows. */
  val AnswerBucket = -2L

  /** Move the staged answer partition out of `versionDir` to `destDir`.
    * An absent partition (empty answer — every batch row rejected) writes
    * an empty-but-readable parquet dir with `emptySchema` instead, so
    * per-batch readers and glob unions over the answer root stay
    * schema-stable.
    */
  def claimAnswer(spark: SparkSession, versionDir: String, destDir: String,
                  emptySchema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = hadoopFs(spark, destDir)
    val dest = new org.apache.hadoop.fs.Path(destDir)
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) fs.delete(dest, true) // crashed prior attempt
    val src = new org.apache.hadoop.fs.Path(s"$versionDir/p=$AnswerBucket")
    // Hadoop rename reports some failures as FALSE, not an exception —
    // a silently-unclaimed answer partition would then be committed as a
    // data bucket (p=-2 in the manifest) AND the per-batch answer would
    // never exist; fail the batch loudly instead (the staged version dir
    // is uncommitted, so the replay re-stages everything)
    if (fs.exists(src)) {
      require(fs.rename(src, dest),
        s"failed to claim staged answer $src -> $dest (rename returned false)")
    }
    else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
      .write.mode("overwrite").parquet(destDir)
  }

  /** Buckets actually present under one version dir. */
  def listBuckets(spark: SparkSession, versionDir: String): Seq[Long] = {
    val fs = hadoopFs(spark, versionDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(versionDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p="))
      .map(_.getPath.getName.stripPrefix("p=").toLong)
  }

  /** Compact a bucket-state dir: rewrite every live bucket into ONE fresh
    * version dir and repoint the whole manifest at it. After many
    * incremental batches the manifest references many versions (one
    * pruned read per referenced version on every lookup, and each
    * version dir holds small files); compaction restores one-dir state
    * with the same atomic-rename commit — readers switch from the old
    * manifest to the new in one rename, and the superseded dirs are
    * GC'd after. The version number advances past everything referenced
    * so an in-flight writer's stale-manifest guard still holds.
    * Preserves the recorded (version, fingerprint) pair so a crash-replay
    * of the LAST data batch still recognizes itself after a compaction.
    *
    * Single-writer contract (same as the data path): run compaction in a
    * maintenance window or from the owning stream's thread — a writer
    * that read the manifest BEFORE a concurrent compaction committed
    * would stage against superseded dirs and clobber the compaction at
    * its own commit.
    */
  /** `resolve` (both compaction forms): a store-supplied fold applied to
    * the unioned rows before the rewrite — identity by default (plain
    * union stores), a tombstone fold for stores with retraction
    * ([[graft.operators.Retraction]]): masked data rows AND the
    * tombstones masking them drop together, which is sound because a
    * tombstone can never mask a FUTURE row (ingestion is ascending and
    * tombstones name already-ingested ids), so once the fold has
    * applied a tombstone to every stored row, nothing it could ever
    * mask remains — including under compactConcurrent's mid-fold late
    * segments (late data ids are above the tombstone's; a late
    * RETRACTION segment survives the swap verbatim and folds next
    * time). `resolve` must preserve the `p` column and must not move
    * rows across buckets.
    */
  def compact(spark: SparkSession, stateDir: String,
              resolve: DataFrame => DataFrame = identity): Unit = {
    val m = readManifest(spark, stateDir)
    if (m.buckets.isEmpty) return
    val newVersion = m.buckets.values.flatten.max + 1
    val all = resolve(readBuckets(spark, stateDir, m.buckets,
      // non-empty manifest ⇒ the empty fallback is never consulted
      sys.error("unreachable")))
    all.repartition(org.apache.spark.sql.functions.col("p"))
      .write.mode("overwrite").partitionBy("p")
      .parquet(s"$stateDir/v=$newVersion")
    val next = listBuckets(spark, s"$stateDir/v=$newVersion")
      .map(_ -> Set(newVersion)).toMap
    commitManifest(spark, stateDir, next, m.fp)
    // the session view is stale by key after the fold (its pairs were
    // just superseded) — retire it NOW so its lease doesn't defer the
    // GC below, and seed the streaming signature with the folded pairs
    // so a live stream resumes caching on its first post-fold read
    invalidateView(stateDir)
    lastSeen.put(stateDir,
      next.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }.toSet)
    markGcDirty(stateDir) // superseded dirs exist until the sweep below
    gcVersions(spark, stateDir)
  }

  /** [[compact]] made safe to run CONCURRENTLY with append-only locked
    * writers — the index analog of the CDC replica's `compactLsm`, for
    * state whose resolution is a plain union (the incremental dedup and
    * near-dup indexes: segments are disjoint row appends, so
    * union(folded ∪ late) ≡ union(old ∪ late) trivially and the
    * segment-preserving swap argument carries over verbatim). The fold
    * reads a manifest SNAPSHOT outside any lock and rewrites every
    * referenced row into one reserved version dir; the swap runs under
    * the manifest lock against a FRESH read, replacing only the segments
    * it actually folded — segments a concurrent locked ingest appended
    * mid-fold survive verbatim, and the replay fingerprint is taken from
    * the fresh read so a concurrent batch's progress record is
    * preserved. The snapshot's dirs can't be GC'd mid-fold: they stay
    * manifest-referenced until this very swap (concurrent ingests only
    * ADD segments), and at most one compaction runs per dir (callers
    * gate with their own in-flight flag). `beforeSwap` is a test seam.
    *
    * Concurrent-writer requirement: every writer of `stateDir` must
    * commit via a locked fresh-read merge (the `applyLsmBatch` pattern)
    * and read prior state under a [[readManifestLeased]] lease —
    * an unlocked read-modify-write commit would clobber this swap, and
    * an unleased read would race the post-swap GC.
    */
  def compactConcurrent(spark: SparkSession, stateDir: String,
                        beforeSwap: () => Unit = () => (),
                        resolve: DataFrame => DataFrame = identity): Unit = {
    import org.apache.spark.sql.functions.col
    val m = readManifest(spark, stateDir)
    if (m.buckets.isEmpty) return
    val newVersion = reserveVersion(stateDir, m.buckets.values.flatten.max + 1)
    try {
      resolve(readBuckets(spark, stateDir, m.buckets,
          sys.error("unreachable — manifest non-empty")))
        .repartition(col("p"))
        .write.mode("overwrite").partitionBy("p")
        .parquet(s"$stateDir/v=$newVersion")
      val outBuckets = listBuckets(spark, s"$stateDir/v=$newVersion").toSet
      beforeSwap()
      val merged = manifestLock(stateDir).synchronized {
        val mNow = readManifest(spark, stateDir)
        val out = (mNow.buckets.keySet ++ outBuckets).flatMap { b =>
          val late = mNow.buckets.getOrElse(b, Set.empty[Long]) --
            m.buckets.getOrElse(b, Set.empty[Long])
          val segs = late ++
            (if (outBuckets.contains(b)) Set(newVersion) else Set.empty[Long])
          if (segs.isEmpty) None else Some(b -> segs)
        }.toMap
        commitManifest(spark, stateDir, out, mNow.fp)
        out
      }
      // retire the (now stale-by-key) session view so its lease doesn't
      // defer the sweep, and seed the streaming signature with the
      // folded pairs so the live stream resumes caching on its first
      // post-fold read; a concurrent ingest mid-read is safe — blocks
      // recompute from files its OWN lease still pins
      invalidateView(stateDir)
      lastSeen.put(stateDir, merged.toSeq
        .flatMap { case (b, vs) => vs.map(v => (v, b)) }.toSet)
      markGcDirty(stateDir) // superseded dirs exist until the sweep below
      gcVersions(spark, stateDir)
    } finally releaseVersion(stateDir, newVersion)
  }

  private val compactingFlags =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]

  /** Is a background [[compactConcurrent]] running for `stateDir`?
    * (Soak/spec visibility — the data path never needs to ask.)
    */
  def compactionInFlight(stateDir: String): Boolean =
    compactingFlags.get(stateDir).exists(_.get())

  /** Run [[compactConcurrent]] now (sync) or on a background daemon
    * thread (async, at most one in flight per state dir — a trip while
    * one is running is a no-op; the running fold will observe the extra
    * segments on its next trip). Same dispatch contract as the CDC
    * replica's `maybeCompact`.
    */
  def maybeCompactConcurrent(spark: SparkSession, stateDir: String,
                             async: Boolean,
                             resolve: DataFrame => DataFrame = identity): Unit =
    if (!async) compactConcurrent(spark, stateDir, resolve = resolve)
    else {
      val flag = compactingFlags.getOrElseUpdate(
        stateDir, new java.util.concurrent.atomic.AtomicBoolean(false))
      if (flag.compareAndSet(false, true)) {
        val t = new Thread(() => {
          try compactConcurrent(spark, stateDir, resolve = resolve)
          catch {
            case e: Throwable =>
              System.err.println(s"[index] background compaction failed: ${e.getMessage}")
          } finally flag.set(false)
        }, s"index-compact-${stateDir.hashCode}")
        t.setDaemon(true)
        t.start()
      }
    }

  /** Delete `v=` dirs no manifest entry references anymore. The live set
    * is derived from a FRESH manifest read under the per-dir manifest
    * lock — never passed in by the caller. A caller-supplied set is a
    * race: a concurrent writer that commits its version AND releases its
    * in-flight registration in the window between the caller's own
    * commit and this GC would have its manifest-referenced dir in
    * neither the caller's (stale) live set nor the in-flight registry,
    * and the GC would delete committed data.
    * In-flight (reserved, not yet committed) versions are still spared —
    * a concurrent writer's staged dir is invisible to the manifest but
    * must survive until its own commit or abandonment.
    *
    * Only the SNAPSHOT (manifest read + dir listing) holds the lock; the
    * recursive deletes run outside it, so a concurrent locked commit (the
    * LSM apply path, compactLsm) never waits behind filesystem deletes —
    * on an object store with many dead version dirs that wait would land
    * directly on the sub-second commit latency the LSM path exists for.
    * Deleting outside the lock is safe because doomed-ness is stable: a
    * version dead at snapshot time (absent from the manifest AND the
    * in-flight registry) can never become live again — [[reserveVersion]]
    * hands out monotonically-increasing, never-reused numbers and every
    * writer registers its version in-flight BEFORE staging a byte, so no
    * later commit can reference a number that was already dead.
    * Unlocked commit paths (`runPartitioned`, `IncrementalDedup`,
    * [[compact]]) are protected not by this lock but by their documented
    * single-writer contract: they never run concurrently with anything
    * that could GC their dirs.
    */
  def gcVersions(spark: SparkSession, stateDir: String): Unit = {
    val doomed = manifestLock(stateDir).synchronized {
      val live = readManifest(spark, stateDir).buckets.values.flatten.toSet
      val hard = live ++ inFlightVersions(stateDir)
      val leased = leasedVersions(stateDir)
      val fs = hadoopFs(spark, stateDir)
      val dead = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filterNot(s => hard.contains(s.getPath.getName.stripPrefix("v=").toLong))
      // dirty-state bookkeeping for gcVersionsIfDirty, INSIDE the lock: a
      // lease-spared dead dir means work remains (some later GC must
      // retry); a clean sweep means hot-path callers can skip their GC
      // until a fold dirties the dir again. Written under the lock so a
      // concurrent fold's markGcDirty (which supersedes dirs only via a
      // locked commit) can never be clobbered by a stale put
      if (dead.exists(s =>
          leased.contains(s.getPath.getName.stripPrefix("v=").toLong)))
        gcClean.remove(stateDir)
      else gcClean.put(stateDir, ())
      dead.filterNot(s =>
          leased.contains(s.getPath.getName.stripPrefix("v=").toLong))
        .map(_.getPath)
    }
    val fs = hadoopFs(spark, stateDir)
    // the clean flag above was written on the assumption these deletes
    // succeed; if any fails (FALSE return or exception — transient FS
    // errors on object stores), the orphan dirs remain on disk and
    // gcVersionsIfDirty would skip every later sweep until a fold
    // re-dirtied the dir — re-dirty it ourselves so the next pass
    // retries. markGcDirty only removes the flag, so it can never
    // clobber a concurrent fold's own dirtying.
    val allDeleted = doomed.forall { p =>
      try fs.delete(p, true)
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[gc] failed to delete $p: ${e.getMessage}")
          false
      }
    }
    if (!allDeleted) markGcDirty(stateDir)
  }

  // ---- conditional GC for the ingest hot path -------------------------
  // An APPEND-ONLY ingest never supersedes a version dir, so its
  // end-of-batch gcVersions finds garbage only when (a) a fold completed
  // mid-ingest and this ingest's own lease spared the folded dirs, or
  // (b) a prior process crashed mid-stage. Both are rare next to the
  // per-drop cadence, and the unconditional GC costs a locked manifest
  // read + a full dir listing per batch per store. `gcClean` tracks
  // "the last GC swept everything" per state dir; folds clear it when
  // they supersede dirs, and a fresh process starts with it empty so the
  // first call always does a real sweep (covering crash orphans).
  private val gcClean =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Mark `stateDir` as needing a GC pass (folds call this when they
    * supersede version dirs).
    */
  def markGcDirty(stateDir: String): Unit = gcClean.remove(stateDir)

  /** [[gcVersions]] unless the dir is known-clean: the last sweep
    * deleted everything dead, and no fold has superseded dirs since.
    */
  def gcVersionsIfDirty(spark: SparkSession, stateDir: String): Unit =
    if (!gcClean.contains(stateDir)) gcVersions(spark, stateDir)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{CdcApply, CdcSchema, Changelog}

/** The live CDC path: Structured Streaming over the envelope stream,
  * sharing every transformation with the batch replay (SURVEY.md §3 —
  * "batch-mode replay over the changelog = same code path").
  *
  * Topology (mirrors `/root/reference/kafka-consumer-service/main.py:34-93`):
  *
  *   source (kafka / files) ──► tombstone filter ──► narrow from_json
  *        ├──► audit sink: every non-tombstone envelope, appended raw
  *        │    (reference `main.py:44-45` — the event-sourcing log)
  *        └──► foreachBatch: incremental keyed merge into replica state
  *
  * In production the source is `format("kafka")` with
  * `subscribe=source.dev.invoice` (reference `main.py:25-29`); tests use the
  * file source with the same value-column contract, which exercises an
  * identical plan. Exactly-once: the merge is idempotent (max-pos-per-key
  * over a monotonic binlog position), so at-least-once redelivery and
  * micro-batch replay after checkpoint recovery converge to the same state.
  */
object CdcStream {

  /** Per-key typed state for [[typedLatestPerKey]]: latest position and
    * after-image (None = delete marker, kept for idempotent re-merge).
    */
  final case class KeyState(pos: Long, after: Option[CdcSchema.Invoice])

  /** State/snapshot schema: one row per key — the latest event's position
    * and after-image (null after = tombstone marker kept for idempotent
    * re-merge), plus one `key IS NULL` row carrying the truncate horizon.
    */

  /** Kafka ingress (production): value bytes → normalized changelog.
    *
    * Environment boundary: the sandbox ships neither the
    * `spark-sql-kafka` connector nor any broker, so this source cannot be
    * exercised end-to-end here (no jar, no egress — `format("kafka")`
    * would not even resolve). The tested boundary is
    * [[fromKafkaRelation]]: everything after `.load()` is a pure function
    * over the connector's documented output relation (key/value binary,
    * topic, partition, offset, timestamp, timestampType), and
    * KafkaContractSpec drives it with exactly that schema — tombstones,
    * golden envelopes, and the record-timestamp conversion included.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    fromKafkaRelation(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest") // reference main.py:27 auto_offset_reset
      .load())

  /** Kafka source relation → normalized changelog (value bytes cast to
    * string, record timestamp to epoch-ms for the audit log — reference
    * `main.py:35` pairs each message with its Kafka ingest timestamp).
    */
  def fromKafkaRelation(raw: DataFrame): DataFrame = {
    // unix_millis is an exact integer conversion; a double round-trip
    // (cast(ts as double) * 1000) can land 1ms low when the double
    // representation of the epoch rounds down, making the audit log
    // disagree with the Kafka record timestamp
    val vals = raw.select(col("value").cast("string").as("value"),
      unix_millis(col("timestamp")).as("kafka_ts"))
    Changelog.fromEnvelopeJson(vals, "value", Some("kafka_ts"))
  }

  /** File ingress (tests / replay): one envelope JSON per line.
    * `maxFilesPerTrigger` bounds each micro-batch (AvailableNow otherwise
    * swallows the whole backlog in one batch — fine for replay, but
    * incremental-merge behavior only shows under multiple batches).
    */
  def fromFiles(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    val withOpt = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    Changelog.fromEnvelopeJson(
      withOpt.text(dir).withColumnRenamed("value", "raw"), "raw")
  }

  /** Audit-log projection of the raw stream — every non-tombstone message,
    * truncates included, re-serialized (reference P4: `to_json` of the
    * payload paired with the ingest timestamp).
    */
  def auditProjection(changelog: DataFrame): DataFrame =
    changelog.select(
      col("ts_ms").as("timestamp"),
      to_json(struct(col("pos"), col("op"), col("before"), col("after"))).as("kafka_message"))

  /** One incremental merge step: fold a micro-batch of changelog events
    * into the keyed state. Pure (DataFrame → DataFrame), so it is unit-
    * testable and usable from `foreachBatch` verbatim.
    *
    * Semantics: new truncate horizon = max(old, batch's); rows (state and
    * batch alike) at or below the horizon are erased; survivors resolve by
    * max pos per key. Delete markers stay in state so a late-redelivered
    * older event cannot resurrect a deleted key — which makes the step
    * idempotent and insensitive to batch boundaries (proven by
    * CdcPropertySpec: any split of the changelog folds to the same state).
    */
  /** Optional knobs of [[mergeBatch]]:
    *
    * `tombstoneGcBelow` — tombstone GC: delete markers whose pos is below
    * the given watermark are dropped from the merged state. Without GC the
    * marker set grows monotonically with every key ever deleted — at scale
    * it eventually dominates the state. The caller supplies a redelivery
    * watermark (a position at-or-below which the source can no longer
    * redeliver, e.g. the committed checkpoint offset minus the broker's
    * max redelivery window); GC'ing above that watermark re-opens the
    * resurrection window idempotency closes, so the default keeps all
    * markers.
    *
    * `spec` — the table shape (like `CdcApply.snapshotFor`): key column
    * read from the spec, image type inferred from the batch's `after`
    * column, so the same fold maintains any table.
    */
  def mergeBatch(state: DataFrame, batch: DataFrame,
                 tombstoneGcBelow: Option[Long] = None,
                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec): DataFrame = {
    val imageType = batch.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val keyType = imageType(spec.key).dataType
    val newHorizon = batch
      .filter(col("before").isNull && col("after").isNull)
      .agg(coalesce(max(col("pos")), lit(Long.MinValue)).as("bh"))
    val oldHorizon = state
      .filter(col("key").isNull)
      .agg(coalesce(max(col("pos")), lit(Long.MinValue)).as("sh"))
    val horizon = broadcast(
      newHorizon.crossJoin(oldHorizon)
        .select(greatest(col("bh"), col("sh")).as("h")))

    val batchEvents = batch
      .filter(!(col("before").isNull && col("after").isNull))
      .select(
        coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}")).as("key"),
        col("pos"), col("after"))
      // key IS NULL is reserved for the horizon row; the ingress gate
      // (Changelog.isValidEnvelope) already rejects keyless events, this
      // keeps a hand-built batch from poisoning the horizon
      .filter(col("key").isNotNull)
    val stateEvents = state.filter(col("key").isNotNull)
      .select(col("key"), col("pos"), col("after"))

    val merged = stateEvents.unionByName(batchEvents)
      .crossJoin(horizon)
      .filter(col("pos") > col("h"))
      .groupBy(col("key"))
      .agg(max_by(struct(col("pos"), col("after")), col("pos")).as("m"))
      .select(col("key"), col("m.pos").as("pos"), col("m.after").as("after"))

    val gced = tombstoneGcBelow match {
      case Some(wm) => merged.filter(col("after").isNotNull || col("pos") >= wm)
      case None => merged
    }
    val horizonRow = horizon.select(
      lit(null).cast(keyType).as("key"), col("h").as("pos"),
      lit(null).cast(imageType).as("after"))
    gced.unionByName(horizonRow)
  }

  /** Empty state (schema only) for an arbitrary table shape. */
  def emptyStateFor(spark: SparkSession, spec: CdcSchema.CdcTableSpec,
                    imageType: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", imageType(spec.key).dataType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("after", imageType))))

  /** Empty state for the reference's invoice table. */
  def emptyState(spark: SparkSession): DataFrame =
    emptyStateFor(spark, CdcSchema.invoiceSpec, CdcSchema.invoiceType)

  /** Replica view of a state for an arbitrary spec: live keys, natural
    * column types, key-ordered.
    */
  def snapshotOfFor(state: DataFrame, spec: CdcSchema.CdcTableSpec): DataFrame =
    state.filter(col("key").isNotNull && col("after").isNotNull)
      .select(spec.allCols.map(c => col(s"after.$c").as(c)): _*)
      .orderBy(col(spec.key))

  /** Replica view of an invoice state (the sink's UInt64 widening). */
  def snapshotOf(state: DataFrame): DataFrame =
    snapshotOfFor(state, CdcSchema.invoiceSpec)
      .select(
        col("order_id").cast("long").as("order_id"),
        col("invoice_number").cast("long").as("invoice_number"))

  /** Run a changelog stream to a versioned parquet state + audit log.
    *
    * Each micro-batch: (1) append the audit projection; (2) merge into the
    * keyed state, written to `stateDir/v=<batchId+1>` — versioned dirs make
    * the write atomic-by-rename and replay after checkpoint recovery
    * idempotent (a re-run batch overwrites its own version, and merge
    * idempotency makes the content identical); (3) prune versions older
    * than the newest `retainVersions` (a long-running stream would
    * otherwise grow storage without bound — one O(|state|) copy per batch).
    * The newest version is never pruned, and keeping ≥2 means a crash
    * mid-write of v=n+1 still recovers from v=n.
    */
  def run(changelog: DataFrame, auditDir: String, stateDir: String,
          checkpointDir: String, retainVersions: Int = 3,
          spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
          tombstoneGcBelow: Option[Long] = None): StreamingQuery = {
    require(retainVersions >= 2, "retainVersions must be >= 2 (current + recovery)")
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val batch = rawBatch.persist() // the body runs several actions; scan once
        try applyVersionedBatch(batch, batchId, auditDir, stateDir,
          retainVersions, spec, tombstoneGcBelow)
        finally batch.unpersist()
        ()
      }
      .start()
  }

  /** One micro-batch of the versioned writer: audit append + merge into
    * `v=<batchId+1>` + retention pruning. Shared by [[run]] and
    * [[runRouted]].
    */
  private def applyVersionedBatch(batch: DataFrame, batchId: Long,
                                  auditDir: String, stateDir: String,
                                  retainVersions: Int,
                                  spec: CdcSchema.CdcTableSpec,
                                  tombstoneGcBelow: Option[Long]): Unit = {
    val spark = batch.sparkSession
    writeAudit(batch, auditDir, batchId)
    val versions = listVersions(spark, stateDir)
    // A state version newer than this batch's own output means the
    // checkpoint was reset against a retained stateDir — the fold
    // would silently freeze. Fail loudly instead.
    versions.headOption.foreach(v => require(v <= batchId + 1,
      s"stateDir has version v=$v but the stream is at batch $batchId: " +
        "checkpointDir and stateDir must be retained (or cleared) together"))
    // Replay correctness: prev is the newest version AT OR BELOW
    // batchId — NEVER v=batchId+1, which is this replay's own
    // (possibly partial) crashed output and also the path the write
    // below overwrites (read-and-overwrite would fail or corrupt).
    val prev = versions.find(_ <= batchId) match {
      case Some(v) => spark.read.parquet(s"$stateDir/v=$v")
      case None => emptyStateFor(spark, spec, batch.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
    mergeBatch(prev, batch, tombstoneGcBelow, spec)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/v=${batchId + 1}")
    pruneVersions(spark, stateDir, keep = retainVersions)
  }

  /** The COMPLETE live ingress topology in one stream, from raw envelope
    * values (Kafka record values / file lines): each micro-batch parses
    * the envelopes ONCE (the JSON parse is the dominant ingress cost at
    * scale — persisting the raw strings alone would re-parse per sink)
    * and routes three ways — malformed envelopes → dead-letter
    * quarantine, Debezium schema-change events → schema-history log, data
    * envelopes → audit + versioned state merge. Every sink is idempotent
    * under checkpoint replay (per-batch partition dirs for
    * quarantine/history/audit, idempotent merge for state), so the whole
    * topology keeps the exactly-once argument.
    *
    * Fixed to the invoice wire format: the envelope parse schema and the
    * ingress validity gate are invoice-shaped, so this runner does not
    * take a `CdcTableSpec` (a spec parameter here could not actually
    * change the parsed image shape — columns would silently drop at
    * parse time). Generic table shapes enter via [[run]] with a
    * caller-built changelog. `kafkaTsCol` (e.g. from
    * `fromKafkaRelation`-style ingress) keeps the audit log on Kafka
    * ingest time per the reference contract.
    */
  def runRouted(raw: DataFrame, valueCol: String,
                deadLetterDir: String, schemaHistoryDir: String,
                auditDir: String, stateDir: String, checkpointDir: String,
                retainVersions: Int = 3,
                kafkaTsCol: Option[String] = None,
                tombstoneGcBelow: Option[Long] = None): StreamingQuery = {
    require(retainVersions >= 2, "retainVersions must be >= 2 (current + recovery)")
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        // parse once, route with three filters over the cached parse
        val parsed = Changelog.parsedEnvelopes(rawBatch, valueCol).persist()
        try {
          Changelog.deadLettersOfParsed(parsed, valueCol)
            .write.mode("overwrite").parquet(s"$deadLetterDir/batch=$batchId")
          Changelog.schemaHistoryOfParsed(parsed)
            .write.mode("overwrite").parquet(s"$schemaHistoryDir/batch=$batchId")
          val changelog = Changelog.changelogOfParsed(parsed, kafkaTsCol)
          applyVersionedBatch(changelog, batchId, auditDir, stateDir,
            retainVersions, CdcSchema.invoiceSpec, tombstoneGcBelow)
        } finally parsed.unpersist()
        ()
      }
      .start()
  }

  /** [[runRouted]] × [[runPartitioned]] with LIVE schema evolution: the
    * routed ingress over raw envelope strings, re-deriving the table spec
    * from the accumulated DDL history before every micro-batch merge.
    *
    * Per batch: (1) schema-change events are routed to
    * `schemaHistoryDir/batch=<id>` (substring-gated parse, idempotent
    * overwrite); (2) the ACCUMULATED history — prior batches plus this
    * one — evolves the base spec (`SchemaEvolution.evolve`, a bounded
    * driver-side read: O(schema changes), never O(events)); (3) the batch
    * is parsed once under the evolved image type (pre-DDL envelopes
    * null-fill); (4) dead letters fork off; (5) the ordinary
    * manifest-committed bucket merge runs with the evolved spec, reading
    * prior state under the evolved schema — buckets written before the
    * DDL null-fill at read time ([[BucketState.readBuckets]]), so an
    * ADD COLUMN rewrites NOTHING: untouched buckets stay as-is and widen
    * lazily as they are next merged. Read the replica with
    * [[partitionedSnapshotEvolved]].
    *
    * Replay safety is unchanged: the input fingerprint is computed over
    * the evolved parse, and a committed batch's replay re-derives the
    * identical spec from the identical history — same fingerprint, same
    * no-op.
    */
  def runRoutedEvolving(raw: DataFrame, valueCol: String,
                        deadLetterDir: String, schemaHistoryDir: String,
                        auditDir: String, stateDir: String, checkpointDir: String,
                        nBuckets: Int = 64,
                        spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                        imageType: org.apache.spark.sql.types.StructType =
                          CdcSchema.invoiceType,
                        tableName: String = "invoice"): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val spark = rawBatch.sparkSession
        val cached = rawBatch.persist() // history route + parse + dead letters
        try {
          Changelog.schemaHistory(cached, valueCol)
            .write.mode("overwrite").parquet(s"$schemaHistoryDir/batch=$batchId")
          val (espec, etype) =
            evolvedSpec(spark, schemaHistoryDir, spec, imageType, tableName)
          val parsed = Changelog.parsedEnvelopes(cached, valueCol, etype)
          Changelog.deadLettersOfParsed(parsed, valueCol)
            .write.mode("overwrite").parquet(s"$deadLetterDir/batch=$batchId")
          // validity stays gated on the BASE spec: added columns are
          // nullable, so their absence is data, not a partial parse
          val changelog = Changelog.changelogOfParsed(parsed, None, spec)
          applyPartitionedBatch(changelog, batchId, auditDir, stateDir,
            nBuckets, espec)
        } finally cached.unpersist()
        ()
      }
      .start()

  /** [[runRoutedEvolving]] with FULL column DDL applied live — the
    * streaming counterpart of [[graft.cdc.SchemaEvolution.evolveFull]]:
    * a mid-stream DROP / RENAME / CHANGE is reflected in the replica
    * instead of held inert. The reference's capture scope is the whole
    * `dev` database with schema-change events on
    * (`/root/reference/debezium-config-push.sh:16-21`); this is the
    * runner that lets a live replica actually FOLLOW those statements.
    *
    * Per batch: (1) schema-change events route to
    * `schemaHistoryDir/batch=<id>` (idempotent overwrite); (2) the
    * ACCUMULATED history — `tableName`'s own statements, pos-ordered —
    * folds via `evolveFull` into the final (spec, type) plus the epoch
    * list; (3) the batch parses ONCE epoch-sliced
    * ([[Changelog.fromEnvelopeJsonEpochs]] — each event under the schema
    * its pos lived in, normalized to the final shape by logical column
    * identity); (4) dead letters ([[Changelog.deadLettersEpochs]]) fork
    * off the same cached batch; (5) the manifest-committed bucket merge
    * runs under the final spec.
    *
    * State written under an OLDER schema cannot be read back by a
    * null-filling schema pin alone — a RENAME changes the at-rest field
    * name (null-fill would silently erase the column) and a re-added
    * namesake must NOT inherit pre-drop values. So each staged version
    * dir is stamped with a SCHEMA WATERMARK sidecar (the max DDL pos
    * folded when it was written) via the `onStaged` hook — written
    * before the manifest commit, so a committed version can never lack
    * its watermark — and the `stateReader` hook replaces the bucket read
    * with a PER-VERSION identity remap: each version's files are read
    * under their own schema and remapped to the current shape by
    * [[graft.cdc.SchemaEvolution.identityRemapAt]] (rename follows the
    * identity, drop nulls it, fresh columns null-fill). Cost is the same
    * partition-pruned read as before — the remap is a per-version
    * projection, no extra pass, no state rewrite at DDL time.
    *
    * Replay safety is unchanged: a committed batch's replay re-derives
    * the identical epochs from the identical history, so the input
    * fingerprint matches and the batch no-ops. Read the replica with
    * [[partitionedSnapshotEvolvedFull]].
    */
  def runRoutedEvolvingFull(raw: DataFrame, valueCol: String,
                            deadLetterDir: String, schemaHistoryDir: String,
                            auditDir: String, stateDir: String, checkpointDir: String,
                            nBuckets: Int = 64,
                            spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                            imageType: org.apache.spark.sql.types.StructType =
                              CdcSchema.invoiceType,
                            tableName: String = "invoice"): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val spark = rawBatch.sparkSession
        val cached = rawBatch.persist() // history route + sliced parse + dead letters
        try {
          Changelog.schemaHistory(cached, valueCol)
            .write.mode("overwrite").parquet(s"$schemaHistoryDir/batch=$batchId")
          val ddls = fullHistory(spark, schemaHistoryDir, tableName)
          val (espec, etype, epochs) =
            graft.cdc.SchemaEvolution.evolveFull(spec, imageType, ddls)
          Changelog.deadLettersEpochs(cached, epochs, etype, valueCol)
            .write.mode("overwrite").parquet(s"$deadLetterDir/batch=$batchId")
          val changelog = Changelog.fromEnvelopeJsonEpochs(cached, epochs, etype, valueCol)
          val watermark = ddls.map(_._1).maxOption.getOrElse(Long.MinValue)
          applyPartitionedBatch(changelog, batchId, auditDir, stateDir,
            nBuckets, espec,
            stateReader = Some(relevant => remappedBucketRead(
              spark, stateDir, relevant, spec, imageType, ddls, espec, etype)),
            onStaged = Some(dir => writeSchemaWatermark(spark, dir, watermark)))
        } finally cached.unpersist()
        ()
      }
      .start()

  /** `tableName`'s own full-DDL history implied by a schema-history dir:
    * (pos, statement) in pos order — the bounded driver-side read
    * (O(schema changes), never O(events)) both the live runner and the
    * snapshot reader fold.
    */
  private def fullHistory(spark: SparkSession, schemaHistoryDir: String,
                          tableName: String): Seq[(Long, String)] = {
    val fs = hadoopFs(spark, schemaHistoryDir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(schemaHistoryDir))) Seq.empty
    else spark.read.parquet(schemaHistoryDir)
      .orderBy("pos").select("pos", "ddl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(t => graft.cdc.SchemaEvolution.targetTable(t._2).contains(tableName))
  }

  /** Sidecar file stamping a staged version dir with the schema
    * watermark (max folded DDL pos) it was written under. Written by the
    * full-DDL runner's `onStaged` hook — after the version's parquet,
    * BEFORE the manifest commit — so a committed version always carries
    * it; a replayed batch re-stages the dir and re-stamps identically.
    */
  private val SchemaWatermarkFile = "_SCHEMA_WATERMARK"

  private def writeSchemaWatermark(spark: SparkSession, versionDir: String,
                                   watermark: Long): Unit = {
    val fs = hadoopFs(spark, versionDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$versionDir/$SchemaWatermarkFile"), true)
    try out.write(watermark.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readSchemaWatermark(spark: SparkSession,
                                  versionDir: String): Option[Long] = {
    val fs = hadoopFs(spark, versionDir)
    val p = new org.apache.hadoop.fs.Path(s"$versionDir/$SchemaWatermarkFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Bucket read with PER-VERSION identity remap — the full-DDL
    * `stateReader`: each referenced version dir is read under its own
    * at-rest schema (partition-pruned to the relevant buckets, exactly
    * like `BucketState.readBuckets`) and projected to the CURRENT shape
    * through the identity map at its schema watermark — a renamed
    * column's values follow the identity to the new name, a dropped
    * column's values retire, a re-added namesake null-fills (pre-drop
    * values must not resurface). A version dir with no watermark sidecar
    * (written before full-DDL mode) reads under current names — add-only
    * evolution never renames, so its names are already final.
    */
  private def remappedBucketRead(spark: SparkSession, stateDir: String,
                                 relevant: Map[Long, Set[Long]],
                                 spec: CdcSchema.CdcTableSpec,
                                 imageType: org.apache.spark.sql.types.StructType,
                                 ddls: Seq[(Long, String)],
                                 espec: CdcSchema.CdcTableSpec,
                                 etype: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val pairs = relevant.toSeq.flatMap { case (b, vs) => vs.map(v => (v, b)) }
    if (pairs.isEmpty)
      return emptyStateFor(spark, espec, etype).withColumn("p", lit(-1L))
    val keyType = etype(espec.key).dataType
    pairs.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, entries) =>
      val vdir = s"$stateDir/v=$v"
      val remap: Map[String, Option[String]] = readSchemaWatermark(spark, vdir) match {
        case Some(w) =>
          graft.cdc.SchemaEvolution.identityRemapAt(spec, imageType, ddls, w)
        case None => etype.fieldNames.map(n => n -> Option(n)).toMap
      }
      val df = spark.read.option("basePath", vdir)
        .parquet(entries.map(_._2).sorted.map(b => s"$vdir/p=$b"): _*)
      val physAfter = df.schema("after").dataType.asInstanceOf[StructType]
      val afterCol = when(col("after").isNull, lit(null).cast(etype)).otherwise(struct(
        etype.fields.map { f =>
          remap.get(f.name).flatten match {
            case Some(old) if physAfter.fieldNames.contains(old) =>
              col(s"after.$old").cast(f.dataType).as(f.name)
            case _ => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*))
      df.select(col("key").cast(keyType).as("key"), col("pos"),
        afterCol.as("after"), col("p"))
    }.reduce(_.unionByName(_))
  }

  /** [[partitionedSnapshotFor]] under FULL column DDL: the manifest's
    * buckets read through the per-version identity remap, folded to the
    * final-shape replica.
    */
  def partitionedSnapshotEvolvedFull(spark: SparkSession, stateDir: String,
                                     schemaHistoryDir: String,
                                     spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                                     imageType: org.apache.spark.sql.types.StructType =
                                       CdcSchema.invoiceType,
                                     tableName: String = "invoice"): DataFrame = {
    val ddls = fullHistory(spark, schemaHistoryDir, tableName)
    val (espec, etype, _) =
      graft.cdc.SchemaEvolution.evolveFull(spec, imageType, ddls)
    snapshotOfFor(
      remappedBucketRead(spark, stateDir, readManifest(spark, stateDir).buckets,
        spec, imageType, ddls, espec, etype).drop("p"),
      espec)
  }

  /** The evolved (spec, imageType) implied by a schema-history dir — the
    * base shape when the dir is absent/empty. The history is a
    * WHOLE-DATABASE capture (`database.include.list=dev`), so statements
    * are routed by their parsed target table and only `tableName`'s own
    * DDL evolves this spec — another table's ALTER cannot desync it
    * (statements with no parseable ALTER TABLE target were already inert
    * in the fold and stay filtered here).
    */
  def evolvedSpec(spark: SparkSession, schemaHistoryDir: String,
                  spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                  imageType: org.apache.spark.sql.types.StructType =
                    CdcSchema.invoiceType,
                  tableName: String = "invoice")
      : (CdcSchema.CdcTableSpec, org.apache.spark.sql.types.StructType) = {
    val fs = hadoopFs(spark, schemaHistoryDir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(schemaHistoryDir)))
      return (spec, imageType)
    val ddls = spark.read.parquet(schemaHistoryDir)
      .orderBy("pos").select("ddl").collect().map(_.getString(0)).toSeq
      .filter(graft.cdc.SchemaEvolution.targetTable(_).contains(tableName))
    graft.cdc.SchemaEvolution.evolve(spec, imageType, ddls)
  }

  /** State-file schema of the partitioned replica for a (spec, image)
    * pair, INCLUDING the `p` partition column — the explicit read schema
    * every replace-merge bucket read is pinned to.
    */
  private def stateSchemaFor(spec: CdcSchema.CdcTableSpec,
                             imageType: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("key", imageType(spec.key).dataType),
      StructField("pos", LongType),
      StructField("after", imageType),
      StructField("p", LongType)))
  }

  /** [[partitionedSnapshotFor]] under the schema implied by the history
    * dir: old narrow bucket files null-fill the added columns at read
    * time.
    */
  def partitionedSnapshotEvolved(spark: SparkSession, stateDir: String,
                                 schemaHistoryDir: String,
                                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                                 imageType: org.apache.spark.sql.types.StructType =
                                   CdcSchema.invoiceType,
                                 tableName: String = "invoice"): DataFrame = {
    val (espec, etype) =
      evolvedSpec(spark, schemaHistoryDir, spec, imageType, tableName)
    partitionedSnapshotFor(spark, stateDir, espec, etype)
  }

  /** Version numbers under `stateDir`, newest first. */
  private def listVersions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val fs = hadoopFs(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted(Ordering[Long].reverse)
  }

  /** Delete `v=<n>` dirs older than the newest `keep` (post-commit GC). */
  private def pruneVersions(spark: SparkSession, stateDir: String, keep: Int): Unit = {
    val fs = hadoopFs(spark, stateDir)
    listVersions(spark, stateDir).drop(keep)
      .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v=$v"), true))
  }

  /** Idempotent audit append: each micro-batch owns the partition dir
    * `batch=<id>` and overwrites it, so a checkpoint-recovery replay of the
    * batch cannot double-append events (a plain append would). Readers see
    * the extra `batch` partition column.
    */
  private def writeAudit(batch: DataFrame, auditDir: String, batchId: Long): Unit =
    auditProjection(batch).write.mode("overwrite")
      .parquet(s"$auditDir/batch=$batchId")

  /** Typed per-key state via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset alternative to the foreachBatch merge for
    * latencies where per-batch parquet rewrites are too coarse. State per
    * key is (pos, after): max-pos-wins, delete markers retained, so
    * redelivery is idempotent — identical semantics to [[mergeBatch]].
    *
    * Scope note: cross-key TRUNCATE cannot be expressed inside a
    * per-key state function (groups are isolated by design); feed this
    * from `CdcApply.afterTruncateHorizon` (batch) or handle truncates as
    * a state-store generation upstream. Emits (order_id, invoice_number
    * nullable) per updated key, update-mode.
    */
  def typedLatestPerKey(changelog: org.apache.spark.sql.Dataset[CdcSchema.CdcEvent])
      : DataFrame = {
    import CdcStream.KeyState
    import changelog.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    changelog
      .groupByKey(e => e.after.orElse(e.before).map(_.order_id).getOrElse(Int.MinValue))
      .flatMapGroupsWithState[KeyState, (Int, Option[Int])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Int, events: Iterator[CdcSchema.CdcEvent], state: GroupState[KeyState]) =>
          val incoming = events.maxByOption(_.pos)
          val best = (incoming.map(e => KeyState(e.pos, e.after)).toSeq ++
            state.getOption.toSeq).maxByOption(_.pos)
          best match {
            case Some(b) if !state.getOption.exists(_.pos >= b.pos) =>
              state.update(b)
              Iterator.single((key, b.after.map(_.invoice_number)))
            case _ => Iterator.empty
          }
      }
      .toDF("order_id", "invoice_number")
  }

  /** Bucketed incremental state: the 100 TB shape of the merge.
    *
    * [[run]] rewrites the whole state per micro-batch — O(|state|), fine
    * for small replicas, wrong at scale. Here the state lives as parquet
    * hash-partitioned by `p = pmod(key, nBuckets)` for integral keys,
    * `p = pmod(xxhash64(key), nBuckets)` otherwise (horizon row in
    * `p = -1`), generic over the table via `spec`; each micro-batch:
    *
    *  1. computes the touched buckets from the batch's keys (a ≤ nBuckets
    *     driver-side collect);
    *  2. reads ONLY those buckets back (partition-pruned scan);
    *  3. merges (same [[mergeBatch]] fold — buckets partition the
    *     keyspace, so per-bucket merge ≡ global merge);
    *  4. rewrites only the touched partition dirs via dynamic partition
    *     overwrite.
    *
    * Cost per batch is O(|touched buckets|) ≈ O(|delta|), independent of
    * total state size. A TRUNCATE touches every bucket by definition (the
    * horizon invalidates rows everywhere) — that one rare event pays a
    * full rewrite, which is exactly what a truncate is.
    *
    * Commit protocol (version-pointer, single-writer): the state is a
    * manifest-committed table. Bucket data lives under immutable
    * `v=<batch>/p=<bucket>/` dirs; a single `_CURRENT` manifest maps each
    * bucket to the version that owns its current data. A batch (1) writes
    * its touched buckets under its own `v=<batchId+1>/` (never visible to
    * readers until committed; a checkpoint-replayed batch overwrites its
    * own version dir, and merge idempotency makes the content identical),
    * (2) atomically renames a new `_CURRENT` over the old one — THE commit
    * point, all buckets switch at once — then (3) deletes version dirs no
    * manifest entry references. A crash before (2) leaves `_CURRENT`
    * pointing at complete pre-batch state (no lost buckets — the window
    * the old dynamic-partition-overwrite scheme could not close); a crash
    * after (2) leaves garbage dirs that the next batch's GC removes.
    */
  def runPartitioned(changelog: DataFrame, auditDir: String, stateDir: String,
                     checkpointDir: String, nBuckets: Int = 64,
                     spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec): StreamingQuery =
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        applyPartitionedBatch(rawBatch, batchId, auditDir, stateDir, nBuckets, spec)
      }
      .start()

  /** Bucket function by key type: integral keys bucket by value modulus
    * (deterministic, human-inspectable `p=` dirs, and the layout the
    * partition specs pin); any other key type hashes first. Both are pure
    * functions of the key, so batch-side and state-side bucketing agree.
    */
  private def bucketFn(nBuckets: Int)(key: org.apache.spark.sql.Column,
                                      keyType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    keyType match {
      case ByteType | ShortType | IntegerType | LongType =>
        pmod(key.cast("long"), lit(nBuckets.toLong))
      case _ => pmod(xxhash64(key.cast("string")), lit(nBuckets.toLong))
    }
  }

  /** One [[runPartitioned]] micro-batch, callable from any foreachBatch
    * wrapper (the evolving ingress re-derives `spec` per batch before
    * delegating here). Prior state is read under the explicit state
    * schema of `spec` and the batch's own image type, so state written
    * under an older, narrower image struct null-fills instead of failing
    * the union (see `BucketState.readBuckets`) and no read pays a
    * schema-inference footer job. `stateReader`, when given, REPLACES the
    * bucket read entirely (it receives the relevant slice of the
    * manifest and must return state in the CURRENT merge schema — the
    * full-DDL runner's per-version identity remap). `onStaged` runs with
    * the freshly staged version dir path BEFORE the manifest commit —
    * the full-DDL runner writes its schema-watermark sidecar there, so a
    * commit can never reference a version whose watermark is missing.
    */
  private[graft] def applyPartitionedBatch(
      rawBatch: DataFrame, batchId: Long, auditDir: String, stateDir: String,
      nBuckets: Int, spec: CdcSchema.CdcTableSpec,
      stateReader: Option[Map[Long, Set[Long]] => DataFrame] = None,
      onStaged: Option[String => Unit] = None): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = rawBatch.sparkSession
    val bucketOf = bucketFn(nBuckets) _
    // opt-in phase timing (SPARK_GRAFT_COMMIT_TRACE=1): the commit path
    // is latency-critical, so its cost must be attributable per phase,
    // not guessed — LatencySoak quantifies the total, this names it
    val trace = sys.env.contains("SPARK_GRAFT_COMMIT_TRACE")
    def tr[T](tag: String)(f: => T): T =
      if (!trace) f
      else {
        val t0 = System.nanoTime(); val r = f
        System.err.println(
          f"[commit-trace] b$batchId $tag ${(System.nanoTime() - t0) / 1e6}%.0f ms")
        r
      }
    val batch = rawBatch.persist() // 2 more actions below; scan the source once
    // The audit append is independent of the merge until the commit
    // point, so it runs CONCURRENTLY with the stats pass + state merge
    // (two driver threads, two Spark jobs over the same cached batch) and
    // is awaited before the manifest rename — audit durable before the
    // commit names the version, exactly the old ordering, minus the
    // serialized wall time. At micro-batch cadence this overlap is a
    // direct commit-latency cut (LatencySoak measures it).
    val auditF = Future { writeAudit(batch, auditDir, batchId) }
    try {
        val imageType = batch.schema("after").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val keyType = imageType(spec.key).dataType

        // ONE action for input fingerprint + touched buckets + truncate
        // flag (was three — each a full pass over the cached batch, pure
        // per-commit fixed overhead at micro-batch sizes). The
        // fingerprint formula is bit-identical to
        // BucketState.inputFingerprint: manifests recorded by either
        // path replay against the other.
        val statCols = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
        val statRow = tr("stats")(batch.select(
            expr(s"xxhash64(struct($statCols))").as("h"),
            bucketOf(
              coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}")),
              keyType).as("p"),
            (col("before").isNull && col("after").isNull).cast("int").as("t"))
          .agg(coalesce(bit_xor(col("h")), lit(0L)), count(lit(1)),
            collect_set(col("p")), coalesce(max(col("t")), lit(0)))
          .collect()(0))
        val hasTruncate = statRow.getInt(3) > 0
        val batchBuckets = statRow.getSeq[Long](2)

        val m = readManifest(spark, stateDir)
        val manifest = m.buckets
        val batchFp = statRow.getLong(0) ^
          java.lang.Long.rotateLeft(statRow.getLong(1), 32)
        // Stale-checkpoint + replay-of-committed-batch guards live in
        // BucketState.checkBatch (shared with IncrementalDedup): a
        // manifest committed beyond this batch fails loudly; a manifest
        // committed AT this batch no-ops iff the recorded input
        // fingerprint matches (else the checkpoint was reset against
        // retained state). Proceed carries the physical version dir —
        // batchId+1 until a compaction has renumbered past it.
        BucketState.checkBatch(m, batchId, batchFp) match {
          case BucketState.AlreadyCommitted =>
          // The batch's effect is durable — re-merging would read bucket
          // dirs under its own version while overwriting that very dir.
          // The audit rewrite is idempotent; just redo the GC the crash
          // may have skipped.
          Await.result(auditF, Duration.Inf)
          BucketState.gcVersions(spark, stateDir)
          case BucketState.Proceed(newVersion) =>
        val touched = (batchBuckets :+ -1L).toSet
        // horizon moved ⇒ every bucket is affected; otherwise read only
        // the touched buckets (partition-pruned per version dir)
        val relevant =
          if (hasTruncate) manifest
          else manifest.view.filterKeys(touched).toMap
        val prev = stateReader match {
          case Some(rd) if relevant.nonEmpty => rd(relevant)
          case _ => readBuckets(spark, stateDir, relevant, spec, imageType)
        }

        // (1) Stage this batch's buckets under its OWN version dir —
        // strictly newer than anything `prev` reads (checkBatch
        // guarantees it), so no overwrite-what-you-read hazard and no
        // extra staging copy. repartition by p into at most one task per
        // core ([[writeTasks]]): hash partitioning still sends each
        // bucket to exactly one task, so the layout stays one file per
        // touched `p=` dir, while a backfill touching all 64 buckets
        // runs 4 write tasks on 4 cores, not 64 — per-task scheduling
        // is the dominant per-commit cost at micro-batch sizes.
        tr("merge_write")(mergeBatch(prev.drop("p"), batch, spec = spec)
          .withColumn("p",
            when(col("key").isNull, lit(-1L))
              .otherwise(bucketOf(col("key"), keyType)))
          .repartition(writeTasks(spark, touched.size), col("p"))
          .write.mode("overwrite").partitionBy("p").parquet(s"$stateDir/v=$newVersion"))
        onStaged.foreach(_(s"$stateDir/v=$newVersion"))

        // Buckets actually present in the output (a truncate can empty a
        // bucket entirely — it must drop out of the manifest, the case
        // dynamic partition overwrite silently got wrong).
        val outBuckets = tr("list_buckets")(listBuckets(spark, s"$stateDir/v=$newVersion"))
        val base = if (hasTruncate) Map.empty[Long, Set[Long]] else manifest
        val next = (base -- touched) ++ outBuckets.map(_ -> Set(newVersion))

        // (2) THE commit point: atomic rename over _CURRENT. The fp line
        // records the LOGICAL batch version (batchId+1) — what a replay
        // will look for — independent of the physical dir number. Audit
        // durability precedes the commit (await), as before.
        tr("audit_await")(Await.result(auditF, Duration.Inf))
        tr("manifest_commit")(commitManifest(spark, stateDir, next, Some((batchId + 1) -> batchFp)))

        // (3) GC version dirs nothing references anymore.
        tr("gc")(BucketState.gcVersions(spark, stateDir))
        }
    } finally {
      // sync the audit job before dropping the cache it reads (an early
      // throw above must not leave it racing a recompute); result/failure
      // was already propagated at the commit sites
      Await.ready(auditF, Duration.Inf)
      batch.unpersist()
    }
    ()
  }

  // ---------------------------------------------------------------- LSM

  /** LSM-style replica: the sub-second-commit shape of the merge.
    *
    * [[runPartitioned]] replace-merges every touched bucket per
    * micro-batch — commit cost O(touched state), which under uniform key
    * arrival is the WHOLE replica (the latency soak's measured ~700 ms
    * merge+write floor at 100k keys). Here a batch appends ONLY its own
    * net per-key delta as one immutable segment per touched bucket —
    * commit cost O(delta), independent of state size — and the per-key
    * winner is resolved at READ time across a bucket's segments
    * (max-pos-per-key, the same fold), exactly the LSM trade the
    * incremental dedup index already runs ([[graft.operators.IncrementalDedup]]).
    * Segments hold the RAW events (not a per-batch net effect), so the
    * retained log also answers position-granular time travel —
    * [[partitionedSnapshotLsmAsOf]] — until a compaction folds history
    * and advances the floor.
    * [[BucketState]]'s manifest already supports many segments per
    * bucket, so the commit protocol (stage → atomic `_CURRENT` rename →
    * GC), the replay-fingerprint guard, and the stale-checkpoint check
    * are IDENTICAL to the replace-merge path.
    *
    * Semantics are unchanged (spec'd equal to [[runPartitioned]] on the
    * same stream): a truncate APPENDS a horizon row — no rewrite at all,
    * the read filters `pos > max(horizon)` across segments and
    * compaction erases below-horizon rows for good; delete markers
    * resolve by max pos like every other row. Read amplification grows
    * one raw-log segment per touched bucket per batch until [[compactLsm]] folds
    * them — bounded adaptively at `compactWhenSegments` by the measured
    * max segments-per-bucket, the same policy (and argument) as the
    * dedup index. Choose by workload: replace-merge keeps zero-cost
    * reads and pays O(state) commits; LSM keeps O(delta) commits and
    * pays bounded-K reads — at 100 TB with a latency SLO, LSM is the
    * shape, with compaction running off the hot path.
    */
  /** `asyncCompaction = true` moves the fold OFF the hot path: when the
    * segment bound trips, compaction runs on a background thread while
    * the stream keeps committing O(delta) batches (the manifest-lock /
    * reserved-version / in-flight-GC protocol in [[BucketState]] makes
    * the interleaving safe — see [[compactLsm]]); at most one compaction
    * runs per state dir at a time, and a still-running fold at stream
    * stop simply finishes or dies staged-only (crash-equivalent: the
    * orphan dir is GC'd later, the manifest never referenced it).
    * Default stays synchronous — deterministic segment counts for specs
    * and batch-mode callers.
    */
  def runPartitionedLsm(changelog: DataFrame, auditDir: String, stateDir: String,
                        checkpointDir: String, nBuckets: Int = 64,
                        spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                        compactWhenSegments: Int = 8,
                        asyncCompaction: Boolean = false): StreamingQuery =
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        applyLsmBatch(rawBatch, batchId, auditDir, stateDir, nBuckets, spec)
        val spark = rawBatch.sparkSession
        val m = readManifest(spark, stateDir)
        val maxSegs =
          if (m.buckets.isEmpty) 0 else m.buckets.values.map(_.size).max
        if (compactWhenSegments > 0 && maxSegs >= compactWhenSegments)
          maybeCompact(spark, stateDir, nBuckets, spec, asyncCompaction)
        ()
      }
      .start()

  private val compactingFlags =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]

  /** Is a background compaction currently running for `stateDir`?
    * (Test/ops visibility — the data path never needs to ask.)
    */
  private[graft] def compactionInFlight(stateDir: String): Boolean =
    compactingFlags.get(stateDir).exists(_.get())

  /** Run [[compactLsm]] now (sync) or on a background thread (async,
    * at most one in flight per state dir — a trip while one is already
    * running is a no-op; the running fold will observe the extra
    * segments on its next trip).
    */
  private[graft] def maybeCompact(spark: SparkSession, stateDir: String,
                                  nBuckets: Int, spec: CdcSchema.CdcTableSpec,
                                  async: Boolean): Unit =
    if (!async) compactLsm(spark, stateDir, nBuckets, spec)
    else {
      val flag = compactingFlags.getOrElseUpdate(
        stateDir, new java.util.concurrent.atomic.AtomicBoolean(false))
      if (flag.compareAndSet(false, true)) {
        val t = new Thread(() => {
          try compactLsm(spark, stateDir, nBuckets, spec)
          catch {
            case e: Throwable =>
              System.err.println(s"[lsm] background compaction failed: ${e.getMessage}")
          } finally flag.set(false)
        }, s"lsm-compact-${stateDir.hashCode}")
        t.setDaemon(true)
        t.start()
      }
    }

  /** One LSM micro-batch: audit + stats + the raw-log segment write all
    * CONCURRENT (three driver threads, three Spark jobs over the same
    * cached batch), then manifest append-commit. No state read in the hot
    * path at all.
    *
    * The stats action (fingerprint + touched buckets) does not gate the
    * segment write: the staging version only needs to be strictly above
    * everything the manifest references (`bucketMax+1`/`batchId+1`, no
    * fingerprint required), and the replay/stale-checkpoint decision
    * ([[BucketState.checkBatch]]) only gates the COMMIT. So the write is
    * staged optimistically in parallel with the stats pass; on the rare
    * replay of an already-committed batch the staged dir is simply
    * abandoned (released from in-flight, GC'd like a crash orphan) — the
    * common path saves a full serialized Spark-job round-trip, which at
    * micro-batch cadence is pure commit latency (LatencySoak measures it,
    * SPARK_GRAFT_COMMIT_TRACE=1 itemizes it).
    */
  private[graft] def applyLsmBatch(rawBatch: DataFrame, batchId: Long,
                                   auditDir: String, stateDir: String,
                                   nBuckets: Int,
                                   spec: CdcSchema.CdcTableSpec): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = rawBatch.sparkSession
    val bucketOf = bucketFn(nBuckets) _
    val trace = sys.env.contains("SPARK_GRAFT_COMMIT_TRACE")
    def tr[T](tag: String)(f: => T): T =
      if (!trace) f
      else {
        val t0 = System.nanoTime(); val r = f
        System.err.println(
          f"[commit-trace] b$batchId lsm-$tag ${(System.nanoTime() - t0) / 1e6}%.0f ms")
        r
      }
    val batch = rawBatch.persist()
    val auditF = Future { writeAudit(batch, auditDir, batchId) }
    try {
      val imageType = batch.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val keyType = imageType(spec.key).dataType
      val statCols = batch.columns.sorted.map(c => s"`$c`").mkString(", ")
      val statF = Future {
        batch.select(
            expr(s"xxhash64(struct($statCols))").as("h"),
            bucketOf(
              coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}")),
              keyType).as("p"))
          .agg(coalesce(bit_xor(col("h")), lit(0L)), count(lit(1)))
          .collect()(0)
      }

      val m = readManifest(spark, stateDir)
      // Physical staging version: strictly above every referenced dir and
      // at least the logical batch version — same value checkBatch's
      // Proceed would carry, derivable before the fingerprint exists.
      val proposed = math.max(
        m.buckets.values.flatten.reduceOption(_ max _).getOrElse(0L) + 1,
        batchId + 1)
      // Version reserved (not manifest-derived): unique vs a concurrent
      // background compaction, and in-flight-registered so the
      // compaction's GC spares the staged dir while it is being written.
      val newVersion = BucketState.reserveVersion(stateDir, proposed)
      var committed = false
      try {
        // the RAW per-event rows — the segment IS the log. No in-batch
        // fold at all: resolution (max-pos winner, horizon filter)
        // happens once, at read/compaction time, so the commit is a
        // map-only bucket-partitioned write AND every mid-batch
        // position stays answerable by the as-of read (a net-effect
        // write would fold in-batch history away at append time —
        // batch-granular time travel only). Truncates project to the
        // key-null horizon-row shape directly; the key gate keeps a
        // hand-built keyless non-truncate event from poisoning the
        // horizon (same guard as mergeBatch's ingress).
        // Sized by nBuckets, not the touched-bucket count (the stats job
        // is still running), capped at one task per core like the
        // replace-merge write: each bucket still lands in one task, so
        // one file per touched `p=` dir.
        tr("segment_write")(batch
          .filter(
            coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}"))
              .isNotNull ||
              (col("before").isNull && col("after").isNull))
          .select(
            coalesce(col(s"after.${spec.key}"), col(s"before.${spec.key}"))
              .as("key"),
            col("pos"), col("after"))
          .withColumn("p",
            when(col("key").isNull, lit(-1L))
              .otherwise(bucketOf(col("key"), keyType)))
          .repartition(writeTasks(spark, nBuckets), col("p"))
          .write.mode("overwrite").partitionBy("p")
          .parquet(s"$stateDir/v=$newVersion"))
        val statRow = tr("stats_await")(Await.result(statF, Duration.Inf))
        val batchFp = statRow.getLong(0) ^
          java.lang.Long.rotateLeft(statRow.getLong(1), 32)
        BucketState.checkBatch(m, batchId, batchFp) match {
          case BucketState.AlreadyCommitted =>
            // Replay of a committed batch: the optimistically staged dir
            // is surplus — fall through to the finally, which releases
            // the in-flight registration so the GC below removes it.
            Await.result(auditF, Duration.Inf)
          case BucketState.Proceed(_) =>
            val outBuckets =
              tr("list_buckets")(listBuckets(spark, s"$stateDir/v=$newVersion"))
            tr("audit_await")(Await.result(auditF, Duration.Inf))
            // Commit under the manifest lock against a FRESH read: a
            // background compaction may have swapped segment sets since
            // this batch's check read — folding the stale snapshot in
            // here would resurrect compacted-away segments.
            tr("manifest_commit")(BucketState.manifestLock(stateDir).synchronized {
              val mNow = readManifest(spark, stateDir)
              val merged = outBuckets.foldLeft(mNow.buckets)((acc, b) =>
                acc.updated(b, acc.getOrElse(b, Set.empty[Long]) + newVersion))
              commitManifest(spark, stateDir, merged, Some((batchId + 1) -> batchFp))
            })
            committed = true
        }
      } finally BucketState.releaseVersion(stateDir, newVersion)
      // GC after release: on the commit path the new dir is manifest-
      // referenced (live); on the abandon path it is now unreferenced and
      // unregistered, so this sweep removes it like any crash orphan.
      tr("gc")(BucketState.gcVersions(spark, stateDir))
      if (!committed && trace)
        System.err.println(s"[commit-trace] b$batchId lsm-abandoned v=$newVersion")
    } finally {
      Await.ready(auditF, Duration.Inf)
      batch.unpersist()
    }
    ()
  }

  // ---- out-of-band key retraction (GDPR-style takedown) ---------------
  //
  // The changelog's OWN deletes flow through the stream (a delete marker
  // resolves by max pos); a RETRACTION is different: an out-of-band
  // order to stop serving a key's stored history — including time-travel
  // views — that does not ride the binlog at all (the reference's delete
  // semantics, /root/reference/main.py:75-86, extended to "erase the
  // history too"). The design is the Retraction pattern the four
  // curation stores share, adapted to a keyed replica: a tombstone row
  // `(key, pos = throughPos)` in the reserved bucket [[LsmRetractBucket]]
  // is a PER-KEY TRUNCATE HORIZON — every stored event of that key at or
  // below `throughPos` is erased from every read (snapshot, as-of,
  // change feed), and the next compaction removes the rows physically.
  //
  //  - Pos-scoped, not key-forever: an event of the key ABOVE the
  //    retraction position is new data and serves normally (the subject
  //    may return; the same primary key may be legitimately reborn).
  //    Masking is retroactive across time travel BY DESIGN — an as-of
  //    read below the retraction point must not resurrect erased data —
  //    which is exactly the global horizon's semantics applied per key.
  //  - The change feed treats both prefix views as masked, so a
  //    retracted key reports NO net change: a retraction is not a CDC
  //    event, and shipping a 'd' row would leak that the key existed.
  //    Downstream stores receive the takedown out-of-band (the same
  //    key list that fed this call), exactly how the curation pipeline
  //    distributes retractIds to all four indexes.
  //  - Compaction erases the covered rows PHYSICALLY but keeps the
  //    tombstones (deduped to one per-key max-rpos row): events may be
  //    delivered out of order across micro-batches, so no fold can
  //    prove a horizon will never mask a straggler — the tombstone is
  //    the store's standing mask, bounded by lifetime takedowns (the
  //    same stance as the near-dup index's keepTombstones).
  //  - Zero cost when unused: no `p = -3` manifest entry ⇔ no tombstone
  //    exists, and every read skips the bucket read and the mask join
  //    (the hasTombs discipline).
  //
  // Commit protocol: reserved version + locked fresh-read merge with the
  // manifest fp preserved (the compaction discipline — a retraction is
  // not a stream batch and must not disturb the batchId replay chain).
  // Safe concurrent with the live apply path and a background fold; a
  // crash before the rename leaves an invisible staged dir (GC'd), a
  // re-issued retraction just stacks duplicate tombstones (the mask
  // takes max rpos per key — idempotent).

  /** Reserved bucket for retraction tombstones. Horizon rows keep `-1`;
    * hashed data buckets are non-negative.
    */
  val LsmRetractBucket = -3L

  /** Commit an out-of-band retraction: erase every stored event of
    * `keys` (first column, cast to the table's key type) at or below
    * `throughPos` from all reads; the next [[compactLsm]] removes the
    * rows physically. `throughPos` is pinned by the caller (typically
    * the replica's current max position) so replays and duplicate
    * issues are deterministic.
    */
  def retractLsmKeys(spark: SparkSession, stateDir: String, keys: DataFrame,
                     throughPos: Long,
                     spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                     imageType: org.apache.spark.sql.types.StructType =
                       CdcSchema.invoiceType): Unit = {
    val keyType = imageType(spec.key).dataType
    val kcol = keys.columns.head
    val tombs = keys.select(col(kcol).cast(keyType).as("key"))
      .filter(col("key").isNotNull).distinct()
      .select(col("key"), lit(throughPos).as("pos"),
        lit(null).cast(imageType).as("after"),
        lit(LsmRetractBucket).as("p"))
    val m0 = readManifest(spark, stateDir)
    // an empty replica has nothing to erase — and committing a
    // tombstone-only version there would be misread as batch progress
    // by checkBatch's pre-fingerprint bucket-max fallback
    require(m0.fp.isDefined,
      s"retractLsmKeys($stateDir): retract after the first data batch " +
        "has committed — an empty replica has no history to erase")
    val newVersion = BucketState.reserveVersion(stateDir,
      m0.buckets.values.flatten.reduceOption(_ max _).getOrElse(0L) + 1)
    try {
      tombs.coalesce(1).write.mode("overwrite").partitionBy("p")
        .parquet(s"$stateDir/v=$newVersion")
      // an empty key frame stages no partition — commit nothing
      if (listBuckets(spark, s"$stateDir/v=$newVersion")
            .contains(LsmRetractBucket))
        BucketState.manifestLock(stateDir).synchronized {
          val mNow = readManifest(spark, stateDir)
          commitManifest(spark, stateDir,
            mNow.buckets.updated(LsmRetractBucket,
              mNow.buckets.getOrElse(LsmRetractBucket, Set.empty[Long]) + newVersion),
            mNow.fp)
        }
    } finally BucketState.releaseVersion(stateDir, newVersion)
    BucketState.gcVersions(spark, stateDir)
  }

  /** The manifest's DATA segments (horizon rows included, tombstones
    * excluded — they are not events and must never reach
    * [[resolveSegments]], where a null-image row would read as a delete
    * marker).
    */
  private def lsmDataBuckets(m: BucketState.Manifest): Map[Long, Set[Long]] =
    m.buckets.view.filterKeys(_ != LsmRetractBucket).toMap

  /** The per-key retraction horizon `(key, rpos)` — max over duplicate
    * tombstones — or None on a retraction-free store (the zero-cost
    * common case).
    */
  private def lsmRetractions(spark: SparkSession, stateDir: String,
                             m: BucketState.Manifest): Option[DataFrame] =
    if (!m.buckets.contains(LsmRetractBucket)) None
    else Some(
      BucketState.readBuckets(spark, stateDir,
          m.buckets.view.filterKeys(_ == LsmRetractBucket).toMap,
          sys.error("unreachable — bucket present"))
        .groupBy(col("key")).agg(max(col("pos")).as("rpos"))
        .withColumnRenamed("key", "_rkey"))

  /** Erase rows at or below each key's retraction horizon (broadcast
    * left join — takedown sets are bounded). Horizon rows (null key)
    * never match and always survive.
    */
  private def maskRetracted(segs: DataFrame,
                            tombs: Option[DataFrame]): DataFrame =
    tombs.fold(segs) { t =>
      segs.join(broadcast(t), segs("key") === col("_rkey"), "left")
        .filter(col("rpos").isNull || col("pos") > col("rpos"))
        .drop("_rkey", "rpos")
    }

  /** Per-key resolution across a union of LSM segments — the read-side
    * half of the fold: max-pos winner per key, rows at-or-below the
    * accumulated horizon erased, delete markers retained, one horizon
    * row out. Buckets partition the keyspace, so per-bucket resolution ≡
    * global resolution (the same argument as the replace-merge).
    */
  private[graft] def resolveSegments(segs: DataFrame): DataFrame = {
    val keyType = segs.schema("key").dataType
    val imageType = segs.schema("after").dataType
    val horizon = segs.filter(col("key").isNull)
      .agg(coalesce(max(col("pos")), lit(Long.MinValue)).as("h"))
    val events = segs.filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(max_by(struct(col("pos"), col("after")), col("pos")).as("m"))
      .select(col("key"), col("m.pos").as("pos"), col("m.after").as("after"))
      .crossJoin(broadcast(horizon))
      .filter(col("pos") > col("h"))
      .select(col("key"), col("pos"), col("after"))
    events.unionByName(horizon.select(
      lit(null).cast(keyType).as("key"), col("h").as("pos"),
      lit(null).cast(imageType).as("after")))
  }

  /** Replica snapshot of an LSM state dir (manifest-resolved, segments
    * folded at read).
    */
  def partitionedSnapshotLsm(spark: SparkSession, stateDir: String,
                             spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                             imageType: org.apache.spark.sql.types.StructType =
                               CdcSchema.invoiceType): DataFrame =
    snapshotOfFor(lsmState(spark, stateDir, spec, imageType), spec)

  private def lsmState(spark: SparkSession, stateDir: String,
                       spec: CdcSchema.CdcTableSpec,
                       imageType: org.apache.spark.sql.types.StructType): DataFrame = {
    val m = readManifest(spark, stateDir)
    resolveSegments(maskRetracted(
      BucketState.readBuckets(spark, stateDir, lsmDataBuckets(m),
        emptyStateFor(spark, spec, imageType).withColumn("p", lit(-1L)))
        .drop("p"),
      lsmRetractions(spark, stateDir, m)))
  }

  /** Time-travel snapshot: the replica as of position `asOfPos`, read
    * straight off the retained segments — `resolveSegments` over the rows
    * with `pos <= asOfPos` is exactly a replay of the stream's prefix
    * (max-pos winner per key among events ≤ asOfPos, horizon = the
    * largest truncate ≤ asOfPos). The append-only layout gets this for
    * free; the replace-merge replica cannot answer it at all (each merge
    * overwrites per-key history in place).
    *
    * Validity floor: [[compactLsm]] collapses each key's history to its
    * single winner, so every compaction ADVANCES the oldest answerable
    * as-of to the max position it folded (the same trade as checkpoint/
    * vacuum retention in log-structured table formats). The floor is
    * recorded in a `_TTFLOOR` sidecar at compaction commit; a read below
    * it fails loudly rather than returning a silently incomplete
    * prefix. Deployments that need deep time travel run compaction less
    * often (read amplification vs retention — the LSM knob).
    */
  def partitionedSnapshotLsmAsOf(spark: SparkSession, stateDir: String,
                                 asOfPos: Long,
                                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                                 imageType: org.apache.spark.sql.types.StructType =
                                   CdcSchema.invoiceType): DataFrame = {
    val floor = readTtFloor(spark, stateDir)
    require(asOfPos >= floor,
      s"as-of position $asOfPos precedes the compaction floor $floor: " +
        "per-key history at or below the floor was folded away by " +
        "compactLsm and a prefix read there would be silently wrong — " +
        "retain more history by compacting less often (compactWhenSegments)")
    // the retraction mask applies UNFILTERED by the as-of point: erased
    // history must not resurrect in any time-travel view (see the
    // retraction section — per-key truncate semantics)
    val m = readManifest(spark, stateDir)
    snapshotOfFor(
      resolveSegments(maskRetracted(
        BucketState.readBuckets(spark, stateDir, lsmDataBuckets(m),
          emptyStateFor(spark, spec, imageType).withColumn("p", lit(-1L)))
          .drop("p"),
        lsmRetractions(spark, stateDir, m))
        .filter(col("pos") <= asOfPos)),
      spec)
  }

  /** Change-data feed off the retained LSM log: the NET per-key state
    * transitions between two positions, `fromPos` exclusive → `toPos`
    * inclusive — what a downstream incremental consumer applies to catch
    * up from one checkpoint to the next without replaying the stream.
    * One segment read serves BOTH prefix resolutions; the keyed
    * full-outer join classifies:
    *
    *  - `i` — invisible at fromPos, live at toPos (insert or rebirth);
    *  - `u` — live at both with a DIFFERENT visible image (an update to
    *    an identical image is NOT a net change — this is a state diff,
    *    not an event replay, which is exactly why it stays O(|changed|)
    *    instead of O(|events|));
    *  - `d` — live at fromPos, gone at toPos (delete marker or a
    *    truncate horizon crossed in the window).
    *
    * Output: (key, change_op, old image, new image). Same compaction
    * floor contract as [[partitionedSnapshotLsmAsOf]], checked on
    * `fromPos` (the older prefix).
    */
  def lsmChangesBetween(spark: SparkSession, stateDir: String,
                        fromPos: Long, toPos: Long,
                        spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                        imageType: org.apache.spark.sql.types.StructType =
                          CdcSchema.invoiceType): DataFrame = {
    require(fromPos <= toPos, s"fromPos $fromPos > toPos $toPos")
    val floor = readTtFloor(spark, stateDir)
    require(fromPos >= floor,
      s"fromPos $fromPos precedes the compaction floor $floor: history " +
        "below the floor was folded away by compactLsm — compact less " +
        "often (compactWhenSegments) to retain a deeper change feed")
    // masked on BOTH prefix views: a retracted key reports no net change
    // (a retraction is not a CDC event — downstream stores receive the
    // takedown out-of-band; see the retraction section)
    val m = readManifest(spark, stateDir)
    val segs = maskRetracted(
        BucketState.readBuckets(spark, stateDir, lsmDataBuckets(m),
          emptyStateFor(spark, spec, imageType).withColumn("p", lit(-1L)))
          .drop("p"),
        lsmRetractions(spark, stateDir, m))
      .filter(col("pos") <= toPos)
    // BOTH prefix winners from ONE keyed aggregation over ONE segment
    // scan (two resolveSegments calls would read the log twice): the
    // fromPos winner uses a conditional ordering column — rows past
    // fromPos order as null and are never chosen — and the horizons come
    // from one tiny agg over the key-null rows, broadcast.
    val h = broadcast(segs.filter(col("key").isNull).agg(
      coalesce(max(when(col("pos") <= fromPos, col("pos"))), lit(Long.MinValue))
        .as("h1"),
      coalesce(max(col("pos")), lit(Long.MinValue)).as("h2")))
    segs.filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(
        max_by(struct(col("pos"), col("after")),
          when(col("pos") <= fromPos, col("pos"))).as("w1"),
        max_by(struct(col("pos"), col("after")), col("pos")).as("w2"))
      .crossJoin(h)
      .select(col("key"),
        when(col("w1.pos") > col("h1"), col("w1.after")).as("old_img"),
        when(col("w2.pos") > col("h2"), col("w2.after")).as("new_img"))
      .filter(!(col("old_img") <=> col("new_img")))
      .select(col("key"),
        when(col("old_img").isNull, lit("i"))
          .when(col("new_img").isNull, lit("d"))
          .otherwise(lit("u")).as("change_op"),
        col("old_img"), col("new_img"))
  }

  /** Oldest answerable as-of position (Long.MinValue until a compaction
    * has folded history).
    */
  def readTtFloor(spark: SparkSession, stateDir: String): Long = {
    val fs = BucketState.hadoopFs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_TTFLOOR")
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeTtFloor(spark: SparkSession, stateDir: String,
                           floor: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/_TTFLOOR.tmp")
    val cur = new org.apache.hadoop.fs.Path(s"$stateDir/_TTFLOOR")
    val fs = BucketState.hadoopFs(spark, stateDir)
    val out = fs.create(tmp, true)
    try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(cur.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Fold an LSM state's segment lists back to one resolved version per
    * bucket: below-horizon rows are erased for good, markers and the
    * horizon row survive, and the whole manifest repoints in one atomic
    * rename (same single-writer contract as `BucketState.compact`; run
    * from the stream's thread or a maintenance window). The recorded
    * (version, fingerprint) pair is preserved so a crash-replay of the
    * last data batch still recognizes itself post-compaction.
    */
  /** Fold every segment referenced at call time into one version dir and
    * swap the manifest to it. SAFE TO RUN CONCURRENTLY with the apply
    * path (this is the "compaction off the hot path" contract): the fold
    * reads a manifest snapshot outside any lock, and the final swap runs
    * under the per-state-dir manifest lock against a FRESH read,
    * replacing only the segments it actually folded — segments a
    * concurrent batch appended mid-fold survive verbatim (resolution is
    * max-pos-per-key and max-horizon, both associative, so
    * resolve(folded ∪ late) ≡ resolve(old ∪ late)). The replay
    * fingerprint is taken from the fresh read, never the stale snapshot,
    * so a concurrent batch's progress record is preserved. `beforeSwap`
    * is a test seam: it runs after the fold, before the locked swap.
    */
  def compactLsm(spark: SparkSession, stateDir: String, nBuckets: Int,
                 spec: CdcSchema.CdcTableSpec = CdcSchema.invoiceSpec,
                 beforeSwap: () => Unit = () => ()): Unit = {
    val m = readManifest(spark, stateDir)
    // nothing to fold on an empty store, or one holding only retraction
    // tombstones (a takedown can precede the first data batch)
    if (m.buckets.isEmpty || lsmDataBuckets(m).isEmpty) return
    val bucketOf = bucketFn(nBuckets) _
    val newVersion = BucketState.reserveVersion(
      stateDir, m.buckets.values.flatten.max + 1)
    try {
      // the fold applies the retraction mask, so erased rows leave the
      // disk here; tombstones themselves are read separately (they are
      // not events — a null-image tombstone reaching resolveSegments
      // would read as a delete marker)
      val tombsOpt = lsmRetractions(spark, stateDir, m)
      val resolved = resolveSegments(maskRetracted(
          BucketState.readBuckets(spark, stateDir, lsmDataBuckets(m),
            sys.error("unreachable — manifest non-empty")).drop("p"),
          tombsOpt))
        .persist()
      try {
        val keyType = resolved.schema("key").dataType
        // Per-key history at or below every folded position is gone now:
        // advance the time-travel floor to the max folded position (the
        // global max pos is always some key's winner, or the horizon row).
        // Written BEFORE the manifest rename — a crash between the two
        // leaves the floor conservatively high, never an answerable-looking
        // but history-less as-of. (Positions a concurrent batch appends
        // mid-fold are strictly above the folded max — stream positions
        // are monotone — so the floor never covers unfolded history.
        // With a retraction mask the max is over SURVIVING rows — still
        // correct: every masked row above it is erased from every as-of
        // view too, so no read between the two maxima can differ.)
        val folded = resolved.agg(coalesce(max(col("pos")), lit(Long.MinValue)))
          .collect()(0).getLong(0)
        // tombstones SURVIVE the fold, deduped to one per-key max-rpos
        // row: events may arrive out of order (the file-source batches
        // shuffle the keyspace), so no fold can prove a horizon will
        // never mask again — a straggler at or below rpos delivered
        // after the fold must still be erased. The at-rest cost is one
        // narrow row per lifetime takedown (the standing-mask stance the
        // near-dup index's keepTombstones documents); the rows the
        // horizon already covers DO leave the disk here.
        val keptTombs = tombsOpt.map(_
          .select(col("_rkey").as("key"), col("rpos").as("pos"),
            lit(null).cast(resolved.schema("after").dataType).as("after"),
            lit(LsmRetractBucket).as("p")))
        val outRows = resolved
          .withColumn("p",
            when(col("key").isNull, lit(-1L))
              .otherwise(bucketOf(col("key"), keyType)))
        keptTombs.fold(outRows)(outRows.unionByName(_))
          .repartition(col("p"))
          .write.mode("overwrite").partitionBy("p")
          .parquet(s"$stateDir/v=$newVersion")
        writeTtFloor(spark, stateDir,
          math.max(folded, readTtFloor(spark, stateDir)))
        val outBuckets = listBuckets(spark, s"$stateDir/v=$newVersion").toSet
        beforeSwap()
        val next = BucketState.manifestLock(stateDir).synchronized {
          val mNow = readManifest(spark, stateDir)
          val merged = (mNow.buckets.keySet ++ outBuckets).flatMap { b =>
            val late = mNow.buckets.getOrElse(b, Set.empty[Long]) --
              m.buckets.getOrElse(b, Set.empty[Long])
            val segs = late ++
              (if (outBuckets.contains(b)) Set(newVersion) else Set.empty[Long])
            if (segs.isEmpty) None else Some(b -> segs)
          }.toMap
          commitManifest(spark, stateDir, merged, mNow.fp)
          merged
        }
        BucketState.gcVersions(spark, stateDir)
      } finally resolved.unpersist()
    } finally BucketState.releaseVersion(stateDir, newVersion)
  }

  // Manifest-committed bucket-state plumbing lives in [[BucketState]]
  // (shared with operators.IncrementalDedup); these aliases keep the
  // replica-specific call sites terse.
  private def readManifest(spark: SparkSession, stateDir: String) =
    BucketState.readManifest(spark, stateDir)

  private def inputFingerprint(batch: DataFrame): Long =
    BucketState.inputFingerprint(batch)

  private def commitManifest(spark: SparkSession, stateDir: String,
                             manifest: Map[Long, Set[Long]],
                             fp: Option[(Long, Long)]): Unit =
    BucketState.commitManifest(spark, stateDir, manifest, fp)

  /** Replace-merge state read under the explicit state schema of
    * `(spec, imageType)` — no footer job, and an empty manifest yields an
    * empty state of the same shape.
    */
  private def readBuckets(spark: SparkSession, stateDir: String,
                          manifest: Map[Long, Set[Long]],
                          spec: CdcSchema.CdcTableSpec,
                          imageType: org.apache.spark.sql.types.StructType): DataFrame =
    BucketState.readBuckets(spark, stateDir, manifest,
      emptyStateFor(spark, spec, imageType).withColumn("p", lit(-1L)),
      Some(stateSchemaFor(spec, imageType)))

  /** Task count of a bucket-partitioned state write touching `buckets`
    * buckets: at most one task per core. A task may then write several
    * `p=` dirs, but hash partitioning by `p` still gives each dir exactly
    * one writer, so the layout stays one file per dir.
    */
  private def writeTasks(spark: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, spark.sparkContext.defaultParallelism))

  private def listBuckets(spark: SparkSession, versionDir: String): Seq[Long] =
    BucketState.listBuckets(spark, versionDir)

  private def hadoopFs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    BucketState.hadoopFs(spark, path)

  /** Replica snapshot of a bucketed state dir, resolved through the
    * `_CURRENT` manifest — readers never see an uncommitted version dir.
    */
  def partitionedSnapshot(spark: SparkSession, stateDir: String): DataFrame =
    snapshotOf(readBuckets(spark, stateDir, readManifest(spark, stateDir).buckets,
      CdcSchema.invoiceSpec, CdcSchema.invoiceType).drop("p"))

  /** [[partitionedSnapshot]] for an arbitrary table spec (no UInt64
    * widening — natural column types). `imageType` is the row image the
    * state was written under; it has no default, so a non-invoice table
    * can never be read (or, with no commit yet, zero-stated) as invoice.
    */
  def partitionedSnapshotFor(spark: SparkSession, stateDir: String,
                             spec: CdcSchema.CdcTableSpec,
                             imageType: org.apache.spark.sql.types.StructType): DataFrame =
    snapshotOfFor(readBuckets(spark, stateDir, readManifest(spark, stateDir).buckets,
      spec, imageType).drop("p"), spec)

  /** Newest state version under `stateDir`, if any. */
  def latestStateVersion(spark: SparkSession, stateDir: String): Option[(Long, DataFrame)] = {
    val fs = hadoopFs(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(root)) None
    else {
      val versions = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .map(_.getPath.getName.stripPrefix("v=").toLong)
      if (versions.isEmpty) None
      else {
        val v = versions.max
        Some((v, spark.read.parquet(s"$stateDir/v=$v")))
      }
    }
  }
}

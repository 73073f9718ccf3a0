package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming CDC ingest — reference operators S1-S13 (SURVEY.md §2.1),
  * re-expressed Spark-first.
  *
  * The environment has no spark-sql-kafka jar, so the Kafka source is
  * emulated by a file stream of JSON-lines whose projected schema is
  * byte-compatible with the real connector (key/value binary, topic,
  * partition, offset, timestamp — FIXTURES.md §B). Every transform after
  * the source is identical to what would run against real Kafka, so the
  * pipeline ports by swapping one `readStream` line.
  *
  * Differences from the reference's scripts (deliberate fixes, SURVEY.md
  * §4): the envelope schema is inferred ONCE and cached instead of per
  * batch (README.md:179 re-scans every batch), there is no per-batch
  * `show()` job, and the append sink partitions by batch id with dynamic
  * partition overwrite so a replayed batch overwrites itself instead of
  * duplicating (idempotent exactly-once, not just at-least-once).
  */
object Ingest extends org.apache.spark.internal.Logging {

  /** S1/S2: subscribe to the emulated topic directory; emit Kafka-shaped
    * rows. `subscribePattern` filtering (README.md:193) is the rlike.
    * `valueBase64 = true` for Avro-valued topics: the file transport
    * carries binary values base64-encoded, and unbase64 restores the
    * exact bytes a real Kafka record would deliver (S15 wire format).
    *
    * Ordering hazard: with one file per trigger, the file source orders
    * segments by modification time in ms, so two segments with EQUAL
    * mtimes can be read in either order. Deletes leave no tombstone in
    * the table (the [[CdcMerge.snapshot]] drop), so a stale insert read
    * after its delete silently resurrects the key. Producers must give
    * each segment a strictly later mtime than the one before it
    * (perfbench's `Gen.land` does); the real fix, tombstones or a
    * name-ordered source, is not implemented. */
  def readTopicStream(spark: SparkSession, dir: String, topicPattern: String = "debezium1.*",
                      valueBase64: Boolean = false): DataFrame = {
    val raw = StructType.fromDDL(
      "value STRING, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP")
    spark.readStream.schema(raw)
      // one file = one micro-batch: each topic segment file plays a
      // Kafka offset range, so the incremental merge path actually runs
      // per segment instead of swallowing the backlog in one batch
      .option("maxFilesPerTrigger", 1)
      .json(dir)
      .filter(col("topic").rlike(topicPattern))
      .select(
        lit(null).cast("binary").as("key"),
        valueColumn(valueBase64),
        col("topic"), col("partition"), col("offset"), col("timestamp"),
        lit(0).as("timestampType"))
  }

  private def valueColumn(valueBase64: Boolean) =
    (if (valueBase64) unbase64(col("value")) else col("value").cast("binary")).as("value")

  /** Batch twin of [[readTopicStream]] (startingOffsets=earliest replay,
    * U8 — the file source naturally reads everything). */
  def readTopicBatch(spark: SparkSession, dir: String, topicPattern: String = "debezium1.*",
                     valueBase64: Boolean = false): DataFrame = {
    val raw = StructType.fromDDL(
      "value STRING, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP")
    spark.read.schema(raw).json(dir)
      .filter(col("topic").rlike(topicPattern))
      .select(lit(null).cast("binary").as("key"), valueColumn(valueBase64),
        col("topic"), col("partition"), col("offset"), col("timestamp"), lit(0).as("timestampType"))
  }

  /** S15: Avro envelope decode — the Confluent-value-converter stand-in
    * (reference README.md:262-263, 309). Rewrites `value` from Avro
    * binary to the equivalent plain-JSON bytes, so EVERYTHING downstream
    * (from_json with the declared envelope schema, post-image
    * projection, merge) is byte-identical to the JSON wire path.
    * `writerSchemaJson` plays the schema-registry lookup. */
  def decodeAvroValues(kafkaShaped: DataFrame, writerSchemaJson: String): DataFrame =
    kafkaShaped.withColumn("value",
      graft.functions.AvroToJson(col("value"), writerSchemaJson).cast("binary"))

  /** S15 with the full Confluent frame: values carry the 5-byte header
    * (magic 0 + int32 schema id) KafkaAvroSerializer writes; the id is
    * resolved against `registry` per record, so schema evolution on the
    * topic (mixed writer ids) decodes correctly. `registry` is the
    * offline stand-in for the schema-registry HTTP client
    * (README.md:262-263 SCHEMA_REGISTRY_URL). */
  def decodeConfluentAvroValues(kafkaShaped: DataFrame, registry: Map[Int, String]): DataFrame =
    kafkaShaped.withColumn("value",
      graft.functions.ConfluentAvroToJson(col("value"), registry).cast("binary"))

  /** Wire format of the Kafka value column — S15's decode step as a
    * first-class configuration of the streaming entries, so the
    * reference's path-2 job (Confluent Avro values, README.md:262-263)
    * is reachable from the config-driven runner ([[DeltaStream]]'s
    * `graft.value.format`), not only through the Scala decode helpers.
    * Each format says (a) whether the file transport base64-wrapped the
    * binary value (FIXTURES.md §B — real Kafka delivers bytes directly;
    * the emulation's JSON-lines carrier cannot) and (b) how to rewrite
    * `value` to the plain-JSON bytes the SHARED parse path consumes —
    * downstream of decode the two wire formats are byte-identical. */
  sealed trait ValueFormat {
    /** The file transport base64-encodes binary (non-JSON) values. */
    def valueBase64: Boolean
    /** Rewrite `value` to plain-JSON bytes; identity for JSON. */
    def decode(kafkaShaped: DataFrame): DataFrame
  }
  /** Plain Debezium JSON values (the reference's path-1 job). */
  case object JsonValues extends ValueFormat {
    val valueBase64 = false
    def decode(kafkaShaped: DataFrame): DataFrame = kafkaShaped
  }
  /** Raw Avro-binary values decoded with one writer schema (its JSON
    * form — the offline stand-in for a schema-registry lookup).
    * LENIENT decode: this format is the STREAMING door's (the decode
    * projection runs before the foreachBatch DLQ split), so a poison
    * frame must yield a quarantinable diagnostic row, not throw — a
    * throw fails the micro-batch before the split runs, the checkpoint
    * never advances, and restarts replay the same record forever. The
    * diagnostic JSON carries no `payload.op`, so the existing split
    * quarantines it with the raw bytes (base64) preserved. */
  final case class AvroValues(writerSchemaJson: String) extends ValueFormat {
    val valueBase64 = true
    def decode(kafkaShaped: DataFrame): DataFrame =
      kafkaShaped.withColumn("value",
        graft.functions.AvroToJson(col("value"), writerSchemaJson, lenient = true)
          .cast("binary"))
  }
  /** Confluent-framed Avro values (magic 0 + int32 schema id) resolved
    * against an id→writer-schema registry map. Lenient for the same
    * reason as [[AvroValues]]. */
  final case class ConfluentAvroValues(registry: Map[Int, String]) extends ValueFormat {
    val valueBase64 = true
    def decode(kafkaShaped: DataFrame): DataFrame =
      kafkaShaped.withColumn("value",
        graft.functions.ConfluentAvroToJson(col("value"), registry, lenient = true)
          .cast("binary"))
  }

  /** S5: the reference's per-batch dynamic schema inference
    * (README.md:179, `spark.read.json(df.rdd.map(lambda r: r.value))`).
    * Exposed for fidelity; the hot path caches the result. */
  def inferEnvelopeSchema(spark: SparkSession, values: Dataset[String]): StructType =
    spark.read.json(values).schema

  /** S3/S4/S6-S9: CAST(value AS STRING) → from_json → post-image
    * projection (README.md:195, 181-185). Keeps op + source.lsn + ts_ms
    * as merge metadata, decodes the Debezium epoch-days date. */
  def extractPostImage(kafkaShaped: DataFrame,
                       schema: StructType = Envelope.employeesEnvelope,
                       keyCols: Seq[String] = Seq("id")): DataFrame =
    parse(kafkaShaped, schema, keyCols)

  /** Whether an (inferred) envelope schema carries a usable row image —
    * a payload.after or payload.before STRUCT. [[parse]] throws without
    * one; [[run]]'s dynamic-inference path must not cache such a
    * schema (see the crash-loop note there). */
  private[cdc] def hasPayloadImage(schema: StructType): Boolean =
    schema.fields.find(_.name == "payload").map(_.dataType).exists {
      case p: StructType => p.fields.exists(f =>
        (f.name == "after" || f.name == "before") && f.dataType.isInstanceOf[StructType])
      case _ => false
    }

  private def parse(df: DataFrame, schema: StructType, keyCols: Seq[String] = Seq("id")): DataFrame = {
    // Schema-drift/delete-only hazard (SURVEY.md §7.5 #1): with the
    // dynamic inference path, a batch of only deletes infers `after` as
    // an untyped null — star-expanding it would fail. The post-image
    // shape is taken from whichever of after/before is a struct; deletes
    // carry their image in `before` (tombstones off, README.md:260).
    def structOf(name: String): Option[StructType] =
      schema.fields.find(_.name == "payload").map(_.dataType).collect {
        case p: StructType => p.fields.find(_.name == name).map(_.dataType)
      }.flatten.collect { case s: StructType => s }
    val afterOk = structOf("after").isDefined
    val rowSchema = structOf("after").orElse(structOf("before")).getOrElse(
      throw new IllegalArgumentException(
        s"envelope schema has neither after nor before struct: ${schema.catalogString}"))

    // a DLQ-split input arrives with the envelope ALREADY parsed
    // ([[withDeadLetters]] keeps its `_parsed` struct on the good half)
    // — reuse it instead of paying from_json a second time per batch
    val base =
      if (df.columns.contains("_parsed")) df.select(col("timestamp"), col("_parsed").as("json"))
      else df.select(col("timestamp"), col("value").cast("string").as("value"))
        .withColumn("json", from_json(col("value"), schema))
    val imageCol = if (afterOk) "after" else "before"
    // Delete events carry their key in `before` (after is null) — recover
    // EVERY merge-key column, not just the first, or a composite-key
    // delete groups under a wrong partially-null key and the live row is
    // never removed. The null fallback is typed from the row schema (a
    // hardcoded int cast would silently coerce long/string key columns).
    val beforeKeys = if (afterOk) keyCols.map { k =>
      val keyType = rowSchema.fields.find(_.name == k).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"merge key '$k' not in row schema: ${rowSchema.catalogString}"))
      (if (structOf("before").exists(_.fieldNames.contains(k)))
         col(s"json.payload.before.$k").cast(keyType)
       else lit(null).cast(keyType)).as(s"_before_$k")
    } else Nil
    val meta = Seq(
      col("json.payload.op").as("op"),
      col("json.payload.source.lsn").as("lsn"),
      col("json.payload.ts_ms").as("ts_ms"),
      col("timestamp").as("kafka_ts"))
    val withBefore = base.select(
      col(s"json.payload.$imageCol.*") +: (meta ++ beforeKeys): _*)
    val projected = keyCols.foldLeft(withBefore) { (acc, k) =>
      if (afterOk) acc.withColumn(k, coalesce(col(k), col(s"_before_$k"))).drop(s"_before_$k")
      else acc
    }
    val typed =
      if (rowSchema.fieldNames.contains("created_at"))
        // cast: the dynamic inference path widens int32 epoch-days to long
        projected.withColumn("created_date", Envelope.epochDaysToDate(col("created_at").cast("int")))
      else projected
    // Poison guard, the [[withDeadLetters]] classification applied
    // uniformly: an unparseable value (from_json -> null struct) or an
    // envelope missing payload.op projects as an all-null row whose
    // op=NULL the snapshot collapse treats as LIVE — a permanent
    // phantom row no later event can update or delete (null keys never
    // join). With a DLQ these rows were already quarantined upstream
    // (this filter is then a no-op on the good half); without one they
    // are dropped here instead of materialized.
    typed.filter(col("op").isNotNull)
  }

  // ----- versioned-snapshot commit protocol (U4, crash-safe) -----
  // Layout under snapshotDir:
  //   v<batchId>/            parquet data for the state after <batchId>
  //   _COMMIT_<batchId>      empty marker, written ONLY after v<batchId>
  //                          is fully written (marker creation is atomic)
  // The current state is v<max committed batchId>. A crash between data
  // write and marker write leaves a dangling v-dir that the replayed
  // batch simply overwrites — no window where the table is lost, unlike
  // delete-then-rename. Markers double as the exactly-once guard: a
  // replayed batch whose id is ≤ the max committed id is a no-op.

  // ONE per-path FS resolution (DeltaProtocol.fsOf): the default-FS
  // instance breaks when the table dir lives on a different filesystem
  import graft.ops.DeltaProtocol.{fsOf, markerId}

  /** Highest committed batch id under `dir`, if any. */
  def committedBatch(spark: SparkSession, dir: String): Option[Long] =
    snapshotVersions(spark, dir).lastOption

  /** Read the current committed snapshot state (empty if none);
    * prefers a clustered REPLACE copy of the base when [[Clustering]]
    * has committed one for the current id. */
  def readSnapshot(spark: SparkSession, dir: String): Option[DataFrame] =
    Clustering.baseDir(spark, dir).map(spark.read.parquet)

  /** All still-retained committed versions (GC keeps the current and one
    * prior), oldest first. */
  def snapshotVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap(s => markerId(s.getPath.getName, "_COMMIT_")).sorted
  }

  /** Time travel: read the table as of a specific committed batch
    * (Hudi/Delta `VERSION AS OF` analog over the versioned-dir layout).
    * None if that version was never committed or has been GC'd. */
  def readSnapshotAt(spark: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    if (snapshotVersions(spark, dir).contains(batchId))
      Some(spark.read.parquet(s"$dir/v$batchId"))
    else None

  /** S10-S13: checkpointed micro-batch ingest. Appends the parsed event
    * log as parquet partitioned by `_batch_id` (replay-idempotent:
    * dynamic partition overwrite makes a replayed batch overwrite its
    * own partition), and if `snapshotDir` is set, maintains the
    * materialized current-state table per batch via
    * [[CdcMerge.upsertPruned]] — the native stand-in for the
    * DeltaStreamer upsert path (SURVEY.md §3.3). Join-pruned merge: only
    * rows whose key appears in the batch are re-merged; at scale the
    * untouched majority streams through without a window sort.
    */
  def run(spark: SparkSession, inputDir: String, logDir: String, checkpointDir: String,
          snapshotDir: Option[String] = None,
          declared: Option[StructType] = Some(Envelope.employeesEnvelope),
          snapshotPartitionBy: Seq[String] = Nil,
          showBatches: Int = 0,
          dlqDir: Option[String] = None,
          valueFormat: ValueFormat = JsonValues): StreamingQuery = {
    // Infer once, not per batch (fixes the reference's 3-jobs-per-batch).
    @volatile var cachedSchema: Option[StructType] = declared

    // Avro decode happens HERE, on the kafka-shaped stream before the
    // foreachBatch body — everything downstream (DLQ split, inference,
    // parse, merge) sees the same plain-JSON bytes as the JSON wire
    val stream = valueFormat.decode(
      readTopicStream(spark, inputDir, valueBase64 = valueFormat.valueBase64))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        // Cache an inferred schema ONLY when it actually carries a
        // payload image: inferring from an empty or all-poison first
        // batch yields an envelope with no after/before struct, and
        // caching THAT would turn one bad batch into a permanent crash
        // loop (parse throws, the checkpoint replays the same batch,
        // the same unusable schema re-infers — forever, DLQ or not).
        // An unusable inference quarantines the whole batch (DLQ set)
        // or drops it (all rows are poison by construction — nothing
        // parseable existed to lose), and the NEXT batch retries.
        val schemaOpt = cachedSchema.orElse {
          val s = inferEnvelopeSchema(batch.sparkSession,
            batch.select(col("value").cast("string")).as[String])
          if (hasPayloadImage(s)) { cachedSchema = Some(s); Some(s) }
          else None
        }
        schemaOpt match {
          case None =>
            // OBSERVABLE, not silent: a transient producer bug that
            // poisons a whole batch should leave more than a gap in the
            // event log — log the quarantine/drop (one count job over
            // the batch-sized micro-batch, paid only on this failure
            // path). An EMPTY trigger is not a poison batch: inference
            // legitimately finds nothing before the first data arrives,
            // so it stays silent past a limit-1 emptiness probe
            if (!batch.isEmpty) {
            val n = batch.count()
            dlqDir match {
              case Some(dq) =>
                logWarning(s"batch $batchId: envelope schema inference yielded no " +
                  s"payload image — quarantining all $n rows to DLQ $dq; " +
                  "the next batch re-attempts inference")
                graft.ops.DeltaProtocol.writeBatchPartition(
                  batch.select(col("topic"), col("partition"), col("offset"),
                    col("timestamp"), col("value").cast("string").as("raw")),
                  batchId, dq)
                ()
              case None =>
                logWarning(s"batch $batchId: envelope schema inference yielded no " +
                  s"payload image and no DLQ is configured — DROPPING all $n rows; " +
                  "set dlqDir to quarantine instead")
            }
            }
          case Some(schema) =>
        // DLQ wire: quarantine poison records before projection; the
        // idempotent per-batch overwrite makes replays exactly-once,
        // same protocol as the event log below.
        val input = dlqDir match {
          case Some(dq) =>
            val (good, dlq) = withDeadLetters(batch, schema)
            // a batch with no dead letters skips the quarantine write —
            // the shared empty-write rule (DeltaProtocol)
            graft.ops.DeltaProtocol.writeBatchPartition(dlq, batchId, dq)
            good
          case None => batch
        }
        val parsed = parse(input, schema)
        // S10 — the reference's per-batch debug sink (README.md:187
        // `show(vertical=True, truncate=False)`), opt-in and bounded to
        // the first N batches: the unconditional form is a whole extra
        // job per trigger, the reference's 3-jobs-per-batch trap.
        if (batchId < showBatches) parsed.show(20, 0, vertical = true)
        // empty-write rule (shared, DeltaProtocol): a batch whose rows
        // all went to the DLQ (or an empty trigger) must not poison a
        // fresh logDir with a schema-less zero-row write. The returned
        // non-emptiness feeds commitMerge so the same uncached parse
        // plan isn't re-evaluated for a second isEmpty job per trigger.
        val wrote = graft.ops.DeltaProtocol.writeBatchPartition(parsed, batchId, logDir)
        snapshotDir.foreach { dir =>
          commitMerge(batch.sparkSession, dir, parsed, parsedIsEmpty = !wrote,
            batchId, Seq("id"), Seq("lsn"), snapshotPartitionBy)
        }
        }
      }
      .start()
  }

  /** One versioned COW commit of `parsed` into the snapshot at `dir`
    * (exactly-once by batch id; see the commit-protocol comment above).
    * U5: hive-style key partitioning of the materialized table, as
    * Hudi's hive_style_partitioning lays out COW (README.md:307). */
  private def commitMerge(sess: SparkSession, dir: String, parsed: DataFrame,
                          parsedIsEmpty: Boolean, batchId: Long,
                          keys: Seq[String], ord: Seq[String],
                          partitionCols: Seq[String]): Unit = {
    // a row-less batch advances NO version: merging nothing into the
    // previous snapshot would rewrite identical content (pure churn +
    // GC), and as the FIRST version it would write a zero-row v dir —
    // schema-less parquet that crashes the next batch's upsert read
    // (the empty-write rule). Replay-safe: no marker moves, so the
    // replayed empty batch skips again. Emptiness arrives from the
    // caller, which already paid the isEmpty job on this plan for its
    // own log write — not re-derived here.
    if (parsedIsEmpty) return
    // FS lock (round 19, opt-in): the versioned-snapshot commit gets
    // the same cross-process serialization as the file-group store —
    // replay-guard read → merge → marker publish as one locked unit
    // (FS lock outside the JVM-level work, per the lock-order rule)
    graft.cdc.FileGroups.withFsLockIfEnabled(sess, dir) {
    val fs = fsOf(sess, dir)
    val committed = committedBatch(sess, dir)
    if (!committed.exists(_ >= batchId)) { // exactly-once replay guard
      val merged = committed match {
        case Some(id) =>
          CdcMerge.upsertPruned(sess.read.parquet(s"$dir/v$id"), parsed, keys, ord)
        case None => CdcMerge.snapshot(parsed, keys, ord)
      }
      val writer = merged.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(s"$dir/v$batchId")
      fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT_$batchId"))
      // GC: drop everything outside the table's retention window
      // (FileGroups.retention — default 2: the current version plus
      // the previous, kept for readers that resolved the pointer just
      // before commit), except savepointed versions (Savepoints pins
      // them for restore). The window is the same `_RETAIN_` policy
      // marker the file-group cleaner honors, so one knob governs both
      // snapshot layouts.
      // MARKERS FIRST, then data — explicitly, never in listing order:
      // a crash after a v-dir's recursive delete but before its marker
      // would otherwise leave a resolvable version over partial data
      // (silently short reads, a savepoint pinning nothing, a rollback
      // restoring a half-deleted head). With markers gone first, a
      // mid-GC crash leaves only invisible garbage the second pass
      // below also reclaims on the NEXT commit's GC.
      committedBatch(sess, dir).foreach { _ =>
        val saved = Savepoints.savepoints(sess, dir)
        val window = snapshotVersions(sess, dir)
          .takeRight(FileGroups.retention(sess, dir)).toSet
        def doomed(i: Long): Boolean = !window.contains(i) && !saved.contains(i)
        snapshotVersions(sess, dir).filter(doomed).foreach { i =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT_$i"), false)
        }
        fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath)
          .foreach { p =>
            val id = if (p.getName.startsWith("v"))
              p.getName.stripPrefix("v").toLongOption else None
            if (id.exists(doomed)) fs.delete(p, true)
          }
      }
    }
    }
  }

  /** Per-table route: declared envelope schema + merge key/ordering +
    * optional hive partitioning of the materialized table. */
  final case class TableRoute(schema: StructType, keys: Seq[String] = Seq("id"),
                              ord: Seq[String] = Seq("lsn"),
                              partitionBy: Seq[String] = Nil)

  /** Multi-table ingest: ONE checkpointed stream over the whole topic
    * pattern (the reference subscribes to `debezium1.*`, README.md:193 —
    * inherently multi-table even though its include-list names one
    * table), routed per batch by topic suffix `<prefix>.<schema>.<table>`
    * (README.md:104). Each table gets its own append log and versioned
    * snapshot under `baseDir/<table>/`. */
  def runRouted(spark: SparkSession, inputDir: String, baseDir: String, checkpointDir: String,
                routes: Map[String, TableRoute],
                topicPattern: String = "debezium1.*",
                dlqDir: Option[String] = None,
                valueFormat: ValueFormat = JsonValues): StreamingQuery = {
    // one decode before routing — every table route (and the DLQ
    // split) consumes the same plain-JSON bytes
    valueFormat.decode(
      readTopicStream(spark, inputDir, topicPattern, valueFormat.valueBase64)).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // DLQ for the multi-table stream: the validity criterion
        // (parses as JSON, carries payload.op) is SCHEMA-INDEPENDENT —
        // split once against the minimal op-only envelope BEFORE
        // routing, so one table's poison can't vanish while another's
        // is quarantined. The good half drops the minimal `_parsed`
        // (each route re-parses under its OWN declared envelope —
        // reusing the op-only struct would erase every data column).
        val input = dlqDir match {
          case Some(dq) =>
            val (good, dlq) = withDeadLetters(batch,
              StructType.fromDDL("payload STRUCT<op: STRING>"))
            graft.ops.DeltaProtocol.writeBatchPartition(dlq, batchId, dq)
            good.drop("_parsed")
          case None => batch
        }
        val cached = input.cache() // one source read, N table routes
        try routes.foreach { case (table, r) =>
          val sub = cached.filter(col("topic").endsWith("." + table))
          val parsed = parse(sub, r.schema, r.keys)
          // a batch routinely carries rows for only SOME tables; a
          // zero-row write would poison the quiet table's fresh log
          // dir with a schema-less dir — the shared empty-write rule
          // (DeltaProtocol). The quiet table's snapshot version
          // likewise only advances when data arrives: the returned
          // non-emptiness feeds commitMerge's row-less guard directly.
          val wrote = graft.ops.DeltaProtocol.writeBatchPartition(
            parsed, batchId, s"$baseDir/$table/log")
          commitMerge(batch.sparkSession, s"$baseDir/$table/snapshot", parsed,
            parsedIsEmpty = !wrote, batchId, r.keys, r.ord, r.partitionBy)
        } finally cached.unpersist()
      }
      .start()
  }

  /** Batch end-to-end: full log replay → snapshot (U8 earliest + U1-U3). */
  def snapshotFromTopic(spark: SparkSession, inputDir: String,
                        schema: StructType = Envelope.employeesEnvelope): DataFrame =
    CdcMerge.snapshot(parse(readTopicBatch(spark, inputDir), schema), Seq("id"), Seq("lsn"))

  /** S-surface hardening: split a Kafka-shaped batch into (parseable,
    * dead-letter) halves BEFORE the post-image projection. A value
    * that is not JSON at all (from_json → null) or parses without a
    * Debezium `payload.op` is quarantined with its raw bytes and full
    * source coordinates (topic/partition/offset/timestamp — everything
    * needed to replay it after a fix) instead of crashing the batch or
    * silently projecting a null row. The split is ONE narrow pass; the
    * good half feeds [[extractPostImage]]/merge with its `_parsed`
    * envelope struct attached (consumed there — the batch is parsed
    * exactly once), so wiring a DLQ sink into [[run]]'s foreachBatch
    * is a two-line change.
    * Production rule this encodes: a poison record must cost one
    * quarantined row, never the pipeline. */
  def withDeadLetters(kafkaShaped: DataFrame,
                      schema: StructType = Envelope.employeesEnvelope): (DataFrame, DataFrame) = {
    val tagged = kafkaShaped.withColumn("_parsed",
      from_json(col("value").cast("string"), schema))
    val ok = col("_parsed").isNotNull && col("_parsed.payload.op").isNotNull
    // the good half KEEPS `_parsed`: [[parse]] projects from it directly,
    // so the hot ingest path pays from_json once per batch, not twice
    val good = tagged.filter(ok)
    val dlq = tagged.filter(!ok)
      .select(col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("value").cast("string").as("raw"))
    (good, dlq)
  }

  /** S15 batch end-to-end over an Avro-valued topic: decode → the SAME
    * parse/merge path as the JSON wire format. */
  def snapshotFromAvroTopic(spark: SparkSession, inputDir: String, writerSchemaJson: String,
                            schema: StructType = Envelope.employeesEnvelope): DataFrame =
    CdcMerge.snapshot(
      parse(decodeAvroValues(readTopicBatch(spark, inputDir, valueBase64 = true), writerSchemaJson), schema),
      Seq("id"), Seq("lsn"))

  /** Confluent-framed twin of [[snapshotFromAvroTopic]]: header strip +
    * registry lookup → the SAME parse/merge path. */
  def snapshotFromConfluentTopic(spark: SparkSession, inputDir: String, registry: Map[Int, String],
                                 schema: StructType = Envelope.employeesEnvelope): DataFrame =
    CdcMerge.snapshot(
      parse(decodeConfluentAvroValues(readTopicBatch(spark, inputDir, valueBase64 = true), registry), schema),
      Seq("id"), Seq("lsn"))
}

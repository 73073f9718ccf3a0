package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The CONFIG-DRIVEN continuous-ingest runner — the engine's face of
  * the reference's actual invocation shape (reference README.md:277-343:
  * a DeltaStreamer job configured by one options map — table name,
  * record key field, precombine field, source topic, checkpoint
  * location — plus hive_sync so downstream SQL can query the landed
  * table): ONE `Map[String, String]` starts the checkpointed stream.
  *
  * Two modes, covering both of the reference's deployment shapes:
  *
  *  - `filegroup` (default) — the SQL-queryable file-group upsert
  *    table ([[FileGroups.run]] → commitStreamBatch's exactly-once
  *    markers → the `graft_cdc` DSv2 catalog), optionally with a
  *    dead-letter queue ([[Ingest.withDeadLetters]] — poison records
  *    quarantined with full source coordinates instead of crashing
  *    the batch):
  *    {{{
  *    DeltaStream.run(spark, Map(
  *      "graft.table.name"          -> "employees",
  *      "graft.target.path"         -> "/warehouse/cdc",
  *      "graft.source.dir"          -> "/landing/debezium.public.employees",
  *      "graft.checkpoint.location" -> "/warehouse/_ckpt/employees",
  *      "graft.recordkey.field"     -> "id",
  *      "graft.precombine.field"    -> "lsn",
  *      "graft.dlq.dir"             -> "/warehouse/_dlq/employees",
  *      "graft.sync.catalog"        -> "graft_cdc"))
  *    }}}
  *  - `routed` — the reference's actual day-one job (README.md:193
  *    subscribes the whole `debezium1.*` prefix): ONE checkpointed
  *    stream routed per micro-batch by topic suffix into one append
  *    log + versioned snapshot PER TABLE ([[Ingest.runRouted]]):
  *    {{{
  *    DeltaStream.run(spark, Map(
  *      "graft.mode"                -> "routed",
  *      "graft.tables"              -> "employees,departments",
  *      "graft.target.path"         -> "/warehouse/cdc",
  *      "graft.source.dir"          -> "/landing",
  *      "graft.checkpoint.location" -> "/warehouse/_ckpt/all",
  *      "graft.table.departments.recordkey.field" -> "dept_id",
  *      "graft.table.departments.schema.ddl"      -> "dept_id INT, name STRING"))
  *    }}}
  *
  * Option names mirror the reference's `hoodie.table.name` /
  * `hoodie.datasource.write.recordkey.field` /
  * `...precombine.field` / `...hive_sync.*` roles under the `graft.`
  * prefix. Unknown option names are rejected LOUDLY — a typo'd
  * `graft.recordkey.fields` silently falling back to the default key
  * would pin the wrong record identity forever (the same posture as
  * the CTAS TBLPROPERTIES validation) — and so are options that do
  * not apply to the selected mode (a `graft.sync.catalog` on a routed
  * run would claim a catalog the snapshot layout cannot serve).
  *
  * Scale: identical to the underlying streams — per-trigger cost ∝
  * the batch's dirty-bucket bytes (filegroup) or the batch's rows ×
  * routed tables (routed), never table bytes; catalog sync is two
  * driver-side conf entries (the local stand-in for an external
  * metastore, which this sandbox does not have).
  */
object DeltaStream {

  /** `filegroup` (default) or `routed` — see the class doc. */
  val Mode = "graft.mode"
  /** Table directory name under [[TargetPath]] (role of `hoodie.table.name`);
    * filegroup mode only (routed mode names tables via [[Tables]]). */
  val TableName = "graft.table.name"
  /** Warehouse root the table(s) land under (and the synced catalog's root). */
  val TargetPath = "graft.target.path"
  /** Topic directory of Kafka-shaped newline-JSON segments (S1's
    * file-emulated source — the one seam a production Kafka port touches).
    * Producer contract: segments are read in file-mtime order (ms), the
    * role offsets play on a real topic, so each segment must land with a
    * strictly later mtime than the one before it — see
    * [[Ingest.readTopicStream]] for why equal mtimes can lose deletes. */
  val SourceDir = "graft.source.dir"
  /** Structured Streaming checkpoint location. The file-group store's
    * own `_STREAM_BATCH_` markers make replays exactly-once even if
    * this checkpoint is lost. */
  val CheckpointLocation = "graft.checkpoint.location"
  /** Comma-separated record key column(s); default `id`
    * (role of `hoodie.datasource.write.recordkey.field`).
    * Routed mode: the per-table default, overridable per table. */
  val RecordKeyField = "graft.recordkey.field"
  /** Comma-separated precombine / ordering column(s); default `lsn`
    * (role of `hoodie.datasource.write.precombine.field`).
    * Routed mode: the per-table default, overridable per table. */
  val PrecombineField = "graft.precombine.field"
  /** File-group (hash bucket) count; default 16. Filegroup mode only. */
  val Buckets = "graft.buckets"
  /** Optional: register the file-group DSv2 catalog under this name,
    * rooted at [[TargetPath]], so `SELECT ... FROM <cat>.<table>`
    * works the moment the first batch commits
    * (role of `hoodie.datasource.hive_sync.*`). Filegroup mode only
    * (the routed snapshot layout is not a file-group table). */
  val SyncCatalog = "graft.sync.catalog"
  /** Optional: DDL of the CDC envelope's `after`/`before` row schema
    * (e.g. `"id INT, full_name STRING"`), enabling the declared fast
    * path for non-employees topics; default the employees envelope.
    * Routed mode: the per-table default, overridable per table. */
  val SourceSchemaDdl = "graft.source.schema.ddl"
  /** Optional: the table's cleaner retention window — how many trailing
    * committed versions GC keeps, i.e. the `VERSION AS OF`-reachable
    * history (role of `hoodie.cleaner.commits.retained`); >= 2, set
    * before the stream's first commit via [[FileGroups.setRetention]].
    * Filegroup mode only. */
  val Retain = "graft.retain"
  /** Optional: dead-letter-queue directory — unparseable or
    * op-less records land there with topic/partition/offset/timestamp
    * + raw bytes (everything needed to replay after a fix) instead of
    * being dropped by the poison guard
    * (role of Hudi's error-table / DeltaStreamer transformer DLQ).
    * Both modes; in routed mode the split happens ONCE before routing
    * against the schema-independent op-only envelope, so one table's
    * poison cannot vanish while another's is quarantined. */
  val DlqDir = "graft.dlq.dir"
  /** Wire format of the topic's value bytes: `json` (default — the
    * reference's path-1 job), `avro` (raw Avro binary decoded with
    * [[AvroSchemaJson]]), or `confluent-avro` (the KafkaAvroSerializer
    * frame: magic 0 + int32 schema id, resolved against the
    * `graft.value.avro.schema.<id>` registry entries — the reference's
    * path-2 job, README.md:262-263). Both modes; downstream of the
    * decode the pipeline is byte-identical to the JSON path. */
  val ValueFormat = "graft.value.format"
  /** Writer schema JSON for `graft.value.format=avro` (the offline
    * stand-in for one schema-registry lookup). Required then; rejected
    * for the other formats (a schema silently ignored would mask a
    * misconfigured format). */
  val AvroSchemaJson = "graft.value.avro.schema"
  /** Registry-entry prefix for `graft.value.format=confluent-avro`:
    * `graft.value.avro.schema.<id> = <writer schema JSON>` maps the
    * frame's int32 schema id — at least one entry required; ids the
    * topic carries but the map lacks fail loudly per record. */
  val AvroSchemaIdPrefix = "graft.value.avro.schema."

  /** Routed mode: comma-separated table names to route (each lands at
    * `<target>/<table>/{log,snapshot}`). Required when mode=routed. */
  val Tables = "graft.tables"
  /** Routed mode: topic filter regex over the emulated subscription
    * (role of the reference's `debezium1.*` prefix, README.md:193);
    * default `debezium1.*`. */
  val TopicPattern = "graft.topic.pattern"

  /** Routed-mode per-table override prefix: `graft.table.<name>.<suffix>`
    * with suffix one of `recordkey.field`, `precombine.field`,
    * `schema.ddl`, `partition.field` (hive partitioning of the
    * materialized snapshot, role of `hoodie.datasource.write
    * .partitionpath.field`). */
  private val PerTableSuffixes =
    Set("recordkey.field", "precombine.field", "schema.ddl", "partition.field")

  private val RequiredCommon = Seq(TargetPath, SourceDir, CheckpointLocation)
  private val KnownFileGroup = (RequiredCommon ++ Seq(Mode, TableName,
    RecordKeyField, PrecombineField, Buckets, SyncCatalog, SourceSchemaDdl,
    Retain, DlqDir, ValueFormat, AvroSchemaJson)).toSet
  private val KnownRoutedFixed = (RequiredCommon ++ Seq(Mode, Tables,
    TopicPattern, RecordKeyField, PrecombineField, SourceSchemaDdl, DlqDir,
    ValueFormat, AvroSchemaJson)).toSet

  /** A `graft.value.avro.schema.<id>` registry entry — the suffix must
    * be the frame's int32 schema id (a non-integer suffix is a typo'd
    * option and fails the unknown-option check loudly). */
  private def avroSchemaIdKey(k: String): Boolean =
    k.startsWith(AvroSchemaIdPrefix) &&
      k.stripPrefix(AvroSchemaIdPrefix).toIntOption.isDefined

  /** Parse + cross-validate the wire-format options (both modes).
    * Every inapplicable combination fails loudly — a writer schema
    * silently ignored under format=json would mask the very
    * misconfiguration it evidences. */
  private def valueFormatOf(options: Map[String, String]): Ingest.ValueFormat = {
    val registry = options.collect {
      case (k, v) if avroSchemaIdKey(k) => k.stripPrefix(AvroSchemaIdPrefix).toInt -> v
    }
    options.getOrElse(ValueFormat, "json") match {
      case "json" =>
        if (options.contains(AvroSchemaJson) || registry.nonEmpty)
          throw new IllegalArgumentException(
            s"$AvroSchemaJson option(s) are set but $ValueFormat is json (the default) — " +
              "set graft.value.format=avro or confluent-avro, or drop the schema options")
        Ingest.JsonValues
      case "avro" =>
        if (registry.nonEmpty)
          throw new IllegalArgumentException(
            s"per-id ${AvroSchemaIdPrefix}<id> entries apply to $ValueFormat=confluent-avro " +
              s"only — plain avro takes ONE writer schema via $AvroSchemaJson")
        Ingest.AvroValues(options.getOrElse(AvroSchemaJson, throw new IllegalArgumentException(
          s"$ValueFormat=avro requires $AvroSchemaJson (the writer schema JSON — " +
            "the stand-in for the schema-registry lookup)")))
      case "confluent-avro" =>
        if (options.contains(AvroSchemaJson))
          throw new IllegalArgumentException(
            s"$AvroSchemaJson applies to $ValueFormat=avro only — confluent-avro resolves " +
              s"the frame's schema id against ${AvroSchemaIdPrefix}<id> entries")
        if (registry.isEmpty)
          throw new IllegalArgumentException(
            s"$ValueFormat=confluent-avro requires at least one ${AvroSchemaIdPrefix}<id> " +
              "registry entry (id = the int32 the 5-byte frame carries)")
        Ingest.ConfluentAvroValues(registry)
      case other =>
        throw new IllegalArgumentException(
          s"unknown $ValueFormat '$other' — supported: json, avro, confluent-avro")
    }
  }

  /** Validate the options map, sync the catalog if asked, and start
    * the checkpointed stream. Returns the running [[StreamingQuery]]
    * (callers own its lifecycle — `awaitTermination` for the
    * continuous deployment, `processAllAvailable` for a bounded run). */
  def run(spark: SparkSession, options: Map[String, String]): StreamingQuery = {
    val mode = options.getOrElse(Mode, "filegroup")
    if (mode != "filegroup" && mode != "routed")
      throw new IllegalArgumentException(
        s"unknown DeltaStream mode '$mode' — supported: filegroup (the SQL-queryable " +
          "file-group upsert table), routed (multi-table topic-pattern ingest)")
    val missing = RequiredCommon.filterNot(options.contains) ++
      (if (mode == "filegroup") Seq(TableName).filterNot(options.contains)
       else Seq(Tables).filterNot(options.contains))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required DeltaStream option(s) for mode=$mode: ${missing.mkString(", ")}")
    if (mode == "filegroup") runFileGroup(spark, options)
    else runRouted(spark, options)
  }

  private def rejectUnknown(options: Map[String, String], known: String => Boolean,
                            mode: String, supported: => Seq[String]): Unit = {
    val unknown = options.keySet.filterNot(known)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown DeltaStream option(s) for mode=$mode: " +
          s"${unknown.toSeq.sorted.mkString("'", "', '", "'")} — supported: " +
          s"${supported.sorted.mkString(", ")} (a typo here would silently fall back " +
          "to a default and pin the wrong table identity)")
  }

  // identifier discipline: a '/' in a table name would land an
  // unaddressable nested dir; a '.' in the catalog name would parse
  // as a conf sub-key (spark.sql.catalog.a.b = option b of catalog a)
  // — both would "work" at write time and break at read time
  private def requireIdent(k: String, v: String): Unit =
    if (!v.matches("[A-Za-z0-9_]+"))
      throw new IllegalArgumentException(
        s"DeltaStream option $k='$v' must be a plain identifier ([A-Za-z0-9_]+)")

  private def cols(options: Map[String, String], k: String, dflt: Seq[String]): Seq[String] =
    options.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).getOrElse(dflt)

  private def runFileGroup(spark: SparkSession, options: Map[String, String]): StreamingQuery = {
    rejectUnknown(options, k => KnownFileGroup.contains(k) || avroSchemaIdKey(k),
      "filegroup", KnownFileGroup.toSeq :+ s"$AvroSchemaIdPrefix<id>")
    val valueFormat = valueFormatOf(options)
    options.get(TableName).foreach(requireIdent(TableName, _))
    options.get(SyncCatalog).foreach(requireIdent(SyncCatalog, _))
    val buckets = options.get(Buckets).map { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"DeltaStream option $Buckets='$s' must be a positive integer"))
    }.getOrElse(16)
    val schema = options.get(SourceSchemaDdl)
      .map(ddl => Envelope.envelope(StructType.fromDDL(ddl)))
      .getOrElse(Envelope.employeesEnvelope)
    // parsed (and range-checked by setRetention) with the other
    // validations, BEFORE any side effect (catalog conf, table dir)
    val retain = options.get(Retain).map { s =>
      val n = s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"DeltaStream option $Retain='$s' must be an integer >= 2"))
      require(n >= 2,
        s"retention must be >= 2 (the protocol keeps the current + one prior version); got $n")
      n
    }

    val root = options(TargetPath).stripSuffix("/")
    val tableDir = s"$root/${options(TableName)}"
    options.get(SyncCatalog).foreach { cat =>
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.FileGroupCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    }
    // retention lands BEFORE the first commit so every GC pass —
    // including the very first trigger's — honors the policy
    retain.foreach(FileGroups.setRetention(spark, tableDir, _))
    FileGroups.run(spark, options(SourceDir), tableDir, options(CheckpointLocation),
      schema = schema,
      keys = cols(options, RecordKeyField, Seq("id")),
      ord = cols(options, PrecombineField, Seq("lsn")),
      nBuckets = buckets,
      dlqDir = options.get(DlqDir),
      valueFormat = valueFormat)
  }

  private def runRouted(spark: SparkSession, options: Map[String, String]): StreamingQuery = {
    val tables = options(Tables).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (tables.isEmpty)
      throw new IllegalArgumentException(
        s"DeltaStream option $Tables must name at least one table")
    tables.foreach(requireIdent(Tables, _))
    // dynamic per-table keys are validated against the DECLARED table
    // list and suffix set — `graft.table.employes.schema.ddl` (typo'd
    // table) or `graft.table.employees.schema` (typo'd suffix) both
    // fail loudly instead of silently configuring nothing
    def perTableKey(k: String): Boolean =
      k.startsWith("graft.table.") && {
        val rest = k.stripPrefix("graft.table.")
        tables.exists(t => rest.startsWith(t + ".") &&
          PerTableSuffixes.contains(rest.stripPrefix(t + ".")))
      }
    rejectUnknown(options,
      k => KnownRoutedFixed.contains(k) || perTableKey(k) || avroSchemaIdKey(k),
      "routed", KnownRoutedFixed.toSeq :+ "graft.table.<name>.{" +
        PerTableSuffixes.toSeq.sorted.mkString(",") + "}" :+ s"$AvroSchemaIdPrefix<id>")
    val valueFormat = valueFormatOf(options)

    def perTable(t: String, suffix: String): Option[String] =
      options.get(s"graft.table.$t.$suffix")
    val routes = tables.map { t =>
      val schema = perTable(t, "schema.ddl").orElse(options.get(SourceSchemaDdl))
        .map(ddl => Envelope.envelope(StructType.fromDDL(ddl)))
        .getOrElse(Envelope.employeesEnvelope)
      val keys = perTable(t, "recordkey.field")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(cols(options, RecordKeyField, Seq("id")))
      val ord = perTable(t, "precombine.field")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(cols(options, PrecombineField, Seq("lsn")))
      val partitionBy = perTable(t, "partition.field")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      t -> Ingest.TableRoute(schema, keys, ord, partitionBy)
    }.toMap
    Ingest.runRouted(spark, options(SourceDir),
      options(TargetPath).stripSuffix("/"), options(CheckpointLocation),
      routes, options.getOrElse(TopicPattern, "debezium1.*"),
      dlqDir = options.get(DlqDir),
      valueFormat = valueFormat)
  }
}

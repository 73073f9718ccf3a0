package graft.cdc

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-group-level COPY_ON_WRITE — the upsert granularity that makes
  * COW viable at 100 TB, modeled on Hudi's record-key → file-group
  * index (the piece of the reference's DeltaStreamer runtime,
  * README.md:300-307, that [[Ingest]] commitMerge intentionally
  * simplifies away by rewriting the WHOLE snapshot per commit).
  *
  * The table is hash-bucketed on the record key into a fixed number of
  * file groups. A commit rewrites ONLY the buckets the batch's keys
  * hash into; every other bucket's data file is carried forward by
  * reference in a per-version manifest. At 100 TB with micro-batches
  * touching a tiny key fraction, the rewrite cost is ∝ dirty-bucket
  * bytes, not table bytes — the difference between minutes and a full
  * table rewrite per trigger. Reads resolve the ONE current manifest
  * (a single small driver-side file listing nBuckets paths — the
  * metadata-table role) and scan the referenced parquet dirs; no
  * directory walking on the hot path.
  *
  * Layout under `dir`:
  * {{{
  *   files/v<id>/_bucket=<b>/   parquet for bucket b rewritten at commit <id>
  *   manifest_v<id>.tsv         bucket → path + [min,max,count] key stats
  *   _COMMIT_<id>               marker (written LAST — commit point)
  * }}}
  *
  * Crash safety mirrors the COW protocol: data dirs first, manifest
  * second, atomic marker last; a crash anywhere leaves unreferenced
  * garbage, never a readable-but-wrong table. Replay idempotence by
  * batch id (a committed id is a no-op). GC retains the current and
  * prior manifest's references — same two-version retention window as
  * the COW/MOR services.
  *
  * The per-bucket key stats double as Hudi's bloom/column-stats index
  * role at bucket granularity: [[pointLookupTuples]] prunes to the
  * hash bucket of each probed key AND drops buckets whose index
  * metadata excludes it — a point read touches 1 file group out of
  * nBuckets. The index covers ANY record-key shape (the Debezium
  * reality: integer PKs, UUID string PKs, composite PKs): the hash
  * bucket and the per-bucket key bloom prune every shape, and single
  * integer-family keys additionally carry [lo,hi] stats.
  *
  * WRITER CONTRACT: one writer per table at a time (the Hudi/Delta-
  * without-a-lock-provider posture). The marker protocol makes any
  * single writer crash-safe and replays idempotent, and the cheap
  * stale-head rechecks here and in the SQL DML commands DETECT the
  * common concurrent-writer races (two statements racing one version,
  * a rollback landing mid-statement) and fail loudly — but detection
  * is not coordination: concurrent writers that interleave between a
  * recheck and its publish can still clobber each other. Serialize
  * writes per table — or opt into the cross-process [[ProcessLock]]
  * provider (`spark.graft.cdc.fsLock=true`, round 18), which
  * serializes every commit's head-check → publish window across
  * processes. Readers need no coordination (they resolve whole
  * committed manifests only).
  */
object FileGroups {

  // ONE per-path FS resolution (DeltaProtocol.fsOf): the default-FS
  // instance breaks when the table dir lives on a different filesystem
  import graft.ops.DeltaProtocol.{fsOf, path}

  /** Per-table commit lock (keyed by table dir): makes the
    * head-check → merge → manifest → marker sequence ATOMIC for
    * writers sharing this JVM, so two concurrent statements racing one
    * version resolve to exactly-one-winner — the loser's commit() sees
    * the taken id under the lock and returns empty, which the SQL
    * commands surface as the loud re-run conflict. This upgrades the
    * single-writer contract to "single writer per table per process is
    * ENFORCED, cross-process coordination stays the operator's job"
    * (the Hudi posture: in-process OCC, external lock provider for
    * multi-process). Lock keys are the raw dir string — callers must
    * name a table by one canonical path, which every service here does. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    tableLocks.computeIfAbsent(dir, _ => new Object)

  /** Run `f` under the table's in-process commit lock — for sibling
    * services ([[Savepoints]]) whose mutations must not interleave with
    * a commit's head-check → publish window. Reentrant (a JVM monitor),
    * so locked services may call each other. */
  private[cdc] def withTableLock[T](dir: String)(f: => T): T =
    lockFor(dir).synchronized(f)

  /** bucket of a key tuple: non-negative hash mod nBuckets. xxhash64 is
    * Spark-codegen'd and stable across sessions — the index must hash
    * identically forever or every historical bucket assignment breaks.
    * That stability is also TYPE-sensitive (xxhash64 of int 5 ≠ long
    * 5): batches must present key columns at the table's declared types,
    * which the ingest path guarantees by parsing against the declared
    * envelope schema (schema drift reconciles non-key columns only). */
  private def bucketCol(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))

  private final case class Entry(bucket: Long, relPath: String,
                                 lo: Option[Long], hi: Option[Long], count: Long,
                                 bloom: Option[String] = None)

  /** Per-file-group key bloom filter — the Hudi BLOOM-index role
    * (the reference's DeltaStreamer default `hoodie.index.type`,
    * README.md:300-307 context): tag incoming keys insert-vs-update and
    * serve negative point probes WITHOUT touching data files. Fixed
    * geometry (4096 bits / 3 hashes ⇒ <0.1% FP at ~250 keys/group);
    * at 100 TB you size bits ∝ keys-per-file (Hudi's dynamic bloom) —
    * same math, per-entry `m` instead of a constant. The filter is
    * BUILT DISTRIBUTEDLY: explode k seeds per key, OR the bit words in
    * a (bucket, word) aggregation, and only the finished ≤ nBuckets ×
    * 64-word bitsets reach the driver (index metadata, not data). */
  private val BloomBits = 4096L
  private val BloomWords = (BloomBits / 64).toInt
  private val BloomK = 3

  /** Bit position of hash `seed` for a key tuple — the SAME codegen'd
    * xxhash64 on writer and prober (driver-side reimplementation could
    * drift, exactly as [[bucketCol]]). Multi-column keys hash the whole
    * tuple plus the seed in one xxhash64 call; for a single key column
    * this reduces to the historical `xxhash64(key, seed)`, so manifests
    * written before composite support stay probe-compatible. */
  private def bloomPos(keyCols: Seq[Column], seed: Int) =
    pmod(xxhash64(keyCols :+ lit(seed): _*), lit(BloomBits))

  // (the historical two-job bloom build — explode K positions →
  // (bucket, word) bit_or → collect — was fused into rewriteEntries'
  // single grouped aggregation in r21 via functions.BloomWordsAgg;
  // the bits are the same order-invariant OR of the same positions)

  private def bloomMightContain(hex: String, positions: Seq[Long]): Boolean =
    positions.forall { p =>
      val word = java.lang.Long.parseUnsignedLong(
        hex.substring((p / 64).toInt * 16, (p / 64).toInt * 16 + 16), 16)
      (word & (1L << (p % 64).toInt)) != 0L
    }

  private def manifestPath(dir: String, id: Long) = s"$dir/manifest_v$id.tsv"

  /** Current committed id (shares the `_COMMIT_<id>` convention). */
  def committedId(spark: SparkSession, dir: String): Option[Long] =
    Ingest.committedBatch(spark, dir)

  /** Everything one committed manifest knows about its table. `keys` /
    * `ord` are recorded at commit time (round 17) so the table is
    * SELF-DESCRIBING: the SQL catalog and every index consumer resolve
    * the record-key columns from the manifest, never from session
    * config — a misconfigured `keys` conf could otherwise hash probes
    * with the wrong bucketing expression and silently prune away live
    * file groups. None on pre-r17 manifests (callers fall back to
    * their configured/passed columns — the historical trust model). */
  private final case class TableMeta(nBuckets: Int,
                                     schema: Option[StructType],
                                     keys: Option[Seq[String]],
                                     ord: Option[Seq[String]],
                                     entries: Seq[Entry],
                                     ordHi: Option[Long] = None)

  /** Manifest = `#nbuckets=` header, a `#schema=` header carrying the
    * table schema as Spark JSON (so an all-deleted table still reads as
    * a TYPED empty DataFrame, and [[pointLookupTuples]] hashes probes
    * at the committed key types), `#keys=`/`#ord=` headers pinning the
    * record-key / ordering columns, then one tab-separated line per
    * bucket. */
  private def readManifest(spark: SparkSession, dir: String, id: Long): TableMeta = {
    val fs = fsOf(spark, dir)
    val in = fs.open(path(manifestPath(dir, id)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val headers = lines.takeWhile(_.startsWith("#"))
    val nBuckets = headers.collectFirst {
      case h if h.startsWith("#nbuckets=") => h.stripPrefix("#nbuckets=").toInt
    }.get
    val schema = headers.collectFirst {
      case h if h.startsWith("#schema=") =>
        DataType.fromJson(h.stripPrefix("#schema=")).asInstanceOf[StructType]
    }
    def cols(prefix: String): Option[Seq[String]] = headers.collectFirst {
      case h if h.startsWith(prefix) =>
        h.stripPrefix(prefix).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.filter(_.nonEmpty)
    val entries = lines.drop(headers.length).toSeq.map { l =>
      val f = l.split("\t", -1)
      Entry(f(0).toLong, f(1), f(2).toLongOption, f(3).toLongOption, f(4).toLong,
        f.lift(5).filter(_.nonEmpty)) // bloom optional: pre-bloom manifests stay readable
    }
    // #ordhi (r19, optional — pre-r19 manifests stay readable): the
    // version's ordering-column ceiling, see [[writeManifest]]
    val ordHi = headers.collectFirst {
      case h if h.startsWith("#ordhi=") => h.stripPrefix("#ordhi=").toLong
    }
    TableMeta(nBuckets, schema, cols("#keys="), cols("#ord="), entries, ordHi)
  }

  /** `ordHi` (r19): the version's ORDERING-COLUMN CEILING — an exact
    * upper bound on every surviving row's ord that is still strictly
    * below every later commit's ord (under the monotone-precombine
    * contract the Debezium LSN satisfies). Maintained as
    * max(this commit's surviving dirty rows' ord, the prior version's
    * ceiling) — carried rows sit under the prior ceiling by
    * definition. Written only for single integer-family ordering
    * columns; its consumer ([[graft.sources.IncrementalReadRule]])
    * turns the incremental read's changed-since threshold into a
    * MANIFEST READ instead of an ord-column scan over the whole base
    * version — at 100 TB, one metadata line instead of a table pass. */
  private def writeManifest(spark: SparkSession, dir: String, id: Long, nBuckets: Int,
                            schema: StructType, keys: Seq[String], ord: Seq[String],
                            entries: Seq[Entry], ordHi: Option[Long] = None): Unit = {
    require(keys.forall(k => !k.contains(",") && !k.contains("\n")) &&
      ord.forall(o => !o.contains(",") && !o.contains("\n")),
      "key/ordering column names must not contain ',' or newlines (manifest header format)")
    val body = s"#nbuckets=$nBuckets\n#schema=${schema.json}\n" +
      s"#keys=${keys.mkString(",")}\n#ord=${ord.mkString(",")}\n" +
      ordHi.fold("")(h => s"#ordhi=$h\n") +
      entries.sortBy(_.bucket).map { e =>
        s"${e.bucket}\t${e.relPath}\t${e.lo.fold("")(_.toString)}\t${e.hi.fold("")(_.toString)}\t${e.count}\t${e.bloom.getOrElse("")}"
      }.mkString("\n")
    val out = fsOf(spark, dir).create(path(manifestPath(dir, id)), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The committed record-key / ordering columns of the table at `dir`
    * (the manifest's `#keys=`/`#ord=` headers) — what the SQL catalog
    * resolves instead of trusting session config. None per component on
    * pre-r17 manifests. */
  def tableKeyConfig(sess: SparkSession, dir: String):
      Option[(Option[Seq[String]], Option[Seq[String]])] =
    committedId(sess, dir).map { id =>
      val m = readManifest(sess, dir, id)
      (m.keys, m.ord)
    }

  /** Everything the SQL catalog needs from version `id`'s manifest in
    * ONE read — (schema, keys, ord): loadTable would otherwise parse
    * the same small file three times per resolution (keys, then the
    * lazy schema, then the scan build), which is real latency on an
    * object store. */
  private[graft] def tableMetaFor(sess: SparkSession, dir: String, id: Long):
      (Option[StructType], Option[Seq[String]], Option[Seq[String]]) = {
    val m = readManifest(sess, dir, id)
    (m.schema, m.keys, m.ord)
  }

  /** Version `id`'s `#ordhi` ceiling (see [[writeManifest]]) — the
    * incremental read's metadata-only threshold; None on pre-r19
    * manifests and non-integer ordering columns (consumers fall back
    * to scanning the version's ord column). */
  private[graft] def manifestOrdHi(sess: SparkSession, dir: String, id: Long): Option[Long] =
    readManifest(sess, dir, id).ordHi

  /** Fail loudly when a caller-supplied key column list disagrees with
    * the manifest-recorded one: bucket hashing is key-dependent, so a
    * mismatched probe would hash into the wrong buckets and silently
    * prune away live file groups (reads) or rewrite the wrong groups
    * (writes). Pre-r17 manifests record no keys — callers keep the
    * historical trust model. */
  private def checkKeys(meta: TableMeta, keys: Seq[String], dir: String): Unit =
    meta.keys.foreach { mk =>
      // Locale.ROOT: default-locale lowercasing folds 'I' to 'ı' under
      // a Turkish JVM locale and a valid key list would stop matching
      require(mk.map(_.toLowerCase(java.util.Locale.ROOT)) ==
          keys.map(_.toLowerCase(java.util.Locale.ROOT)),
        s"table at $dir is keyed by (${mk.mkString(", ")}) but (${keys.mkString(", ")}) " +
          "was supplied — the record key is pinned at table creation (bucket hashing " +
          "and the manifest index depend on it)")
    }

  /** The [[checkKeys]] twin for the ordering columns: commit() would
    * otherwise silently OVERWRITE the manifest's `#ord=` header with a
    * caller-supplied different ordering, flipping latest-wins merge
    * semantics for every later SQL-door read of the supposedly
    * self-describing table. Pre-r17 manifests record no ord — callers
    * keep the historical trust model. */
  private def checkOrd(meta: TableMeta, ord: Seq[String], dir: String): Unit =
    meta.ord.foreach { mo =>
      require(mo.map(_.toLowerCase(java.util.Locale.ROOT)) ==
          ord.map(_.toLowerCase(java.util.Locale.ROOT)),
        s"table at $dir orders by (${mo.mkString(", ")}) but (${ord.mkString(", ")}) " +
          "was supplied — the precombine/ordering columns are pinned at table " +
          "creation (latest-wins merge semantics depend on them)")
    }

  /** Case-insensitive schema field lookup — the SAME resolution rule as
    * [[checkKeys]] and the analyzer default, so a key list that passes
    * validation also resolves its committed type: a case-sensitive find
    * here would silently skip the cast and hash probes at the wrong
    * type (pruning away live file groups), or silently drop stats. */
  private def fieldOf(schema: StructType, name: String): Option[StructField] =
    schema.fields.find(_.name.equalsIgnoreCase(name))

  /** Driver-side probe value normalization (int family widens to long,
    * float to double — so legacy Seq[Long] probes keep their exact
    * historical hash path) and the natural Spark type of a normalized
    * value — shared by [[probeIndex]] and [[tagKeyTuples]] so the two
    * can never disagree on a supported key type. */
  private def normalizeVal(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case bd: BigDecimal => bd.bigDecimal
    case other => other
  }

  private def inferType(v: Any, key: String): DataType = v match {
    case _: java.lang.Long => LongType
    case _: String => StringType
    case _: java.lang.Double => DoubleType
    case _: java.math.BigDecimal => DecimalType(38, 18)
    case _: java.lang.Boolean => BooleanType
    case _: java.sql.Timestamp => TimestampType
    case _: java.sql.Date => DateType
    case other => throw new IllegalArgumentException(
      s"unsupported probe value type ${other.getClass.getName} for key '$key'")
  }

  /** Typed result of [[commitOutcome]]: [[Replayed]] = the version id
    * was already committed when this call ran (a replay, or another
    * writer took the id) — NOTHING was written; [[Committed]] = this
    * call ran the protocol, `dirty` naming the rewritten buckets. An
    * empty `dirty` means the batch carried no rows: under
    * `allowEmpty = false` no version was published (a no-op statement
    * must not churn real snapshots out of the retention window), under
    * `allowEmpty = true` an unchanged-data version WAS published (a
    * CTAS of an empty query still creates the table). The type exists
    * so callers never have to infer "replayed" from an empty set by
    * running their own emptiness probe — that probe was a whole extra
    * materialization of the batch plan per statement. */
  sealed trait CommitOutcome
  case object Replayed extends CommitOutcome
  final case class Committed(dirty: Set[Long]) extends CommitOutcome

  /** Upsert one batch at file-group granularity. Only buckets whose
    * hash range the batch touches are merged and rewritten; the rest
    * carry forward by manifest reference. `nBuckets` applies at table
    * creation and is pinned in the manifest thereafter (a rehash would
    * invalidate every historical assignment). Returns the set of dirty
    * buckets rewritten (empty when the batch id was already committed).
    *
    * Scale: the dirty-bucket list is a `collect()` of ≤ nBuckets longs
    * (index metadata, not data); the merge itself is
    * [[CdcMerge.upsert]] over just the dirty buckets' rows — one hash
    * shuffle whose input is ∝ touched file groups. */
  def commit(sess: SparkSession, dir: String, batch: DataFrame, batchId: Long,
             keys: Seq[String], ord: Seq[String], nBuckets: Int = 16): Set[Long] =
    commitOutcome(sess, dir, batch, batchId, keys, ord, nBuckets,
      allowEmpty = true) match {
      case Replayed => Set.empty
      case Committed(dirty) => dirty
    }

  /** [[commit]] with the replayed/committed distinction surfaced and
    * the empty-batch policy explicit — see [[CommitOutcome]].
    *
    * When `spark.graft.cdc.fsLock` is true, the whole head-check →
    * publish window additionally holds the cross-process
    * [[ProcessLock]] (the Hudi lock-provider opt-in), upgrading the
    * writer contract from "cross-process races are DETECTED at the
    * marker" to "cross-process commits are serialized". Maintenance
    * ops run cross-process by wrapping themselves in
    * [[ProcessLock.withLock]] — a multi-writer deployment must not
    * rollback/purge concurrently with foreign commits without it. */
  def commitOutcome(sess: SparkSession, dir: String, batch: DataFrame, batchId: Long,
                    keys: Seq[String], ord: Seq[String], nBuckets: Int = 16,
                    allowEmpty: Boolean = true): CommitOutcome =
    withFsLockIfEnabled(sess, dir)(
      commitOutcomeLocked(sess, dir, batch, batchId, keys, ord, nBuckets, allowEmpty))

  /** LOCK ORDER: the cross-process FS lock is taken OUTSIDE the JVM
    * table lock, always — [[ProcessLock]] is not reentrant, so a path
    * holding the JVM lock must never then wait on the FS lock while a
    * sibling holds it in the opposite order (classic inversion
    * deadlock). Every FS-locking entry point wraps here FIRST and only
    * then synchronizes. */
  private[cdc] def withFsLockIfEnabled[T](sess: SparkSession, dir: String)(f: => T): T =
    if (sess.conf.get(ProcessLock.EnabledConf, "false").toBoolean)
      ProcessLock.withLock(sess, dir,
        sess.conf.get(ProcessLock.TtlConf, "60000").toLong,
        sess.conf.get(ProcessLock.WaitConf, "30000").toLong)(f)
    else f

  private def commitOutcomeLocked(sess: SparkSession, dir: String, batch: DataFrame,
                                  batchId: Long, keys: Seq[String], ord: Seq[String],
                                  nBuckets: Int, allowEmpty: Boolean): CommitOutcome =
    lockFor(dir).synchronized {
    val fs = fsOf(sess, dir)
    // resolve any standing purge intent BEFORE taking the next id: an
    // abandoned UNCOMMITTED _PURGE_ marker sitting at a future id would
    // otherwise be reclassified as a COMMITTED purge the moment this
    // commit's id reaches it — spurious read refusals on older versions
    // now, and a wrongful forgetHistory (history + savepoints deleted
    // for a purge that never rewrote data) on the next recovery
    completePendingPurge(sess, dir)
    val committed = committedId(sess, dir)
    if (committed.exists(_ >= batchId)) Replayed
    else {
      val (nb, current, prevSchema, prevOrdHi) = committed match {
        case Some(id) =>
          val m = readManifest(sess, dir, id)
          checkKeys(m, keys, dir)
          checkOrd(m, ord, dir)
          (m.nBuckets, m.entries, m.schema, m.ordHi)
        case None => (nBuckets, Seq.empty[Entry], None, None)
      }
      // persisted across the bucket-discovery and merge jobs so the
      // batch plan (often a windowed snapshot scan or a routed join)
      // computes ONCE; this collect doubles as the emptiness probe —
      // dirty is empty iff the batch has no rows
      batch.persist()
      try {
      val withB = batch.withColumn("_bucket", bucketCol(keys, nb))
      val dirty = withB.select(col("_bucket")).distinct()
        .collect().map(_.getLong(0)).toSet
      if (dirty.isEmpty && !allowEmpty)
        // a rowless batch publishes NO version: an empty commit would
        // still bump the head, and a re-run no-op statement (idempotent
        // MERGE/DELETE retries are common) would silently age real
        // snapshots out of the retention window
        return Committed(Set.empty)
      val existingDirty = current.filter(e => dirty.contains(e.bucket))
      // ONE multi-path scan over the dirty buckets (mergeSchema
      // reconciles drifted buckets) — a per-bucket read would launch a
      // job per file group
      val existing =
        if (existingDirty.isEmpty) None
        else Some(sess.read.option("mergeSchema", "true")
          .parquet(existingDirty.map(e => s"$dir/${e.relPath}"): _*))
      val merged = existing match {
        case Some(t) => CdcMerge.upsert(t, batch, keys, ord)
        case None => CdcMerge.snapshot(batch, keys, ord)
      }
      // persisted across the write and the stats pass so the dirty
      // buckets' merge runs once, not twice.
      // r22 (guide §6, small files): repartition by _bucket BEFORE the
      // dynamic-partitioned write — without it every upstream task
      // writes one file per bucket it happens to hold (tasks × buckets
      // files: measured 491 tiny parquet+crc files per sf0.1 commit,
      // and the file-creation fan-out was the single dominant job of
      // every CDC lifecycle statement, 2.2–2.9 s of 4–5 s wall). One
      // exchange of the merged (dirty-buckets-sized) rows buys one
      // compact file per file group — which is the store's layout
      // intent (the manifest's Entry is the bucket dir) and the
      // Iceberg write.distribution-mode=hash shape at any scale.
      val out = merged.withColumn("_bucket", bucketCol(keys, nb))
        .repartition(nb, col("_bucket")).persist()
      out.write.mode("overwrite").partitionBy("_bucket").parquet(s"$dir/files/v$batchId")
      // per-bucket stats + key blooms ([[rewriteEntries]]): blooms for
      // ANY key shape, [lo,hi] stats additionally for single
      // integer-family keys. A bucket merged to EMPTY (every key
      // deleted) yields no stats row, writes no partition dir, and
      // simply leaves the manifest.
      val (stats, dirtyOrdHi) = rewriteEntries(out, keys, batchId, ord)
      out.unpersist()
      // a dirty bucket can merge to EMPTY (every key deleted) — it then
      // has no partition dir and simply leaves the manifest
      val entries = current.filterNot(e => dirty.contains(e.bucket)) ++ stats
      // the version's ord ceiling (see writeManifest's #ordhi note):
      // surviving dirty rows' max joined with the prior ceiling (the
      // carried rows' bound). Exact-or-absent: with no prior ceiling
      // (pre-r19 history, or a non-eligible ord column) and no dirty
      // max, no header is written — a too-LOW ceiling would leak
      // unchanged rows into incremental reads, so None is the only
      // safe degradation (the reader falls back to its subquery).
      val ordHi = (dirtyOrdHi, prevOrdHi) match {
        case (Some(d), p) => Some(math.max(d, p.getOrElse(Long.MinValue)))
        case (None, p) if dirty.isEmpty || stats.isEmpty => p // nothing (surviving) rewritten
        case _ => None
      }
      // manifest schema = the merge's schema RECONCILED with the prior
      // manifest's: the merge only saw the dirty buckets, so a column
      // living only in clean buckets (prior drift) or added by a
      // schema-widening DDL commit would otherwise silently VANISH
      // from the SQL door's table schema on the next unrelated commit
      // (the data is still there — mergeSchema reads would see it, the
      // manifest-typed catalog scan would not)
      writeManifest(sess, dir, batchId, nb, widenWith(merged.schema, prevSchema),
        keys, ord, entries, ordHi)
      // the marker is the atomic publish point; createNewFile returning
      // false means ANOTHER PROCESS published this id between our head
      // check and now (in-process racers are excluded by the table
      // lock) — its data/manifest were just overwritten, so fail LOUDLY
      // rather than let both writers report success on one version
      if (!fs.createNewFile(path(s"$dir/_COMMIT_$batchId")))
        throw new IllegalStateException(
          s"concurrent cross-process commit detected at $dir: version $batchId was " +
            "published by another writer mid-commit — the table needs external " +
            "write coordination (one writer per table per process is enforced; " +
            "cross-process writers opt into spark.graft.cdc.fsLock=true)")
      gc(sess, dir)
      Committed(dirty)
      } finally { batch.unpersist(); () }
    }
  }

  /** Drop data version-dirs and manifests referenced by no retained
    * manifest. The retention WINDOW is the table's cleaner policy
    * ([[retention]] — Hudi's "commits retained"; the protocol minimum
    * of 2, current + one prior, when none is set). Savepointed
    * manifests stay regardless, and keep every data dir they
    * reference alive. */
  private def gc(sess: SparkSession, dir: String): Unit = {
    val fs = fsOf(sess, dir)
    val ids = Ingest.snapshotVersions(sess, dir) // sorted committed ids
    val saved = Savepoints.savepoints(sess, dir)
    val retain = retention(sess, dir)
    val keep = (ids.takeRight(retain) ++ ids.filter(saved.contains)).distinct
    val referenced: Set[String] = keep.flatMap { id =>
      readManifest(sess, dir, id).entries.map(e => e.relPath.split("/").take(2).mkString("/"))
    }.toSet // files/v<id> dirs still referenced
    if (fs.exists(path(s"$dir/files")))
      fs.listStatus(path(s"$dir/files")).map(_.getPath).foreach { p =>
        if (!referenced.contains(s"files/${p.getName}")) fs.delete(p, true)
      }
    ids.dropRight(retain).filterNot(saved.contains).foreach { id =>
      fs.delete(path(manifestPath(dir, id)), false)
      fs.delete(path(s"$dir/_COMMIT_$id"), false)
    }
  }

  // --------------------------------------------------------------------
  // Cleaner retention policy (Hudi's `hoodie.cleaner.commits.retained`
  // role): how many TRAILING committed versions every GC pass keeps,
  // which is exactly the window VERSION/TIMESTAMP AS OF, rollback and
  // the change feed can reach without a savepoint pin. Stored as one
  // `_RETAIN_<n>` marker file in the table dir — policy metadata like
  // the stream-batch markers, deliberately NOT a manifest header:
  // retention is an operator knob changeable at any time, while the
  // manifest's #keys/#ord headers pin table IDENTITY and reject change.

  private val RetainMarkerPrefix = "_RETAIN_"

  /** The table's retention window: max of the present `_RETAIN_` markers
    * (a mid-[[setRetention]] read can see both the new and the old
    * marker — taking the max errs toward retaining MORE, never an early
    * collect), floored at the protocol minimum 2; 2 when unset. */
  def retention(sess: SparkSession, dir: String): Int = {
    val fs = fsOf(sess, dir)
    if (!fs.exists(path(dir))) 2
    else fs.listStatus(path(dir)).map(_.getPath.getName)
      .collect { case n if n.startsWith(RetainMarkerPrefix) =>
        n.stripPrefix(RetainMarkerPrefix).toIntOption }
      .flatten.maxOption.map(math.max(2, _)).getOrElse(2)
  }

  /** Set the retention policy: create the new marker FIRST, then drop
    * the old ones (a crash between the two leaves both standing, which
    * [[retention]]'s max rule reads as the larger window — transiently
    * over-retaining is safe, under-retaining would hand GC versions the
    * operator asked to keep). n < 2 is rejected loudly: the commit
    * protocol's rollback and change-feed guarantees need the current
    * AND one prior version. */
  def setRetention(sess: SparkSession, dir: String, n: Int): Unit =
    withFsLockIfEnabled(sess, dir)(setRetentionInner(sess, dir, n))

  /** [[setRetention]] without the cross-process wrapper — for callers
    * ALREADY inside an FS-locked scope ([[clean]]); ProcessLock is not
    * reentrant. */
  private def setRetentionInner(sess: SparkSession, dir: String, n: Int): Unit =
    lockFor(dir).synchronized {
    require(n >= 2,
      s"retention must be >= 2 (the protocol keeps the current + one prior version); got $n")
    val fs = fsOf(sess, dir)
    if (!fs.exists(path(dir))) fs.mkdirs(path(dir))
    fs.createNewFile(path(s"$dir/$RetainMarkerPrefix$n"))
    fs.listStatus(path(dir)).map(_.getPath).foreach { p =>
      val nm = p.getName
      if (nm.startsWith(RetainMarkerPrefix) && nm != s"$RetainMarkerPrefix$n")
        fs.delete(p, false)
    }
  }

  /** Run the cleaner NOW (Hudi's `run_clean` procedure role):
    * optionally update the policy first, then GC under it. Returns the
    * version ids whose manifests were reclaimed, oldest first —
    * savepointed versions never appear (the pin wins over the window).
    * Every commit already GCs under the stored policy; this is the
    * explicit door for shrinking the window without writing data. */
  def clean(sess: SparkSession, dir: String, retain: Option[Int] = None): Seq[Long] =
    withFsLockIfEnabled(sess, dir)(lockFor(dir).synchronized {
      retain.foreach(setRetentionInner(sess, dir, _))
      val before = Ingest.snapshotVersions(sess, dir)
      gc(sess, dir)
      val after = Ingest.snapshotVersions(sess, dir).toSet
      before.filterNot(after.contains)
    })

  /** Typed-NULL pad of manifest-schema columns no scanned data file
    * carries yet (a schema-widening DDL commit adds columns by
    * metadata alone) — applied by every Scala-door read so its schema
    * matches the SQL door's manifest-typed scan, which null-fills
    * missing parquet columns natively. */
  private def padToSchema(df: DataFrame, schema: Option[StructType]): DataFrame =
    schema.fold(df) { st =>
      st.fields.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }

  /** `base`'s fields plus every prior-schema field `base` lacks
    * (case-insensitive): the widening reconcile commit() applies to
    * the manifest schema — columns the merge saw keep their freshest
    * type, columns it didn't see (clean-bucket drift, DDL-added) are
    * retained. */
  private def widenWith(base: StructType, prev: Option[StructType]): StructType =
    prev.fold(base) { p =>
      StructType(base.fields ++ p.fields.filterNot(f => fieldOf(base, f.name).isDefined))
    }

  /** `ALTER TABLE ... ADD COLUMNS` as a METADATA-ONLY commit — the DDL
    * face of U6's reconcile-on-write: publish version head+1 whose
    * manifest carries the widened schema while every data file carries
    * forward by reference. Until data lands, the added columns read as
    * typed NULLs (the manifest-typed catalog scan null-fills missing
    * parquet columns; [[readAt]] pads the Scala door identically).
    * Cost: one small manifest write + the atomic marker — nothing
    * scales with table bytes, the Delta/Iceberg metadata-evolution
    * posture. Returns the new version id. */
  def widenSchema(sess: SparkSession, dir: String,
                  newFields: Seq[StructField]): Long =
    // FS lock first, JVM lock second (lock-order rule at
    // withFsLockIfEnabled): ALTER is a MUTATING COMMIT like any other —
    // without this wrapper a locked deployment's concurrent ALTER could
    // still write the head+1 manifest OVER a racing writer's
    // just-committed one before its own marker create failed (loud
    // error, corrupted committed state — the r18 verdict race)
    withFsLockIfEnabled(sess, dir)(lockFor(dir).synchronized {
    require(newFields.nonEmpty, "widenSchema needs at least one column to add")
    val fs = fsOf(sess, dir)
    completePendingPurge(sess, dir)
    val id = committedId(sess, dir).getOrElse(
      throw new IllegalStateException(s"no committed table at $dir"))
    val m = readManifest(sess, dir, id)
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"manifest v$id at $dir carries no schema — pre-schema-header table; rebuild"))
    newFields.foreach { f =>
      require(fieldOf(schema, f.name).isEmpty,
        s"column '${f.name}' already exists on the table at $dir")
      require(f.nullable,
        s"added column '${f.name}' must be nullable: existing rows have no value for it")
    }
    val newId = id + 1
    // unlocked deployments (fsLock off): a marker already at head+1
    // means a foreign process committed between our head read and here
    // — fail BEFORE the manifest write so the widened manifest can
    // never clobber the winner's (narrows the unavoidable
    // detection-only window to the write-vs-create gap below)
    if (fs.exists(path(s"$dir/_COMMIT_$newId")))
      throw new IllegalStateException(
        s"concurrent cross-process commit detected at $dir: version $newId was " +
          "published by another writer — re-run the ALTER against the new head " +
          "(set spark.graft.cdc.fsLock=true to serialize multi-process writers)")
    writeManifest(sess, dir, newId, m.nBuckets, StructType(schema.fields ++ newFields),
      m.keys.getOrElse(Nil), m.ord.getOrElse(Nil), m.entries,
      m.ordHi) // metadata-only widen: same rows, same ord ceiling
    if (!fs.createNewFile(path(s"$dir/_COMMIT_$newId")))
      throw new IllegalStateException(
        s"concurrent cross-process commit detected at $dir: version $newId was " +
          "published by another writer mid-widen — re-run the ALTER")
    gc(sess, dir)
    newId
  })

  /** Read the current snapshot: every manifest-referenced bucket dir in
    * one multi-path scan (mergeSchema reconciles buckets written under
    * drifted schemas). None before the first commit. */
  def read(sess: SparkSession, dir: String): Option[DataFrame] =
    committedId(sess, dir).flatMap(readAt(sess, dir, _))

  /** Time travel: the snapshot as of still-retained committed version
    * `id` (current, prior, or savepointed). The manifest makes this
    * exact — it lists the very files version `id` saw, including clean
    * buckets carried from older commits. Fails loudly when a purge
    * intent marker covers the requested version: between a purge's
    * manifest commit and the end of its forget-history step, older
    * manifests may still reference the purged keys — serving them
    * would silently resurrect supposedly-forgotten rows. */
  def readAt(sess: SparkSession, dir: String, id: Long): Option[DataFrame] = {
    val versions = Ingest.snapshotVersions(sess, dir)
    assertNoPurgeResurrection(sess, dir, id)
    if (!versions.contains(id)) None
    else Some {
      val m = readManifest(sess, dir, id)
      if (m.entries.isEmpty)
        // all keys deleted: a TYPED empty frame from the manifest schema,
        // so downstream selects still resolve
        m.schema.fold(sess.emptyDataFrame) { st =>
          sess.createDataFrame(sess.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        }
      else padToSchema(
        sess.read.option("mergeSchema", "true")
          .parquet(m.entries.map(e => s"$dir/${e.relPath}"): _*)
          .drop("_bucket"),
        m.schema)
    }
  }

  /** Checkpointed streaming ingest at file-group granularity — the
    * third member of the service triad next to [[Ingest.run]] (table-
    * rewrite COW) and [[MergeOnRead.run]] (log-append MOR): per
    * micro-batch, parse and [[commitStreamBatch]] — each trigger
    * rewrites only the file groups its batch touches, and the store's
    * own stream-batch markers make replays exactly-once (the
    * checkpoint only avoids re-reading acked files). */
  def run(spark: SparkSession, inputDir: String, tableDir: String, checkpointDir: String,
          schema: org.apache.spark.sql.types.StructType = Envelope.employeesEnvelope,
          keys: Seq[String] = Seq("id"), ord: Seq[String] = Seq("lsn"),
          nBuckets: Int = 16,
          dlqDir: Option[String] = None,
          valueFormat: Ingest.ValueFormat = Ingest.JsonValues)
          : org.apache.spark.sql.streaming.StreamingQuery =
    // Avro wire formats decode on the kafka-shaped stream, before the
    // DLQ split and parse — downstream is identical to the JSON path
    valueFormat.decode(Ingest.readTopicStream(spark, inputDir,
        valueBase64 = valueFormat.valueBase64)).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // DLQ wire (same as [[Ingest.run]]'s): quarantine poison
        // records with full source coordinates BEFORE projection; the
        // good half keeps its `_parsed` envelope so the hot path pays
        // from_json exactly once per batch. A replayed batch's DLQ
        // write is the idempotent per-batch partition overwrite.
        val input = dlqDir match {
          case Some(dq) =>
            val (good, dlq) = Ingest.withDeadLetters(batch, schema)
            graft.ops.DeltaProtocol.writeBatchPartition(dlq, batchId, dq)
            good
          case None => batch
        }
        val parsed = Ingest.extractPostImage(input, schema, keys)
        commitStreamBatch(batch.sparkSession, tableDir, parsed, batchId, keys, ord, nBuckets)
        ()
      }
      .start()

  private def streamMarkerPath(dir: String, b: Long) = s"$dir/_STREAM_BATCH_$b"

  /** How many stream-batch idempotence markers to retain. Replay of a
    * batch whose marker aged out (only reachable by deleting the
    * checkpoint AND replaying >MarkerRetention batches back) re-commits
    * it at a fresh version — state-identical under latest-wins, pure
    * version churn — so retention bounds metadata files without risking
    * wrong results. */
  private val StreamMarkerRetention = 128L

  /** One micro-batch of a CHECKPOINTED STREAM committed into the store.
    *
    * Decouples the stream's monotonically-increasing batch id from the
    * table's version ids: a naive `commit(batchId)` breaks the moment
    * any OTHER writer takes a version — a SQL MERGE/DML/ALTER between
    * stream runs bumps the head past the stream's next batch id, and
    * the replay-idempotence guard would then treat that LIVE batch as
    * already committed and SILENTLY DROP it (the checkpoint acks it;
    * the data is gone with a healthy-looking timeline). Here the
    * version is always head+1 and exactly-once is keyed by an atomic
    * `_STREAM_BATCH_<id>` marker in the TABLE dir (not the checkpoint,
    * so even a deleted checkpoint replays as no-ops):
    *
    *  - marker present → replay → no-op;
    *  - crash between commit and marker → the replayed batch commits
    *    once more at a fresh version, which latest-wins merges to the
    *    IDENTICAL state (the batch's rows already won or tie) — at
    *    most one redundant version, never data loss or duplication;
    *  - markers older than [[StreamMarkerRetention]] behind are GC'd
    *    (see its note for why that stays safe).
    *
    * Pre-r18 streamed tables carry no markers; their batches replay as
    * redundant-but-identical versions, same safety argument. Returns
    * the rewritten bucket set (empty for a no-op replay). */
  def commitStreamBatch(sess: SparkSession, dir: String, batch: DataFrame, streamBatchId: Long,
                        keys: Seq[String], ord: Seq[String],
                        nBuckets: Int = 16): Set[Long] =
    // FS lock first, JVM lock second (see withFsLockIfEnabled) — the
    // marker check + commit + marker write is one cross-process unit
    withFsLockIfEnabled(sess, dir)(lockFor(dir).synchronized {
    val fs = fsOf(sess, dir)
    if (fs.exists(path(streamMarkerPath(dir, streamBatchId)))) Set.empty
    else {
      val v = committedId(sess, dir).map(_ + 1).getOrElse(0L)
      // allowEmpty = false: an empty trigger must not churn a version
      // (the empty-write rule) — the commit's own bucket discovery is
      // the emptiness probe, no separate isEmpty job per trigger; the
      // marker still lands below so the empty trigger's replay stays a
      // no-op
      // commitOutcomeLocked, NOT commitOutcome: the FS lock is already
      // held by this method's wrapper and ProcessLock is not reentrant
      val dirty = commitOutcomeLocked(sess, dir, batch, v, keys, ord, nBuckets,
          allowEmpty = false) match {
        case Committed(d) => d
        case Replayed =>
          // reachable exactly one way: with fsLock OFF, a FOREIGN
          // PROCESS committed version v between this method's head
          // read and the commit's own head check (same-JVM writers are
          // excluded by the table lock held here). Surfaced loudly —
          // naming the real cause — rather than acked silently, which
          // would let the checkpoint drop this live batch.
          throw new IllegalStateException(
            s"stream batch $streamBatchId at $dir: version $v was committed by a " +
              "concurrent writer in another process mid-trigger — serialize the " +
              "writers or set spark.graft.cdc.fsLock=true (the cross-process lock " +
              "provider) on every writer; the batch is NOT acked and will replay")
      }
      fs.createNewFile(path(streamMarkerPath(dir, streamBatchId)))
      // marker GC: drop markers far behind this batch (bounded count)
      if (fs.exists(path(dir)))
        fs.listStatus(path(dir)).map(_.getPath).foreach { p =>
          val n = p.getName
          if (n.startsWith("_STREAM_BATCH_") &&
              n.stripPrefix("_STREAM_BATCH_").toLongOption
                .exists(_ < streamBatchId - StreamMarkerRetention))
            fs.delete(p, false)
        }
      dirty
    }
  })

  // --------------------------------------------------------------------
  // The typed probe model — the manifest index generalized beyond a
  // single integer key (string PKs and composite PKs are the common
  // Debezium reality). A probe is one KEY TUPLE: one value per key
  // column, in `keys` order. Pruning = hash bucket (any shape) + key
  // bloom (any shape) + [lo,hi] stats (single integer-family keys).

  private def integerFamily(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** One probed key tuple resolved against the manifest index: its
    * values CAST to the committed key types (equality filters built
    * from these never coerce the key column — comparing a bigint key
    * against a string literal would silently go through double and
    * break above 2^53), its hash bucket, its bloom bit positions, and —
    * for single integer-family keys — the long value the [lo,hi]
    * manifest stats prune on. */
  private final case class Probe(vals: Seq[Any], bucket: Long, pos: Seq[Long],
                                 stat: Option[Long])

  /** Can file group `e` possibly hold probe `p`? The ONE admit test
    * every index consumer (pointLookup, purge, tagging, the SQL scan
    * builder's [[referencedPaths]]) shares — a conservative superset
    * cut: bucket must match, the [lo,hi] stats (when both sides carry
    * them) must admit, the bloom (when present) must admit. The
    * per-probe pairing matters: with probes 1 and 99, a bucket spanning
    * [40,60] must not survive on "1 ≤ hi and 99 ≥ lo". */
  private def admits(e: Entry)(p: Probe): Boolean =
    p.bucket == e.bucket &&
      p.stat.forall(v => e.lo.forall(v >= _) && e.hi.forall(v <= _)) &&
      e.bloom.forall(bloomMightContain(_, p.pos))

  /** Resolve each probed key tuple against the index, computed by the
    * SAME codegen'd expressions as the writer (a driver-side
    * reimplementation could drift), AFTER casting each value to the
    * COMMITTED key type from the manifest schema: xxhash64 is
    * type-sensitive (hash of int 5 ≠ long 5 ≠ string '5'), so probing a
    * table at the wrong type would silently hash every probe into the
    * wrong bucket and return empty. */
  private def probeIndex(sess: SparkSession, keys: Seq[String], probes: Seq[Seq[Any]],
                         schema: Option[StructType], nb: Int): Seq[Probe] = {
    if (probes.isEmpty) return Nil
    require(probes.forall(t => t.size == keys.size && t.forall(_ != null)),
      s"each probe must carry exactly ${keys.size} non-null value(s) for " +
        s"key columns (${keys.mkString(", ")})")
    // normalize driver-side values, then infer the pre-cast column type
    // per key column (the probe's natural type)
    val norm: Seq[Seq[Any]] = probes.map(_.map(normalizeVal))
    val inferred: Seq[DataType] =
      keys.indices.map(i => inferType(norm.head(i), keys(i)))
    val keyTypes: Seq[Option[DataType]] =
      keys.map(k => schema.flatMap(fieldOf(_, k)).map(_.dataType))
    val rowSchema = StructType(StructField("_i", IntegerType, nullable = false) +:
      keys.zip(inferred).map { case (k, t) => StructField(k, t) })
    import scala.jdk.CollectionConverters._
    val df0 = sess.createDataFrame(
      norm.zipWithIndex.map { case (t, i) => Row.fromSeq(i +: t) }.asJava, rowSchema)
    // Round-trip validation of every non-identity cast: the cast to
    // the committed key type uses non-ANSI (lossy) semantics, and the
    // index then buckets/filters on the POST-cast values — without
    // this check a long probe 2^32+5 on an INT-keyed table would wrap
    // to 5 and quietly return (or PURGE) key 5's row, a string '5.7'
    // on a BIGINT key would truncate to 5, and an unparseable string
    // would go null yet still admit a bucket. A probe is lossy when
    // its post-cast value is null or doesn't cast back to the original
    // value; identity casts (committed == inferred type) can't lose.
    // try_cast on BOTH hops: the check must be ANSI-independent — a
    // plain cast under the Spark-4 ANSI default throws an opaque
    // arithmetic error mid-collect instead of this method's actionable
    // one, and under ANSI-off it silently wraps/truncates/nulls (the
    // very hazard being closed). A reverse hop that itself fails
    // (null) counts as lossy via the coalesce.
    val lossyChecks = keys.zip(keyTypes).zip(inferred).collect {
      case ((k, Some(dt)), inf) if dt != inf =>
        val rt = col(k).try_cast(dt)
        rt.isNull || coalesce(rt.try_cast(inf) =!= col(k), lit(true))
    }
    val lossyCol = if (lossyChecks.isEmpty) lit(false) else lossyChecks.reduce(_ || _)
    val casted = keys.zip(keyTypes).foldLeft(df0.withColumn("_lossy", lossyCol)) {
      case (d, (k, t)) => t.fold(d)(dt => d.withColumn(k, col(k).try_cast(dt)))
    }
    val statType = keyTypes.head.getOrElse(inferred.head)
    val statCol =
      if (keys.size == 1 && integerFamily(statType)) col(keys.head).cast("long")
      else lit(null).cast("long")
    val rows = casted
      .select(col("_i"), struct(keys.map(col): _*).as("_t"),
        bucketCol(keys, nb).as("_b"),
        array((0 until BloomK).map(i => bloomPos(keys.map(col), i)): _*).as("_pos"),
        statCol.as("_stat"), col("_lossy"))
      .collect().sortBy(_.getInt(0)).toSeq
    val lossy = rows.filter(_.getBoolean(5)).map(r => probes(r.getInt(0)))
    if (lossy.nonEmpty) {
      val committedTypes = keys.zip(keyTypes).map { case (k, t) =>
        s"$k: ${t.getOrElse(inferred(keys.indexOf(k))).simpleString}" }
      throw new IllegalArgumentException(
        s"lossy probe value(s) ${lossy.map(_.mkString("(", ", ", ")")).mkString("; ")} " +
          s"for committed key type(s) (${committedTypes.mkString(", ")}) — the value(s) " +
          "do not convert exactly to the committed key type, so the index would " +
          "silently probe (and a purge would silently DELETE) a different key than " +
          "named; pass values of the table's key type")
    }
    rows.map { r =>
      Probe(r.getStruct(1).toSeq, r.getLong(2), r.getSeq[Long](3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }
  }

  /** Exact key-membership filter from resolved probes: values are
    * already at the committed key types, so the comparison never
    * coerces the key column. Single-key tables take the `isin` fast
    * path; composite keys OR per-tuple AND-equalities (probe lists are
    * lookup-shaped — bounded by the caller, never corpus-sized). */
  private def tupleMatch(keys: Seq[String], ps: Seq[Probe]): Column =
    if (keys.size == 1) col(keys.head).isin(ps.map(_.vals.head): _*)
    else ps.map(p => keys.zip(p.vals).map { case (k, v) => col(k) === lit(v) }
      .reduce(_ && _)).reduce(_ || _)

  /** Per-bucket manifest entries for a freshly rewritten version dir
    * (shared by [[commit]] and the purge rewrite): ONE narrow agg pass
    * for [lo,hi,count] — [lo,hi] populated only for single
    * integer-family keys, the stats-index scope — plus the distributed
    * key blooms, built for ANY key shape. */
  /** Per-bucket index entries for the rewritten file groups, plus the
    * rewritten rows' ORD CEILING (max ordering value across every
    * bucket — rides the same grouped aggregation, no extra pass; None
    * unless the table has a single integer-family ordering column or
    * the rewrite emitted no rows). */
  private def rewriteEntries(out: DataFrame, keys: Seq[String], batchId: Long,
                             ord: Seq[String] = Nil): (Seq[Entry], Option[Long]) = {
    val singleIntKey = keys.size == 1 &&
      fieldOf(out.schema, keys.head).exists(f => integerFamily(f.dataType))
    val statCol = if (singleIntKey) col(keys.head).cast("long") else lit(null).cast("long")
    val singleIntOrd = ord.size == 1 &&
      fieldOf(out.schema, ord.head).exists(f => integerFamily(f.dataType))
    val ordCol = if (singleIntOrd) col(ord.head).cast("long") else lit(null).cast("long")
    // r21 (guide §1.2/§2.4): stats AND key blooms in ONE grouped
    // aggregation — the historical shape ran a second job over the
    // persisted merge output (explode K positions → (bucket, word)
    // bit_or → collect) per commit. BloomWordsAgg ORs the same K
    // codegen'd xxhash64 positions into a 64-word buffer inline, so
    // every commit pays one index pass, not two; the OR is
    // order-invariant, so the sketch bits are unchanged.
    val posArr = array((0 until BloomK).map(i => bloomPos(keys.map(col), i)): _*)
    val rows = out.groupBy(col("_bucket"))
      .agg(min(statCol).as("lo"), max(statCol).as("hi"), count(lit(1)).as("n"),
        max(ordCol).as("ordhi"),
        graft.functions.BloomWordsAgg.agg(posArr, BloomWords).as("bloom"))
      .collect()
    val entries = rows.map { r =>
      val bloomHex = ByteBuffer.wrap(r.getAs[Array[Byte]](5)).asLongBuffer() match {
        case lb =>
          val arr = new Array[Long](BloomWords)
          lb.get(arr)
          arr.map(w => f"$w%016x").mkString
      }
      Entry(r.getLong(0), s"files/v$batchId/_bucket=${r.getLong(0)}",
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3),
        Some(bloomHex))
    }.toSeq
    val ordHi = rows.toSeq.collect { case r if !r.isNullAt(4) => r.getLong(4) }.maxOption
    (entries, ordHi)
  }

  /** Point lookup by key TUPLE — string and composite record keys
    * included: resolve each probed tuple's hash bucket, drop buckets
    * whose index metadata (stats/bloom) excludes it, and scan only what
    * survives — the metadata-table read path (1 file group per key
    * instead of the table). */
  def pointLookupTuples(sess: SparkSession, dir: String, keys: Seq[String],
                        probes: Seq[Seq[Any]]): Option[DataFrame] =
    committedId(sess, dir).flatMap(id => pointLookupTuplesAt(sess, dir, id, keys, probes))

  /** Time-travel point lookup: [[pointLookupTuples]] against RETAINED
    * version `id`'s manifest index (current, prior, or savepointed) —
    * "what did this key look like on Tuesday" without scanning
    * Tuesday's table. Same retention and purge-resurrection discipline
    * as [[readAt]] (a pre-purge version's keys are supposed to be
    * forgotten); None when `id` is not retained. */
  def pointLookupTuplesAt(sess: SparkSession, dir: String, id: Long, keys: Seq[String],
                          probes: Seq[Seq[Any]]): Option[DataFrame] = {
    assertNoPurgeResurrection(sess, dir, id)
    if (!Ingest.snapshotVersions(sess, dir).contains(id)) None
    else Some {
      val m = readManifest(sess, dir, id)
      checkKeys(m, keys, dir)
      val ps = probeIndex(sess, keys, probes, m.schema, m.nBuckets)
      // a bucket survives only if SOME probe hashes into it AND passes
      // its stats + key bloom — a negative probe costs zero data-file
      // IO (the bloom-index read path)
      val hit = m.entries.filter(e => ps.exists(admits(e)))
      if (hit.isEmpty) readAt(sess, dir, id).get.limit(0)
      // same widened-column null-pad as readAt, so a lookup's schema
      // doesn't depend on whether any file group survived pruning
      else padToSchema(
        sess.read.option("mergeSchema", "true")
          .parquet(hit.map(e => s"$dir/${e.relPath}"): _*)
          .drop("_bucket")
          .filter(tupleMatch(keys, ps)),
        m.schema)
    }
  }

  /** Single-long-key convenience over [[pointLookupTuples]] (the
    * historical API shape — Debezium integer PKs). */
  def pointLookup(sess: SparkSession, dir: String, keys: Seq[String],
                  probes: Seq[Long]): Option[DataFrame] =
    pointLookupTuples(sess, dir, keys, probes.map(Seq(_)))

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(
      s"expected an integer key value, got ${other.getClass.getName}")
  }

  /** Index-only candidate test by key TUPLE: for each probe, can the
    * table possibly contain it? False ⇒ DEFINITELY absent (bloom +
    * stats are one-sided); true ⇒ candidate, confirm by scanning its
    * file group. The metadata half of [[tagKeys]], exposed so the
    * pruning property itself is testable. Tuples are returned at the
    * COMMITTED key types, in probe order. */
  def bloomCandidateTuples(sess: SparkSession, dir: String, keys: Seq[String],
                           probes: Seq[Seq[Any]]): Option[Seq[(Seq[Any], Boolean)]] =
    committedId(sess, dir).map { id =>
      val m = readManifest(sess, dir, id)
      checkKeys(m, keys, dir)
      val byBucket = m.entries.map(e => e.bucket -> e).toMap
      probeIndex(sess, keys, probes, m.schema, m.nBuckets).map { p =>
        p.vals -> byBucket.get(p.bucket).exists(e => admits(e)(p))
      }
    }

  /** Single-long-key convenience over [[bloomCandidateTuples]]. */
  def bloomCandidates(sess: SparkSession, dir: String, keys: Seq[String],
                      probes: Seq[Long]): Option[Map[Long, Boolean]] =
    bloomCandidateTuples(sess, dir, keys, probes.map(Seq(_)))
      .map(_.map { case (vs, b) => asLong(vs.head) -> b }.toMap)

  /** Hard purge — the right-to-be-forgotten operation: remove `purge`d
    * keys from the CURRENT state AND from every retained historical
    * version, savepoints included. A plain delete commit is not enough
    * (time travel and savepoint restore would resurrect the rows); a
    * purge must leave NO retained version containing the keys.
    *
    * Protocol, in order:
    *  1. resolve the buckets that can possibly hold a purged key via
    *     the manifest index (stats + bloom) — buckets whose metadata
    *     excludes every purged key are NOT rewritten (their files
    *     provably never contained the keys);
    *  2. rewrite exactly those buckets minus the purged keys as
    *     version `batchId` (stats + blooms rebuilt, so the new
    *     manifest's own index no longer admits the keys), commit the
    *     new manifest + marker — up to here this is an ordinary
    *     commit, crash-safe the same way;
    *  3. FORGET history: drop every older manifest, commit marker and
    *     savepoint, then delete every per-version bucket data dir the
    *     new manifest does not reference — data dirs are deleted LAST
    *     so at no point is a referenced file missing.
    *
    * At 100 TB the rewrite cost is ∝ buckets actually holding purged
    * keys (bloom-pruned, usually |keys| file groups), and the history
    * drop is pure metadata plus unreferenced-dir deletes.
    *
    * Crash safety does NOT rely on the operator noticing the crash: a
    * `_PURGE_<batchId>` intent marker is written before any mutation
    * and removed only after step 3 completes. While it stands,
    * [[readAt]] refuses to serve pre-purge versions (no silent
    * resurrection), and the next purge call on the table finishes
    * the forget step (marker committed) or discards the orphan rewrite
    * (marker uncommitted) before proceeding. ANY key shape — string and
    * composite keys prune by hash bucket + key bloom; single
    * integer-family keys additionally by [lo,hi] stats. Returns the
    * rewritten bucket set. */
  def purgeKeyTuples(sess: SparkSession, dir: String, keys: Seq[String],
                     purge: Seq[Seq[Any]], batchId: Long): Set[Long] = {
    // an EMPTY purge list is a no-op, never a history drop: with no
    // keys to forget there is no mandate, and running the commit +
    // forgetHistory machinery anyway would irreversibly delete every
    // retained version and savepoint for nothing (a dynamically
    // computed purge set coming out empty is common). Note an
    // absent-from-CURRENT key list must still run in full — older
    // versions may hold the keys even when the head's index excludes
    // them.
    if (purge.isEmpty) return Set.empty
    // same per-table lock as commit(): the purge's head recheck below
    // and its destructive rewrite must not interleave with an
    // in-process commit taking the same id; the cross-process FS lock
    // (when enabled) wraps OUTSIDE it, same order as every commit
    withFsLockIfEnabled(sess, dir)(lockFor(dir).synchronized {
    val fs = fsOf(sess, dir)
    val id = committedId(sess, dir).getOrElse(
      throw new IllegalStateException(s"no committed table at $dir"))
    require(batchId > id, s"purge batchId $batchId must exceed committed id $id")
    // Crash recovery from a leftover intent marker (written below before
    // any mutation, removed only after the forget step completes).
    // Committed marker (pid <= committed id): the purged manifest landed
    // but history may not have been dropped — older manifests could
    // still resurrect the purged keys, so FINISH the forget from the
    // current committed manifest before doing anything else. Uncommitted
    // marker (pid > committed id): the crash hit before the manifest
    // commit, the table never changed — drop the orphan rewrite dir and
    // the marker, then proceed.
    completePendingPurge(sess, dir)
    val m = readManifest(sess, dir, id)
    checkKeys(m, keys, dir)
    val (nb, schema, entries) = (m.nBuckets, m.schema, m.entries)
    val probes = probeIndex(sess, keys, purge, schema, nb)
    val dirtyBuckets = entries.filter(e => probes.exists(admits(e)))
    // Intent marker BEFORE any mutation: records that a purge is in
    // flight, so a crash anywhere below is DETECTED rather than silent —
    // readAt fails loudly on pre-purge versions while it stands, and the
    // next purgeKeys call completes the forget step (above). Removed
    // only after forgetHistory finishes.
    fs.createNewFile(path(purgeMarkerPath(dir, batchId)))
    // pre-mutation head recheck (the write below OVERWRITES files/
    // v<batchId>, so a concurrent commit that took this id would be
    // clobbered and its manifest replaced from the stale snapshot):
    // the store is single-writer by contract, but a stale-head purge
    // is cheap to detect here and destructive to miss
    if (!committedId(sess, dir).contains(id)) {
      fs.delete(path(purgeMarkerPath(dir, batchId)), false)
      throw new IllegalStateException(
        s"concurrent commit detected at $dir: purge resolved head v$id but the " +
          "table moved — re-run the purge against the current head")
    }
    val newEntries: Seq[Entry] =
      if (dirtyBuckets.isEmpty) entries
      else {
        // !coalesce(match, false): a row is removed only when it
        // DEFINITELY matches a purged tuple — a null key column makes
        // the equality null, and such a row is not a purge target (the
        // probe values are non-null by contract), so it survives
        val kept = sess.read.option("mergeSchema", "true")
          .parquet(dirtyBuckets.map(e => s"$dir/${e.relPath}"): _*)
          .filter(!coalesce(tupleMatch(keys, probes), lit(false)))
          .withColumn("_bucket", bucketCol(keys, nb))
          // r22: one compact file per rewritten file group (see the
          // commit path's repartition note — same small-files fix)
          .repartition(nb, col("_bucket")).persist()
        kept.write.mode("overwrite").partitionBy("_bucket").parquet(s"$dir/files/v$batchId")
        val (stats, _) = rewriteEntries(kept, keys, batchId)
        kept.unpersist()
        val dirtySet = dirtyBuckets.map(_.bucket).toSet
        entries.filterNot(e => dirtySet.contains(e.bucket)) ++ stats
      }
    writeManifest(sess, dir, batchId, nb,
      schema.getOrElse(read(sess, dir).get.schema), keys,
      m.ord.getOrElse(Nil), newEntries,
      m.ordHi) // purge only REMOVES rows: the prior ceiling still bounds every survivor
    fs.createNewFile(path(s"$dir/_COMMIT_$batchId"))
    // step 3 — forget, then retire the intent marker
    forgetHistory(sess, dir, batchId)
    fs.delete(path(purgeMarkerPath(dir, batchId)), false)
    dirtyBuckets.map(_.bucket).toSet
    })
  }

  /** Single-long-key convenience over [[purgeKeyTuples]] (the
    * historical API shape). */
  def purgeKeys(sess: SparkSession, dir: String, keys: Seq[String],
                purge: Seq[Long], batchId: Long): Set[Long] =
    purgeKeyTuples(sess, dir, keys, purge.map(Seq(_)), batchId)

  /** DSv2 catalog support ([[graft.sources.FileGroupCatalog]]): the
    * table schema version `id`'s manifest records. */
  private[graft] def manifestSchema(sess: SparkSession, dir: String, id: Long):
      Option[StructType] =
    readManifest(sess, dir, id).schema

  /** Whether version `id` carries a file-group manifest — the LAYOUT
    * discriminator ([[graft.sources.FileGroupProcedures]] uses it): the
    * MOR/versioned-snapshot layouts share the `_COMMIT_<id>` marker
    * convention but have no manifest, so `_COMMIT_` presence alone
    * cannot tell the two table families apart. One metadata existence
    * check. */
  private[graft] def hasManifest(sess: SparkSession, dir: String, id: Long): Boolean =
    fsOf(sess, dir).exists(path(manifestPath(dir, id)))

  /** The pinned file-group (hash bucket) count of version `id`'s
    * manifest — table-identity metadata for the SQL catalog's
    * TBLPROPERTIES surface. */
  private[graft] def manifestBuckets(sess: SparkSession, dir: String, id: Long): Int =
    readManifest(sess, dir, id).nBuckets

  /** SQL maintenance support ([[graft.sources.FileGroupProcedures]]
    * `show_commits`): version `id`'s (file-group count, total rows) —
    * manifest metadata only, no data read. */
  private[graft] def manifestStats(sess: SparkSession, dir: String, id: Long): (Int, Long) = {
    val entries = readManifest(sess, dir, id).entries
    (entries.size, entries.map(_.count).sum)
  }

  /** SQL observability support (`show_file_groups`): version `id`'s
    * per-bucket manifest records — (bucket, relative path, row count,
    * [lo,hi] key stats when the single-integer-key index carries them,
    * whether a key bloom is present). Manifest metadata only, no data
    * read — the Hudi `show_fsview` role. */
  private[graft] def manifestEntries(sess: SparkSession, dir: String, id: Long):
      Seq[(Long, String, Long, Option[Long], Option[Long], Boolean)] =
    readManifest(sess, dir, id).entries.sortBy(_.bucket)
      .map(e => (e.bucket, e.relPath, e.count, e.lo, e.hi, e.bloom.isDefined))

  /** DSv2 catalog support: the data paths version `id` references —
    * cut to the buckets that could hold the probed key TUPLES when
    * probes are given (hash bucket + [min,max] stats + key bloom, the
    * same manifest index [[pointLookupTuples]] and [[purgeKeyTuples]]
    * prune with — string and composite keys included). Empty probes =
    * the full snapshot's paths. */
  /** Incremental FILE pruning (the Hudi incremental-query file cut):
    * the paths of version `toId`'s file groups that were REWRITTEN
    * after version `fromId` — an untouched bucket carries forward by
    * manifest reference (same relPath), so no row inside it can have
    * changed between the two versions; only changed-relPath groups can
    * hold incremental rows. Sound as a superset cut: every row
    * upserted after `fromId` lives in a bucket its commit rewrote. */
  private[graft] def changedReferencedPaths(sess: SparkSession, dir: String,
                                            fromId: Long, toId: Long): Seq[String] = {
    val before = readManifest(sess, dir, fromId).entries
      .map(e => (e.bucket, e.relPath)).toSet
    readManifest(sess, dir, toId).entries
      .filterNot(e => before.contains((e.bucket, e.relPath)))
      .map(e => s"$dir/${e.relPath}")
  }

  private[graft] def referencedPaths(sess: SparkSession, dir: String, id: Long,
                                     keys: Seq[String], probes: Seq[Seq[Any]]): Seq[String] = {
    val m = readManifest(sess, dir, id)
    val sel =
      if (probes.isEmpty) m.entries
      else {
        checkKeys(m, keys, dir)
        val pr = probeIndex(sess, keys, probes, m.schema, m.nBuckets)
        m.entries.filter(e => pr.exists(admits(e)))
      }
    sel.map(e => s"$dir/${e.relPath}")
  }

  /** Finish (or discard) a crashed purge WITHOUT purging further keys —
    * the recovery step every [[purgeKeys]] call runs first, exposed on
    * its own so an operator can clear a standing intent marker
    * directly. Committed marker (pid <= committed id): the purged
    * manifest landed but history wasn't dropped — complete the forget
    * relative to the CRASHED purge's id, so versions committed AFTER
    * the crash (pid < v) and their savepoints/data are outside the
    * purge's mandate and survive. Uncommitted marker (pid > committed
    * id): the table never changed — discard the orphan rewrite dir.
    * Returns the cleared marker's id; None when nothing is pending
    * (or the table has no committed version to recover against). */
  def completePendingPurge(sess: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(sess, dir)
    committedId(sess, dir).flatMap { id =>
      pendingPurge(sess, dir).map { pid =>
        if (pid <= id) forgetHistory(sess, dir, pid)
        else fs.delete(path(s"$dir/files/v$pid"), true)
        fs.delete(path(purgeMarkerPath(dir, pid)), false)
        pid
      }
    }
  }

  /** The purge-resurrection guard behind [[readAt]] AND the SQL
    * catalog's `VERSION AS OF` / `TIMESTAMP AS OF` path
    * ([[graft.sources.FileGroupCatalog]] routes through here so the
    * two doors can never disagree): while a COMMITTED purge's intent
    * marker stands (crash between its manifest commit and the
    * forget-history step), versions that PREDATE the purge may still
    * reference the purged keys — serving them would silently resurrect
    * supposedly-forgotten rows, so the read fails loudly instead.
    * Only a committed purge (pid <= current id) can have left
    * un-forgotten history; an uncommitted marker means the purge never
    * landed and every retained version is untouched. */
  private[graft] def assertNoPurgeResurrection(sess: SparkSession, dir: String,
                                               id: Long): Unit = {
    val versions = Ingest.snapshotVersions(sess, dir)
    pendingPurge(sess, dir).foreach { pid =>
      if (versions.lastOption.exists(pid <= _) && id < pid && versions.contains(id))
        throw new IllegalStateException(
          s"purge $pid is pending at $dir (crash between commit and history " +
            s"drop): version $id predates it and may still hold purged keys — " +
            "re-run purgeKeys (any key set) to complete the purge first")
    }
  }

  /** Commit instant of retained version `id` — the `_COMMIT_<id>`
    * marker's filesystem mtime (epoch millis). The marker is written
    * atomically LAST in every commit path, so its mtime IS the moment
    * the version became readable. Drives the SQL catalog's
    * `TIMESTAMP AS OF` resolution. */
  private[graft] def commitTimeOf(sess: SparkSession, dir: String,
                                  id: Long): Option[Long] = {
    val fs = fsOf(sess, dir)
    val p = path(s"$dir/_COMMIT_$id")
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime) else None
  }

  private def purgeMarkerPath(dir: String, id: Long) = s"$dir/_PURGE_$id"

  /** Pending purge intent, if any: a `_PURGE_<batchId>` marker is
    * written before a purge mutates anything and removed only after its
    * forget-history step completes — a leftover marker means a crash
    * mid-purge. [[readAt]] refuses pre-purge versions while one stands;
    * the next [[purgeKeys]] call completes or discards it. */
  def pendingPurge(sess: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(sess, dir)
    if (!fs.exists(path(dir))) None
    else fs.listStatus(path(dir)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_PURGE_") => n.stripPrefix("_PURGE_").toLong }
      .sorted.lastOption
  }

  /** Purge step 3 — forget history: drop every manifest + commit marker
    * + savepoint STRICTLY OLDER than `batchId` (the purge's own id —
    * never the current committed id: in crash recovery, commits that
    * landed AFTER the crashed purge are legitimate post-purge history
    * outside the purge's mandate and must keep their manifests, data
    * and savepoints), then delete each per-version bucket dir no
    * SURVIVING manifest references — the union over every still-
    * retained version, recomputed after the manifest drop, so a file
    * referenced only by a post-purge commit survives recovery. Data
    * dirs go LAST so no still-referenced file is ever missing; every
    * delete is idempotent, so re-running to complete a crashed purge
    * is safe. */
  private def forgetHistory(sess: SparkSession, dir: String, batchId: Long): Unit = {
    val fs = fsOf(sess, dir)
    Ingest.snapshotVersions(sess, dir).filter(_ < batchId).foreach { v =>
      fs.delete(path(manifestPath(dir, v)), false)
      fs.delete(path(s"$dir/_COMMIT_$v"), false)
    }
    Savepoints.savepoints(sess, dir).filter(_ < batchId).foreach(spId =>
      fs.delete(path(s"$dir/_SAVEPOINT_$spId"), false))
    val referenced: Set[String] = Ingest.snapshotVersions(sess, dir)
      .flatMap(v => readManifest(sess, dir, v).entries.map(_.relPath)).toSet
    if (fs.exists(path(s"$dir/files")))
      fs.listStatus(path(s"$dir/files")).foreach { vdir =>
        fs.listStatus(vdir.getPath).foreach { bdir =>
          val rel = s"files/${vdir.getPath.getName}/${bdir.getPath.getName}"
          if (bdir.getPath.getName.startsWith("_bucket=") && !referenced.contains(rel))
            fs.delete(bdir.getPath, true)
        }
        if (fs.listStatus(vdir.getPath).isEmpty) fs.delete(vdir.getPath, true)
      }
  }

  /** Hudi-style index tagging: classify each incoming key as `update`
    * (already in the table) or `insert` (new) — the step every upsert
    * batch pays before routing records to file groups. Bloom+stats
    * answer the negative cases from manifest metadata alone; only
    * candidate keys' file groups are scanned (one multi-path read) to
    * squeeze out false positives, so the result is EXACT. At 100 TB a
    * batch probing k keys touches ≤ k file groups and usually far fewer
    * — never the table. */
  def tagKeys(sess: SparkSession, dir: String, keys: Seq[String],
              probes: Seq[Long]): Option[DataFrame] =
    committedId(sess, dir).map { id =>
      import sess.implicits._
      val cand = bloomCandidates(sess, dir, keys, probes).get
      val candidateKeys = probes.filter(cand(_))
      val existing: Set[Long] =
        if (candidateKeys.isEmpty) Set.empty
        else pointLookup(sess, dir, keys, candidateKeys).get
          .select(col(keys.head).cast("long")).as[Long].collect().toSet
      probes.toDF(keys.head)
        .withColumn("tag",
          when(col(keys.head).isin(existing.toSeq: _*), lit("update"))
            .otherwise(lit("insert")))
    }

  /** [[tagKeys]] generalized to key TUPLES (string/composite record
    * keys): classify each probed tuple `update` (present) vs `insert`
    * (absent), exactly — bloom+stats answer the negatives from index
    * metadata alone, candidate tuples' file groups are scanned once to
    * squeeze out false positives. Output: the key columns at the
    * COMMITTED key types plus `tag`, one row per probe in probe order. */
  def tagKeyTuples(sess: SparkSession, dir: String, keys: Seq[String],
                   probes: Seq[Seq[Any]]): Option[DataFrame] =
    committedId(sess, dir).map { id =>
      val schema = readManifest(sess, dir, id).schema
      val cand = bloomCandidateTuples(sess, dir, keys, probes).get
      val candidateTuples = probes.zip(cand).collect { case (orig, (_, true)) => orig }
      // present tuples at the committed key types — the same type space
      // cand's vals live in, so Set membership compares like-for-like
      val existing: Set[Seq[Any]] =
        if (candidateTuples.isEmpty) Set.empty
        else pointLookupTuples(sess, dir, keys, candidateTuples).get
          .select(keys.map(col): _*).distinct().collect().map(_.toSeq).toSet
      // output key types: committed schema first; else the probe's own
      // normalized type (the SAME inference probeIndex hashes under, so
      // any probe that tags also types); LongType only for the
      // degenerate no-schema-no-probes frame
      val keyTypes = keys.zipWithIndex.map { case (k, i) =>
        schema.flatMap(fieldOf(_, k)).map(_.dataType)
          .orElse(probes.headOption.map(t => inferType(normalizeVal(t(i)), k)))
          .getOrElse(LongType)
      }
      val outSchema = StructType(keys.zip(keyTypes).map { case (k, t) => StructField(k, t) } :+
        StructField("tag", StringType, nullable = false))
      import scala.jdk.CollectionConverters._
      val rows = cand.map { case (vals, isCand) =>
        Row.fromSeq(vals :+ (if (isCand && existing(vals)) "update" else "insert"))
      }
      sess.createDataFrame(rows.asJava, outSchema)
    }
}

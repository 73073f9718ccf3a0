package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The shared delta-append bookkeeping every persisted store runs —
  * [[MergeableStore]] (the CMS / HLL / quantile sketches) and the
  * index, cluster and text stores ([[LshIndex]], [[IvfIndex]],
  * [[IvfPqIndex]], [[ClusterStore]], [[TextIndex]]) — ONE copy of the
  * crash rules so a protocol fix can't drift between siblings:
  *
  *  - data dirs first, `_DELTA_<id>` marker LAST: a crash mid-append
  *    leaves an uncommitted, invisible delta;
  *  - a committed id is a replay no-op (streaming exactly-once);
  *  - a rebuild drops the commit marker FIRST, then every delta marker,
  *    then the delta data — a crash mid-rebuild must leave an
  *    uncommitted index, never a readable mismatch;
  *  - an EMPTY batch commits its marker WITH THE CONTENT `empty` and
  *    writes no data dirs (an empty partitioned parquet write produces
  *    a schema-less dir that poisons every later read); readers skip
  *    exactly the deltas whose marker says so and FAIL LOUDLY when a
  *    live delta's data dir is missing — a silent skip would turn an
  *    incomplete restore (marker copied, data lost) into quiet result
  *    loss.
  *
  * Marker content is protocol-owned: a live delta's marker is ZERO
  * bytes (plain `createNewFile`), an empty delta's carries the 5-byte
  * `empty` token — so liveness reads off the marker LENGTH already in
  * the directory listing, and the serve path never opens marker files
  * (on an object store, per-delta opens would be sequential API
  * round-trips of pure latency).
  */
private[graft] object DeltaProtocol {

  /** The filesystem OWNING `dir` — resolved per path, never the
    * default FS: with defaultFS=hdfs and a store dir on s3a, the
    * default-FS instance throws Wrong FS on every marker call (or,
    * schemeless, silently splits markers and data across two
    * filesystems). Spark's own reads/writes already resolve per path;
    * the marker side must match. */
  def fsOf(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(s: String) = new org.apache.hadoop.fs.Path(s)

  /** The id a `<prefix><id>` marker file name carries; None for every
    * other name. A stray name under the prefix — a copy in progress
    * such as `_COMMIT_7._COPYING_` — is not a marker, and must not turn
    * every listing of the table into a NumberFormatException. */
  def markerId(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption else None

  def markerExists(spark: SparkSession, dir: String, marker: String = "_INDEX"): Boolean =
    fsOf(spark, dir).exists(path(s"$dir/$marker"))

  /** (id, marker byte length) per committed delta, sorted by id — ONE
    * listing pass. A `_DELTA_`-prefixed name that doesn't parse as an
    * id is corruption (an incomplete restore's `_DELTA_3 (1)` copy, a
    * stray `.bak`): fail with the protocol's actionable error, not a
    * bare NumberFormatException — this scan is the single shared
    * implementation, so one stray name would otherwise wedge every
    * delta consumer at once with an opaque parse error. */
  private def deltaEntries(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(path(dir))) Seq.empty
    else fs.listStatus(path(dir))
      .filter(_.getPath.getName.startsWith("_DELTA_"))
      // a `.tmp` sibling is a crashed writeFileAtomic, not corruption:
      // the marker it was building is simply uncommitted
      .filterNot(_.getPath.getName.endsWith(".tmp"))
      .map { st =>
        val n = st.getPath.getName
        val id = n.stripPrefix("_DELTA_").toLongOption.getOrElse(
          throw new IllegalStateException(
            s"unparseable delta marker $dir/$n — not a protocol-written " +
              "name; remove the stray file or rebuild the index"))
        (id, st.getLen)
      }.toSeq.sortBy(_._1)
  }

  /** Committed delta ids, sorted. */
  def deltaIds(spark: SparkSession, dir: String): Seq[Long] =
    deltaEntries(spark, dir).map(_._1)

  /** Rebuild-time purge: commit marker first, then every delta marker
    * (committed or orphaned), then every delta data dir matching
    * `dataPrefixes`. */
  def clearPriorIndex(spark: SparkSession, dir: String,
                      dataPrefixes: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(path(s"$dir/_INDEX"), false)
    if (fs.exists(path(dir))) {
      fs.listStatus(path(dir)).map(_.getPath.getName)
        .filter(_.startsWith("_DELTA_")).foreach(n => fs.delete(path(s"$dir/$n"), false))
      fs.listStatus(path(dir)).map(_.getPath.getName)
        .filter(n => dataPrefixes.exists(n.startsWith))
        .foreach(n => fs.delete(path(s"$dir/$n"), true))
    }
  }

  /** Atomic small-file write: content lands in a `.tmp` sibling first,
    * then renames over the target — the target is never visible with
    * PARTIAL content (a zero-length `_DELTA_` marker would read as a
    * LIVE delta whose data dir never existed, wedging every reader).
    * The pre-rename delete leaves at worst a MISSING file, which is the
    * safe direction everywhere this is used (an absent marker = an
    * uncommitted delta = replay re-commits it). */
  def writeFileAtomic(spark: SparkSession, target: String, content: String): Unit = {
    val fs = fsOf(spark, target)
    val tmp = path(target + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.delete(path(target), false)
    if (!fs.rename(tmp, path(target)))
      throw new IllegalStateException(
        s"atomic marker rename failed for $target — the pre-rename delete may have " +
          "left the target missing (the safe direction: an absent marker reads as " +
          "uncommitted); re-running the interrupted operation (append / compact / " +
          "finishCompact) completes recovery")
  }

  def readFile(spark: SparkSession, p: String): String = {
    val in = fsOf(spark, p).open(path(p))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Marker content `empty` records a data-less delta — the signal that
    * lets readers distinguish "legitimately nothing to read" from
    * "data dir lost". The empty variant writes atomically (tmp +
    * rename): a crash between create and content-write would otherwise
    * leave a zero-length marker that [[liveDeltaIds]] misreads as a
    * LIVE delta with no data dir. */
  def commitDeltaMarker(spark: SparkSession, dir: String, id: Long,
                        empty: Boolean = false): Unit =
    if (!empty) fsOf(spark, dir).create(path(s"$dir/_DELTA_$id"), true).close()
    else writeFileAtomic(spark, s"$dir/_DELTA_$id", "empty")

  /** Crash-safe delta collapse for [[MergeableStore]] (CMS union is
    * addition, so ANY layout where the merged copy and a source delta
    * are both live double-counts silently). The caller has already
    * written the merged copy to `dir/tmpName`; this publishes it: an
    * intent marker (`_COMPACT`, atomic, carrying the keep id, every
    * delta id, and the `_INDEX` content) lands FIRST, then
    * [[finishCompact]] performs the uncommit-sweep-swap-recommit. A crash at ANY point after the
    * intent is completed by the next [[finishCompact]] call (every
    * store runs it at compact AND append time), because the intent
    * holds everything recovery needs — the round-15 protocol's "re-run
    * compact" recovery claim was unsatisfiable without it (the crash
    * left ≤1 live delta, so a re-run no-op'd and the store stayed
    * permanently uncommitted).
    *
    * Single-writer, like every store here: a delta committed by a
    * concurrent appender AFTER the caller listed `all` would be swept
    * and lost — quiesce ingest before compacting. */
  def compactSwap(spark: SparkSession, dir: String, dataPrefix: String,
                  tmpName: String, keep: Long, all: Seq[Long],
                  indexContent: String): Unit = {
    writeFileAtomic(spark, s"$dir/_COMPACT",
      s"keep=$keep\nall=${all.mkString(",")}\nindex=$indexContent")
    finishCompact(spark, dir, dataPrefix, tmpName)
  }

  /** Complete a pending compact swap, if any (no-op otherwise;
    * idempotent from every crash point — each step either re-runs
    * safely or is skipped because its effect is already visible). */
  def finishCompact(spark: SparkSession, dir: String, dataPrefix: String,
                    tmpName: String): Unit = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(path(s"$dir/_COMPACT"))) return
    val lines = readFile(spark, s"$dir/_COMPACT").split("\n", 3)
    val keep = lines(0).stripPrefix("keep=").toLong
    val all = lines(1).stripPrefix("all=").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    val indexContent = lines(2).stripPrefix("index=")
    if (fs.exists(path(s"$dir/$tmpName"))) {
      // crash before (or during) the sweep: clear the old layout (the
      // tmp dir and the intent survive — their names match no swept
      // prefix), then move the merged copy into place
      clearPriorIndex(spark, dir, Seq(dataPrefix))
      if (!fs.rename(path(s"$dir/$tmpName"), path(s"$dir/$dataPrefix$keep")))
        throw new IllegalStateException(
          s"compact swap rename failed at $dir/$tmpName")
    } else require(fs.exists(path(s"$dir/$dataPrefix$keep")),
      s"compact recovery at $dir found neither $tmpName nor $dataPrefix$keep — " +
        "layout corrupted; rebuild the store from the landed corpus")
    commitDeltaMarker(spark, dir, keep)
    all.filter(_ != keep).foreach(id => commitDeltaMarker(spark, dir, id, empty = true))
    writeFileAtomic(spark, s"$dir/_INDEX", indexContent)
    fs.delete(path(s"$dir/_COMPACT"), false)
  }

  /** Committed delta ids that carry data, sorted. Liveness is the
    * marker length from the listing (0 bytes ⇔ live — which also reads
    * pre-protocol zero-length markers as live; any content ⇔ the
    * `empty` token, the only thing [[commitDeltaMarker]] ever writes):
    * no per-marker file opens on the serve path. */
  def liveDeltaIds(spark: SparkSession, dir: String): Seq[Long] =
    deltaEntries(spark, dir).collect { case (id, len) if len == 0L => id }

  /** Reader-side live listing with the commit marker RE-CHECKED after
    * the listing. A compactor's uncommit sweep drops `_INDEX` first,
    * then markers, then data dirs, and re-commits `_INDEX` only once
    * the swap is complete — but a reader whose exists() check passed
    * BEFORE the sweep can list markers mid-deletion and, without this
    * recheck, silently serve a SUBSET of the deltas (a wrong sum
    * indistinguishable from a correct one). With the recheck every
    * straddling interleaving is safe: marker gone at recheck → loud
    * failure here; stale list whose swept dirs are gone → the read
    * path's requireDirs fails loudly; list that caught only the kept
    * delta → the full merged copy, correct; and an EMPTY mid-sweep
    * listing (every marker already deleted, the whole swap completed
    * before the recheck) is RE-LISTED once the marker is confirmed —
    * the re-list sees the recommitted markers, so the reader serves
    * the full merged copy instead of mistaking the store for fresh.
    * Residual window: a read straddling TWO complete compact cycles
    * could in principle still see empty; under the stores'
    * single-writer contract compacts are rare and serialized, so the
    * double-straddle needs two back-to-back compacts inside one
    * metadata read — quiesce compaction around latency-critical reads
    * if that matters. */
  def liveDeltaIdsChecked(spark: SparkSession, dir: String, what: String): Seq[Long] = {
    def checkedOnce(): Seq[Long] = {
      val live = liveDeltaIds(spark, dir)
      require(markerExists(spark, dir),
        s"$what at $dir went mid-compact during the read (commit marker dropped " +
          "after the existence check) — retry; the writer's next append/compact " +
          "completes the swap")
      live
    }
    val first = checkedOnce()
    if (first.nonEmpty) first else checkedOnce()
  }

  /** Rebuild-time intent cleanup: a stale `_COMPACT` marker (+ its tmp
    * dir) from a crashed compact of the PRIOR store generation must not
    * survive a buildEmpty — the next [[finishCompact]] would otherwise
    * "recover" the old intent against the fresh layout: sweep the fresh
    * deltas, or fail "layout corrupted" after the old keep dir is gone.
    * Every store's buildEmpty runs this before [[clearPriorIndex]]. */
  def clearCompactIntent(spark: SparkSession, dir: String, tmpName: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(path(s"$dir/_COMPACT"), false)
    fs.delete(path(s"$dir/$tmpName"), true)
    ()
  }

  /** The WHOLE buildEmpty crash-ordering in one place
    * ([[MergeableStore]]'s reset): kill any stale compact intent of the
    * prior generation FIRST (recovery against the fresh layout would
    * corrupt it), purge the prior index, then commit the `_INDEX` marker
    * ATOMICALLY — create-then-write would expose a zero-length marker
    * that reads as committed but parses as garbage. */
  def resetStore(spark: SparkSession, dir: String, dataPrefix: String,
                 tmpName: String, indexContent: String): Unit = {
    clearCompactIntent(spark, dir, tmpName)
    clearPriorIndex(spark, dir, Seq(dataPrefix))
    fsOf(spark, dir).mkdirs(path(dir))
    writeFileAtomic(spark, s"$dir/_INDEX", indexContent)
  }

  /** Fail-loud guard for the read path: every child dir of `dir` named
    * in `names` — what the base and each live delta are supposed to
    * have — MUST exist; a missing one means the layout was corrupted or
    * restored incompletely, and serving partial results silently would
    * be worse than failing. ONE listing pass for the whole set, not an
    * exists() round-trip per delta. */
  def requireDirs(spark: SparkSession, dir: String, names: Seq[String],
                  what: String): Unit = {
    val present = fsOf(spark, dir).listStatus(path(dir)).map(_.getPath.getName).toSet
    names.foreach(n => require(present.contains(n),
      s"$what data dir missing: $dir/$n — index layout corrupted or restored " +
        "incompletely; rebuild the index"))
  }

  /** True when the batch has no rows — one LocalLimit(1) job, paid
    * once per append to keep the empty-write poison out of the layout. */
  def batchIsEmpty(batch: DataFrame): Boolean = batch.isEmpty

  /** The empty-write rule for `_batch_id`-partitioned landing sinks,
    * ONE copy: a zero-row dynamic-partition-overwrite write to a
    * not-yet-existing dir leaves a schema-less dir (only `_SUCCESS`)
    * that fails every later read — so a row-less batch skips the write
    * entirely. A replayed non-empty batch overwrites exactly its own
    * partition (idempotent). Returns whether rows were written, which
    * is also the batch's non-emptiness — callers reuse it instead of
    * paying a second isEmpty job on the same uncached plan. */
  def writeBatchPartition(batch: DataFrame, batchId: Long, dir: String): Boolean = {
    if (batchIsEmpty(batch)) false
    else {
      batch.withColumn("_batch_id", lit(batchId))
        .write.mode("overwrite")
        .partitionBy("_batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dir)
      true
    }
  }
}

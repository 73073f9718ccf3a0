package graft.cdc

import org.apache.spark.sql.SparkSession

/** Savepoint / restore — the last of Hudi's table-service family next
  * to compaction ([[MergeOnRead]]), clustering ([[Clustering]]) and
  * cleaning (the GC inside each commit path). The reference's
  * DeltaStreamer tables get these operations from the Hudi CLI
  * (savepoint create / savepoint rollback); here they ride the shared
  * versioned-commit layout every service already writes
  * (`v<id>` + `_COMMIT_<id>`, [[Ingest]]).
  *
  * A savepoint is an atomic `_SAVEPOINT_<id>` marker that pins version
  * `<id>` against every GC site (COW commit, MOR compaction, clustering
  * REPLACE, file-group commit) — the "keep this Tuesday's state
  * restorable" operation. Rollback deletes every commit ABOVE a target
  * version, markers first: a reader can never resolve a version whose
  * data is mid-delete, because the `_COMMIT_` marker is gone before its
  * data dir is touched (the write protocol's crash-safety argument run
  * in reverse).
  *
  * Driver-side metadata only — markers and listings, no data movement;
  * rollback deletes whole version dirs. Nothing here scales with table
  * size.
  */
object Savepoints {

  // ONE per-path FS resolution (DeltaProtocol.fsOf): the default-FS
  // instance breaks when the table dir lives on a different filesystem
  import graft.ops.DeltaProtocol.{fsOf, path}

  /** Ids currently pinned by a savepoint marker. */
  def savepoints(spark: SparkSession, dir: String): Set[Long] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(path(dir))) Set.empty
    else fs.listStatus(path(dir)).map(_.getPath.getName)
      .collect { case n if n.startsWith("_SAVEPOINT_") => n.stripPrefix("_SAVEPOINT_").toLong }
      .toSet
  }

  /** Pin committed version `id` against GC. False if `id` was never
    * committed or is already gone — a savepoint of nothing pins
    * nothing. Re-validated AFTER the marker lands: a concurrent
    * commit's GC could age `id` out between the retention check and
    * the pin, and an `applied=true` that protects nothing would leave
    * the operator believing a vanished state is restorable — the stale
    * pin is removed and false returned instead. The recheck is
    * BEST-EFFORT DETECTION, not coordination (the FileGroups WRITER
    * CONTRACT posture): a concurrent GC can still age the version out
    * after the second listing returns true. Under the documented
    * single-writer-per-table contract the window never opens; with
    * concurrent writers, serialize savepoints with commits. */
  def savepoint(spark: SparkSession, dir: String, id: Long): Boolean =
    // table lock (round 18): makes the retention-check → pin → recheck
    // atomic against IN-PROCESS commits' GC; the cross-process FS lock
    // (when enabled) closes the remaining window against FOREIGN
    // writers' GC too — FS lock strictly outside the JVM lock
    FileGroups.withFsLockIfEnabled(spark, dir)(FileGroups.withTableLock(dir) {
      Ingest.snapshotVersions(spark, dir).contains(id) &&
        fsOf(spark, dir).createNewFile(path(s"$dir/_SAVEPOINT_$id")) && {
          val still = Ingest.snapshotVersions(spark, dir).contains(id)
          if (!still) fsOf(spark, dir).delete(path(s"$dir/_SAVEPOINT_$id"), false)
          still
        }
    })

  /** Release a savepoint; the version becomes ordinary GC fodder. */
  def release(spark: SparkSession, dir: String, id: Long): Unit =
    fsOf(spark, dir).delete(path(s"$dir/_SAVEPOINT_$id"), false)

  /** Roll the table back to committed version `toId`: every commit
    * above it — base versions, clustered copies, file-group manifests
    * and their data dirs, pending MOR log deltas — is removed, markers
    * first. Returns the removed commit ids (empty when `toId` is
    * already the head or was never committed).
    *
    * Savepoints take precedence (Hudi's restore guard): a rollback that
    * would destroy a savepointed version REFUSES loudly — the caller
    * must [[release]] the pin first. A savepoint thereby protects its
    * version from both GC and restore, never silently dying.
    *
    * A standing purge intent marker is COMPLETED first: deleting the
    * purge's committed version would reclassify its `_PURGE_` marker as
    * uncommitted, and recovery would then discard it WITHOUT the
    * forget-history step — silently resurrecting the purged keys in
    * every pre-purge version. Completing first keeps the
    * right-to-be-forgotten mandate through any rollback.
    *
    * NOT safe under a live checkpointed COW/file-group stream: the
    * stream's checkpoint has acked the rolled-back batches and will
    * never re-deliver them, so its next trigger merges a later batch
    * onto the restored state and the rolled-back changes are lost with
    * a healthy-looking timeline. Stop the stream and reset (or delete)
    * its checkpoint before rolling its table back; MOR log deltas are
    * the exception — rollback removes their markers so the stream's
    * replay re-applies them (below). */
  def rollback(spark: SparkSession, dir: String, toId: Long): Seq[Long] =
    // under the table's in-process commit lock (round 18): a rollback
    // interleaving with a commit's head-check → publish window could
    // otherwise delete the version the commit just resolved against —
    // the same exactly-one-winner discipline as racing DML statements.
    // The cross-process FS lock (when enabled) extends that discipline
    // to foreign writers; FS lock strictly outside the JVM lock.
    FileGroups.withFsLockIfEnabled(spark, dir)(FileGroups.withTableLock(dir) {
    val fs = fsOf(spark, dir)
    FileGroups.completePendingPurge(spark, dir)
    val ids = Ingest.snapshotVersions(spark, dir)
    if (!ids.contains(toId)) Seq.empty
    else {
      // guard only rollbacks that would actually destroy versions: a
      // never-committed toId returns empty above regardless of pins
      val pinned = savepoints(spark, dir).filter(_ > toId)
      require(pinned.isEmpty,
        s"rollback to $toId would destroy savepointed version(s) " +
          s"${pinned.toSeq.sorted.mkString(", ")} — release them first")
      // HIGHEST first: at any crash point the highest surviving
      // _COMMIT_ marker is the resolvable head, and manifests only
      // carry data references DOWNWARD (older version dirs) — so a
      // mid-loop crash leaves a readable head over untouched data.
      // Oldest-first would let a crash strand the still-marked top
      // version referencing already-deleted dirs: a permanently
      // unreadable table.
      val doomed = ids.filter(_ > toId).sorted.reverse
      doomed.foreach { id =>
        // markers first: once _COMMIT_ is gone no reader resolves the
        // version, and the data dirs become invisible garbage
        fs.delete(path(s"$dir/_COMMIT_$id"), false)
        fs.delete(path(s"$dir/_SAVEPOINT_$id"), false)
        fs.delete(path(s"$dir/_CLUSTER_$id"), false)
        fs.delete(path(s"$dir/manifest_v$id.tsv"), false)
        fs.delete(path(s"$dir/v$id"), true)
        fs.delete(path(s"$dir/c$id"), true)
        fs.delete(path(s"$dir/files/v$id"), true)
      }
      // MOR deltas above the restored base replay from the stream; a
      // rollback that keeps them would immediately re-apply the rolled-
      // back changes on the next read
      MergeOnRead.deltaIds(spark, dir).filter(_ > toId).foreach { id =>
        fs.delete(path(s"$dir/_DELTA_$id"), false)
        fs.delete(path(s"$dir/log/d$id"), true)
      }
      // stream-batch idempotence markers are acked-state metadata, and
      // a rollback RESETS acked state: left standing, a post-rollback
      // checkpoint-reset replay would silently no-op the very batches
      // the operator expects to re-apply (there is no version↔batch
      // mapping to drop selectively, and a full-topic replay converges
      // under latest-wins, so dropping them all is the sound choice —
      // the file-group analog of the MOR delta re-apply above)
      if (doomed.nonEmpty && fs.exists(path(dir)))
        fs.listStatus(path(dir)).map(_.getPath).foreach { p =>
          if (p.getName.startsWith("_STREAM_BATCH_")) fs.delete(p, false)
        }
      doomed
    }
    })
}

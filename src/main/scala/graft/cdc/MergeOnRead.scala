package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** MERGE_ON_READ-style table service over the versioned-snapshot layout
  * — the second Hudi table type. The reference runs COPY_ON_WRITE only
  * (README.md:300); this completes the semantic family: writes are
  * cheap log appends, reads merge base + pending logs on the fly, and a
  * periodic compaction folds the logs into a new base.
  *
  * Layout under `dir` (extends the COW protocol in [[Ingest]]):
  * {{{
  *   v<id>/           base parquet — compacted state as of batch <id>
  *   _COMMIT_<id>     base marker (written after v<id> is complete)
  *   log/d<batchId>/  one delta dir per ingested batch (parsed rows)
  *   _DELTA_<batchId> delta marker (written after log/d<batchId>)
  * }}}
  *
  * Crash safety mirrors COW: data dirs first, atomic marker creation
  * second, so a dangling dir without its marker is invisible garbage
  * that the replayed batch/compaction simply overwrites. Exactly-once:
  * a replayed batch whose `_DELTA_` marker exists (or whose id is ≤ the
  * base id) is a no-op.
  *
  * Scale story (the COW/MOR tradeoff, verbatim from the Hudi design):
  * COW pays a full key-partition rewrite per batch for O(1)-merge
  * reads; MOR pays O(#pending logs) read amplification for O(batch)
  * writes. At 100 TB with minutely micro-batches the rewrite dominates
  * — MOR's append is one narrow parquet write, and compaction (the only
  * rewrite) runs every N batches on the SAME one-shuffle merge plan as
  * the COW commit. Read-time merge is the identical window-over-union:
  * one shuffle on the key, never a driver-side loop.
  */
object MergeOnRead {

  // ONE per-path FS resolution (DeltaProtocol.fsOf): the default-FS
  // instance breaks when the table dir lives on a different filesystem
  import graft.ops.DeltaProtocol.{fsOf, markerId, path}

  /** Batch ids of committed (marker present) pending log deltas — the
    * same `_DELTA_<id>` marker scan as the persisted ops indexes, ONE
    * implementation ([[graft.ops.DeltaProtocol]]). */
  def deltaIds(spark: SparkSession, dir: String): Seq[Long] =
    graft.ops.DeltaProtocol.deltaIds(spark, dir)

  /** Append one parsed batch as a log delta (idempotent by marker;
    * a batch already folded into the base is skipped). */
  def logAppend(sess: SparkSession, dir: String, parsed: DataFrame, batchId: Long): Unit =
    // table lock (round 18): the covered-check → delta publish must not
    // interleave with an in-process compact() consuming the same range.
    // FS lock (round 19, opt-in, OUTSIDE the JVM lock per the
    // lock-order rule): two PROCESSES appending to one MOR table get
    // the same serialized-writers story as the file-group store —
    // without it a cross-process compact could consume a delta range
    // while a foreign append publishes into it.
    FileGroups.withFsLockIfEnabled(sess, dir) { FileGroups.withTableLock(dir) {
    val fs = fsOf(sess, dir)
    val marker = path(s"$dir/_DELTA_$batchId")
    val covered = Ingest.committedBatch(sess, dir).exists(_ >= batchId)
    if (!fs.exists(marker) && !covered) {
      parsed.write.mode("overwrite").parquet(s"$dir/log/d$batchId")
      fs.createNewFile(marker)
    }
    } }

  /** Read the CURRENT state: base snapshot merged with every pending
    * log delta above it (the MOR read path — what Hudi calls the
    * snapshot/real-time view). One window shuffle regardless of how
    * many logs are pending.
    *
    * The base is PINNED to the id observed when the pending-delta list
    * was taken (readSnapshotAt, not "whatever is current"): a compact()
    * landing between the listing and the read would otherwise pair the
    * NEW base with the stale delta list. With the pin the pairing is
    * always internally consistent; a compaction that deletes the listed
    * log dirs before this plan executes surfaces as a loud read error
    * (retry the read), never a silently inconsistent merge — the
    * reader-vs-maintenance window every lock-free MOR store has. */
  def readMerged(spark: SparkSession, dir: String,
                 keys: Seq[String], ord: Seq[String]): Option[DataFrame] = {
    val baseId = Ingest.committedBatch(spark, dir).getOrElse(-1L)
    val pending = deltaIds(spark, dir).filter(_ > baseId)
    val base =
      if (baseId < 0) None
      else Some(spark.read.parquet(Clustering.baseDirAt(spark, dir, baseId)))
    if (pending.isEmpty) base
    else {
      val logs = pending.map(id => spark.read.parquet(s"$dir/log/d$id"))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      Some(base match {
        case Some(b) => CdcMerge.upsert(b, logs, keys, ord)
        case None => CdcMerge.snapshot(logs, keys, ord)
      })
    }
  }

  /** Fold all pending logs into a new base version (Hudi's compaction
    * table service). Returns the new base id, or None if nothing is
    * pending. Consumed logs are deleted only AFTER the base marker is
    * committed; the prior base is retained (same GC policy as COW —
    * readers that resolved the old pointer keep working, and time
    * travel to the previous compaction point stays possible). */
  def compact(sess: SparkSession, dir: String,
              keys: Seq[String], ord: Seq[String],
              partitionCols: Seq[String] = Nil): Option[Long] =
    // table lock (round 18): pending-list → fold → marker → log GC is
    // one atomic maintenance step against in-process appends/rollbacks.
    // FS lock (round 19, opt-in, outside the JVM lock): the same step
    // serialized against appends/compactions from OTHER processes.
    FileGroups.withFsLockIfEnabled(sess, dir) { FileGroups.withTableLock(dir) {
    val fs = fsOf(sess, dir)
    val prevBase = Ingest.committedBatch(sess, dir).getOrElse(-1L)
    val pending = deltaIds(sess, dir).filter(_ > prevBase)
    if (pending.isEmpty) None
    else {
      val target = pending.max
      val merged = readMerged(sess, dir, keys, ord).get
      val writer = merged.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(s"$dir/v$target")
      fs.createNewFile(path(s"$dir/_COMMIT_$target"))
      // GC: consumed logs go; bases older than the prior one go.
      pending.foreach { id =>
        fs.delete(path(s"$dir/log/d$id"), true)
        fs.delete(path(s"$dir/_DELTA_$id"), false)
      }
      val saved = Savepoints.savepoints(sess, dir)
      fs.listStatus(path(dir)).map(_.getPath).foreach { p =>
        val n = p.getName
        val id = markerId(n, "_COMMIT_").orElse(markerId(n, "v"))
        if (id.exists(i => i < prevBase && !saved.contains(i))) fs.delete(p, true)
      }
      Some(target)
    }
    } }

  /** Checkpointed MOR streaming ingest: per micro-batch, parse + log
    * append (cheap), compaction every `compactEvery` batches, and —
    * when `clusterBy` is set — an inline clustering pass after each
    * compaction (Hudi's inline clustering: the freshly compacted base
    * is immediately rewritten min/max-disjoint, so reads between
    * compactions get both the merged state AND the pruned layout).
    * The twin of [[Ingest.run]] with the write/read cost trade
    * flipped. */
  def run(spark: SparkSession, inputDir: String, morDir: String, checkpointDir: String,
          compactEvery: Int = 4,
          schema: StructType = Envelope.employeesEnvelope,
          keys: Seq[String] = Seq("id"), ord: Seq[String] = Seq("lsn"),
          partitionCols: Seq[String] = Nil,
          clusterBy: Seq[String] = Nil, clusterFiles: Int = 8): StreamingQuery = {
    Ingest.readTopicStream(spark, inputDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parsed = Ingest.extractPostImage(batch, schema, keys)
        logAppend(batch.sparkSession, morDir, parsed, batchId)
        if ((batchId + 1) % compactEvery == 0) {
          compact(batch.sparkSession, morDir, keys, ord, partitionCols)
          if (clusterBy.nonEmpty)
            Clustering.cluster(batch.sparkSession, morDir,
              clusterBy.map(org.apache.spark.sql.functions.col), clusterFiles,
              partitionCols) // clustered copy keeps the base's hive layout
        }
        ()
      }
      .start()
  }
}

package graft.cdc

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Clustering table service — the third table service next to the COW
  * commit ([[Ingest]] commitMerge) and MOR compaction
  * ([[MergeOnRead.compact]]), modeled on Hudi's clustering REPLACE
  * commit (the DeltaStreamer tables the reference materializes,
  * README.md:300-307, are written in arrival order).
  *
  * Arrival order is write-optimal but read-pessimal: each key scatters
  * across every file, so a key-range query scans the whole table.
  * Clustering rewrites the CURRENT base version globally range-sorted
  * on a clustering key — contents identical, layout changed — so file
  * key-ranges become pairwise disjoint and parquet min/max skipping
  * prunes a key-range scan to exactly the files that matter. At 100 TB
  * that is the difference between a full scan and reading one file per
  * probed range; the rewrite itself is one range-shuffle (sample-based
  * range partitioner, no global sort bottleneck — each output file
  * sorts independently).
  *
  * Layout (extends the COW protocol): the clustered copy of base
  * `v<id>` lives in `c<id>` with marker `_CLUSTER_<id>`, written
  * data-first marker-second like every other commit, so a crash leaves
  * invisible garbage that the next clustering overwrites. The marker is
  * only honored while `<id>` is still the committed base — a later COW
  * commit simply supersedes the clustered layout (Hudi's replace-commit
  * rule), and the stale `c` dir is GC'd on the next clustering pass.
  */
object Clustering {

  // ONE per-path FS resolution (DeltaProtocol.fsOf): the default-FS
  // instance breaks when the table dir lives on a different filesystem
  import graft.ops.DeltaProtocol.{fsOf, markerId, path}

  /** Z-order (Morton) interleave of two non-negative integer columns,
    * `bits` low bits each: bit i of `a` lands at position 2i+1, bit i of
    * `b` at 2i. Sorting by the z-value co-locates rows that are close in
    * BOTH dimensions, so min/max skipping works for predicates on either
    * column — the standard multi-column clustering key (`bits` ≤ 31
    * keeps the result in a long). Pure codegen'd bit arithmetic. */
  def zvalue(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** Is the current base clustered? (marker present for the committed id) */
  def clusteredId(spark: SparkSession, dir: String): Option[Long] =
    Ingest.committedBatch(spark, dir)
      .filter(id => fsOf(spark, dir).exists(path(s"$dir/_CLUSTER_$id")))

  /** Resolve the current base data dir: the clustered copy when one
    * exists for the committed id, the raw version otherwise. ONE
    * committed-id listing + one marker check — this sits on the hot
    * read path (every readSnapshot/readMerged), where on an object
    * store each extra listing is a remote call. */
  def baseDir(spark: SparkSession, dir: String): Option[String] =
    Ingest.committedBatch(spark, dir).map(baseDirAt(spark, dir, _))

  /** The preferred data dir for a SPECIFIC committed version: its
    * clustered REPLACE copy when one exists, else the version dir —
    * the id-pinned form of [[baseDir]] ([[MergeOnRead.readMerged]]
    * pairs it with a delta list taken at the same id). */
  def baseDirAt(spark: SparkSession, dir: String, id: Long): String =
    if (fsOf(spark, dir).exists(path(s"$dir/_CLUSTER_$id"))) s"$dir/c$id"
    else s"$dir/v$id"

  /** Rewrite the current base version range-sorted by `sortCols` into
    * `files` min/max-disjoint files (a REPLACE commit), preserving the
    * base's hive partition layout when `partitionCols` is passed (the
    * clustered copy must keep the DPP-enabling directory structure the
    * base had — see RuntimeFilterSpec). Returns the clustered base id,
    * or None when there is no base or it is already clustered.
    * Idempotent. GC matches the COW retention policy: clustered copies
    * of still-retained versions (current + one prior) are kept so
    * readers that resolved the old pointer keep working; only copies
    * of GC'd bases are deleted. */
  def cluster(sess: SparkSession, dir: String, sortCols: Seq[Column],
              files: Int = 8, partitionCols: Seq[String] = Nil): Option[Long] =
    // table lock (round 18): the copy-GC + cluster-copy publish must not
    // interleave with an in-process commit/rollback moving the head.
    // FS lock (round 19, opt-in, outside the JVM lock): the same step
    // serialized against foreign-process commits/compactions.
    FileGroups.withFsLockIfEnabled(sess, dir) { FileGroups.withTableLock(dir) {
    require(sortCols.nonEmpty, "clustering needs at least one sort column")
    val fs = fsOf(sess, dir)
    // GC clustered copies whose base version itself has been GC'd
    // (savepointed bases count as retained — snapshotVersions lists
    // every version whose _COMMIT_ marker survives, which GC skips for
    // savepoints)
    val retained = Ingest.snapshotVersions(sess, dir).toSet
    if (fs.exists(path(dir))) fs.listStatus(path(dir)).map(_.getPath).foreach { p =>
      val n = p.getName
      val id = markerId(n, "_CLUSTER_").orElse(markerId(n, "c"))
      if (id.exists(i => !retained.contains(i))) fs.delete(p, true)
    }
    Ingest.committedBatch(sess, dir).filterNot(clusteredId(sess, dir).contains).map { id =>
      val writer = sess.read.parquet(s"$dir/v$id")
        .repartitionByRange(files, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(s"$dir/c$id")
      fs.createNewFile(path(s"$dir/_CLUSTER_$id"))
      id
    }
    } }
}

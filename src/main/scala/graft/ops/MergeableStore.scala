package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The append-only, compactable store behind the three maintained
  * sketches ([[CmsSketch]] frequency, [[HllStore]] cardinality,
  * [[QuantileSketch]] rank statistics) — ONE copy of their
  * [[DeltaProtocol]] bookkeeping, so a crash-rule fix cannot drift
  * between siblings. A store is parameterised by exactly what differs
  * between them: the delta data dir prefix, the `_INDEX` parameter
  * string (parsed to `P`), the partial-sketch function, the merge law,
  * and the delta schema. The merge law returns a frame in the delta's
  * own schema, so a merged delta is itself a valid delta — that is what
  * [[compact]] writes.
  *
  * Streaming maintenance: each micro-batch appends its own partial
  * sketch as a delta, and the served sketch is the merge law over all
  * live deltas — never a rescan of landed data. Per-batch cost ∝ batch
  * rows; serve cost ∝ live deltas (compact() collapses them to one).
  *
  * Layout under `dir`:
  * {{{
  *   <prefix><id>/       partial sketch of batch <id>
  *   _DELTA_<id>         append marker (written last; content `empty`
  *                       for a batch whose partial sketch is empty)
  *   _INDEX              base marker carrying the parameter string —
  *                       pinned at build (each sketch's header says why)
  *   _COMPACT            compact intent, present only mid-compact
  *   <stem>_compact_tmp/ merged copy awaiting the swap (`<stem>` is
  *                       `<prefix>` minus its `_d`)
  * }}}
  *
  * Crash rules:
  *  - Compaction uses the REBUILD rule, not flip-in-place: for CMS
  *    (union is addition) and the quantile sample (duplicates distort
  *    the re-bottom-k), any layout where the merged copy and a source
  *    delta are both visible is a SILENT wrong answer, worse than
  *    failing. HLL union is idempotent, so double visibility would be
  *    harmless there, but it keeps the uniform protocol so a reader
  *    never has to know which algebra it is reading. The store is
  *    UNCOMMITTED first (`_INDEX` dropped — readers and appenders fail
  *    loudly from then on), the merged copy moves into place, and the
  *    markers (kept delta, `empty` twins, `_INDEX` last) re-commit it
  *    only once the layout is consistent. The swap is
  *    [[DeltaProtocol.compactSwap]]: its intent marker carries all
  *    recovery needs, so a crash at ANY point is completed by the next
  *    [[compact]] or [[append]] — never a readable wrong answer, never
  *    a permanently uncommitted store.
  *  - Single-writer: a delta committed by a concurrent appender after
  *    compact listed the deltas would be swept — quiesce ingest first.
  */
private[graft] trait MergeableStore[P] {

  /** The store kind, as errors name it ("CMS sketch"). */
  protected def name: String

  /** Delta `<id>` lives in `<dataPrefix><id>`. */
  protected def dataPrefix: String

  /** DDL of one delta — also the schema of the empty serve. */
  protected def deltaSchema: String

  /** `_INDEX` content → pinned parameters; undefined on garbage. */
  protected def parse: PartialFunction[String, P]

  /** One batch's partial sketch, in the delta schema. */
  protected def partial(rows: DataFrame, p: P): DataFrame

  /** The merge law over a union of deltas, in the delta schema. `p` is
    * by-name so a law that needs no parameters (cell sum, register max)
    * never opens `_INDEX` on the serve path. */
  protected def merge(deltas: DataFrame, p: => P): DataFrame

  private def tmpName = dataPrefix.stripSuffix("_d") + "_compact_tmp"

  def exists(spark: SparkSession, dir: String): Boolean =
    DeltaProtocol.markerExists(spark, dir)

  def deltaIds(spark: SparkSession, dir: String): Seq[Long] =
    DeltaProtocol.deltaIds(spark, dir)

  /** Initialize an empty store whose `_INDEX` carries `index` — the
    * streaming bootstrap: every batch (including the first) then enters
    * through the append path, so the delta replay rules apply
    * uniformly. */
  private[graft] def reset(spark: SparkSession, dir: String, index: String): Unit =
    DeltaProtocol.resetStore(spark, dir, dataPrefix, tmpName, index)

  /** Complete a crashed compact, if any — idempotent. */
  def recover(spark: SparkSession, dir: String): Unit =
    DeltaProtocol.finishCompact(spark, dir, dataPrefix, tmpName)

  /** The raw `_INDEX` string. An absent marker (never built, or down
    * mid-compact) fails with the protocol's error, not a bare
    * FileNotFoundException. */
  private def index(spark: SparkSession, dir: String): String =
    try DeltaProtocol.readFile(spark, s"$dir/_INDEX").trim
    catch {
      case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"no committed $name at $dir — buildEmpty first, or retry if a compact is mid-swap")
    }

  /** The parameters pinned at build. */
  protected def params(spark: SparkSession, dir: String): P =
    parse.applyOrElse(index(spark, dir), (other: String) =>
      throw new IllegalStateException(
        s"unparseable $name parameters '$other' in $dir/_INDEX — rebuild the store"))

  /** Append batch `id`'s partial sketch — data dir first, marker last.
    * A committed id is a replay no-op, enforced by callers via
    * [[deltaIds]]. A batch whose partial sketch is empty commits an
    * `empty` marker and writes no dir. */
  def append(spark: SparkSession, dir: String, rows: DataFrame, id: Long): Unit = {
    recover(spark, dir)
    appendRecovered(spark, dir, rows, id)
  }

  /** [[append]] minus the recovery step — for callers (the streaming
    * wrapper) that already ran [[recover]] this trigger; a second
    * intent probe per micro-batch is a wasted metadata round-trip on
    * an object store. */
  private[graft] def appendRecovered(spark: SparkSession, dir: String,
                                     rows: DataFrame, id: Long): Unit = {
    require(exists(spark, dir), s"no committed $name at $dir — buildEmpty first")
    // persisted: the emptiness probe and the write would otherwise each
    // run the full partial-sketch pass from scratch
    val sk = partial(rows, params(spark, dir)).persist()
    try {
      if (DeltaProtocol.batchIsEmpty(sk))
        DeltaProtocol.commitDeltaMarker(spark, dir, id, empty = true)
      else {
        sk.write.mode("overwrite").parquet(s"$dir/$dataPrefix$id")
        DeltaProtocol.commitDeltaMarker(spark, dir, id)
      }
    } finally { sk.unpersist(); () }
  }

  /** The served sketch: the merge law over every live delta, in the
    * delta schema. Fails loudly on a live delta with a missing data dir
    * (incomplete restore); the empty frame for a store with no live
    * deltas yet. */
  private[graft] def merged(spark: SparkSession, dir: String): DataFrame = {
    require(exists(spark, dir), s"no committed $name at $dir")
    val live = DeltaProtocol.liveDeltaIdsChecked(spark, dir, name)
    if (live.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(deltaSchema))
    else {
      val dirs = live.map(id => s"$dataPrefix$id")
      DeltaProtocol.requireDirs(spark, dir, dirs, s"$name delta")
      merge(spark.read.parquet(dirs.map(d => s"$dir/$d"): _*), params(spark, dir))
    }
  }

  /** Collapse all live deltas into one: the smallest live id keeps the
    * merged copy, and every other committed marker flips to `empty`, so
    * its batch id STAYS replay-protected. Bounds the serve-path union
    * for a long-running stream. */
  def compact(spark: SparkSession, dir: String): Unit = {
    recover(spark, dir)
    val live = DeltaProtocol.liveDeltaIds(spark, dir)
    if (live.length > 1) {
      val pinned = index(spark, dir)
      val all = DeltaProtocol.deltaIds(spark, dir)
      merged(spark, dir).write.mode("overwrite").parquet(s"$dir/$tmpName")
      DeltaProtocol.compactSwap(spark, dir, dataPrefix, tmpName, live.min, all, pinned)
    }
  }
}

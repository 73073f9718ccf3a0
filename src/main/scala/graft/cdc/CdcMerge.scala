package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Native implementation of the reference's *intended* upsert semantics
  * (SURVEY.md §2.2 U1-U8): Hudi COPY_ON_WRITE record-key upsert with
  * precombine/latest-wins ordering (README.md:300-307) and Debezium
  * delete application (`op='d'` removes the key; README.md:260, 348) —
  * without the Hudi runtime.
  *
  * The merge law is written once: [[upsert]] is [[unionLog]] (existing
  * rows tagged older than the batch's) collapsed by [[snapshot]]. The
  * two steps are public so a caller can place its own exchange between
  * them: [[FileGroups]] hash-partitions the union log by file group and
  * collapses on (file group, key), which that partitioning already
  * satisfies.
  *
  * Scale design (100 TB): `snapshot` and `upsert` are ONE hash shuffle
  * on the record key (the window partitioning), same as Hudi's
  * key-to-file-group distribution (SURVEY.md §3.3 step 4). `upsert`
  * additionally offers a join-pruned path: only the partitions whose keys
  * appear in the batch are rewritten — at scale a micro-batch touches a
  * tiny fraction of keys, so rewriting everything (the naive union) would
  * be the bottleneck. AQE handles skewed keys.
  */
object CdcMerge {

  /** Collapse a CDC event log to the current-state snapshot:
    * latest-by-`ord` per `keys` (U1/U2), then drop deleted keys (U3).
    *
    * `ord` is the precombine ordering — for Debezium streams use the LSN
    * (README.md:348 `--source-ordering-field _event_lsn`), with a
    * tie-breaker column if the source can emit equal values.
    */
  def snapshot(log: DataFrame, keys: Seq[String], ord: Seq[String], opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(c => col(c).desc): _*)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !(col(opCol) <=> Envelope.OpDelete))
      .drop("_rn")
  }

  /** Source tag [[unionLog]] adds: 0 on existing rows, 1 on batch rows. */
  val SrcCol = "_src"

  /** The union step of [[upsert]]: the existing table (its `opCol`
    * filled with the snapshot-read op when absent) tagged `SrcCol` = 0,
    * by name with the batch tagged 1. Collapsing it with [[snapshot]]
    * on `ord :+ SrcCol` and dropping `SrcCol` is [[upsert]]; the tag
    * breaks ord ties in favor of the incoming batch.
    *
    * Schema drift: `unionByName(allowMissingColumns=true)` reconciles the
    * shapes (U6, Hudi `reconcile.schema`, README.md:308).
    */
  def unionLog(table: DataFrame, batch: DataFrame, opCol: String = "op"): DataFrame = {
    val t = if (table.columns.contains(opCol)) table
            else table.withColumn(opCol, lit(Envelope.OpSnapshotRead))
    t.withColumn(SrcCol, lit(0))
      .unionByName(batch.withColumn(SrcCol, lit(1)), allowMissingColumns = true)
  }

  /** Incremental COW merge of one micro-batch into the existing table
    * state (U1-U6): [[unionLog]] collapsed by [[snapshot]]. The existing
    * table is treated as already-deduped (one row per key, no delete
    * rows); batch rows win over existing rows at equal `ord` (later
    * batch = newer).
    */
  def upsert(table: DataFrame, batch: DataFrame, keys: Seq[String], ord: Seq[String],
             opCol: String = "op"): DataFrame =
    snapshot(unionLog(table, batch, opCol), keys, ord :+ SrcCol, opCol).drop(SrcCol)

  /** Join-pruned variant for large tables: rows of `table` whose key does
    * not appear in `batch` pass through untouched (no shuffle write for
    * them under dynamic partition overwrite); only the touched key set is
    * merged. This is the 100 TB path — the micro-batch key set is small,
    * so `touched` broadcasts and the untouched majority of the table is
    * never rewritten.
    */
  def upsertPruned(table: DataFrame, batch: DataFrame, keys: Seq[String], ord: Seq[String],
                   opCol: String = "op"): DataFrame = {
    // Null-key rows ALWAYS route through the merged side: semi/anti
    // joins never match NULL keys, so the pruned split would otherwise
    // pass a null-key table row through "untouched" AND append the
    // batch's null-key row — duplicating the key and making a null-key
    // delete a no-op, where [[upsert]]'s window (which groups NULLs
    // together) collapses them. The pruning must be a pure
    // optimization, identical to upsert for every input.
    val nonNullKey = keys.map(col(_).isNotNull).reduce(_ && _)
    val batchKeys = batch.select(keys.map(col): _*).distinct()
    val untouched = table.filter(nonNullKey).join(broadcast(batchKeys), keys, "left_anti")
    val touched = table.filter(!nonNullKey).unionByName(
      table.filter(nonNullKey).join(broadcast(batchKeys), keys, "left_semi"))
    untouched.unionByName(upsert(touched, batch, keys, ord, opCol), allowMissingColumns = true)
  }

  /** Collapse a PARTIAL-update CDC log — Hudi's partial-payload
    * semantics (PartialUpdateAvroPayload /
    * OverwriteNonDefaultsWithLatestAvroPayload): an update row carries
    * ONLY the columns it sets, and a NULL value column means "keep the
    * existing value", never "set to null". Per key, the row exists iff
    * any op follows the last delete — a delete RESETS history, columns
    * set before it must not leak through — and each value column
    * independently takes its latest non-null setting among the
    * post-delete ops.
    *
    * Scale design: ONE hash shuffle on the record key — the last-delete
    * watermark is a window max over the same key partitioning the final
    * aggregate groups on, and each column's pick is argmax-by-`ord` via
    * struct max (exact, codegen'd, no UDF). Same single-exchange shape
    * as [[snapshot]] at 100 TB.
    */
  def snapshotPartial(log: DataFrame, keys: Seq[String], ord: String,
                      valueCols: Seq[String], opCol: String = "op"): DataFrame = {
    val wK = Window.partitionBy(keys.map(col): _*)
    val live = log
      .withColumn("_dl",
        max(when(col(opCol) <=> Envelope.OpDelete, col(ord))).over(wK))
      .filter(col("_dl").isNull || col(ord) > col("_dl"))
    val picks = valueCols.map(c =>
      max(when(col(c).isNotNull, struct(col(ord), col(c))))
        .getField(c).as(c))
    live.groupBy(keys.map(col): _*)
      .agg(max(col(ord)).as(s"last_$ord"), picks: _*)
  }
}

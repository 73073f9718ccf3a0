package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HLL sketch store — the cardinality member completing the
  * maintained-sketch family ([[CmsSketch]] frequency, [[QuantileSketch]]
  * rank statistics; q_agg_hll_merge is the single-query form of THIS
  * sketch). An HLL sketch is a register array whose union is
  * register-wise max — insertion is order-independent and duplicate-
  * insensitive — so per-batch sketches unioned are BIT-EQUAL to the
  * one-shot sketch of everything appended: the streaming maintenance
  * story needs no approximation argument at all (HllStoreSpec pins the
  * estimates as equality). A delta is |scopes| rows of ≤ 2^lgK
  * registers.
  *
  * Uses Spark's Datasketches-backed `hll_sketch_agg` / `hll_union_agg`
  * / `hll_sketch_estimate` (the q_agg_hll_merge functions) — binary
  * sketches stored as plain parquet columns.
  *
  * Layout under `dir` (the [[MergeableStore]] rules):
  * {{{
  *   sk_d<id>/   (scope, sk) per-scope HLL sketch of batch <id>
  *   _INDEX      carries "lgk=<lgK>" — sketch precision is pinned at
  *               build; mixed-precision unions would silently degrade
  *               to the coarser sketch
  * }}}
  */
object HllStore extends MergeableStore[Int] {

  protected val name = "HLL store"
  protected val dataPrefix = "sk_d"
  protected val deltaSchema = "scope STRING, sk BINARY"
  protected val parse: PartialFunction[String, Int] = { case s"lgk=$k" => k.toInt }
  protected def partial(rows: DataFrame, lgK: Int): DataFrame = partialSketch(rows, lgK)
  protected def merge(deltas: DataFrame, lgK: => Int): DataFrame =
    deltas.groupBy(col("scope")).agg(hll_union_agg(col("sk")).as("sk"))

  /** One partial sketch frame: per-scope HLL of a (scope, key) frame. */
  def partialSketch(rows: DataFrame, lgK: Int): DataFrame =
    rows.groupBy(col("scope")).agg(hll_sketch_agg(col("key"), lit(lgK)).as("sk"))

  /** Initialize an empty store with pinned precision. */
  def buildEmpty(spark: SparkSession, dir: String, lgK: Int = 12): Unit =
    reset(spark, dir, s"lgk=$lgK")

  /** Pinned lgK from the base marker. */
  def precision(spark: SparkSession, dir: String): Int = params(spark, dir)

  /** The served (scope, sk) sketches: per-scope union over every live
    * delta. */
  def sketches(spark: SparkSession, dir: String): DataFrame = merged(spark, dir)

  /** Per-scope distinct-count estimates from the served sketches —
    * |scopes| rows out, sketch-sized work. */
  def estimate(spark: SparkSession, dir: String): DataFrame =
    sketches(spark, dir)
      .select(col("scope"), hll_sketch_estimate(col("sk")).as("est"))
}

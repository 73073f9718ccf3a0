package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted mergeable quantile sketch — the rank-statistics member of
  * the maintained-sketch family ([[CmsSketch]] frequency, the HLL
  * union in q_agg_hll_merge cardinality; q_quantile_sketch is the
  * single-query form of THIS sketch). The sketch of a scope is its
  * bottom-k rows by (hash-rank, value): a uniform k-sample whose
  * merge law is structural — bottom-k of a union of per-batch
  * bottom-ks IS the bottom-k of the full union, because a row's rank
  * within its batch never exceeds its global rank. A delta is ≤
  * k·scopes rows.
  *
  * The hash rank is xxhash64 of the full row content, so identical
  * logical rows rank identically no matter which batch carried them —
  * served == one-shot is a multiset EQUALITY, pinned in
  * QuantileSketchSpec, not an approximation claim. (The estimate
  * itself is approximate relative to the exact quantile, same ε
  * contract as q_quantile_sketch: k = 4096 holds the median within
  * ~0.8% of range.)
  *
  * Layout under `dir` (the [[MergeableStore]] rules):
  * {{{
  *   rows_d<id>/   (scope, v, h) per-scope bottom-k of batch <id>
  *   _INDEX        carries "k=<k>" — the sample size is pinned at
  *                 build; deltas cut at different k would break the
  *                 merge law's "batch rank ≤ global rank" argument for
  *                 the larger k
  * }}}
  */
object QuantileSketch extends MergeableStore[Int] {

  protected val name = "quantile sketch"
  protected val dataPrefix = "rows_d"
  protected val deltaSchema = "scope STRING, v DOUBLE, h BIGINT"
  protected val parse: PartialFunction[String, Int] = { case s"k=$k" => k.toInt }
  protected def partial(rows: DataFrame, k: Int): DataFrame = bottomK(rows, k)
  protected def merge(deltas: DataFrame, k: => Int): DataFrame = bottomK(deltas, k)

  /** Per-scope bottom-k of a (scope, v, h) frame, partial-first: ≤ k
    * rows per input partition survive to the one exchange (the
    * q_quantile_sketch build shape — never a skewed global sort). */
  def bottomK(rows: DataFrame, k: Int): DataFrame = {
    val wPart = Window.partitionBy(col("scope"), spark_partition_id())
      .orderBy(col("h"), col("v"))
    val wScope = Window.partitionBy(col("scope")).orderBy(col("h"), col("v"))
    rows
      .withColumn("rp", row_number().over(wPart)).filter(col("rp") <= k)
      .withColumn("rg", row_number().over(wScope)).filter(col("rg") <= k)
      .select(col("scope"), col("v"), col("h"))
  }

  /** Initialize an empty sketch with pinned sample size. */
  def buildEmpty(spark: SparkSession, dir: String, k: Int = 4096): Unit =
    reset(spark, dir, s"k=$k")

  /** Pinned k from the base marker. */
  def sampleSize(spark: SparkSession, dir: String): Int = params(spark, dir)

  /** The served (scope, v, h) sketch: re-bottom-k over every live
    * delta. */
  def sketchRows(spark: SparkSession, dir: String): DataFrame = merged(spark, dir)

  /** Per-scope quantile estimate at fraction `p` from the served
    * sketch — |scopes| rows out, sketch-sized work. */
  def quantile(spark: SparkSession, dir: String, p: Double): DataFrame =
    sketchRows(spark, dir)
      .groupBy(col("scope"))
      .agg(expr(s"percentile(v, $p)").as("est"))
}

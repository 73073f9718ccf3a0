package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted count-min sketch — the mergeable FREQUENCY sketch as a
  * maintained table-service artifact (the [[LshIndex]]/[[IvfPqIndex]]
  * sibling for approximate term counting). CMS cells are plain integer
  * counts and sketch UNION is cell-wise addition, so the served sketch
  * is the cell-wise SUM over all live deltas. A delta is ≤ d×w cells,
  * computed with one map-side-combined aggregation over the batch.
  *
  * Estimates are one-sided (est ≥ true count, always — the min over d
  * independent md5-derived hash rows can only overcount from
  * collisions), and everything is integer arithmetic on portable
  * hashes, so a SQL oracle replays build, union, and probe bit-exactly
  * (q_heavy_hitters_cms is the single-query form; stream_cms_e2e runs
  * this store through the checkpointed ingest loop).
  *
  * Layout under `dir` (the [[MergeableStore]] rules):
  * {{{
  *   cells_d<id>/   (r, b, n) partial sketch of batch <id>
  *   _INDEX         carries "d=<d>,w=<w>" — the sketch geometry is
  *                  pinned at build; a different (d, w) would make old
  *                  and new cells incomparable
  * }}}
  */
object CmsSketch extends MergeableStore[(Int, Int)] {

  protected val name = "CMS sketch"
  protected val dataPrefix = "cells_d"
  protected val deltaSchema = "r INT, b BIGINT, n BIGINT"
  protected val parse: PartialFunction[String, (Int, Int)] = {
    case s"d=$d,w=$w" => (d.toInt, w.toInt)
  }
  protected def partial(terms: DataFrame, p: (Int, Int)): DataFrame =
    partialSketch(terms, p._1, p._2)
  protected def merge(deltas: DataFrame, p: => (Int, Int)): DataFrame =
    deltas.groupBy(col("r"), col("b")).agg(sum(col("n")).as("n"))

  /** Hash row `r`'s bucket for `term`: md5-derived 48-bit hash of the
    * row-salted term, mod `w`. Engine-portable (the q_* oracle rule). */
  def bucket(r: Column, term: Column, w: Int): Column =
    pmod(Text.hash48(concat(r.cast("string"), lit(":"), term)), lit(w.toLong))

  /** One partial sketch: d×w cell counts of a term frame (column
    * `term`). Map-side combine collapses each partition to ≤ d·w rows
    * before the one exchange. */
  def partialSketch(terms: DataFrame, d: Int, w: Int): DataFrame =
    terms
      .select(col("term"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b", bucket(col("r"), col("term"), w))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("n"))

  /** Initialize an empty sketch with pinned geometry. */
  def buildEmpty(spark: SparkSession, dir: String, d: Int = 4, w: Int = 512): Unit =
    reset(spark, dir, s"d=$d,w=$w")

  /** Pinned (d, w) from the base marker. */
  def geometry(spark: SparkSession, dir: String): (Int, Int) = params(spark, dir)

  /** The served sketch (r, b, cell): cell-wise SUM over every live
    * delta. */
  def cells(spark: SparkSession, dir: String): DataFrame =
    merged(spark, dir).withColumnRenamed("n", "cell")

  /** Point estimates for a (small) term frame (column `term`): min over
    * the d probed cells per term. The probe side is |terms|·d rows —
    * broadcast-sized against the ≤ d·w-cell served sketch. LEFT join:
    * an absent cell counts 0 (nothing ever hashed there), so a
    * never-inserted term estimates 0 instead of vanishing from the
    * output or taking an inflated min over fewer than d cells — the
    * standard CMS min-over-d definition. The served sketch is resolved
    * first: its existence check names an absent or mid-compact sketch
    * before the geometry read. */
  def estimate(spark: SparkSession, dir: String, terms: DataFrame): DataFrame = {
    val served = cells(spark, dir)
    val (d, w) = geometry(spark, dir)
    terms
      .select(col("term"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b", bucket(col("r"), col("term"), w))
      .join(served, Seq("r", "b"), "left")
      .groupBy(col("term")).agg(min(coalesce(col("cell"), lit(0L))).as("est"))
  }
}

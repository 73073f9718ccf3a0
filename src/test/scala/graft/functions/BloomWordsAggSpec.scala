package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The file-group key bloom is built by [[FileGroupStatsAgg]] (one
  * aggregate with the group stats, observed on the commit's write),
  * which replaced the exploded (bucket, word) bit_or build. The manifest
  * sketch is a pure OR of per-row bit positions, so the fused aggregate
  * must produce BIT-IDENTICAL words to the historical exploded shape on
  * the same keys, on any partitioning — this spec pins that equivalence
  * (probe behavior itself is pinned by FileGroupsSpec's lookup suite).
  */
class BloomWordsAggSpec extends SparkSpec {
  import spark.implicits._

  private val BloomBits = 4096L
  private val Words = 64
  private val K = 3
  private val Buckets = 7

  test("fused word aggregate is bit-identical to the exploded bit_or build") {
    val rows = (1L to 500L).map(i => (i % 7, s"key_$i")).toDF("b", "k")
    val posArr = array((0 until K).map(i =>
      pmod(xxhash64(col("k"), lit(i)), lit(BloomBits))): _*)

    // historical shape: explode positions → (b, word) bit_or → driver fold
    val exploded = rows
      .select(col("b"), explode(posArr).as("pos"))
      .selectExpr("b", "CAST(pos / 64 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS m")
      .groupBy(col("b"), col("w"))
      .agg(expr("bit_or(m)").as("bits"))
      .collect().groupBy(_.getLong(0))
      .map { case (b, rs) =>
        val arr = Array.fill(Words)(0L)
        rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        b -> arr.toSeq
      }

    // fused shape: one ungrouped aggregate, per-bucket words decoded
    // from bytes
    def blooms(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.agg(FileGroupStatsAgg.agg(col("b"), lit(null).cast("long"),
          lit(null).cast("long"), posArr, Buckets, Words))
        .head().getSeq[org.apache.spark.sql.Row](0).map { r =>
          val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]]("bloom"))
          r.getAs[Long]("bucket") -> Seq.fill(Words)(bb.getLong)
        }.toMap
    val fused = blooms(rows)

    assert(fused.keySet == exploded.keySet && fused.nonEmpty)
    fused.foreach { case (b, words) => assert(words == exploded(b), s"bucket $b") }
    // and the sketch is partitioning-invariant (pure OR)
    val one = blooms(rows.coalesce(1))
    val many = blooms(rows.repartition(13, col("k")))
    assert(one == many && one == fused)
  }
}

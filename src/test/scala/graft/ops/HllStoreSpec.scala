package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.Streams

/** Persisted HLL store: delta-unioned serve estimates EQUAL the
  * one-shot sketch (HLL union is register-wise max — batching and
  * duplicates invisible by the algebra), the delta crash/replay
  * protocol, empty-batch discipline, compaction invariance, and the
  * pinned precision. */
class HllStoreSpec extends SparkSpec with MergeableStoreBehaviors {
  import spark.implicits._

  private def rowsOf(vs: (String, Long)*) = vs.toDF("scope", "key")

  private def estMap(dir: String): Map[String, Long] =
    HllStore.estimate(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("delta-unioned serve estimates equal the one-shot sketch; small counts exact") {
    val dir = tmpDir("hll_merge")
    HllStore.buildEmpty(spark, dir, lgK = 12)
    val b0 = rowsOf(("a", 1L), ("a", 2L), ("a", 1L), ("b", 9L))
    val b1 = rowsOf(("a", 2L), ("a", 3L), ("b", 9L), ("b", 10L))
    HllStore.append(spark, dir, b0, 0L)
    HllStore.append(spark, dir, b1, 1L)
    val oneShot = HllStore.partialSketch(b0.unionByName(b1), 12)
      .select(col("scope"), hll_sketch_estimate(col("sk")).as("est")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estMap(dir) == oneShot)
    // at this cardinality HLL is exact: a={1,2,3}, b={9,10}
    assert(estMap(dir) == Map("a" -> 3L, "b" -> 2L))
  }

  test("streaming transaction: committed batch is a replay no-op; crash converges") {
    val dir = tmpDir("hll_replay")
    val idx = s"$dir/idx"; val out = s"$dir/out"
    HllStore.buildEmpty(spark, idx)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ev = Seq((1L, ts0, 10L, "click", 1.5), (2L, ts0, 11L, "click", 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Streams.hllBatch(ev, 0L, idx, out))
    val after = estMap(idx)
    assert(!Streams.hllBatch(ev, 0L, idx, out))
    assert(estMap(idx) == after)
    // crash between landing and marker: replay recomputes the append
    val ev1 = Seq((3L, ts0, 12L, "view", 3.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    graft.ops.DeltaProtocol.writeBatchPartition(ev1, 1L, out)
    assert(!HllStore.deltaIds(spark, idx).contains(1L))
    assert(Streams.hllBatch(ev1, 1L, idx, out))
    assert(estMap(idx) == Map("click" -> 2L, "view" -> 1L))
  }

  test("empty batch commits an empty marker and leaves the serve unchanged") {
    val dir = tmpDir("hll_empty")
    HllStore.buildEmpty(spark, dir)
    HllStore.append(spark, dir, rowsOf(("a", 1L)), 0L)
    val before = estMap(dir)
    HllStore.append(spark, dir, rowsOf().filter(lit(false)), 1L)
    assert(HllStore.deltaIds(spark, dir) == Seq(0L, 1L))
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    assert(estMap(dir) == before)
  }

  test("compact collapses live deltas without changing the served estimates") {
    val dir = tmpDir("hll_compact")
    HllStore.buildEmpty(spark, dir, lgK = 11)
    HllStore.append(spark, dir, rowsOf(("a", 1L), ("a", 2L)), 0L)
    HllStore.append(spark, dir, rowsOf(("a", 3L), ("b", 4L)), 1L)
    HllStore.append(spark, dir, rowsOf(("a", 1L)), 2L)
    val before = estMap(dir)
    HllStore.compact(spark, dir)
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    assert(HllStore.deltaIds(spark, dir) == Seq(0L, 1L, 2L))
    assert(HllStore.precision(spark, dir) == 11)
    assert(estMap(dir) == before)
    HllStore.append(spark, dir, rowsOf(("b", 5L)), 3L)
    assert(estMap(dir)("b") == 2L)
  }

  compactCrashTests(StoreCase(HllStore, "lgk=11", "sk_d", "sk_compact_tmp",
    rows = Seq(rowsOf(("a", 1L), ("a", 2L)), rowsOf(("a", 3L), ("b", 4L)), rowsOf(("c", 5L))),
    batches = Seq(events((1L, 10L, "click", 1.5), (2L, 11L, "click", 2.5)),
      events((3L, 12L, "view", 3.5)), events((4L, 13L, "buy", 4.5))),
    ingest = Streams.hllBatch(_, _, _, _), view = estMap))

  test("precision is pinned at build and round-trips") {
    val dir = tmpDir("hll_lgk")
    HllStore.buildEmpty(spark, dir, lgK = 14)
    assert(HllStore.precision(spark, dir) == 14)
  }
}

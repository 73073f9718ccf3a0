package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.Streams

/** Persisted quantile-sketch store: the merge law as multiset EQUALITY
  * (delta-merged serve == one-shot bottom-k of everything appended),
  * the delta crash/replay protocol, empty-batch discipline, compaction
  * invariance, and the pinned sample size. */
class QuantileSketchSpec extends SparkSpec with MergeableStoreBehaviors {
  import spark.implicits._

  private def rowsOf(vs: (String, Double, Long)*) =
    vs.toDF("scope", "v", "h")

  private def served(dir: String): Seq[(String, Double, Long)] =
    QuantileSketch.sketchRows(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq.sorted

  test("delta-merged serve is multiset-equal to the one-shot bottom-k") {
    val dir = tmpDir("qnt_merge")
    // k=3 forces real cuts: per-scope batches carry more than k rows
    QuantileSketch.buildEmpty(spark, dir, k = 3)
    val b0 = rowsOf(("a", 1.0, 50L), ("a", 2.0, 10L), ("a", 3.0, 90L), ("a", 4.0, 20L),
      ("b", 9.0, 5L))
    val b1 = rowsOf(("a", 5.0, 15L), ("a", 6.0, 80L), ("b", 7.0, 70L), ("b", 8.0, 1L))
    QuantileSketch.append(spark, dir, b0, 0L)
    QuantileSketch.append(spark, dir, b1, 1L)
    val oneShot = QuantileSketch.bottomK(b0.unionByName(b1), 3).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    assert(served(dir) == oneShot)
    // hand-check one scope: a's global bottom-3 by h is h=10,15,20 —
    // h=15 arrived in batch 1, h=20 survived batch 0's cut (rank 3)
    assert(served(dir).filter(_._1 == "a").map(_._3).sorted == Seq(10L, 15L, 20L))
  }

  test("streaming transaction: committed batch is a replay no-op; crash converges") {
    val dir = tmpDir("qnt_replay")
    val idx = s"$dir/idx"; val out = s"$dir/out"
    QuantileSketch.buildEmpty(spark, idx, k = 4)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ev = Seq((1L, ts0, 10L, "click", 1.5), (2L, ts0, 11L, "view", 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Streams.quantileBatch(ev, 0L, idx, out))
    val after = served(idx)
    // replay of a committed id: no-op, sketch byte-identical
    assert(!Streams.quantileBatch(ev, 0L, idx, out))
    assert(served(idx) == after)
    // crash between landing and marker: the landing partition exists but
    // the delta is uncommitted — replay recomputes the identical append
    val ev1 = Seq((3L, ts0, 12L, "click", 3.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    graft.ops.DeltaProtocol.writeBatchPartition(ev1, 1L, out)
    assert(!QuantileSketch.deltaIds(spark, idx).contains(1L))
    assert(Streams.quantileBatch(ev1, 1L, idx, out))
    assert(served(idx).count(_._1 == "click") == 2)
    // the served rank rows equal the one-shot over everything landed —
    // the ingest-path hash definition is batching-independent
    val oneShot = QuantileSketch.bottomK(
      Streams.sketchRowsOf(spark.read.parquet(out)), 4).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    assert(served(idx) == oneShot)
  }

  test("empty batch commits an empty marker and leaves the serve unchanged") {
    val dir = tmpDir("qnt_empty")
    QuantileSketch.buildEmpty(spark, dir)
    QuantileSketch.append(spark, dir, rowsOf(("a", 1.0, 1L)), 0L)
    val before = served(dir)
    QuantileSketch.append(spark, dir, rowsOf().filter(lit(false)), 1L)
    assert(QuantileSketch.deltaIds(spark, dir) == Seq(0L, 1L))
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    assert(served(dir) == before)
  }

  test("compact collapses live deltas without changing the served sketch") {
    val dir = tmpDir("qnt_compact")
    QuantileSketch.buildEmpty(spark, dir, k = 2)
    QuantileSketch.append(spark, dir, rowsOf(("a", 1.0, 30L), ("a", 2.0, 10L)), 0L)
    QuantileSketch.append(spark, dir, rowsOf(("a", 3.0, 20L), ("b", 4.0, 7L)), 1L)
    QuantileSketch.append(spark, dir, rowsOf(("a", 5.0, 5L)), 2L)
    val before = served(dir)
    QuantileSketch.compact(spark, dir)
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    // every previously committed id keeps its (now empty) marker —
    // replay protection survives the compaction
    assert(QuantileSketch.deltaIds(spark, dir) == Seq(0L, 1L, 2L))
    assert(QuantileSketch.sampleSize(spark, dir) == 2)
    assert(served(dir) == before)
    // appends keep working after a compaction
    QuantileSketch.append(spark, dir, rowsOf(("b", 6.0, 3L)), 3L)
    assert(served(dir).filter(_._1 == "b").map(_._3).sorted == Seq(3L, 7L))
  }

  compactCrashTests(StoreCase(QuantileSketch, "k=2", "rows_d", "rows_compact_tmp",
    rows = Seq(rowsOf(("a", 1.0, 30L), ("a", 2.0, 10L)), rowsOf(("a", 3.0, 20L), ("b", 4.0, 7L)),
      rowsOf(("b", 6.0, 3L))),
    batches = Seq(events((1L, 10L, "click", 1.5), (2L, 11L, "view", 2.5)),
      events((3L, 12L, "click", 3.5)), events((4L, 13L, "buy", 4.5))),
    ingest = Streams.quantileBatch(_, _, _, _), view = served))

  test("sample size is pinned at build and round-trips") {
    val dir = tmpDir("qnt_k")
    QuantileSketch.buildEmpty(spark, dir, k = 77)
    assert(QuantileSketch.sampleSize(spark, dir) == 77)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.Streams

/** Persisted CMS store: mergeability (delta sum == one-shot sketch),
  * one-sided estimates, the delta crash/replay protocol, empty-batch
  * discipline, and compaction invariance. */
class CmsSketchSpec extends SparkSpec with MergeableStoreBehaviors {
  import spark.implicits._

  private def terms(ts: String*) = ts.toDF("term")

  private def cellMap(dir: String): Map[(Int, Long), Long] =
    CmsSketch.cells(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("delta-summed serve equals the one-shot sketch; estimates are one-sided") {
    val dir = tmpDir("cms_merge")
    CmsSketch.buildEmpty(spark, dir, d = 4, w = 512)
    val b0 = terms("a", "b", "a", "c")
    val b1 = terms("a", "c", "d")
    CmsSketch.append(spark, dir, b0, 0L)
    CmsSketch.append(spark, dir, b1, 1L)
    val oneShot = CmsSketch.partialSketch(b0.unionByName(b1), 4, 512)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cellMap(dir) == oneShot)
    val est = CmsSketch.estimate(spark, dir, terms("a", "b", "d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Map("a" -> 3L, "b" -> 1L, "d" -> 1L)
    for ((t, n) <- exact) assert(est(t) >= n, s"$t underestimated: ${est(t)} < $n")
  }

  test("streaming transaction: committed batch is a replay no-op; crash converges") {
    val dir = tmpDir("cms_replay")
    val idx = s"$dir/idx"; val out = s"$dir/out"
    CmsSketch.buildEmpty(spark, idx)
    val docs = Seq((1L, "x y x"), (2L, "y z")).toDF("doc_id", "text")
    assert(Streams.cmsBatch(docs, 0L, idx, out))
    val cellsAfter = cellMap(idx)
    // replay of a committed id: no-op, cells byte-identical
    assert(!Streams.cmsBatch(docs, 0L, idx, out))
    assert(cellMap(idx) == cellsAfter)
    // crash between landing and marker: the landing partition exists but
    // the delta is uncommitted — replay recomputes the identical append
    val docs1 = Seq((3L, "z z q")).toDF("doc_id", "text")
    graft.ops.DeltaProtocol.writeBatchPartition(docs1, 1L, out)
    assert(!CmsSketch.deltaIds(spark, idx).contains(1L))
    assert(Streams.cmsBatch(docs1, 1L, idx, out))
    val est = CmsSketch.estimate(spark, idx, terms("z")).collect()
    assert(est.head.getLong(1) >= 3L) // y z + z z → z appears 3×
  }

  test("empty batch commits an empty marker and leaves the serve unchanged") {
    val dir = tmpDir("cms_empty")
    CmsSketch.buildEmpty(spark, dir)
    CmsSketch.append(spark, dir, terms("a"), 0L)
    val before = cellMap(dir)
    CmsSketch.append(spark, dir, terms().filter(lit(false)), 1L)
    assert(CmsSketch.deltaIds(spark, dir) == Seq(0L, 1L))
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    assert(cellMap(dir) == before)
  }

  test("compact collapses live deltas without changing the served cells") {
    val dir = tmpDir("cms_compact")
    CmsSketch.buildEmpty(spark, dir, d = 2, w = 64)
    CmsSketch.append(spark, dir, terms("a", "b"), 0L)
    CmsSketch.append(spark, dir, terms("b", "c"), 1L)
    CmsSketch.append(spark, dir, terms("a"), 2L)
    val before = cellMap(dir)
    CmsSketch.compact(spark, dir)
    assert(graft.ops.DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    // every previously committed id keeps its (now empty) marker —
    // replay protection survives the compaction
    assert(CmsSketch.deltaIds(spark, dir) == Seq(0L, 1L, 2L))
    assert(CmsSketch.geometry(spark, dir) == ((2, 64)))
    assert(cellMap(dir) == before)
    // appends keep working after a compaction
    CmsSketch.append(spark, dir, terms("c"), 3L)
    val est = CmsSketch.estimate(spark, dir, terms("c")).collect()
    assert(est.head.getLong(1) >= 2L)
  }

  test("geometry is pinned at build and round-trips") {
    val dir = tmpDir("cms_geom")
    CmsSketch.buildEmpty(spark, dir, d = 7, w = 33)
    assert(CmsSketch.geometry(spark, dir) == ((7, 33)))
  }

  compactCrashTests(StoreCase(CmsSketch, "d=2,w=64", "cells_d", "cells_compact_tmp",
    rows = Seq(terms("a", "b"), terms("b", "c"), terms("c")),
    batches = Seq(Seq((1L, "x y x"), (2L, "y z")), Seq((3L, "z q")), Seq((4L, "q q")))
      .map(_.toDF("doc_id", "text")),
    ingest = Streams.cmsBatch(_, _, _, _), view = cellMap,
    healed = idx => {
      val est = CmsSketch.estimate(spark, idx, terms("q")).collect()
      assert(est.head.getLong(1) >= 3L) // pre-crash q + the new q q
    }))

  test("estimate on a never-built sketch fails with the protocol's error") {
    val e = intercept[IllegalArgumentException](
      CmsSketch.estimate(spark, tmpDir("cms_absent"), terms("a")))
    assert(e.getMessage.contains("no committed CMS sketch"), e.getMessage)
  }

  test("buildEmpty clears a stale compact intent; absent terms estimate 0, not vanish") {
    val dir = tmpDir("cms_stale_intent")
    CmsSketch.buildEmpty(spark, dir, d = 2, w = 64)
    CmsSketch.append(spark, dir, terms("a", "b"), 0L)
    // leave a crashed compact's intent + tmp dir standing...
    CmsSketch.cells(spark, dir).select(col("r"), col("b"), col("cell").as("n"))
      .write.mode("overwrite").parquet(s"$dir/cells_compact_tmp")
    DeltaProtocol.writeFileAtomic(spark, s"$dir/_COMPACT",
      "keep=0\nall=0\nindex=d=2,w=64")
    // ...then rebuild from scratch: the stale intent must die with the
    // old generation — otherwise the next append would 'recover' the
    // old layout over the fresh one
    CmsSketch.buildEmpty(spark, dir, d = 2, w = 64)
    CmsSketch.append(spark, dir, terms("c"), 0L)
    assert(DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
    val est = CmsSketch.estimate(spark, dir, terms("c", "never-seen")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("c") >= 1L)
    // the absent term is PRESENT in the output with estimate 0 (the
    // standard min-over-d definition; an inner join would drop it)
    assert(est("never-seen") == 0L)
  }
}

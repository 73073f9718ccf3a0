package graft.ops

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The compact-crash tests every [[MergeableStore]] must pass — one
  * copy of each body, registered by each sketch store's spec with its
  * own inputs. */
trait MergeableStoreBehaviors extends SparkSpec {

  /** One store as the shared tests drive it.
    *
    * @param index   the `_INDEX` string the store is built with
    * @param prefix  the delta data dir prefix, as laid out on disk
    * @param tmp     the compact tmp dir name, as laid out on disk
    * @param rows    three append inputs, in order
    * @param batches three stream batches for `ingest`, in order
    * @param ingest  the store's `Streams.*Batch` transaction
    * @param view    what the store serves, in comparable form
    * @param healed  store-specific checks after the stream heals */
  case class StoreCase(store: MergeableStore[_], index: String, prefix: String, tmp: String,
                       rows: Seq[DataFrame], batches: Seq[DataFrame],
                       ingest: (DataFrame, Long, String, String) => Boolean,
                       view: String => Any, healed: String => Unit = _ => ())

  /** (event_id, user_id, event_type, value) rows at one fixed ts, in
    * the events schema the event-stream maintainers consume. */
  protected def events(vs: (Long, Long, String, Double)*): DataFrame = {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    vs.map { case (id, user, kind, v) => (id, ts0, user, kind, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  /** The worst compact crash point, built by hand from deltas 0 and 1:
    * merged copy + intent landed, old layout swept, markers NOT
    * re-committed. */
  private def crashAfterSweep(c: StoreCase, dir: String): Unit = {
    c.store.merged(spark, dir).write.mode("overwrite").parquet(s"$dir/${c.tmp}")
    DeltaProtocol.writeFileAtomic(spark, s"$dir/_COMPACT",
      s"keep=0\nall=0,1\nindex=${c.index}")
    DeltaProtocol.clearPriorIndex(spark, dir, Seq(c.prefix))
  }

  /** `mk` is by-name: its frames are built when a test runs, not when
    * the suite registers it. */
  def compactCrashTests(mk: => StoreCase): Unit = {
    test("a crash mid-compact is completed by the next compact or append call") {
      val c = mk; import c.{store, view}
      val dir = tmpDir(s"${c.prefix}compact_crash")
      store.reset(spark, dir, c.index)
      store.append(spark, dir, c.rows(0), 0L)
      store.append(spark, dir, c.rows(1), 1L)
      val before = view(dir)
      // Pre-intent-marker protocol this state was UNRECOVERABLE: <=1
      // live delta meant a compact re-run no-op'd and the store stayed
      // permanently uncommitted.
      crashAfterSweep(c, dir)
      assert(!store.exists(spark, dir))
      store.compact(spark, dir) // recovery completes the swap
      assert(store.exists(spark, dir))
      assert(store.deltaIds(spark, dir) == Seq(0L, 1L))
      assert(DeltaProtocol.liveDeltaIds(spark, dir) == Seq(0L))
      assert(view(dir) == before)
      // a crash AFTER the rename (tmp gone, markers dropped again)
      // recovers through the APPEND door, then the append lands
      val fs = DeltaProtocol.fsOf(spark, dir)
      fs.delete(DeltaProtocol.path(s"$dir/_INDEX"), false)
      fs.delete(DeltaProtocol.path(s"$dir/_DELTA_0"), false)
      fs.delete(DeltaProtocol.path(s"$dir/_DELTA_1"), false)
      DeltaProtocol.writeFileAtomic(spark, s"$dir/_COMPACT",
        s"keep=0\nall=0,1\nindex=${c.index}")
      store.append(spark, dir, c.rows(2), 2L)
      assert(store.deltaIds(spark, dir) == Seq(0L, 1L, 2L))
      assert(view(dir) != before) // the post-recovery append landed
    }

    test("a stream restart heals a mid-compact crash instead of wedging on the existence check") {
      val c = mk; import c.{store, view}
      val dir = tmpDir(s"${c.prefix}stream_heal")
      val idx = s"$dir/idx"; val out = s"$dir/out"
      store.reset(spark, idx, c.index)
      assert(c.ingest(c.batches(0), 0L, idx, out))
      assert(c.ingest(c.batches(1), 1L, idx, out))
      val before = view(idx)
      // worst-case compact crash, store UNCOMMITTED (_INDEX down). The
      // next foreachBatch after restart goes through the Streams
      // transaction — which must run recovery BEFORE its existence
      // check, or every restart throws 'buildEmpty first' forever (and
      // following that advice would destroy the data)
      crashAfterSweep(c, idx)
      assert(!store.exists(spark, idx))
      assert(c.ingest(c.batches(2), 2L, idx, out)) // heals, then lands
      assert(store.exists(spark, idx))
      c.healed(idx)
      assert(view(idx) != before)
    }
  }
}

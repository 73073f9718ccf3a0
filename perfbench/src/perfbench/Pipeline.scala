package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{DeltaStream, Envelope, FileGroups, Ingest}

/** The ingest side of the pipeline: topic segments -> `DeltaStream.run`
  * (file-group mode) -> table, read back through the `graft_cdc` catalog
  * and, in `trickle`, by a `graft-cdc` stream consumer. */
object Pipeline {
  val Table = "employees"
  val Catalog = "graft_cdc"
  val Buckets = 16
  val Keys = Seq("id")
  val Ord = Seq("lsn")

  /** Directories of one pipeline instance under `root`. */
  final case class Dirs(root: String) {
    val topic = s"$root/topic"
    val warehouse = s"$root/warehouse"
    val table = s"$warehouse/$Table"
    def ckpt(name: String) = s"$root/ckpt/$name"
  }

  /** What the traced ingest recorded per stream batch id. */
  final case class Commit(seconds: Double, dirty: Int, files: Long, bytes: Long)

  /** Start the ingest stream. Untraced this is `DeltaStream.run`; traced
    * it is the stream `DeltaStream.run` starts in file-group mode
    * (`Ingest.readTopicStream` -> `Ingest.extractPostImage` ->
    * `FileGroups.commitStreamBatch`, as `FileGroups.run` composes them),
    * started from here so a span can wrap the commit. `spanName` names
    * that span. */
  def ingest(ctx: Ctx, d: Dirs, retain: Option[Int], commits: ConcurrentHashMap[Long, Commit],
             spanName: Long => String): StreamingQuery = {
    val spark = ctx.spark
    if (!ctx.tracer.on)
      DeltaStream.run(spark, Map(
        DeltaStream.TableName -> Table,
        DeltaStream.TargetPath -> d.warehouse,
        DeltaStream.SourceDir -> d.topic,
        DeltaStream.CheckpointLocation -> d.ckpt("ingest"),
        DeltaStream.RecordKeyField -> Keys.mkString(","),
        DeltaStream.PrecombineField -> Ord.mkString(","),
        DeltaStream.Buckets -> Buckets.toString,
        DeltaStream.SyncCatalog -> Catalog) ++ retain.map(DeltaStream.Retain -> _.toString))
    else {
      spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[graft.sources.FileGroupCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$Catalog.root", d.warehouse)
      retain.foreach(FileGroups.setRetention(spark, d.table, _))
      Ingest.readTopicStream(spark, d.topic).writeStream
        .option("checkpointLocation", d.ckpt("ingest"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val parsed = Ingest.extractPostImage(batch, Envelope.employeesEnvelope, Keys)
          val t0 = System.nanoTime()
          val dirty = ctx.tracer.span(spanName(id)) {
            FileGroups.commitStreamBatch(batch.sparkSession, d.table, parsed, id, Keys, Ord, Buckets)
          }
          val s = (System.nanoTime() - t0) / 1e9
          val v = FileGroups.committedId(batch.sparkSession, d.table).getOrElse(-1L)
          val (files, bytes) = ctx.du(s"${d.table}/files/v$v")
          commits.put(id, Commit(s, dirty.size, files, bytes))
          ()
        }
        .start()
    }
  }

  /** The downstream `graft-cdc` consumer: collects every delivered (id, lsn). */
  def consume(ctx: Ctx, d: Dirs, from: Long, sink: ConcurrentLinkedQueue[(Int, Long)]): StreamingQuery =
    ctx.spark.readStream.format("graft-cdc").option("startingVersion", from).load(d.table)
      .writeStream.option("checkpointLocation", d.ckpt("consume"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("id", "lsn").collect().foreach(r => sink.add(r.getInt(0) -> r.getLong(1)))
      }
      .start()

  /** Poll until `done` holds or the deadline passes; false on timeout or
    * when a watched query died. */
  def await(ctx: Ctx, deadlineMs: Long, queries: StreamingQuery*)(done: => Boolean): Boolean = {
    while (!done && System.currentTimeMillis() < deadlineMs && queries.forall(_.exception.isEmpty))
      Thread.sleep(10)
    queries.foreach(q => q.exception.foreach(e => ctx.run.op(ok = false, s"stream ${q.name}: $e")))
    done
  }

  private def sleepUntil(ms: Long): Unit = {
    var left = ms - System.currentTimeMillis()
    while (left > 0) { Thread.sleep(math.min(left, 50)); left = ms - System.currentTimeMillis() }
  }

  private def segName(i: Int) = f"seg-$i%06d"

  /** Side measurement of the `ingest` layer: the envelope parse of one
    * landed segment on its own, forced through a noop sink. */
  private def parseSpan(ctx: Ctx, d: Dirs, i: Int): Unit =
    ctx.tracer.span("ingest.parse") {
      Ingest.extractPostImage(Ingest.readTopicBatch(ctx.spark, s"${d.topic}/${segName(i)}.json"))
        .write.format("noop").mode("overwrite").save()
    }

  /** (jobs, input bytes) the listener has attributed to one streaming query. */
  private def jobsOf(ctx: Ctx, id: java.util.UUID): (Long, Long) =
    if (!ctx.tracer.on) (0L, 0L)
    else {
      ctx.tracer.drain()
      val a = ctx.tracer.jobs.acc("query:" + id)
      a.synchronized((a.jobs, a.inputBytes))
    }

  val BootstrapKeys = 10000
  /** Updates landed with the bootstrap, so set-up also runs the upsert path. */
  val BootstrapUpdates = 500
  val BacklogSegments = 3
  val BacklogEvents = 7500
  val BacklogUpdate = 0.8
  val BacklogDelete = 0.05
  val TrickleEvents = 5
  val TricklePeriodMs = 1600
  val TrickleWarmup = 2
  val TrickleUpdate = 0.8
  val TrickleDelete = 0.1
  /** A run whose generator lands trickle segments later than this (p90) is invalid. */
  val LatenessBoundS = 0.1

  /** Recovery after downtime, then live: a backlog of large segments landed
    * while the ingest was stopped is drained by a restarted
    * `DeltaStream.run` (catch-up), after which one small segment lands per
    * period (open loop) while the ingest and a `graft-cdc` consumer both
    * run continuously (trickle). */
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val run = ctx.run
    val gen = new Gen(run.seed)
    val boot = Seq(gen.inserts(BootstrapKeys), gen.changes(BootstrapUpdates, 1.0, 0.0))
    val backlog = (1 to BacklogSegments).map(_ => gen.changes(BacklogEvents, BacklogUpdate, BacklogDelete))
    val measured = math.max(1, run.seconds * 1000 / TricklePeriodMs)
    val n = TrickleWarmup + measured
    val segs = (1 to n).map(_ => gen.changes(TrickleEvents, TrickleUpdate, TrickleDelete))
    val bootBytes = boot.map(Wire.render)
    val backlogBytes = backlog.map(Wire.render)
    val segBytes = segs.map(Wire.render)
    val B = BacklogSegments
    run.config ++= Seq("keys" -> BootstrapKeys.toString, "buckets" -> Buckets.toString,
      "bootstrap_updates" -> BootstrapUpdates.toString, "backlog_segments" -> B.toString,
      "backlog_segment_events" -> BacklogEvents.toString,
      "backlog_mix" -> s"u=$BacklogUpdate,d=$BacklogDelete,c=rest",
      "trickle_segment_events" -> TrickleEvents.toString, "trickle_period_ms" -> TricklePeriodMs.toString,
      "trickle_warmup_segments" -> TrickleWarmup.toString, "trickle_measured_segments" -> measured.toString,
      "trickle_mix" -> s"u=$TrickleUpdate,d=$TrickleDelete,c=rest",
      "lateness_bound_s" -> LatenessBoundS.toString)
    // stream batch ids: 0-1 bootstrap, 2..B+1 backlog, B+2..B+n+1 trickle
    // segments; `first` is the first backlog batch
    val first = boot.size.toLong
    val spanName = (id: Long) =>
      if (id < first) "setup.filegroups.commit"
      else if (id < first + B) "filegroups.catchup_commit"
      else if (id >= first + B + TrickleWarmup) "filegroups.commit"
      else "warmup.filegroups.commit"
    val commits = new ConcurrentHashMap[Long, Commit]()
    var d: Dirs = null
    var queryId: java.util.UUID = null
    ctx.setup(3) { rep =>
      if (d != null) ctx.rm(d.root)
      d = Dirs(s"${ctx.work}/pipeline-$rep")
      bootBytes.indices.foreach(i => Wire.land(d.topic, segName(i), bootBytes(i)))
      val q = ingest(ctx, d, None, commits, spanName)
      try q.processAllAvailable() finally q.stop()
      queryId = q.id
      backlogBytes.indices.foreach(i => Wire.land(d.topic, segName(boot.size + i), backlogBytes(i)))
    }

    run.note("catch-up")
    // ---- catch-up: the restarted stream (same checkpoint, same query id)
    val (jobsC0, _) = jobsOf(ctx, queryId)
    val t0 = System.currentTimeMillis()
    val in = ingest(ctx, d, None, commits, spanName)
    def caught = ctx.progress.of(in.id).filter(t => t.batchId >= first && t.batchId < first + B)
    await(ctx, t0 + 60000, in)(caught.size == B)
    val ct = caught
    (0 until B).foreach(i => run.op(ct.exists(_.batchId == first + i), s"backlog segment ${i + 1} not committed"))
    val (jobsC1, _) = jobsOf(ctx, in.id)
    val events = B.toLong * BacklogEvents
    // from the first backlog trigger's start to the last one's end
    val drainS = if (ct.isEmpty) 1.0 else (ct.map(_.endMs).max - ct.map(_.startMs).min) / 1e3
    run.metric("catchup_events_per_s", events / drainS, "1/s", B)
    run.metric("catchup_batch_p50_s", Stats.medianOr0(ct.map(_.totalMs / 1e3)), "s", ct.size)
    run.e2e("work_per_s") = events / drainS
    if (ct.size < B) run.valid = false

    run.note("trickle")
    // ---- trickle: the consumer follows from the caught-up head
    val head0 = FileGroups.committedId(spark, d.table).get
    val delivered = new ConcurrentLinkedQueue[(Int, Long)]()
    val out = consume(ctx, d, head0, delivered)
    out.processAllAvailable()
    val (jobsOut0, bytesOut0) = jobsOf(ctx, out.id)
    val t1 = System.currentTimeMillis() + 200
    val due = (0 until n).map(i => t1 + i.toLong * TricklePeriodMs)
    val landed = segs.indices.map { i =>
      sleepUntil(due(i))
      Wire.land(d.topic, segName(boot.size + B + i), segBytes(i))
    }
    // trickle segment i (0-based) is stream batch first+B+i (one file per
    // trigger) and table version head0+1+i
    val firstT = first + B
    def inTriggers = ctx.progress.of(in.id).filter(t => t.batchId >= firstT && t.batchId < firstT + n)
    def deliveredTo(v: Long) = ctx.progress.of(out.id)
      .find(t => t.endOffset != null && t.endOffset.toLong >= v)
    await(ctx, System.currentTimeMillis() + 15000, in, out)(
      inTriggers.size == n && deliveredTo(head0 + n).isDefined)
    val commitAt = inTriggers.map(t => t.batchId -> t.endMs).toMap
    val measuredIdx = TrickleWarmup until n
    measuredIdx.foreach { i =>
      run.op(commitAt.contains(firstT + i) && deliveredTo(head0 + 1 + i).isDefined,
        s"trickle segment ${i + 1} not committed and delivered by the end of the run")
    }
    val lateness = measuredIdx.map(i => (landed(i) - due(i)) / 1e3)
    val lateP90 = Stats.quantile(lateness, 0.9)
    if (lateP90 > LatenessBoundS) {
      run.valid = false
      System.err.println(s"perfbench: generator ran late (p90 ${lateP90}s > ${LatenessBoundS}s): run invalid")
    }
    val lag = measuredIdx.flatMap(i => commitAt.get(firstT + i).map(c => (c - due(i)) / 1e3))
    val fresh = measuredIdx.flatMap(i => deliveredTo(head0 + 1 + i).map(t => (t.endMs - due(i)) / 1e3))
    run.note(s"trickle commit lag ${lag.mkString(" ")}, freshness ${fresh.mkString(" ")}")
    run.metric("commit_lag_p50_s", Stats.medianOr0(lag), "s", lag.size)
    run.metric("freshness_p50_s", Stats.medianOr0(fresh), "s", fresh.size)
    run.metric("gen_lateness_p90_s", lateP90, "s", lateness.size)
    run.e2e("latency_s") = Stats.medianOr0(fresh)
    if (fresh.size < measured) run.valid = false

    if (ctx.tracer.on) {
      val (jobsIn1, _) = jobsOf(ctx, in.id)
      val (jobsOut1, bytesOut1) = jobsOf(ctx, out.id)
      val tt = inTriggers.filter(_.batchId >= firstT + TrickleWarmup)
      val tc = tt.flatMap(t => Option(commits.get(t.batchId)))
      val cc = ct.flatMap(t => Option(commits.get(t.batchId)))
      val fg = ctx.tracer.jobs.acc("filegroups.commit")
      val fgc = ctx.tracer.jobs.acc("filegroups.catchup_commit")
      val outAll = ctx.progress.of(out.id)
      val outT = outAll.filter(_.startMs >= due(TrickleWarmup))
      (0 until B).foreach(i => parseSpan(ctx, d, boot.size + i))
      val r = run.layer
      r("deltastream.trigger_overhead_s") = Stats.medianOr0(tt.map(t => (t.totalMs - t.addBatchMs) / 1e3))
      r("deltastream.add_batch_s") = Stats.medianOr0(tt.map(_.addBatchMs / 1e3))
      r("deltastream.jobs_per_trigger") = (jobsIn1 - jobsC1).toDouble / n
      r("deltastream.catchup_trigger_overhead_s") = Stats.medianOr0(ct.map(t => (t.totalMs - t.addBatchMs) / 1e3))
      r("deltastream.catchup_jobs_per_trigger") = (jobsC1 - jobsC0).toDouble / B
      r("ingest.parse_s") = Stats.medianOr0(ctx.tracer.seconds("ingest.parse"))
      r("filegroups.commit_s") = Stats.medianOr0(tc.map(_.seconds))
      r("filegroups.executor_cpu_s") = fg.cpuNs / 1e9 / math.max(1, tc.size)
      r("filegroups.shuffle_bytes") = fg.shuffleWrite.toDouble / math.max(1, tc.size)
      r("filegroups.dirty_buckets") = Stats.medianOr0(tc.map(_.dirty.toDouble))
      r("filegroups.rows_rewritten_per_event") = fg.outputRecords.toDouble / math.max(1, tc.size * TrickleEvents)
      r("filegroups.files_written") = Stats.medianOr0(tc.map(_.files.toDouble))
      r("filegroups.bytes_written") = Stats.medianOr0(tc.map(_.bytes.toDouble))
      r("filegroups.catchup_commit_s") = Stats.medianOr0(cc.map(_.seconds))
      r("filegroups.catchup_executor_cpu_s") = fgc.cpuNs / 1e9 / math.max(1, cc.size)
      r("filegroups.catchup_shuffle_bytes") = fgc.shuffleWrite.toDouble / math.max(1, cc.size)
      r("incrementalstream.batch_s") = Stats.medianOr0(outT.map(_.totalMs / 1e3))
      r("incrementalstream.jobs_per_trigger") = (jobsOut1 - jobsOut0).toDouble / math.max(1, outAll.size)
      r("incrementalstream.bytes_read") = (bytesOut1 - bytesOut0).toDouble / math.max(1, outAll.size)
      r("gen.lateness_p90_s") = lateP90
    }
    in.stop()
    out.stop()
    run.note("check")
    ctx.checkTable(s"$Catalog.$Table", gen)
    // every key the trickle changed that is still live must have reached
    // the consumer with its final position
    val got = delivered.asScala.groupMapReduce(_._1)(_._2)(math.max)
    val changed = segs.flatten.map(_.id).distinct.filter(gen.live.contains)
    val missing = changed.count(k => !got.get(k).contains(gen.live(k)._3))
    run.op(missing == 0, s"consumer check: $missing of ${changed.size} changed keys not delivered")
    ctx.tableFootprint(d.table, gen.live.size)
  }
}

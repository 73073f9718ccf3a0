package graft.sources

import graft.SparkSpec
import graft.cdc.FileGroups
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graft-cdc STREAMING incremental source: offsets are table
  * versions, each micro-batch is the batch door's bounded incremental
  * cut — so every case here pins the stream against the batch
  * `startingVersion` option on the same table. */
class IncrementalStreamSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def log() = Tables.events(spark, sf).select(
    col("user_id").as("id"), col("event_id").as("lsn"),
    when(pmod(col("event_id"), lit(11)) === 0, "d")
      .when(pmod(col("event_id"), lit(3)) === 0, "u")
      .otherwise("c").as("op"),
    col("value"))

  /** Land every micro-batch into `landDir` partitioned by stream batch
    * id, with the batch's (start, end) versions NOT available to the
    * sink — exactly a downstream consumer's view. */
  private def landTo(landDir: String): (DataFrame, Long) => Unit =
    (b, id) => { graft.ops.DeltaProtocol.writeBatchPartition(b, id, landDir); () }

  /** The batch door's answer for the (va, vb] range: versionAsOf vb
    * composed with startingVersion va (IncrementalReadSpec pins this
    * composition against ChangeFeed.diff). */
  private def batchCut(catalog: String, va: Long, vb: Long): Seq[org.apache.spark.sql.Row] =
    spark.read.option("startingVersion", va).option("versionAsOf", vb)
      .table(s"$catalog.employees")
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq

  private def landed(landDir: String, batch: Long): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(landDir).filter(col("_batch_id") === batch)
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq

  test("each micro-batch is the batch door's bounded incremental cut; new commits stream in") {
    val root = tmpDir("graft_istream")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 300), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, t, l.filter($"lsn" >= 300 && $"lsn" < 600), 1L, Seq("id"), Seq("lsn"))
    spark.conf.set("spark.sql.catalog.graft_is1", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is1.root", root)

    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(landTo(s"$root/landed"))
      .start()
    try {
      q.processAllAvailable() // batch 0: (v0 → v1]
      // a commit landing while the stream runs becomes the next batch
      FileGroups.commit(spark, t, l.filter($"lsn" >= 600), 2L, Seq("id"), Seq("lsn"))
      q.processAllAvailable() // batch 1: (v1 → v2]
    } finally q.stop()

    val b0 = landed(s"$root/landed", 0L)
    val b1 = landed(s"$root/landed", 1L)
    assert(b0.nonEmpty && b0 == batchCut("graft_is1", 0L, 1L))
    assert(b1.nonEmpty && b1 == batchCut("graft_is1", 1L, 2L))
    // the union under latest-wins vs the one-shot incremental read
    // from the stream's start: every surviving changed row is
    // IDENTICAL, and the only extras a replaying consumer holds are
    // keys DELETED in a later batch — the documented non-CDC
    // incremental semantics (deletes are absent, not tombstoned; a
    // consumer needing them replays ranges through the TVF)
    val replayed = spark.read.parquet(s"$root/landed")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id").orderBy($"lsn".desc)))
      .filter($"rn" === 1).select($"id", $"lsn", $"op", $"value")
      .orderBy($"id").collect().toSeq
    val oneShot = batchCut("graft_is1", 0L, 2L)
    val replayedByKey = replayed.map(r => r.get(0) -> r).toMap
    assert(oneShot.nonEmpty &&
      oneShot.forall(r => replayedByKey.get(r.get(0)).contains(r)))
    val oneShotKeys = oneShot.map(_.get(0)).toSet
    val headKeys = FileGroups.read(spark, t).get
      .select($"id").as[Long].collect().toSet
    val extras = replayed.filterNot(r => oneShotKeys.contains(r.get(0)))
    assert(extras.forall(r => !headKeys.contains(r.getLong(0))),
      s"replay extras must be later-deleted keys only: $extras")
  }

  test("checkpoint recovery: a restarted stream resumes at its version, replays nothing") {
    val root = tmpDir("graft_istream_ckpt")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 400), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, t, l.filter($"lsn" >= 400 && $"lsn" < 800), 1L, Seq("id"), Seq("lsn"))
    spark.conf.set("spark.sql.catalog.graft_is2", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is2.root", root)

    def run(): Unit = {
      val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(landTo(s"$root/landed"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // lands (v0 → v1] as batch 0
    FileGroups.commit(spark, t, l.filter($"lsn" >= 800), 2L, Seq("id"), Seq("lsn"))
    run() // must resume AT v1: only (v1 → v2] lands, nothing replays

    val perBatch = spark.read.parquet(s"$root/landed")
      .groupBy($"_batch_id").count().orderBy($"_batch_id")
      .as[(Long, Long)].collect().toSeq
    assert(perBatch.map(_._1) == Seq(0L, 1L), perBatch.toString)
    assert(landed(s"$root/landed", 0L) == batchCut("graft_is2", 0L, 1L))
    assert(landed(s"$root/landed", 1L) == batchCut("graft_is2", 1L, 2L))
  }

  test("default start is 'latest' (future commits only); 'earliest' takes the oldest retained") {
    val root = tmpDir("graft_istream_start")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    spark.conf.set("spark.sql.catalog.graft_is3", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is3.root", root)

    // default: nothing lands until a NEW commit arrives
    val q = spark.readStream.format("graft-cdc").load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt_latest")
      .foreachBatch(landTo(s"$root/landed_latest"))
      .start()
    try {
      q.processAllAvailable()
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/landed_latest")) ||
        spark.read.parquet(s"$root/landed_latest").isEmpty)
      FileGroups.commit(spark, t, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$root/landed_latest")
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq ==
      batchCut("graft_is3", 0L, 1L))

    // earliest: the oldest retained version is the base
    val q2 = spark.readStream.format("graft-cdc").option("startingVersion", "earliest").load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt_earliest")
      .foreachBatch(landTo(s"$root/landed_earliest"))
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$root/landed_earliest")
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq ==
      batchCut("graft_is3", 0L, 1L))
  }

  test("aged-out bases and rollbacks below the stream position fail loudly, never a wrong diff") {
    val root = tmpDir("graft_istream_aged")
    val t = root + "/employees"
    val l = log()
    // default retention 2: three commits age v0 out
    FileGroups.commit(spark, t, l.filter($"lsn" < 300), 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    FileGroups.commit(spark, t, l.filter($"lsn" >= 300 && $"lsn" < 600), 1L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, t, l.filter($"lsn" >= 600), 2L, Seq("id"), Seq("lsn"))

    // an aged-out START fails at the first trigger
    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(10)
    }
    assert(ex.getMessage.contains("re-bootstrap"), ex.getMessage)

    // a stream STOPPED at v2, table cleaned past it while down → the
    // restart's base aged out: loud, with the re-bootstrap hint
    val q2 = spark.readStream.format("graft-cdc").option("startingVersion", 1).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    try q2.processAllAvailable() finally q2.stop() // lands (v1 → v2], checkpoint at v2
    FileGroups.commit(spark, t, l.filter($"lsn" < 100), 3L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, t, l.filter($"lsn" >= 100 && $"lsn" < 200), 4L, Seq("id"), Seq("lsn"))
    // retention 2 keeps {3,4}: the checkpointed base v2 is gone
    val q3 = spark.readStream.format("graft-cdc").option("startingVersion", 1).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    val ex3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable(); q3.awaitTermination(10)
    }
    assert(ex3.getMessage.contains("re-bootstrap"), ex3.getMessage)
  }

  test("pre-r19 manifests (no #ordhi) stream the same batches through the scan fallback") {
    val root = tmpDir("graft_istream_hdr")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    FileGroups.commit(spark, t, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    spark.conf.set("spark.sql.catalog.graft_is5", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is5.root", root)
    val want = batchCut("graft_is5", 0L, 1L) // resolved BEFORE the strip

    // strip v0's #ordhi header (a pre-r19 manifest) through the Hadoop
    // FS so the checksum sidecar stays consistent
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(s"$t/manifest_v0.tsv")
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val out = fs.create(mf, true)
    try out.write(text.split("\n").filterNot(_.startsWith("#ordhi="))
      .mkString("\n").getBytes("UTF-8")) finally out.close()

    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(landTo(s"$root/landed"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(landed(s"$root/landed", 0L) == want && want.nonEmpty)
  }

  test("empty base: the stream admits every head row, NULL-ord included (batch-door parity)") {
    // The r20 advice (low) finding: the stream's empty-base fallback
    // used a Long.MinValue sentinel and the per-row reader still ran
    // `ord > MinValue`, silently dropping NULL-ord rows the batch
    // rule's `IsNull(threshold) OR ord > threshold` serves — the two
    // doors diverged exactly where the scaladoc says they cannot. The
    // threshold now travels as Option[Long]: None (empty base) admits
    // everything, re-check skipped.
    val root = tmpDir("graft_istream_emptybase")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    // v0: an EMPTY commit — no files, no #ordhi (the base every head
    // row has changed since)
    FileGroups.commit(spark, t, l.filter(lit(false)), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    // v1: real rows, a third of them with NULL ord
    val rows = l.filter($"lsn" < 300)
      .withColumn("lsn", when($"id" % 3 === 0, lit(null).cast("long")).otherwise($"lsn"))
    FileGroups.commit(spark, t, rows, 1L, Seq("id"), Seq("lsn"))
    spark.conf.set("spark.sql.catalog.graft_isE", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_isE.root", root)

    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(landTo(s"$root/landed"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val b0 = landed(s"$root/landed", 0L)
    assert(b0.exists(_.isNullAt(1)),
      "NULL-ord rows must ride the stream when the base is empty")
    assert(b0 == batchCut("graft_isE", 0L, 1L) && b0.nonEmpty)
  }

  test("maxVersionsPerTrigger bounds each micro-batch to the next N retained versions") {
    // a long-backlog catch-up (earliest over many versions, or a
    // stream down for days) must not land as one giant batch: with
    // maxVersionsPerTrigger=1 the stream walks the timeline
    // version-by-version, each batch the single-version cut
    val root = tmpDir("graft_istream_limit")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 250), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, t, l.filter($"lsn" >= 250 && $"lsn" < 500), 1L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, t, l.filter($"lsn" >= 500 && $"lsn" < 750), 2L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, t, l.filter($"lsn" >= 750), 3L, Seq("id"), Seq("lsn"))
    spark.conf.set("spark.sql.catalog.graft_is6", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is6.root", root)

    val q = spark.readStream.format("graft-cdc")
      .option("startingVersion", 0).option("maxVersionsPerTrigger", 1).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(landTo(s"$root/landed"))
      .start()
    try q.processAllAvailable() finally q.stop()

    // three batches, one per version step — each the single-step cut
    val perBatch = spark.read.parquet(s"$root/landed")
      .select($"_batch_id").distinct().as[Long].collect().toSeq.sorted
    assert(perBatch == Seq(0L, 1L, 2L), perBatch.toString)
    assert(landed(s"$root/landed", 0L) == batchCut("graft_is6", 0L, 1L))
    assert(landed(s"$root/landed", 1L) == batchCut("graft_is6", 1L, 2L))
    assert(landed(s"$root/landed", 2L) == batchCut("graft_is6", 2L, 3L))

    // malformed limit fails at stream construction
    val bad = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft-cdc")
        .option("maxVersionsPerTrigger", "zero").load(t)
        .writeStream.option("checkpointLocation", s"$root/ckpt_bad")
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start()
      q2.processAllAvailable(); q2.awaitTermination(10)
    }
    assert(bad.getMessage.contains("maxVersionsPerTrigger"), bad.getMessage)
  }

  test("medallion hop: the stream maintains a DERIVED table; TVF-range deletes reconcile it exactly") {
    // the incremental-ETL composition (Hudi's incremental pull →
    // downstream upsert; the bronze→silver hop): a graft-cdc stream
    // over the BRONZE file-group table feeds foreachBatch, which
    // transforms each batch and commitStreamBatch-upserts it into the
    // SILVER file-group table — per trigger cost = bronze's changed
    // rows + silver's dirty buckets, never either table's size. The
    // non-CDC incremental view carries no delete markers (documented),
    // so the consumer reconciles each pulled RANGE through the
    // change-feed diff — per-range, not endpoint-to-endpoint: a key
    // created and deleted INSIDE the total range is invisible to one
    // big diff but was upserted into silver by its batch. After
    // reconcile, silver must equal the transform of bronze's head
    // EXACTLY.
    val root = tmpDir("graft_istream_hop")
    val bronze = root + "/bronze"
    val silver = root + "/silver"
    val l = log()
    FileGroups.setRetention(spark, bronze, 8)
    FileGroups.commit(spark, bronze, l.filter($"lsn" < 400), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, bronze, l.filter($"lsn" >= 400 && $"lsn" < 800), 1L, Seq("id"), Seq("lsn"))

    val ranges = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // consumed (va, vb]
    @volatile var lastSeen = 0L
    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(bronze)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val derived = b.select($"id", $"lsn", $"op", ($"value" * 2).as("value2"))
        FileGroups.commitStreamBatch(b.sparkSession, silver, derived, id,
          Seq("id"), Seq("lsn"), nBuckets = 4)
        // a real consumer reads its range from the checkpoint offsets;
        // the spec tracks it via the bronze head at batch time
        val nowHead = FileGroups.committedId(b.sparkSession, bronze).get
        ranges.synchronized { ranges += ((lastSeen, nowHead)); lastSeen = nowHead }
        ()
      }
      .start()
    try {
      q.processAllAvailable() // (0 -> 1]
      FileGroups.commit(spark, bronze, l.filter($"lsn" >= 800), 2L, Seq("id"), Seq("lsn"))
      q.processAllAvailable() // (1 -> 2]
    } finally q.stop()
    assert(ranges.toSeq == Seq((0L, 1L), (1L, 2L)), ranges.toString)

    // per-range delete reconciliation through the change-feed diff:
    // each pulled range's 'd' keys leave silver as op='d' CDC rows
    // whose lsn is the RANGE's own ord ceiling (#ordhi of vb) — above
    // every row the range could have delivered, BELOW every later
    // range's rows, so a key deleted in one range and RE-CREATED in a
    // later one survives as the re-created row (a too-high delete lsn
    // would kill it under latest-wins; the first draft of this spec
    // caught exactly that)
    ranges.zipWithIndex.foreach { case ((va, vb), i) =>
      val delLsn = FileGroups.manifestOrdHi(spark, bronze, vb).get
      val dels = graft.cdc.ChangeFeed.diff(
          FileGroups.readAt(spark, bronze, va).get, FileGroups.readAt(spark, bronze, vb).get,
          Seq("id"), "lsn", Seq("value"))
        .filter($"change_op" === "d")
        .select($"id", lit(delLsn).as("lsn"), lit("d").as("op"),
          lit(null).cast("double").as("value2"))
      FileGroups.commitStreamBatch(spark, silver, dels, 100L + i, Seq("id"), Seq("lsn"), 4)
    }

    // silver == transform(bronze head), exactly
    val got = FileGroups.read(spark, silver).get
      .select($"id", $"value2").orderBy($"id").collect().toSeq
    val want = FileGroups.read(spark, bronze).get
      .select($"id", ($"value" * 2).as("value2")).orderBy($"id").collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("lifecycle commits mid-stream: an ALTER is an empty batch; a purge forces re-bootstrap") {
    val root = tmpDir("graft_istream_life")
    val t = root + "/employees"
    val l = log()
    FileGroups.setRetention(spark, t, 8)
    FileGroups.commit(spark, t, l.filter($"lsn" < 400), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    spark.conf.set("spark.sql.catalog.graft_is7", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is7.root", root)

    val victim = FileGroups.read(spark, t).get
      .select($"id").orderBy($"id").as[Long].head()
    val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(landTo(s"$root/landed"))
      .start()
    try {
      // a METADATA-ONLY widen between triggers: the version advances but
      // rewrites no file group — the batch is EMPTY (offset still moves,
      // the stream does not stall or crash), and the stream's schema
      // stays pinned at start (the added column surfaces on restart)
      FileGroups.widenSchema(spark, t,
        Seq(org.apache.spark.sql.types.StructField("tier",
          org.apache.spark.sql.types.StringType, nullable = true)))
      q.processAllAvailable()
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/landed")) ||
        spark.read.parquet(s"$root/landed").isEmpty, "ALTER must land an empty batch")

      // a PURGE between triggers is a HISTORY REWRITE — its
      // forget-history step reclaims every pre-purge version, so the
      // stream's checkpointed base ages out and the stream fails
      // LOUDLY with the re-bootstrap hint: an incremental consumer
      // must never continue from a base that still referenced the
      // purged keys (the right-to-be-forgotten posture extends to
      // downstream consumers — silence would let them keep the data)
      FileGroups.purgeKeyTuples(spark, t, Seq("id"), Seq(Seq(victim)),
        FileGroups.committedId(spark, t).get + 1)
      val purged = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination(10)
      }
      assert(purged.getMessage.contains("re-bootstrap"), purged.getMessage)
    } finally q.stop()

    // a FRESH consumer re-bootstraps from the post-purge timeline and
    // streams the next commit — with the purged key gone end to end
    val vPost = FileGroups.committedId(spark, t).get
    FileGroups.commit(spark, t,
      l.filter($"lsn" >= 400 && $"lsn" < 500 && $"id" =!= victim),
      vPost + 1, Seq("id"), Seq("lsn"))
    val q2 = spark.readStream.format("graft-cdc").option("startingVersion", vPost).load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch(landTo(s"$root/landed2"))
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$root/landed2")
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(got.nonEmpty && got == batchCut("graft_is7", vPost, vPost + 1))
    assert(!got.exists(_.getLong(0) == victim))
  }

  test("malformed options and non-tables fail loudly at resolution") {
    val root = tmpDir("graft_istream_bad")
    val noTable = intercept[Exception] {
      spark.readStream.format("graft-cdc").load(s"$root/nothing")
    }
    assert(noTable.getMessage.contains("no committed file-group table"), noTable.getMessage)

    val t = root + "/employees"
    FileGroups.commit(spark, t, log().filter($"lsn" < 300), 0L, Seq("id"), Seq("lsn"), 4)
    val q = spark.readStream.format("graft-cdc").option("startingVersion", "one").load(t)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    val bad = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(10)
    }
    assert(bad.getMessage.contains("must be an integer"), bad.getMessage)
  }

  test("a table with two ordering columns, or a string one, fails loudly at the incremental doors") {
    // both doors decide changed-since with one integer threshold on one
    // ordering column; any other ordering must be refused, never read
    val root = tmpDir("graft_istream_ord")
    def streamError(t: String, ckpt: String): String = intercept[Exception] {
      val q = spark.readStream.format("graft-cdc").option("startingVersion", 0).load(t)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start()
      try { q.processAllAvailable(); q.awaitTermination(10); () } finally q.stop()
    }.getMessage

    val two = root + "/two"
    val b0 = Seq((1L, 10L, 0L, "c", 1.0), (2L, 11L, 0L, "c", 2.0))
      .toDF("id", "lsn", "seq", "op", "value")
    val b1 = Seq((1L, 20L, 0L, "u", 1.5)).toDF("id", "lsn", "seq", "op", "value")
    FileGroups.commit(spark, two, b0, 0L, Seq("id"), Seq("lsn", "seq"), nBuckets = 4)
    FileGroups.commit(spark, two, b1, 1L, Seq("id"), Seq("lsn", "seq"))
    spark.conf.set("spark.sql.catalog.graft_is_ord", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_is_ord.root", root)
    val batchDoor = intercept[Exception] {
      spark.read.option("startingVersion", 0).table("graft_is_ord.two").collect()
    }
    assert(batchDoor.getMessage.contains("needs exactly one ordering column"),
      batchDoor.getMessage)
    val streamDoor = streamError(two, s"$root/ckpt_two")
    assert(streamDoor.contains("needs exactly one ordering column"), streamDoor)

    val str = root + "/str"
    val s0 = Seq((1L, "a", "c", 1.0), (2L, "b", "c", 2.0)).toDF("id", "ord", "op", "value")
    FileGroups.commit(spark, str, s0, 0L, Seq("id"), Seq("ord"), nBuckets = 4)
    val stringOrd = streamError(str, s"$root/ckpt_str")
    assert(stringOrd.contains("integer-family ordering column"), stringOrd)
  }
}

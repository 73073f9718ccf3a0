package graft.cdc

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-group COW: only touched buckets rewrite, everything else
  * carries forward by manifest reference, and the merged view always
  * equals the one-shot collapse. */
class FileGroupsSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def log() = Tables.events(spark, sf).select(
    col("user_id").as("id"), col("event_id").as("lsn"),
    when(pmod(col("event_id"), lit(11)) === 0, "d")
      .when(pmod(col("event_id"), lit(3)) === 0, "u")
      .otherwise("c").as("op"),
    col("value"))

  test("3-batch incremental replay equals the one-shot latest-wins collapse") {
    val dir = tmpDir("graft_fg") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 300), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 300 && $"lsn" < 700), 1L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 700), 2L, Seq("id"), Seq("lsn"))
    val got = FileGroups.read(spark, dir).get
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    val want = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(got == want)
    // replay idempotence: re-committing an already-committed id is a no-op
    assert(FileGroups.commit(spark, dir, l.limit(5), 2L, Seq("id"), Seq("lsn")).isEmpty)
  }

  test("a small batch rewrites ONLY its hash buckets; clean buckets carry by reference") {
    val dir = tmpDir("graft_fg2") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    val before = FileGroups.read(spark, dir).get
      .select(input_file_name().as("f"), $"id")
    val fileOf = before.groupBy($"id").agg(first($"f").as("f"))
      .as[(Long, String)].collect().toMap

    // one-key batch: a single update for the smallest id
    val k = fileOf.keys.min
    val batch = Seq((k, 100000L, "u", 1.23)).toDF("id", "lsn", "op", "value")
    val dirty = FileGroups.commit(spark, dir, batch, 1L, Seq("id"), Seq("lsn"))
    assert(dirty.size == 1, s"one key must dirty exactly one bucket, got $dirty")

    val after = FileGroups.read(spark, dir).get
      .select(input_file_name().as("f"), $"id", $"lsn")
    val afterFiles = after.groupBy($"id").agg(first($"f").as("f"))
      .as[(Long, String)].collect().toMap
    // the updated key moved to a v1 file; every key in OTHER buckets
    // still reads from its ORIGINAL v0 file (not a rewritten copy)
    assert(afterFiles(k).contains("/v1/"))
    val moved = afterFiles.filter { case (_, f) => f.contains("/v1/") }.keySet
    val untouched = fileOf.keys.toSet -- moved
    assert(untouched.nonEmpty)
    untouched.foreach { id => assert(afterFiles(id) == fileOf(id), s"clean bucket rewritten for id $id") }
    // and the update itself landed
    assert(after.filter($"id" === k).select($"lsn").as[Long].head() == 100000L)
  }

  test("point lookup scans one file group, not the table; stats can empty the scan") {
    val dir = tmpDir("graft_fg3") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    val full = FileGroups.read(spark, dir).get
    val nFilesTotal = full.select(input_file_name()).distinct().count()
    val k = full.select(min($"id")).as[Long].head()

    val hit = FileGroups.pointLookup(spark, dir, Seq("id"), Seq(k)).get
    val want = full.filter($"id" === k).select($"id", $"lsn", $"op", $"value")
      .collect().toSeq
    assert(hit.select($"id", $"lsn", $"op", $"value").collect().toSeq == want)
    val nFilesHit = hit.select(input_file_name()).distinct().count()
    assert(nFilesHit < nFilesTotal,
      s"point lookup scanned $nFilesHit of $nFilesTotal files - no pruning")

    // a probe outside every bucket's [min,max] returns empty without
    // matching any file group's stats
    val ghost = FileGroups.pointLookup(spark, dir, Seq("id"), Seq(99999999L)).get
    assert(ghost.count() == 0)
  }

  test("string record keys: replay equals collapse, tuple point lookup prunes, tuple purge forgets") {
    // the common Debezium reality beyond integer PKs: a UUID-ish string
    // key must get the SAME index treatment — hash-bucket + key-bloom
    // pruning (no [lo,hi] stats: those are the integer-key extra)
    val dir = tmpDir("graft_fg_str") + "/t"
    val l = log().withColumn("id", concat(lit("u"), $"id"))
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val full = FileGroups.read(spark, dir).get
    val want = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(full.select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq == want)

    val k = full.select(min($"id")).as[String].head()
    val hit = FileGroups.pointLookupTuples(spark, dir, Seq("id"), Seq(Seq(k))).get
    assert(hit.select($"id", $"lsn", $"op", $"value").collect().toSeq ==
      full.filter($"id" === k).select($"id", $"lsn", $"op", $"value").collect().toSeq)
    val nFilesTotal = full.select(input_file_name()).distinct().count()
    val nFilesHit = hit.select(input_file_name()).distinct().count()
    assert(nFilesHit < nFilesTotal, s"string-key lookup scanned $nFilesHit of $nFilesTotal files")

    // index metadata answers the absent key (bloom one-sidedness: false
    // = definitely absent), and tagging classifies exactly
    val cand = FileGroups.bloomCandidateTuples(spark, dir, Seq("id"),
      Seq(Seq(k), Seq("no-such-key"))).get
    assert(cand.head == (Seq(k) -> true))
    assert(cand(1)._2 == false, "absent string key must not be a candidate")
    val tags = FileGroups.tagKeyTuples(spark, dir, Seq("id"),
      Seq(Seq(k), Seq("no-such-key"))).get.collect()
    assert(tags.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq((k, "update"), ("no-such-key", "insert")))

    // an EMPTY purge list is a NO-OP: no new version, and critically no
    // forgetHistory — a dynamically-computed empty purge set must never
    // cost the table its retained history and savepoints
    assert(FileGroups.purgeKeyTuples(spark, dir, Seq("id"), Seq.empty, 2L).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(0L, 1L))
    // empty probe lists degrade gracefully across the index surface
    assert(FileGroups.tagKeyTuples(spark, dir, Seq("id"), Seq.empty).get.count() == 0)
    assert(FileGroups.bloomCandidateTuples(spark, dir, Seq("id"), Seq.empty).get.isEmpty)

    // tuple purge: the key leaves the current state AND retained history
    FileGroups.purgeKeyTuples(spark, dir, Seq("id"), Seq(Seq(k)), 2L)
    assert(FileGroups.read(spark, dir).get.filter($"id" === k).count() == 0)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(2L), "pre-purge history must be forgotten")
  }

  test("composite record keys: tuple index prunes and purges; commit validates the pinned key") {
    val dir = tmpDir("graft_fg_comp") + "/t"
    // second key column with a small domain: the tuple (id, region) is
    // the record identity (region derived so the collapse semantics
    // stay comparable to the single-key oracle)
    val l = log().withColumn("region", pmod($"id", lit(5)).cast("int"))
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L,
      Seq("id", "region"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id", "region"), Seq("lsn"))
    val full = FileGroups.read(spark, dir).get
    val want = CdcMerge.snapshot(l, Seq("id", "region"), Seq("lsn"))
      .select($"id", $"region", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(full.select($"id", $"region", $"lsn", $"op", $"value")
      .orderBy($"id").collect().toSeq == want)

    val r0 = full.orderBy($"id").select($"id", $"region").head()
    val (kid, kreg) = (r0.getLong(0), r0.getInt(1))
    val hit = FileGroups.pointLookupTuples(spark, dir, Seq("id", "region"),
      Seq(Seq(kid, kreg))).get
    assert(hit.select($"id", $"lsn").collect().toSeq ==
      full.filter($"id" === kid && $"region" === kreg).select($"id", $"lsn").collect().toSeq)
    val nFilesTotal = full.select(input_file_name()).distinct().count()
    val nFilesHit = hit.select(input_file_name()).distinct().count()
    assert(nFilesHit < nFilesTotal, s"tuple lookup scanned $nFilesHit of $nFilesTotal files")
    // the WRONG tuple half returns nothing (the index hashes the whole
    // tuple; the exact filter guarantees zero rows either way)
    assert(FileGroups.pointLookupTuples(spark, dir, Seq("id", "region"),
      Seq(Seq(kid, (kreg + 1) % 5))).get.count() == 0)

    // tuple purge removes exactly that identity
    FileGroups.purgeKeyTuples(spark, dir, Seq("id", "region"), Seq(Seq(kid, kreg)), 2L)
    val after = FileGroups.read(spark, dir).get
    assert(after.filter($"id" === kid && $"region" === kreg).count() == 0)

    // the key is PINNED at creation: a commit (or probe) under a
    // different key list fails loudly instead of hashing into the
    // wrong buckets
    val ex = intercept[IllegalArgumentException] {
      FileGroups.commit(spark, dir, l.limit(3), 3L, Seq("id"), Seq("lsn"))
    }
    assert(ex.getMessage.contains("keyed by"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      FileGroups.pointLookupTuples(spark, dir, Seq("region"), Seq(Seq(kreg)))
    }
    assert(ex2.getMessage.contains("keyed by"), ex2.getMessage)
  }

  test("versioned point lookup probes a retained version's index (time-travel point read)") {
    val dir = tmpDir("graft_fg_plat") + "/t"
    FileGroups.commit(spark, dir,
      Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    FileGroups.commit(spark, dir,
      Seq((1L, 20L, "d", 0.0)).toDF("id", "lsn", "op", "value"), 1L, Seq("id"), Seq("lsn"))
    // key 1 is deleted at the head but alive at v0
    assert(FileGroups.pointLookupTuples(spark, dir, Seq("id"), Seq(Seq(1L))).get.count() == 0)
    val v0 = FileGroups.pointLookupTuplesAt(spark, dir, 0L, Seq("id"), Seq(Seq(1L))).get
      .select($"id", $"lsn").as[(Long, Long)].collect().toSeq
    assert(v0 == Seq((1L, 10L)))
    // unretained version -> None; pruning holds at the pinned version
    assert(FileGroups.pointLookupTuplesAt(spark, dir, 9L, Seq("id"), Seq(Seq(1L))).isEmpty)
    val full0 = FileGroups.readAt(spark, dir, 0L).get
    val nTotal = full0.select(input_file_name()).distinct().count()
    val nHit = FileGroups.pointLookupTuplesAt(spark, dir, 0L, Seq("id"), Seq(Seq(1L))).get
      .select(input_file_name()).distinct().count()
    assert(nHit <= nTotal && nHit <= 1)
  }

  test("property: tuple lookup equals the filtered full read across key shapes, splits and buckets") {
    // universally quantified over the index's whole input space: key
    // shape (long / string / composite), bucket count, batch split and
    // probe choice — the pruned read must ALWAYS equal the full read
    // restricted to the probes, and present tuples must always be
    // index candidates (bloom one-sidedness)
    val l = log().localCheckpoint()
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val shape = rnd.nextInt(3)
      val (keyed, keys) = shape match {
        case 0 => (l, Seq("id"))
        case 1 => (l.withColumn("id", concat(lit("k"), $"id")), Seq("id"))
        case 2 => (l.withColumn("region",
          pmod($"id", lit(3 + rnd.nextInt(5))).cast("int")), Seq("id", "region"))
      }
      val nb = 2 + rnd.nextInt(14)
      val cut = rnd.nextInt(900)
      val dir = tmpDir(s"graft_fg_tprop$seed") + "/t"
      FileGroups.commit(spark, dir, keyed.filter($"lsn" < cut), 0L, keys, Seq("lsn"), nb)
      FileGroups.commit(spark, dir, keyed.filter($"lsn" >= cut), 1L, keys, Seq("lsn"))
      val full = FileGroups.read(spark, dir).get
      val present = full.select(keys.map(col): _*).distinct().limit(8)
        .collect().map(_.toSeq).toSeq
      val absent: Seq[Seq[Any]] = shape match {
        case 0 => Seq(Seq(99999999L))
        case 1 => Seq(Seq("k-none"))
        case 2 => Seq(Seq(99999999L, 0))
      }
      val probes = present ++ absent
      val hit = FileGroups.pointLookupTuples(spark, dir, keys, probes).get
      val pred = probes.map(t => keys.zip(t).map { case (k, v) => col(k) === lit(v) }
        .reduce(_ && _)).reduce(_ || _)
      val want = full.filter(pred).orderBy($"id", $"lsn").collect().toSeq
      assert(hit.orderBy($"id", $"lsn").collect().toSeq == want,
        s"seed=$seed shape=$shape nb=$nb cut=$cut")
      val cand = FileGroups.bloomCandidateTuples(spark, dir, keys, probes).get
      present.indices.foreach(i =>
        assert(cand(i)._2, s"present tuple must be an index candidate (seed=$seed i=$i)"))
    }
  }

  test("property: random batch splits and bucket counts all replay to the one-shot collapse") {
    // the file-group invariant (partial commits == full recompute) must
    // hold regardless of where the log is cut or how many buckets the
    // table hashes into
    val l = log().localCheckpoint()
    val want = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val cuts = Seq.fill(2)(rnd.nextInt(1000)).sorted
      val nb = 1 + rnd.nextInt(15)
      val dir = tmpDir(s"graft_fg_prop$seed") + "/t"
      FileGroups.commit(spark, dir, l.filter($"lsn" < cuts(0)), 0L, Seq("id"), Seq("lsn"), nb)
      FileGroups.commit(spark, dir, l.filter($"lsn" >= cuts(0) && $"lsn" < cuts(1)), 1L, Seq("id"), Seq("lsn"))
      FileGroups.commit(spark, dir, l.filter($"lsn" >= cuts(1)), 2L, Seq("id"), Seq("lsn"))
      val got = FileGroups.read(spark, dir).get
        .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
      assert(got == want, s"seed=$seed cuts=$cuts nb=$nb")
    }
  }

  test("schema drift: a batch with a new column reconciles across buckets (U6)") {
    val dir = tmpDir("graft_fg_drift") + "/t"
    val b0 = Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, b0, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    // the drifted batch carries an extra column; only key 1's bucket
    // rewrites, so the table now mixes bucket files WITH and WITHOUT it
    val b1 = Seq((1L, 20L, "u", 1.5, "eu")).toDF("id", "lsn", "op", "value", "region")
    FileGroups.commit(spark, dir, b1, 1L, Seq("id"), Seq("lsn"))
    val got = FileGroups.read(spark, dir).get
      .select($"id", $"value", $"region")
      .as[(Long, Double, Option[String])].collect().sortBy(_._1).toSeq
    // mergeSchema surfaces the new column; old-bucket rows read null
    assert(got == Seq((1L, 1.5, Some("eu")), (2L, 2.0, None)))
  }

  test("streaming ingest twin: golden snapshot, per-batch partial commits, replay no-op") {
    val root = tmpDir("graft_fg_stream")
    CdcGen.writeTopicFiles(spark, n = 80, s"$root/topic", nBatches = 3)

    val q = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt", nBuckets = 8)
    q.processAllAvailable(); q.stop()
    assert(FileGroups.committedId(spark, s"$root/fg").contains(2L)) // 3 micro-batches

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "full_name", "department", "salary")
        .as[(Int, String, String, Int)].collect().sortBy(_._1).toSeq
    val got = FileGroups.read(spark, s"$root/fg").get
    assert(got.count() == 80 - 11) // minus multiples of 7
    assert(canon(got) == canon(CdcGen.expectedSnapshot(spark, 80)))

    // replay over the SAME checkpoint: exactly-once, state unchanged
    val q2 = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt", nBuckets = 8)
    q2.processAllAvailable(); q2.stop()
    assert(FileGroups.committedId(spark, s"$root/fg").contains(2L))
    assert(canon(FileGroups.read(spark, s"$root/fg").get) ==
      canon(CdcGen.expectedSnapshot(spark, 80)))

    // checkpoint LOST entirely (fresh dir): the whole topic replays
    // from scratch, and the store's stream-batch markers no-op every
    // replayed commit — exactly-once holds WITHOUT the checkpoint,
    // the crash-replay property the store protocol owns itself
    val q3 = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt_fresh", nBuckets = 8)
    q3.processAllAvailable(); q3.stop()
    assert(FileGroups.committedId(spark, s"$root/fg").contains(2L))
    assert(canon(FileGroups.read(spark, s"$root/fg").get) ==
      canon(CdcGen.expectedSnapshot(spark, 80)))
  }

  test("rollback resets stream-batch markers: a checkpoint-reset replay re-applies the topic") {
    val root = tmpDir("graft_fg_rbstream")
    CdcGen.writeTopicFiles(spark, n = 60, s"$root/topic", nBatches = 3)
    val q = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt", nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val head = FileGroups.committedId(spark, s"$root/fg").get
    assert(head == 2L)
    // roll back one version: the last stream batch's changes vanish,
    // and the rollback resets the stream-batch idempotence markers
    Savepoints.rollback(spark, s"$root/fg", head - 1)
    assert(FileGroups.committedId(spark, s"$root/fg").contains(head - 1))
    // the documented recovery: reset (here: fresh) checkpoint → the
    // topic replays and RE-APPLIES — with markers left standing the
    // replay would silently no-op and the operator would be stranded
    // one batch short with a healthy-looking timeline
    val q2 = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt_reset", nBuckets = 8)
    q2.processAllAvailable(); q2.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "full_name", "department", "salary")
        .as[(Int, String, String, Int)].collect().sortBy(_._1).toSeq
    assert(canon(FileGroups.read(spark, s"$root/fg").get) ==
      canon(CdcGen.expectedSnapshot(spark, 60)))
  }

  test("stream batches survive interleaved writers: version ids decouple from batch ids (no silent drop)") {
    // THE composition hazard of a two-door table: with version == batch
    // id, a SQL MERGE between stream runs bumps the head past the
    // stream's next batch id and the replay guard would swallow that
    // LIVE batch (checkpoint acks it — silent data loss). The stream
    // commit is keyed by _STREAM_BATCH_ markers instead; versions are
    // always head+1.
    val root = tmpDir("graft_fg_ileave")
    CdcGen.writeTopicFiles(spark, n = 80, s"$root/staging", nBatches = 3)
    // order the staged segment files by their CONTENT (min offset), not
    // by name: part-file names carry random UUIDs, so name order is not
    // write order and "the first two batches" would be arbitrary
    def minOffset(f: java.io.File): Long = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try """"offset":(\d+)""".r.findFirstMatchIn(src.getLines().next())
        .get.group(1).toLong
      finally src.close()
    }
    val staged = new java.io.File(s"$root/staging").listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .sortBy(minOffset).toSeq
    assert(staged.size == 3, staged.map(_.getName).toSeq)
    new java.io.File(s"$root/topic").mkdirs()
    def deliver(f: java.io.File): Unit =
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$root/topic", f.getName))
    // first two batches stream in
    staged.take(2).foreach(deliver)
    val q = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt", nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val head0 = FileGroups.committedId(spark, s"$root/fg").get
    // an interleaved non-stream writer (the SQL door's shape) takes a
    // version: bump one key's salary at a winning lsn
    val upd = FileGroups.read(spark, s"$root/fg").get.filter($"id" === 2)
      .withColumn("salary", lit(123456))
      .withColumn("lsn", $"lsn" + 10000000L)
      .withColumn("op", lit("u"))
    assert(upd.count() == 1)
    FileGroups.commit(spark, s"$root/fg", upd, head0 + 1, Seq("id"), Seq("lsn"))
    // the third topic batch arrives and the stream resumes: its batch
    // id (2) is now BELOW the head — it must still land
    deliver(staged(2))
    val q2 = FileGroups.run(spark, s"$root/topic", s"$root/fg", s"$root/ckpt", nBuckets = 8)
    q2.processAllAvailable(); q2.stop()
    assert(FileGroups.committedId(spark, s"$root/fg").contains(head0 + 2),
      "the resumed stream batch must take exactly one new version")
    val fin = FileGroups.read(spark, s"$root/fg").get
    // batch 3's tail events landed (full expected live count) AND the
    // interleaved update survived latest-wins
    assert(fin.count() == CdcGen.expectedSnapshot(spark, 80).count())
    assert(fin.filter($"id" === 2).select($"salary").as[Int].head() == 123456)
  }

  test("crash between data write and marker: dangling files are invisible; replay completes") {
    val dir = tmpDir("graft_fg_crash") + "/t"
    val b0 = Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, b0, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    // simulate a crash mid-commit-1: data + manifest written, NO marker
    val b1 = Seq((1L, 20L, "u", 9.9)).toDF("id", "lsn", "op", "value")
    b1.withColumn("_bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"id"), org.apache.spark.sql.functions.lit(4L)))
      .write.mode("overwrite").partitionBy("_bucket").parquet(s"$dir/files/v1")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT_1")))
    // readers still resolve v0 — the dangling dir is invisible
    assert(FileGroups.committedId(spark, dir).contains(0L))
    assert(FileGroups.read(spark, dir).get.count() == 2)
    // the replayed batch overwrites the garbage and commits
    assert(FileGroups.commit(spark, dir, b1, 1L, Seq("id"), Seq("lsn")).nonEmpty)
    val got = FileGroups.read(spark, dir).get
      .select($"id", $"value").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 9.9), (2L, 2.0)))
  }

  test("point lookup on an int-keyed table hashes probes at the committed type") {
    // xxhash64 is type-sensitive: before the manifest carried the table
    // schema, Long probes against an int-keyed table (e.g. the employees
    // envelope's int id) hashed into the wrong buckets and the lookup
    // silently returned empty
    val dir = tmpDir("graft_fg_int") + "/t"
    val ins = Seq((1, 10L, "c", 1.0), (2, 20L, "c", 2.0), (3, 30L, "c", 3.0))
      .toDF("id", "lsn", "op", "value") // id is IntegerType
    FileGroups.commit(spark, dir, ins, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    val hit = FileGroups.pointLookup(spark, dir, Seq("id"), Seq(2L)).get
    assert(hit.select($"id".cast("long"), $"value").as[(Long, Double)].collect().toSeq
      == Seq((2L, 2.0)))
  }

  test("an all-deleted table still reads as a TYPED empty frame") {
    val dir = tmpDir("graft_fg_empty") + "/t"
    val ins = Seq((1L, 10L, "c", 1.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, ins, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    val del = Seq((1L, 20L, "d", 0.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, del, 1L, Seq("id"), Seq("lsn"))
    val got = FileGroups.read(spark, dir).get
    // selecting table columns must resolve (schema from the manifest
    // header), not throw on a zero-column emptyDataFrame
    assert(got.select($"id", $"lsn", $"op", $"value").count() == 0)
  }

  test("deletes can empty a bucket; it leaves the manifest and the view") {
    val dir = tmpDir("graft_fg4") + "/t"
    // 2 keys, 2 buckets-ish: insert both, then delete one entirely
    val ins = Seq((1L, 10L, "c", 1.0), (2L, 20L, "c", 2.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, ins, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    val del = Seq((2L, 30L, "d", 0.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, del, 1L, Seq("id"), Seq("lsn"))
    val got = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L))
    assert(FileGroups.pointLookup(spark, dir, Seq("id"), Seq(2L)).get.count() == 0)
  }

  test("hard purge: keys vanish from current state, history, savepoints and disk") {
    val dir = tmpDir("graft_fg_purge") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    Savepoints.savepoint(spark, dir, 1L)
    val before = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    val purge = before.toSeq.sorted.take(3)
    assert(purge.nonEmpty)
    FileGroups.purgeKeys(spark, dir, Seq("id"), purge, 2L)
    // current state: purged keys gone, everything else intact
    val after = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    assert(after == before -- purge)
    // history: only the purge version remains; time travel cannot resurrect
    assert(Ingest.snapshotVersions(spark, dir) == Seq(2L))
    assert(FileGroups.readAt(spark, dir, 1L).isEmpty)
    assert(Savepoints.savepoints(spark, dir).isEmpty)
    // index: the rebuilt manifest no longer admits the keys
    val tags = FileGroups.tagKeys(spark, dir, Seq("id"), purge).get
      .select($"tag".as[String]).collect()
    assert(tags.forall(_ == "insert"))
    // disk: NO remaining parquet file anywhere under the table contains them
    val allOnDisk = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/files/*/_bucket=*").select($"id").as[Long].collect().toSet
    assert(purge.forall(p => !allOnDisk.contains(p)))
  }

  test("purge crash between commit and forget: old versions refuse to serve; next purge completes") {
    val dir = tmpDir("graft_fg_purge_crash") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val before = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    // simulate the crash window: the purge's rewrite COMMITTED as v2
    // (here: a delete commit stands in for the rewritten manifest) but
    // the JVM died before forgetHistory — the intent marker is still
    // standing and manifests v0/v1 still reference the purged key
    val victim = before.toSeq.min
    FileGroups.commit(spark, dir,
      Seq((victim, 99999L, "d", 0.0)).toDF("id", "lsn", "op", "value"),
      2L, Seq("id"), Seq("lsn"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_2"))
    assert(FileGroups.pendingPurge(spark, dir).contains(2L))
    // pre-purge versions fail LOUDLY (no silent resurrection) ...
    intercept[IllegalStateException] { FileGroups.readAt(spark, dir, 1L) }
    // ... while the current (already-purged) snapshot still serves
    assert(FileGroups.read(spark, dir).get.count() > 0)
    // the next purge call finishes the forget before its own work
    FileGroups.purgeKeys(spark, dir, Seq("id"), Seq(before.toSeq.max), 3L)
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(3L))
    assert(FileGroups.readAt(spark, dir, 1L).isEmpty) // manifest gone, plain None
    val after = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    assert(after == before - victim - before.toSeq.max)
  }

  test("purge crash before commit: versions stay readable; orphan rewrite is discarded") {
    val dir = tmpDir("graft_fg_purge_orphan") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    val before = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    // crash BEFORE the manifest commit: marker + partial rewrite dir,
    // no _COMMIT_5 — the table never changed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/files/v5/_bucket=0"))
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_5"))
    // an uncommitted marker blocks nothing: every version is untouched
    assert(FileGroups.readAt(spark, dir, 0L).get.count() == before.size)
    val victim = before.toSeq.min
    FileGroups.purgeKeys(spark, dir, Seq("id"), Seq(victim), 6L)
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/files/v5")))
    val after = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    assert(after == before - victim)
  }

  test("crash recovery forgets relative to the CRASHED purge id: post-purge commits and savepoints survive") {
    val dir = tmpDir("graft_fg_purge_recover") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val before = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
    val victim = before.min
    val other = (before - victim).max
    // the crashed purge: its rewrite committed as v2, marker left standing
    FileGroups.commit(spark, dir,
      Seq((victim, 99999L, "d", 0.0)).toDF("id", "lsn", "op", "value"),
      2L, Seq("id"), Seq("lsn"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // legitimate post-purge history and its savepoint — OUTSIDE the
    // crashed purge's mandate. Committed BEFORE the marker is planted:
    // commit() itself completes any standing intent first (so through
    // the public APIs this state can no longer arise), but recovery
    // must stay correct for an out-of-band marker too — it is the
    // forgetHistory-relative-to-pid property this test pins.
    FileGroups.commit(spark, dir,
      Seq((other, 99998L, "u", 7.7)).toDF("id", "lsn", "op", "value"),
      3L, Seq("id"), Seq("lsn"))
    Savepoints.savepoint(spark, dir, 3L)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_2"))
    // recovery completes the forget RELATIVE TO pid=2 (forgetting up to
    // the CURRENT id would drop v2's manifest + files and the savepoint)
    assert(FileGroups.completePendingPurge(spark, dir).contains(2L))
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(2L, 3L))
    assert(Savepoints.savepoints(spark, dir) == Set(3L))
    // both surviving versions still read with their data intact
    assert(FileGroups.readAt(spark, dir, 2L).get
      .filter($"id" === other && $"lsn" === 99998L).count() == 0)
    assert(FileGroups.readAt(spark, dir, 3L).get
      .filter($"id" === other).select($"lsn").as[Long].head() == 99998L)
    assert(!FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
      .contains(victim))
    // idempotent: nothing pending afterwards
    assert(FileGroups.completePendingPurge(spark, dir).isEmpty)
  }

  test("a plain commit completes a standing committed purge intent before taking the next id") {
    val dir = tmpDir("graft_fg_commit_recover") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val victim = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().min
    FileGroups.commit(spark, dir,
      Seq((victim, 99999L, "d", 0.0)).toDF("id", "lsn", "op", "value"),
      2L, Seq("id"), Seq("lsn"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_2"))
    // the next ORDINARY commit runs recovery first: the purge's forget
    // completes (pre-purge manifests drop), the marker clears, and the
    // commit lands — no reader window where v3 exists behind a marker
    FileGroups.commit(spark, dir,
      l.filter($"lsn" < 100).withColumn("lsn", $"lsn" + 200000L),
      3L, Seq("id"), Seq("lsn"))
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(2L, 3L))
    assert(FileGroups.readAt(spark, dir, 2L).isDefined)
  }

  test("an abandoned uncommitted purge marker is discarded by the next commit, never reclassified") {
    val dir = tmpDir("graft_fg_orphan_marker") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    // a purge wrote its intent at the next id (2) and crashed BEFORE
    // committing anything — the table never changed
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_2"))
    // an ordinary commit then takes id 2. Without recovery-first the
    // orphan marker would become a "committed purge" at that instant:
    // older versions would refuse to serve, and the next recovery would
    // destructively forget history for a purge that never ran.
    FileGroups.commit(spark, dir,
      l.filter($"lsn" < 100).withColumn("lsn", $"lsn" + 200000L),
      2L, Seq("id"), Seq("lsn"))
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(1L, 2L))
    // the older retained version serves without a resurrection refusal
    assert(FileGroups.readAt(spark, dir, 1L).get.count() > 0)
  }

  test("rollback completes a standing purge intent first: purged keys cannot resurrect") {
    val dir = tmpDir("graft_fg_rollback_purge") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val victim = FileGroups.read(spark, dir).get.select($"id").as[Long].collect().min
    // committed purge rewrite at v2, crash before forget (marker stands)
    FileGroups.commit(spark, dir,
      Seq((victim, 99999L, "d", 0.0)).toDF("id", "lsn", "op", "value"),
      2L, Seq("id"), Seq("lsn"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_PURGE_2"))
    // rolling back to a pre-purge version must NOT delete v2 and
    // reclassify the marker as uncommitted (recovery would then drop it
    // without the forget step, resurrecting the purged keys): rollback
    // completes the purge first, after which the pre-purge target is
    // forgotten and the rollback is a no-op
    assert(Savepoints.rollback(spark, dir, 1L).isEmpty)
    assert(FileGroups.pendingPurge(spark, dir).isEmpty)
    assert(Ingest.snapshotVersions(spark, dir) == Seq(2L))
    assert(FileGroups.readAt(spark, dir, 1L).isEmpty)
    assert(!FileGroups.read(spark, dir).get.select($"id").as[Long].collect().toSet
      .contains(victim))
  }

  test("bloom index: absent keys are rejected from metadata alone; tagging is exact") {
    val dir = tmpDir("graft_fg5") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val existing = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id").as[Long].collect().toSet
    // far-away absent keys: stats alone can't always reject them (they
    // exceed max so they can) — use keys INSIDE the live id range that
    // don't exist, which only the bloom can reject. With 4096-bit / 3-hash
    // blooms at fixture density the FP odds per probe are <1e-3; these
    // fixed probes are deterministic, so a pass is a pass forever.
    val absentInRange = (1L to 2000L).filterNot(existing.contains).take(8)
    val cand = FileGroups.bloomCandidates(spark, dir, Seq("id"),
      absentInRange ++ existing.take(5).toSeq).get
    absentInRange.foreach(p => assert(!cand(p), s"bloom failed to reject absent key $p"))
    existing.take(5).foreach(p => assert(cand(p), s"bloom rejected live key $p"))
    // tagging end-to-end: exact vs direct existence, including FP-squeeze
    val probes = (absentInRange ++ existing.take(10).toSeq).sorted
    val tags = FileGroups.tagKeys(spark, dir, Seq("id"), probes).get
      .select($"id".as[Long], $"tag".as[String]).collect().toMap
    probes.foreach { p =>
      val want = if (existing.contains(p)) "update" else "insert"
      assert(tags(p) == want, s"key $p tagged ${tags(p)}, want $want")
    }
  }

  test("lossy probes fail loudly instead of silently probing a different key") {
    // INT-keyed table: a long probe that wraps under a lossy cast must
    // throw, never return the wrapped key's row
    val dir = tmpDir("graft_fg_lossy") + "/t"
    val b0 = Seq((5, 10L, "c", 1.0), (6, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, b0, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    assert(FileGroups.pointLookup(spark, dir, Seq("id"), Seq(5L)).get.count() == 1)
    val e = intercept[IllegalArgumentException] {
      FileGroups.pointLookup(spark, dir, Seq("id"), Seq((1L << 32) + 5L)).get.count()
    }
    assert(e.getMessage.contains("lossy"), e.getMessage)

    // BIGINT-keyed table probed with strings (the SQL purge_keys shape):
    // '5' converts exactly, '5.7' truncates and 'abc' goes null — both
    // refused; a refused purge must leave the table fully untouched
    val dirL = tmpDir("graft_fg_lossy2") + "/t"
    val bl = Seq((5L, 10L, "c", 1.0), (7L, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dirL, bl, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    assert(FileGroups.pointLookupTuples(spark, dirL, Seq("id"), Seq(Seq("5"))).get.count() == 1)
    val e2 = intercept[IllegalArgumentException] {
      FileGroups.purgeKeyTuples(spark, dirL, Seq("id"), Seq(Seq("5.7")), 1L)
    }
    assert(e2.getMessage.contains("lossy"), e2.getMessage)
    assert(Ingest.snapshotVersions(spark, dirL) == Seq(0L),
      "a refused purge must not move the table or forget history")
    assert(FileGroups.pendingPurge(spark, dirL).isEmpty,
      "a refused purge must not leave an intent marker")
    assert(FileGroups.read(spark, dirL).get.count() == 2)
    val e3 = intercept[IllegalArgumentException] {
      FileGroups.pointLookupTuples(spark, dirL, Seq("id"), Seq(Seq("abc"))).get.count()
    }
    assert(e3.getMessage.contains("lossy"), e3.getMessage)
  }

  test("ordering columns are pinned: a commit with a different ord fails loudly") {
    val dir = tmpDir("graft_fg_ordpin") + "/t"
    val b0 = Seq((1L, 10L, "c", 1.0)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, b0, 0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      FileGroups.commit(spark, dir, b0, 1L, Seq("id"), Seq("value"))
    }
    assert(e.getMessage.contains("pinned"), e.getMessage)
    // case differences are not a mismatch (analyzer-default resolution)
    assert(FileGroups.commit(spark, dir,
      Seq((2L, 12L, "c", 3.0)).toDF("id", "lsn", "op", "value"),
      1L, Seq("id"), Seq("LSN")).nonEmpty)
  }

  test("decimal / date / timestamp record keys: lookup equals filter, index prunes (Debezium numeric/temporal PKs)") {
    // decimal(10,2) key — the Debezium `numeric` PK shape
    val ddir = tmpDir("graft_fg_dec") + "/t"
    val dec = log().withColumn("id", ($"id" + lit(0.25)).cast("decimal(10,2)"))
    FileGroups.commit(spark, ddir, dec.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, ddir, dec.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val dfull = FileGroups.read(spark, ddir).get
    val dk = dfull.select(min($"id")).head().getDecimal(0)
    val dhit = FileGroups.pointLookupTuples(spark, ddir, Seq("id"), Seq(Seq(dk))).get
    assert(dhit.select($"id", $"lsn").collect().toSeq ==
      dfull.filter($"id" === lit(dk)).select($"id", $"lsn").collect().toSeq)
    assert(dhit.select(input_file_name()).distinct().count() <
      dfull.select(input_file_name()).distinct().count(), "decimal-key lookup must prune")
    // a probe that needs rounding to fit the committed scale is lossy
    val eDec = intercept[IllegalArgumentException] {
      FileGroups.pointLookupTuples(spark, ddir, Seq("id"),
        Seq(Seq(new java.math.BigDecimal("1.005")))).get.count()
    }
    assert(eDec.getMessage.contains("lossy"), eDec.getMessage)

    // date key
    val datdir = tmpDir("graft_fg_date") + "/t"
    val dat = log().withColumn("id", date_add(lit("2020-01-01").cast("date"), ($"id" % 500).cast("int")))
    FileGroups.commit(spark, datdir, dat.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, datdir, dat.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val datfull = FileGroups.read(spark, datdir).get
    val datk = datfull.select(min($"id")).head().getDate(0)
    val dathit = FileGroups.pointLookupTuples(spark, datdir, Seq("id"), Seq(Seq(datk))).get
    assert(dathit.select($"id", $"lsn").orderBy($"lsn").collect().toSeq ==
      datfull.filter($"id" === lit(datk)).select($"id", $"lsn").orderBy($"lsn").collect().toSeq)

    // timestamp key
    val tdir = tmpDir("graft_fg_ts") + "/t"
    val ts = log().withColumn("id", timestamp_seconds($"id" % 500))
    FileGroups.commit(spark, tdir, ts.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, tdir, ts.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    val tfull = FileGroups.read(spark, tdir).get
    val tk = tfull.select(min($"id")).head().getTimestamp(0)
    val thit = FileGroups.pointLookupTuples(spark, tdir, Seq("id"), Seq(Seq(tk))).get
    assert(thit.select($"id", $"lsn").orderBy($"lsn").collect().toSeq ==
      tfull.filter($"id" === lit(tk)).select($"id", $"lsn").orderBy($"lsn").collect().toSeq)
    assert(thit.select(input_file_name()).distinct().count() <
      tfull.select(input_file_name()).distinct().count(), "timestamp-key lookup must prune")
  }

  test("cleaner retention: the policy widens the GC window, clean() shrinks it, savepoints pin through it") {
    val dir = tmpDir("graft_fgclean") + "/t"
    val l = log()
    // policy BEFORE the first commit (the CTAS ordering): keep 4 versions
    FileGroups.setRetention(spark, dir, 4)
    (0L to 4L).foreach { v =>
      FileGroups.commit(spark, dir, l.filter($"lsn" % 5 === v), v, Seq("id"), Seq("lsn"), nBuckets = 4)
    }
    // default GC would have kept {3,4}; the policy keeps the last 4
    assert(Ingest.snapshotVersions(spark, dir) == Seq(1L, 2L, 3L, 4L))
    // time travel reaches the WHOLE window without a savepoint...
    val atV1 = FileGroups.readAt(spark, dir, 1L)
    assert(atV1.isDefined && atV1.get.count() > 0)
    // ...and the window's ends diff into a change feed
    assert(ChangeFeed.diff(atV1.get, FileGroups.readAt(spark, dir, 4L).get,
      Seq("id"), "lsn", Seq("value")).count() > 0)
    assert(FileGroups.readAt(spark, dir, 0L).isEmpty)

    // pin v1, then SHRINK the window to the protocol minimum: the pin
    // survives the cleaner, only the unpinned out-of-window v2 reclaims
    Savepoints.savepoint(spark, dir, 1L)
    assert(FileGroups.clean(spark, dir, Some(2)) == Seq(2L))
    assert(Ingest.snapshotVersions(spark, dir) == Seq(1L, 3L, 4L))
    assert(FileGroups.readAt(spark, dir, 1L).isDefined)
    // a policy-only re-run reclaims nothing further
    assert(FileGroups.clean(spark, dir).isEmpty)
    // releasing the pin makes v1 cleaner fodder
    Savepoints.release(spark, dir, 1L)
    assert(FileGroups.clean(spark, dir) == Seq(1L))

    // the policy change left exactly ONE marker (create-new-then-drop-old)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_RETAIN_")).toSeq
    assert(markers == Seq("_RETAIN_2"), markers.toString)

    // the floor: a window below the protocol minimum is rejected loudly
    val ex = intercept[IllegalArgumentException](FileGroups.setRetention(spark, dir, 1))
    assert(ex.getMessage.contains("retention must be >= 2"))
  }

  test("property: the retention window invariant holds across policies and commit counts") {
    val l = log().limit(400).cache()
    val maxLsn = l.agg(max($"lsn")).head().getLong(0)
    for (retain <- Seq(2, 3, 5); n <- Seq(2, 4, 7)) {
      val dir = tmpDir(s"graft_fgret_${retain}_$n") + "/t"
      FileGroups.setRetention(spark, dir, retain)
      // RANGE split, not modulo: batches must deliver lsns in order
      // (the CDC stream contract — an out-of-order cross-batch replay
      // of a lower lsn after a delete would resurrect the key, as in
      // any tombstone-free latest-wins store)
      val step = maxLsn / n + 1
      (0L until n).foreach { v =>
        FileGroups.commit(spark, dir,
          l.filter($"lsn" >= v * step && $"lsn" < (v + 1) * step), v, Seq("id"), Seq("lsn"), 4)
      }
      val want = (0L until n).takeRight(math.min(n.toInt, retain))
      assert(Ingest.snapshotVersions(spark, dir) == want, s"retain=$retain n=$n")
      // every retained version time-travels; anything older is gone
      want.foreach(v => assert(FileGroups.readAt(spark, dir, v).isDefined, s"v$v retain=$retain n=$n"))
      (0L until n).filterNot(want.contains)
        .foreach(v => assert(FileGroups.readAt(spark, dir, v).isEmpty, s"v$v retain=$retain n=$n"))
      // the head always equals the full latest-wins collapse regardless of policy
      val got = FileGroups.read(spark, dir).get
        .select($"id", $"lsn").orderBy($"id").collect().toSeq
      val ref = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
        .select($"id", $"lsn").orderBy($"id").collect().toSeq
      assert(got == ref, s"retain=$retain n=$n")
    }
    l.unpersist()
  }

  /** Shuffle exchanges in an executed plan, counted through AQE's final
    * plan, its query stages and the plans of cached relations (the
    * commit writes from a persisted merge, so its exchange sits inside
    * an InMemoryTableScan). */
  private def shuffleExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    p match {
      case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
      case q: QueryStageExec => shuffleExchanges(q.plan)
      case m: InMemoryTableScanExec => shuffleExchanges(m.relation.cachedPlan)
      case e: ShuffleExchangeLike => 1 + e.children.map(shuffleExchanges).sum
      case other => other.children.map(shuffleExchanges).sum
    }
  }

  test("a commit into existing groups runs one exchange, at most 5 jobs, one file per group") {
    val dir = tmpDir("graft_fg_shape") + "/t"
    val base = (0L until 400L).map(i => (i, i, "c", i.toDouble)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, base, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    // updates, a delete and an insert: existing groups go dirty
    val batch = Seq((3L, 1000L, "u", -3.0), (77L, 1001L, "u", -77.0), (150L, 1002L, "d", 0.0),
      (260L, 1003L, "u", -260.0), (999L, 1004L, "c", 999.0)).toDF("id", "lsn", "op", "value")

    var dirty = Set.empty[Long]
    val seen = graft.SparkProbe(spark) {
      dirty = FileGroups.commit(spark, dir, batch, 1L, Seq("id"), Seq("lsn"))
    }
    val writes = seen.plans.filter(_.treeString.contains("InsertIntoHadoopFsRelationCommand"))
    assert(dirty.nonEmpty && dirty.size < 8, s"the batch must dirty some, not all, groups: $dirty")
    assert(writes.size == 1, s"one data write per commit, saw ${writes.size}")
    val plan = writes.head
    info(s"${seen.jobs} jobs, ${shuffleExchanges(plan)} shuffle exchange(s) in the write")
    assert(seen.jobs <= 5, s"a commit must run at most 5 jobs, ran ${seen.jobs}")
    assert(shuffleExchanges(plan) == 1, plan.treeString)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    dirty.foreach { b =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/files/v1/_bucket=$b"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"bucket $b: ${files.mkString(", ")}")
    }
    val got = FileGroups.read(spark, dir).get
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    val want = CdcMerge.snapshot(base.unionByName(batch), Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(got == want)
  }

  test("a manifest without a #schema= header still commits through the schema-merge read") {
    val dir = tmpDir("graft_fg_noschema") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    // strip the header (a manifest written before it existed) through
    // the Hadoop FS, so the checksum sidecar matches the edited bytes
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(s"$dir/manifest_v0.tsv")
    val in = fs.open(mf)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(text.contains("#schema="))
    val stripped = text.split("\n").filterNot(_.startsWith("#schema=")).mkString("\n")
    val out = fs.create(mf, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    val dirty = FileGroups.commit(spark, dir, l.filter($"lsn" >= 500), 1L, Seq("id"), Seq("lsn"))
    assert(dirty.nonEmpty)
    val got = FileGroups.read(spark, dir).get
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    val want = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(got == want)
  }

  test("a stray _COMMIT_ name (a copy in progress) is not a commit: head and read are unchanged") {
    val dir = tmpDir("graft_fg_stray") + "/t"
    val l = log()
    FileGroups.commit(spark, dir, l.filter($"lsn" < 500), 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    FileGroups.commit(spark, dir, l.filter($"lsn" >= 500 && $"lsn" < 800), 1L, Seq("id"), Seq("lsn"))
    def rows() = FileGroups.read(spark, dir).get
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    val before = rows()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT_7._COPYING_")))
    assert(FileGroups.committedId(spark, dir).contains(1L))
    assert(Ingest.snapshotVersions(spark, dir) == Seq(0L, 1L))
    assert(rows() == before)
    // the other marker kinds a commit lists (purge intents, savepoints)
    // skip stray names too: the next commit lands normally
    Seq("_PURGE_9._COPYING_", "_SAVEPOINT_0._COPYING_").foreach(n =>
      assert(fs.createNewFile(new org.apache.hadoop.fs.Path(s"$dir/$n"))))
    assert(FileGroups.commit(spark, dir, l.filter($"lsn" >= 800), 2L, Seq("id"), Seq("lsn")).nonEmpty)
    assert(FileGroups.committedId(spark, dir).contains(2L))
    val want = CdcMerge.snapshot(l, Seq("id"), Seq("lsn"))
      .select($"id", $"lsn", $"op", $"value").orderBy($"id").collect().toSeq
    assert(rows() == want)
  }

  test("a stream commit into existing groups runs exactly 3 jobs") {
    val dir = tmpDir("graft_fg_stream3") + "/t"
    val base = (0L until 400L).map(i => (i, i, "c", i.toDouble)).toDF("id", "lsn", "op", "value")
    FileGroups.commit(spark, dir, base, 0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    val batch = Seq((3L, 1000L, "u", -3.0), (150L, 1002L, "d", 0.0), (999L, 1004L, "c", 999.0))
      .toDF("id", "lsn", "op", "value")
    var dirty = Set.empty[Long]
    val seen = graft.SparkProbe(spark) {
      dirty = FileGroups.commitStreamBatch(spark, dir, batch, 0L, Seq("id"), Seq("lsn"))
    }
    assert(dirty.nonEmpty)
    // bucket discovery, the exchange's map stage, the write
    assert(seen.jobs == 3, seen.jobStages.mkString("\n"))
  }

  /** Version `id`'s manifest lines: bucket -> (lo, hi, count, bloom hex)
    * as the file spells them, and the `#ordhi` header. */
  private def manifestLines(dir: String, id: Long): (Map[Long, Seq[String]], Option[Long]) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$dir/manifest_v$id.tsv"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val ordHi = lines.collectFirst { case h if h.startsWith("#ordhi=") =>
      h.stripPrefix("#ordhi=").toLong }
    val entries = lines.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val f = l.split("\t", -1)
      f(0).toLong -> Seq(f(2), f(3), f(4), f(5))
    }.toMap
    (entries, ordHi)
  }

  /** The same lines recomputed by a `groupBy(_bucket)` over the files
    * version `id` references: [lo,hi] only for a single integer key,
    * the bloom by the historical exploded (bucket, word) `bit_or`. */
  private def recomputed(dir: String, id: Long, keys: Seq[String], nb: Int,
                         intKey: Boolean): (Map[Long, Seq[String]], Option[Long]) = {
    val df = FileGroups.readAt(spark, dir, id).get
      .withColumn("_b", pmod(xxhash64(keys.map(col): _*), lit(nb.toLong)))
    val stat = if (intKey) col(keys.head).cast("long") else lit(null).cast("long")
    val stats = df.groupBy($"_b").agg(min(stat), max(stat), count(lit(1)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val pos = explode(array((0 until 3).map(i =>
      pmod(xxhash64(keys.map(col) :+ lit(i): _*), lit(4096L))): _*)).as("pos")
    val words = df.select($"_b", pos)
      .selectExpr("_b", "CAST(pos / 64 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS m")
      .groupBy($"_b", $"w").agg(expr("bit_or(m)"))
      .collect().groupBy(_.getLong(0))
    val entries = stats.map { case (b, r) =>
      val arr = Array.fill(64)(0L)
      words(b).foreach(w => arr(w.getInt(1)) = w.getLong(2))
      def opt(i: Int) = if (r.isNullAt(i)) "" else r.getLong(i).toString
      b -> Seq(opt(1), opt(2), r.getLong(3).toString, arr.map(w => f"$w%016x").mkString)
    }
    val ordHi = df.agg(max($"lsn")).collect().head
    (entries, if (ordHi.isNullAt(0)) None else Some(ordHi.getLong(0)))
  }

  test("observed manifest entries equal a groupBy(_bucket) recomputation over the written files") {
    // int, string and composite keys; lsn rises across commits and the
    // max-lsn row survives, so #ordhi is the version's max lsn
    val shapes = Seq(
      ("int", Seq("id"), (i: Long) => Seq(i), Seq(StructField("id", LongType))),
      ("string", Seq("id"), (i: Long) => Seq(s"u$i"), Seq(StructField("id", StringType))),
      ("composite", Seq("id", "region"), (i: Long) => Seq[Any](i / 3, (i % 3).toInt),
        Seq(StructField("id", LongType), StructField("region", IntegerType))))
    shapes.foreach { case (name, keys, keyOf, keyFields) =>
      val dir = tmpDir(s"graft_fg_obs_$name") + "/t"
      val schema = StructType(keyFields ++ Seq(StructField("lsn", LongType),
        StructField("op", StringType), StructField("value", DoubleType)))
      def rows(xs: Seq[(Long, Long, String)]) = spark.createDataFrame(
        spark.sparkContext.parallelize(xs.map { case (i, lsn, op) =>
          org.apache.spark.sql.Row.fromSeq(keyOf(i) ++ Seq(lsn, op, i.toDouble)) }), schema)
      val nb = 8
      FileGroups.commit(spark, dir, rows((0L until 300L).map(i => (i, i, "c"))), 0L,
        keys, Seq("lsn"), nBuckets = nb)
      // every key of one bucket deleted: that group merges to empty
      val bucketOf = FileGroups.read(spark, dir).get
        .select(pmod(xxhash64(keys.map(col): _*), lit(nb.toLong)).as("b"), col("value"))
        .as[(Long, Double)].collect()
      val emptied = bucketOf.head._1
      val deletes = bucketOf.collect { case (b, v) if b == emptied => (v.toLong, 500L, "d") }
      val kept = bucketOf.collect { case (b, v) if b != emptied => v.toLong }
      FileGroups.commit(spark, dir, rows(deletes.toSeq ++
        Seq((kept.head, 600L, "u"), (kept.last, 700L, "u"))), 1L, keys, Seq("lsn"))
      for (v <- Seq(0L, 1L)) {
        val (got, gotOrdHi) = manifestLines(dir, v)
        val (want, wantOrdHi) = recomputed(dir, v, keys, nb, intKey = name == "int")
        assert(got == want, s"$name v$v")
        assert(gotOrdHi == wantOrdHi, s"$name v$v")
      }
      assert(!manifestLines(dir, 1L)._1.contains(emptied), s"$name: emptied bucket $emptied")
    }
  }

  test("16 dirty groups spread evenly over the write tasks") {
    val dir = tmpDir("graft_fg_even") + "/t"
    FileGroups.commit(spark, dir,
      (0L until 16000L).map(i => (i, i, "c", i.toDouble)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    // every group dirty: one update per 100 keys
    val batch = (0L until 16000L by 100L).map(i => (i, 100000L + i, "u", -1.0))
      .toDF("id", "lsn", "op", "value")
    val seen = graft.SparkProbe(spark) {
      assert(FileGroups.commit(spark, dir, batch, 1L, Seq("id"), Seq("lsn")).size == 16)
    }
    val writes = seen.taskBytesWritten.values.filter(_.sum > 0)
    assert(writes.size == 1, seen.taskBytesWritten)
    val tasks = writes.head
    val ratio = tasks.max / (tasks.sum.toDouble / tasks.size)
    info(f"${tasks.size} write tasks, bytes ${tasks.mkString(", ")}, max/mean $ratio%.3f")
    // a murmur3 hash of 16 buckets over 4 partitions lands 6/6/3/1
    // groups per task (max/mean 1.5); dense placement lands 4/4/4/4
    assert(ratio <= 1.25, tasks)
    assert(FileGroups.read(spark, dir).get.count() == 16000L)
  }

  test("a Scala-door read of a 16-group table counts in at most 2 jobs") {
    val dir = tmpDir("graft_fg_read2") + "/t"
    FileGroups.commit(spark, dir,
      (0L until 4000L).map(i => (i, i, "c", i.toDouble)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    var n = 0L
    val seen = graft.SparkProbe(spark) { n = FileGroups.read(spark, dir).get.count() }
    info(s"${seen.jobs} jobs")
    assert(n == 4000L)
    assert(seen.jobs <= 2, seen.jobStages.mkString("\n"))
  }

  test("a lookup whose probes prune every group is a typed empty frame that reads no file") {
    val dir = tmpDir("graft_fg_pruned") + "/t"
    FileGroups.commit(spark, dir,
      (0L until 200L).map(i => (i, i, "c", i.toDouble)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 8)
    // far outside every group's [lo,hi]: the stats prune them all
    val got = FileGroups.pointLookup(spark, dir, Seq("id"), Seq(1000000L)).get
    assert(got.schema == FileGroups.read(spark, dir).get.schema)
    val seen = graft.SparkProbe(spark)(assert(got.collect().isEmpty))
    val scans = seen.nodes.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall(_.relation.location.rootPaths.isEmpty),
      seen.plans.map(_.treeString).mkString("\n"))
  }

  test("an empty first commit publishes a typed, empty version (no rows observed)") {
    val dir = tmpDir("graft_fg_empty0") + "/t"
    val empty = Seq.empty[(Long, Long, String, Double)].toDF("id", "lsn", "op", "value")
    assert(FileGroups.commit(spark, dir, empty, 0L, Seq("id"), Seq("lsn"), nBuckets = 4).isEmpty)
    assert(FileGroups.committedId(spark, dir).contains(0L))
    assert(FileGroups.manifestEntries(spark, dir, 0L).isEmpty)
    val got = FileGroups.read(spark, dir).get
    assert(got.columns.toSeq == Seq("id", "lsn", "op", "value") && got.count() == 0L)
  }
}

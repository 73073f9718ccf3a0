package graft.sources

import graft.SparkSpec
import graft.cdc.FileGroups

/** MERGE INTO on graft_cdc tables: standard SQL syntax lowered onto
  * the crash-safe FileGroups.commit protocol by the post-hoc analyzer
  * rule (GraftExtensions). Pins the action semantics (first clause
  * wins, partial SET keeps target values, DELETE lowers to the CDC
  * 'd' row), the SQL-standard cardinality guard, the unsupported-
  * clause rejections, and idempotent re-merge convergence. */
class FileGroupMergeSpec extends SparkSpec {

  import spark.implicits._

  private def chainMsg(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  /** Fresh 3-row table under a fresh warehouse root. */
  private def mkTable(): String = {
    val root = tmpDir("graft_fgmerge")
    val t = root + "/emp"
    FileGroups.commit(spark,
      t,
      Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0))
        .toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    spark.conf.set("spark.sql.catalog.graft_cdc", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdc.root", root)
    t
  }

  private def state(): Seq[(Long, Long, String, Double)] =
    spark.sql("SELECT id, lsn, op, value FROM graft_cdc.emp ORDER BY id")
      .as[(Long, Long, String, Double)].collect().toSeq

  test("update + conditional delete + insert through plain SQL, committed as a new version") {
    val t = mkTable()
    spark.sql(
      """MERGE INTO graft_cdc.emp t
        |USING (SELECT * FROM VALUES (1L, 20L, 9.9D), (3L, 21L, 0.1D), (7L, 22L, 7.7D)
        |       AS x(id, lsn, value)) s
        |ON t.id = s.id
        |WHEN MATCHED AND s.value < 0.5 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn, op = 'u'
        |WHEN NOT MATCHED THEN INSERT (id, lsn, op, value) VALUES (s.id, s.lsn, 'c', s.value)
        |""".stripMargin)
    assert(state() == Seq((1L, 20L, "u", 9.9), (2L, 11L, "c", 2.0), (7L, 22L, "c", 7.7)))
    // landed as a versioned commit through the protocol (marker + manifest)
    assert(FileGroups.committedId(spark, t).contains(1L))
    assert(FileGroups.readAt(spark, t, 1L).get.count() == 3)
  }

  test("partial SET keeps unset target columns; re-running the merge is a fixpoint") {
    mkTable()
    val merge =
      """MERGE INTO graft_cdc.emp t
        |USING (SELECT 1L AS id, 42.0D AS v) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET value = s.v
        |""".stripMargin
    spark.sql(merge)
    // lsn and op keep the target row's values — the batch row ties the
    // target's ord and commit's tie-break prefers the batch
    val once = state()
    assert(once == Seq((1L, 10L, "c", 42.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
    spark.sql(merge)
    assert(state() == once)
  }

  test("a target row matched by two source rows is a cardinality violation, not a double-update") {
    mkTable()
    val ex = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft_cdc.emp t
          |USING (SELECT * FROM VALUES (1L, 20L, 1.0D), (1L, 21L, 2.0D) AS x(id, lsn, value)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn
          |""".stripMargin)
    }
    assert(chainMsg(ex).contains("cardinality"), chainMsg(ex))
    // and nothing committed
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
  }

  test("WHEN NOT MATCHED BY SOURCE fails loudly (full-table anti-scan is a non-goal)") {
    mkTable()
    val ex = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft_cdc.emp t
          |USING (SELECT 1L AS id) s
          |ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
    }
    assert(chainMsg(ex).contains("NOT MATCHED BY SOURCE"), chainMsg(ex))
  }

  test("UPDATE ... WHERE applies assignments to hit rows only; re-run is a fixpoint") {
    val t = mkTable()
    val stmt = "UPDATE graft_cdc.emp SET value = CAST(id AS DOUBLE) / 2, op = 'u' WHERE id >= 2"
    spark.sql(stmt)
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "u", 1.0), (3L, 12L, "u", 1.5)))
    assert(FileGroups.committedId(spark, t).contains(1L)) // versioned commit
    spark.sql(stmt)
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "u", 1.0), (3L, 12L, "u", 1.5)))
  }

  test("DELETE ... WHERE removes hit keys through the CDC collapse; absent keys are a no-op") {
    val t = mkTable()
    spark.sql("DELETE FROM graft_cdc.emp WHERE value > 1.5")
    assert(state() == Seq((1L, 10L, "c", 1.0)))
    // deleted keys stay deleted on re-run (empty batch still commits safely)
    spark.sql("DELETE FROM graft_cdc.emp WHERE value > 1.5")
    assert(state() == Seq((1L, 10L, "c", 1.0)))
    assert(FileGroups.committedId(spark, t).exists(_ >= 1L))
  }

  test("INSERT INTO has upsert semantics: new keys land, existing keys take the batch row") {
    val t = mkTable()
    spark.sql("INSERT INTO graft_cdc.emp VALUES (7L, 20L, 'c', 7.7), (1L, 10L, 'u', 1.5)")
    assert(state() == Seq((1L, 10L, "u", 1.5), (2L, 11L, "c", 2.0),
      (3L, 12L, "u", 3.0), (7L, 20L, "c", 7.7)))
    assert(FileGroups.committedId(spark, t).contains(1L))
    // an INSERT ... SELECT aligns through the same analyzer path
    spark.sql("INSERT INTO graft_cdc.emp SELECT id + 10, lsn + 100, op, value FROM graft_cdc.emp WHERE id = 2")
    assert(state().contains((12L, 111L, "c", 2.0)))
  }

  test("a statement hitting nothing is a true no-op: no version bump, no history erosion") {
    val t = mkTable()
    val v0 = FileGroups.committedId(spark, t)
    // none of these touch a row — an empty commit would bump the
    // version and, under two-version GC, retry-looped no-ops would age
    // real snapshots out of time travel
    spark.sql("DELETE FROM graft_cdc.emp WHERE id = 999")
    spark.sql("UPDATE graft_cdc.emp SET value = 0.0 WHERE id = 999")
    spark.sql(
      """MERGE INTO graft_cdc.emp t
        |USING (SELECT 999L AS id, 1.0D AS v) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET value = s.v
        |""".stripMargin)
    assert(FileGroups.committedId(spark, t) == v0)
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
  }

  test("UPDATE of a record-key column is rejected (delete+insert in disguise)") {
    mkTable()
    val ex = intercept[Throwable] {
      spark.sql("UPDATE graft_cdc.emp SET id = id + 100 WHERE id = 1")
    }
    assert(chainMsg(ex).contains("record key"), chainMsg(ex))
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
  }

  test("assigning the ordering column a lower value fails loudly instead of silently losing latest-wins") {
    val t = mkTable()
    // row id=1 has lsn=10; an UPDATE to lsn=1 would commit a version
    // whose batch row LOSES the latest-wins collapse — old state served,
    // statement "succeeded". The guard refuses before committing.
    val exU = intercept[Throwable] {
      spark.sql("UPDATE graft_cdc.emp SET lsn = 1, value = 9.9 WHERE id = 1")
    }
    assert(chainMsg(exU).contains("ordering"), chainMsg(exU))
    val exM = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft_cdc.emp t
          |USING (SELECT 1L AS id, 1L AS new_lsn) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET lsn = s.new_lsn, value = 9.9
          |""".stripMargin)
    }
    assert(chainMsg(exM).contains("ordering"), chainMsg(exM))
    // neither statement committed anything
    assert(FileGroups.committedId(spark, t).contains(0L))
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
    // equal (tie -> batch wins) and higher values still land
    spark.sql("UPDATE graft_cdc.emp SET lsn = 10, value = 4.5 WHERE id = 1")
    spark.sql("UPDATE graft_cdc.emp SET lsn = 99, value = 5.5 WHERE id = 2")
    assert(state() == Seq((1L, 10L, "c", 4.5), (2L, 99L, "c", 5.5), (3L, 12L, "u", 3.0)))
  }

  test("the CDC op column resolves case-insensitively across DELETE and MERGE") {
    val root = tmpDir("graft_fgmerge_opcase")
    FileGroups.commit(spark,
      root + "/emp",
      Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0))
        .toDF("id", "lsn", "OP", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    spark.conf.set("spark.sql.catalog.graft_cdcc", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdcc.root", root)
    spark.sql("DELETE FROM graft_cdcc.emp WHERE id = 2")
    assert(spark.sql("SELECT id FROM graft_cdcc.emp").as[Long].collect().toSeq == Seq(1L))
  }

  test("nested-field assignments are rejected loudly, never silently dropped") {
    // the batch builder applies assignments by target-attribute exprId,
    // so a GetStructField key would match nothing and keep the target
    // value — the rule must reject it up front
    val root = tmpDir("graft_fgmerge_nested")
    FileGroups.commit(spark,
      root + "/emp",
      spark.sql("SELECT * FROM VALUES (1L, 10L, 'c', named_struct('x', 1, 'y', 'a')) AS t(id, lsn, op, meta)"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    spark.conf.set("spark.sql.catalog.graft_cdcn", classOf[FileGroupCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdcn.root", root)
    val exU = intercept[Throwable] {
      spark.sql("UPDATE graft_cdcn.emp SET meta.x = 5 WHERE id = 1")
    }
    assert(chainMsg(exU).contains("nested field"), chainMsg(exU))
    val exM = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft_cdcn.emp t
          |USING (SELECT 1L AS id, 7 AS nx) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET meta.x = s.nx
          |""".stripMargin)
    }
    assert(chainMsg(exM).contains("nested field"), chainMsg(exM))
    // nothing committed by either rejected statement
    assert(FileGroups.committedId(spark, root + "/emp").contains(0L))
    // assigning the WHOLE struct column still works
    spark.sql("UPDATE graft_cdcn.emp SET meta = named_struct('x', 5, 'y', 'b') WHERE id = 1")
    assert(spark.sql("SELECT meta.x, meta.y FROM graft_cdcn.emp WHERE id = 1")
      .as[(Int, String)].collect().toSeq == Seq((5, "b")))
  }

  test("first matching clause wins among multiple conditional matched actions") {
    mkTable()
    spark.sql(
      """MERGE INTO graft_cdc.emp t
        |USING (SELECT * FROM VALUES (1L, 100.0D), (2L, 200.0D) AS x(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.id = 1 THEN UPDATE SET value = s.v + 0.5
        |WHEN MATCHED THEN UPDATE SET value = s.v
        |""".stripMargin)
    assert(state() == Seq((1L, 10L, "c", 100.5), (2L, 11L, "c", 200.0), (3L, 12L, "u", 3.0)))
  }

  // ------------------------------------------------------------------
  // The registry's SQL-door fixture queries rest on FIXPOINT arguments
  // (their persisted /tmp tables are mutated per invocation, so the
  // oracle is stable only because re-applying each statement sequence
  // reproduces the same final state). The three cases below convert
  // those documented arguments into executable guards on FRESH tables:
  // any future edit to the registry statements that breaks the fixpoint
  // fails here, not as a flaky CORRECTNESS drift three rounds later.

  import org.apache.spark.sql.functions.{col, lit, pmod, when}

  private val sf = "/root/testdata/sf0.001"

  private def cdcLog() = graft.tables.Tables.events(spark, sf).select(
    col("user_id").as("id"), col("event_id").as("lsn"),
    when(pmod(col("event_id"), lit(11)) === 0, "d")
      .when(pmod(col("event_id"), lit(3)) === 0, "u")
      .otherwise("c").as("op"),
    col("value"))

  private def mkCatalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[FileGroupCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  test("q_cdc_sql_merge's statement is a fixpoint on (id, lsn, value): second run reproduces the state") {
    val root = tmpDir("graft_fgfix_m")
    FileGroups.commit(spark, root + "/employees", cdcLog(), 0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    mkCatalog("graft_fpm", root)
    val merge =
      s"""MERGE INTO graft_fpm.employees t
         |USING (SELECT user_id + 7 AS id,
         |              CAST((SELECT max(event_id) + 1
         |                    FROM parquet.`$sf/events.parquet`) + user_id AS BIGINT) AS lsn,
         |              max(value) AS value
         |       FROM parquet.`$sf/events.parquet` GROUP BY user_id) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.value < 0.5 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn, op = 'u'
         |WHEN NOT MATCHED AND s.value >= 0.5 THEN
         |  INSERT (id, lsn, op, value) VALUES (s.id, s.lsn, 'c', s.value)
         |""".stripMargin
    spark.sql(merge)
    val once = spark.sql("SELECT id, lsn, value FROM graft_fpm.employees ORDER BY id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(once.nonEmpty)
    spark.sql(merge)
    val twice = spark.sql("SELECT id, lsn, value FROM graft_fpm.employees ORDER BY id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(twice == once, "the registry MERGE must be a fixpoint on (id, lsn, value)")
  }

  test("q_cdc_sql_dml's UPDATE+DELETE sequence is a full-row fixpoint") {
    val root = tmpDir("graft_fgfix_d")
    FileGroups.commit(spark, root + "/employees", cdcLog(), 0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    mkCatalog("graft_fpd", root)
    def applyDml(): Seq[(Long, Long, String, Double)] = {
      spark.sql(
        """UPDATE graft_fpd.employees
          |SET value = CAST(id AS DOUBLE) / 1000, op = 'u'
          |WHERE id % 10 = 3""".stripMargin)
      spark.sql("DELETE FROM graft_fpd.employees WHERE id % 13 = 0")
      spark.sql("SELECT id, lsn, op, value FROM graft_fpd.employees ORDER BY id")
        .as[(Long, Long, String, Double)].collect().toSeq
    }
    val once = applyDml()
    assert(once.nonEmpty)
    assert(applyDml() == once, "the registry UPDATE+DELETE must be a full-row fixpoint")
  }

  test("q_cdc_sql_maintain's savepoint/rollback/release sequence is a fixpoint incl. the version timeline") {
    val root = tmpDir("graft_fgfix_t")
    val l = cdcLog()
    val n = graft.tables.Tables.events(spark, sf).count()
    val (c1, c2) = (n * 2 / 5, n * 4 / 5)
    val t = root + "/employees"
    FileGroups.commit(spark, t, l.filter(col("lsn") < c1), 0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    FileGroups.commit(spark, t, l.filter(col("lsn") >= c1 && col("lsn") < c2), 1L, Seq("id"), Seq("lsn"))
    FileGroups.commit(spark, t, l.filter(col("lsn") >= c2), 2L, Seq("id"), Seq("lsn"))
    mkCatalog("graft_fpt", root)
    def applyMaint(): (Seq[Long], Seq[(Long, Long, String, Double)]) = {
      spark.sql("CALL graft_fpt.create_savepoint(table => 'employees', version => 1)")
      spark.sql("CALL graft_fpt.rollback(table => 'employees', version => 1)")
      spark.sql("CALL graft_fpt.release_savepoint(table => 'employees', version => 1)")
      (graft.cdc.Ingest.snapshotVersions(spark, t),
        spark.sql("SELECT id, lsn, op, value FROM graft_fpt.employees ORDER BY id")
          .as[(Long, Long, String, Double)].collect().toSeq)
    }
    val once = applyMaint()
    assert(once._2.nonEmpty && once._1.lastOption.contains(1L))
    assert(applyMaint() == once, "the registry maintenance sequence must be a fixpoint")
  }

  test("MERGE and DML work on a STRING-keyed table (keys resolved from the manifest)") {
    val root = tmpDir("graft_fgmerge_str")
    FileGroups.commit(spark, root + "/emp",
      Seq(("u1", 10L, "c", 1.0), ("u2", 11L, "c", 2.0))
        .toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    mkCatalog("graft_strm", root)
    spark.sql(
      """MERGE INTO graft_strm.emp t
        |USING (SELECT * FROM VALUES ('u1', 20L, 9.9D), ('u9', 21L, 7.7D) AS x(id, lsn, value)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn, op = 'u'
        |WHEN NOT MATCHED THEN INSERT (id, lsn, op, value) VALUES (s.id, s.lsn, 'c', s.value)
        |""".stripMargin)
    spark.sql("DELETE FROM graft_strm.emp WHERE id = 'u2'")
    assert(spark.sql("SELECT id, lsn, value FROM graft_strm.emp ORDER BY id")
      .as[(String, Long, Double)].collect().toSeq ==
      Seq(("u1", 20L, 9.9), ("u9", 21L, 7.7)))
    // the key-equality DELETE's batch-build scan was file-group-pruned
    // (string probe through the scan builder) — the plan-side pin lives
    // in FileGroupCatalogSpec; here the VALUES must be right
  }

  test("MERGE and DML work on a COMPOSITE-keyed table; half-key cardinality violations fail") {
    val root = tmpDir("graft_fgmerge_comp")
    FileGroups.commit(spark, root + "/emp",
      Seq((1L, 0, 10L, "c", 1.0), (1L, 1, 11L, "c", 2.0), (2L, 0, 12L, "c", 3.0))
        .toDF("id", "region", "lsn", "op", "value"),
      0L, Seq("id", "region"), Seq("lsn"), nBuckets = 4)
    mkCatalog("graft_compm", root)
    // the catalog resolves (id, region) from the manifest; the merge
    // routes and guards on the WHOLE tuple — (1,0) and (1,1) are
    // distinct records
    spark.sql(
      """MERGE INTO graft_compm.emp t
        |USING (SELECT * FROM VALUES (1L, 0, 20L, 9.9D), (2L, 1, 21L, 7.7D)
        |       AS x(id, region, lsn, value)) s
        |ON t.id = s.id AND t.region = s.region
        |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn, op = 'u'
        |WHEN NOT MATCHED THEN INSERT (id, region, lsn, op, value)
        |  VALUES (s.id, s.region, s.lsn, 'c', s.value)
        |""".stripMargin)
    spark.sql("DELETE FROM graft_compm.emp WHERE id = 1 AND region = 1")
    assert(spark.sql("SELECT id, region, lsn, value FROM graft_compm.emp ORDER BY id, region")
      .as[(Long, Int, Long, Double)].collect().toSeq ==
      Seq((1L, 0, 20L, 9.9), (2L, 0, 12L, 3.0), (2L, 1, 21L, 7.7)))
    // joining on HALF the key matches one target row against two source
    // rows — the SQL-standard cardinality guard must fire on the full
    // key tuple, not a prefix
    val ex = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft_compm.emp t
          |USING (SELECT * FROM VALUES (2L, 30L, 1.0D), (2L, 31L, 2.0D) AS x(id, lsn, value)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn
          |""".stripMargin)
    }
    assert(chainMsg(ex).contains("cardinality"), chainMsg(ex))
  }

  test("a statement executed against a stale snapshot fails with the re-run hint — never a lost update") {
    // The optimistic-concurrency pair under test: resolvedCommitted pins
    // the version at ANALYSIS time, the execution-time recheck detects a
    // commit that landed in between. Staged deterministically so the
    // recheck LOGIC itself is pinned at an exact interleaving point;
    // the live unsynchronized two-thread race is the next test (sound
    // since the per-table commit lock made in-process publishes atomic).
    val root = tmpDir("graft_fgstale")
    FileGroups.commit(spark, root + "/emp",
      Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    mkCatalog("graft_stale", root)
    def staleAnalyzed(sql: String) = {
      val qe = spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(sql))
      qe.assertAnalyzed() // lowers to the command, PINNING version 0
      qe.analyzed
    }
    val staleUpdate = staleAnalyzed(
      "UPDATE graft_stale.emp SET value = 111.0, lsn = 60 WHERE id = 1")
    val staleMerge = staleAnalyzed(
      """MERGE INTO graft_stale.emp t USING (SELECT 2L AS id, 70L AS lsn, 9.0D AS v) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET value = s.v, lsn = s.lsn""".stripMargin)
    // the interleaving writer wins version 1
    spark.sql("UPDATE graft_stale.emp SET value = 22.0, lsn = 50 WHERE id = 2")
    for (stale <- Seq(staleUpdate, staleMerge)) {
      val ex = intercept[Throwable] {
        org.apache.spark.sql.classic.GraftPlanBuilder.ofRows(spark, stale).collect()
      }
      assert(chainMsg(ex).contains("concurrent commit") && chainMsg(ex).contains("re-run"),
        chainMsg(ex))
    }
    // exactly one writer won; the losers changed NOTHING (no silent
    // partial application), and a fresh re-run of the loser succeeds
    def st() = spark.sql("SELECT id, lsn, value FROM graft_stale.emp ORDER BY id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(st() == Seq((1L, 10L, 1.0), (2L, 50L, 22.0)))
    spark.sql("UPDATE graft_stale.emp SET value = 111.0, lsn = 60 WHERE id = 1")
    assert(st() == Seq((1L, 60L, 111.0), (2L, 50L, 22.0)))
  }

  test("two live writer threads race one table: exactly-one-winner per version, losers retry on the hint, final state = serial replay") {
    // The UNSYNCHRONIZED twin of the staged test above: two threads
    // hammer DML at the same table with no coordination beyond the
    // store's own optimistic concurrency (per-table commit lock makes
    // each publish atomic in-process; the version recheck turns every
    // raced statement into a loud re-run conflict). The assertions
    // hold under ANY interleaving — that is the property: no schedule
    // exists where an update is silently lost or double-applied.
    import scala.jdk.CollectionConverters._
    val root = tmpDir("graft_fgrace")
    val iterations = 6
    FileGroups.commit(spark, root + "/emp",
      (1L to 8L).map(i => (i, 10L, "c", 0.0)).toDF("id", "lsn", "op", "value"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 4)
    mkCatalog("graft_race", root)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // each thread owns a key parity, so the intended final state is
    // interleaving-independent: value = its own last iteration's stamp
    def worker(parity: Int): Thread = new Thread(() => {
      try {
        for (i <- 1 to iterations) {
          var done = false
          var attempts = 0
          while (!done) {
            attempts += 1
            assert(attempts <= 100, s"writer $parity iteration $i: livelock (100 retries)")
            try {
              spark.sql(s"UPDATE graft_race.emp SET value = ${parity * 1000 + i}.0, " +
                s"lsn = lsn + 1 WHERE id % 2 = $parity")
              done = true
            } catch {
              case e: Throwable =>
                // the ONLY admissible failure is the loud optimistic-
                // concurrency conflict carrying the re-run hint
                val msg = chainMsg(e)
                assert(msg.contains("concurrent commit") && msg.contains("re-run"), msg)
                conflicts.incrementAndGet()
                ()
            }
          }
        }
      } catch { case t: Throwable => failures.add(t); () }
    })
    val ts = Seq(worker(0), worker(1))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(failures.isEmpty,
      failures.asScala.map(chainMsg).mkString("\n"))
    // every landed statement took exactly one version: 2 threads ×
    // iterations statements on top of v0 — no lost updates, no
    // double-published ids
    assert(FileGroups.committedId(spark, root + "/emp").contains(2L * iterations))
    // final state = the serial replay of the winners: each key carries
    // its owner's LAST stamp and exactly `iterations` ord bumps
    val got = spark.sql("SELECT id, lsn, value FROM graft_race.emp ORDER BY id")
      .as[(Long, Long, Double)].collect().toSeq
    val want = (1L to 8L).map(id =>
      (id, 10L + iterations, ((id % 2) * 1000 + iterations).toDouble))
    assert(got == want)
  }

  /** A 20k-row, 16-group table behind catalog `cat`, and the text of a
    * 100-row MERGE (50 matched updates, 50 inserts) into it — the shape
    * of perfbench's serve statement. */
  private def serveShaped(cat: String): (String, String) = {
    val root = tmpDir("graft_fgmerge_serve")
    FileGroups.commit(spark, root + "/emp",
      (0L until 20000L).map(i => (i, i, "c", i.toDouble, s"name_$i"))
        .toDF("id", "lsn", "op", "value", "name"),
      0L, Seq("id"), Seq("lsn"), nBuckets = 16)
    mkCatalog(cat, root)
    val values = (0 until 100).map { i =>
      val id = if (i % 2 == 0) i * 199L else 20000L + i
      s"(${id}L, ${30000 + i}L, ${i}.5D, 'n$i')"
    }.mkString(", ")
    (root + "/emp",
      s"""MERGE INTO $cat.emp t
         |USING (SELECT * FROM VALUES $values AS s(id, lsn, value, name)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET value = s.value, name = s.name, lsn = s.lsn, op = 'u'
         |WHEN NOT MATCHED THEN INSERT (id, lsn, op, value, name)
         |  VALUES (s.id, s.lsn, 'c', s.value, s.name)""".stripMargin)
  }

  test("a serve-shaped MERGE runs at most 6 jobs and caches one relation") {
    val (t, merge) = serveShaped("graft_serve")
    val seen = graft.SparkProbe(spark)(spark.sql(merge))
    info(s"${seen.jobs} jobs, ${seen.cachedRelations} cached relation(s)")
    assert(seen.jobs <= 6, seen.jobStages.mkString("\n"))
    assert(seen.cachedRelations == 1, seen.plans.map(_.treeString).mkString("\n"))
    assert(FileGroups.committedId(spark, t).contains(1L))
    val got = spark.sql("SELECT count(*), sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) " +
      "FROM graft_serve.emp").as[(Long, Long)].collect().toSeq
    assert(got == Seq((20050L, 50L)))
  }

  test("a MERGE guard violation publishes nothing: no manifest, no marker, no data, head unmoved") {
    val t = mkTable()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def listing() = fs.listStatus(new org.apache.hadoop.fs.Path(t)).map(_.getPath.getName).toSet ++
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/files")).map(_.getPath.getName)
    val before = listing()
    val violations = Seq(
      "cardinality" -> """MERGE INTO graft_cdc.emp t
        |USING (SELECT * FROM VALUES (1L, 20L, 1.0D), (1L, 21L, 2.0D), (9L, 22L, 9.0D)
        |  AS x(id, lsn, value)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn
        |WHEN NOT MATCHED THEN INSERT (id, lsn, op, value) VALUES (s.id, s.lsn, 'c', s.value)""",
      "ordering" -> """MERGE INTO graft_cdc.emp t
        |USING (SELECT * FROM VALUES (2L, 1L), (3L, 99L) AS x(id, new_lsn)) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET lsn = s.new_lsn, value = 9.9""",
      // two matches of one target row are a violation even when no
      // clause acts on them (the batch then holds match rows only)
      "cardinality" -> """MERGE INTO graft_cdc.emp t
        |USING (SELECT * FROM VALUES (1L, 5.0D), (1L, 6.0D) AS x(id, v)) s ON t.id = s.id
        |WHEN MATCHED AND s.v > 100 THEN UPDATE SET value = s.v""")
    violations.foreach { case (kind, sql) =>
      val ex = intercept[Throwable](spark.sql(sql.stripMargin))
      assert(chainMsg(ex).contains(kind), chainMsg(ex))
      assert(listing() == before, s"$kind left ${listing() -- before}")
      assert(FileGroups.committedId(spark, t).contains(0L))
    }
    assert(state() == Seq((1L, 10L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0)))
    // without the duplicate, the same statement commits
    spark.sql("""MERGE INTO graft_cdc.emp t
      |USING (SELECT * FROM VALUES (1L, 20L, 1.0D), (9L, 22L, 9.0D) AS x(id, lsn, value)) s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET value = s.value, lsn = s.lsn
      |WHEN NOT MATCHED THEN INSERT (id, lsn, op, value) VALUES (s.id, s.lsn, 'c', s.value)"""
      .stripMargin)
    assert(FileGroups.committedId(spark, t).contains(1L))
    assert(state() == Seq((1L, 20L, "c", 1.0), (2L, 11L, "c", 2.0), (3L, 12L, "u", 3.0),
      (9L, 22L, "c", 9.0)))
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.cdc.FileGroups

/** One closed-loop SQL client against a table with a retained version
  * history: point lookups, GROUP BY scans, `startingVersion` reads of
  * head-1 and `MERGE INTO` statements, every result checked against the
  * model. */
object Serve {
  val Keys = 20000
  val HistorySegments = 1
  val HistoryEvents = 500
  val Retain = 8
  val MergeRows = 100
  /** One cycle of the mix; each cycle's order is shuffled by the seed. */
  val Mix = Seq("lookup" -> 8, "scan" -> 1, "incr" -> 1, "merge" -> 1)

  private val Cols = "id, full_name, email, phone, department, salary, created_at, op, lsn"
  private def table = s"${Pipeline.Catalog}.${Pipeline.Table}"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val run = ctx.run
    val gen = new Gen(run.seed)
    // the model's log position at each table version: version v holds
    // every event with lsn <= versionLsn(v)
    val versionLsn = mutable.ArrayBuffer.empty[Long]
    val segs = gen.inserts(Keys) +: (1 to HistorySegments).map { _ =>
      versionLsn += gen.lsn
      gen.changes(HistoryEvents, 0.8, 0.05)
    }
    versionLsn += gen.lsn
    run.config ++= Seq("keys" -> Keys.toString, "buckets" -> Pipeline.Buckets.toString,
      "history_segments" -> HistorySegments.toString, "history_events" -> HistoryEvents.toString,
      "retain" -> Retain.toString, "merge_rows" -> MergeRows.toString,
      "op_mix" -> Mix.map { case (k, n) => s"$k=$n" }.mkString(","), "client" -> "closed-loop,1")
    val segBytes = segs.map(Wire.render)
    var d: Pipeline.Dirs = null
    ctx.setup(3) { rep =>
      if (d != null) ctx.rm(d.root)
      d = Pipeline.Dirs(s"${ctx.work}/serve-$rep")
      segBytes.zipWithIndex.foreach { case (s, i) => Wire.land(d.topic, f"seg-$i%06d", s) }
      val q = Pipeline.ingest(ctx, d, Some(Retain), new java.util.concurrent.ConcurrentHashMap(),
        _ => "setup.filegroups.commit")
      try q.processAllAvailable() finally q.stop()
    }
    val tr = ctx.tracer
    val lat = mutable.LinkedHashMap(Mix.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
    val mergeFiles = mutable.ArrayBuffer.empty[Double]

    /** Plan (`queryExecution.executedPlan`), then execute, each in its own span. */
    def planExec(layer: String, kind: String, df: => DataFrame): Array[Row] = {
      val q = tr.span(s"$layer.${kind}plan") { val f = df; f.queryExecution.executedPlan; f }
      tr.span(s"$layer.${kind}exec")(q.collect())
    }

    def lookup(): Unit = {
      val k = if (gen.nextInt(10) == 0) gen.unusedId() else gen.randomLiveId()
      val rows = planExec("catalog", "lookup_", spark.sql(s"SELECT $Cols FROM $table WHERE id = $k"))
      val want = gen.live.get(k)
      val got = rows.headOption.map(r => (Emp(r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getInt(5), r.getInt(6)), r.getString(7), r.getLong(8)))
      run.op(rows.length <= 1 && got == want, s"lookup id=$k: got $got, want $want")
    }

    def scan(): Unit = {
      val rows = planExec("catalog", "scan_", spark.sql(
        s"SELECT department, count(*) AS n, sum(salary) AS s FROM $table GROUP BY department"))
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = gen.live.values.groupMapReduce(_._1.department)(e => (1L, e._1.salary.toLong)) {
        case ((a, b), (c, e)) => (a + c, b + e) }
      run.op(got == want, s"scan: got $got, want $want")
    }

    def incr(): Unit = {
      val v = versionLsn.size - 2
      val rows = planExec("incrementalread", "", spark.read.option("startingVersion", v.toLong)
        .table(table).select("id", "lsn"))
      val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toSet
      val want = gen.live.iterator.collect { case (k, (_, _, l)) if l > versionLsn(v) => k -> l }.toSet
      run.op(got == want, s"startingVersion $v read: ${got.size} rows, want ${want.size}")
    }

    def merge(): Unit = {
      val ids = mutable.LinkedHashSet.empty[Int]
      while (ids.size < MergeRows * 9 / 10) ids += gen.randomLiveId()
      val src = (ids.toSeq.map(_ -> "u") ++ (1 to MergeRows / 10).map(_ => gen.freshId() -> "c"))
        .map { case (id, op) => (gen.row(id), op, gen.nextLsn()) }
      val values = src.map { case (e, op, l) =>
        s"(${e.id}, '${e.fullName}', '${e.email}', '${e.phone}', '${e.department}', " +
          s"${e.salary}, ${e.createdAt}, '$op', ${l}L)" }.mkString(", ")
      val sql =
        s"""MERGE INTO $table t
           |USING (SELECT * FROM VALUES $values AS s($Cols)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET full_name = s.full_name, email = s.email,
           |  phone = s.phone, department = s.department, salary = s.salary,
           |  created_at = s.created_at, op = s.op, lsn = s.lsn
           |WHEN NOT MATCHED THEN INSERT ($Cols, ts_ms, kafka_ts, created_date)
           |  VALUES (s.id, s.full_name, s.email, s.phone, s.department, s.salary, s.created_at,
           |    s.op, s.lsn, 1685000000000L + s.lsn, timestamp_millis(1685000000000L + s.lsn),
           |    date_add(DATE'1970-01-01', s.created_at))""".stripMargin
      tr.span("filegroupmerge.statement")(spark.sql(sql))
      src.foreach { case (e, op, l) => gen.record(e.id, op, l, Some(e)) }
      versionLsn += gen.lsn
      val head = FileGroups.committedId(spark, d.table)
      run.op(head.contains(versionLsn.size - 1L), s"MERGE committed version $head, want ${versionLsn.size - 1}")
      if (tr.on) mergeFiles += ctx.du(s"${d.table}/files/v${versionLsn.size - 1}")._1
    }

    val ops = Map[String, () => Unit]("lookup" -> lookup, "scan" -> scan, "incr" -> incr, "merge" -> merge)
    // one untimed statement of each kind first, so no timed one pays JIT warm-up
    Mix.foreach { case (k, _) =>
      try ops(k)() catch { case e: Exception => run.op(ok = false, s"$k (warm-up): $e") }
    }
    val cycle = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }
    val t0 = System.nanoTime()
    var statements = 0
    // whole cycles only, so every run times the same mix
    while (System.nanoTime() - t0 < run.seconds * 1000000000L) {
      val order = cycle.toArray
      for (i <- order.indices.reverse) { // Fisher-Yates with the seeded generator
        val j = gen.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
      }
      order.foreach { k =>
        val s0 = System.nanoTime()
        try ops(k)() catch { case e: Exception => run.op(ok = false, s"$k: $e") }
        lat(k) += (System.nanoTime() - s0) / 1e9
        statements += 1
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    lat.foreach { case (k, xs) => run.note(s"$k latencies ${xs.map(x => f"$x%.3f").mkString(" ")}") }
    Seq("lookup" -> "lookup_p50_s", "scan" -> "scan_p50_s", "incr" -> "incr_read_p50_s",
      "merge" -> "merge_p50_s").foreach { case (k, name) =>
      if (lat(k).nonEmpty) run.metric(name, Stats.median(lat(k).toSeq), "s", lat(k).size)
    }
    run.e2e("latency_s") = lat.values.map(xs => Stats.medianOr0(xs.toSeq)).sum
    run.e2e("work_per_s") = statements / wall
    run.metric("statements_per_s", statements / wall, "1/s", statements)

    if (tr.on) {
      tr.drain()
      def perCall(span: String) = { val a = tr.jobs.acc(span); (a, math.max(1, tr.seconds(span).size)) }
      run.layer("catalog.lookup_plan_s") = Stats.medianOr0(tr.seconds("catalog.lookup_plan"))
      run.layer("catalog.lookup_exec_s") = Stats.medianOr0(tr.seconds("catalog.lookup_exec"))
      val (la, ln) = perCall("catalog.lookup_exec")
      run.layer("catalog.lookup_bytes_read") = la.inputBytes.toDouble / ln
      run.layer("catalog.scan_plan_s") = Stats.medianOr0(tr.seconds("catalog.scan_plan"))
      run.layer("catalog.scan_exec_s") = Stats.medianOr0(tr.seconds("catalog.scan_exec"))
      run.layer("incrementalread.plan_s") = Stats.medianOr0(tr.seconds("incrementalread.plan"))
      run.layer("incrementalread.exec_s") = Stats.medianOr0(tr.seconds("incrementalread.exec"))
      val (ia, in) = perCall("incrementalread.exec")
      run.layer("incrementalread.bytes_read") = ia.inputBytes.toDouble / in
      run.layer("filegroupmerge.statement_s") = Stats.medianOr0(tr.seconds("filegroupmerge.statement"))
      val (ma, mn) = perCall("filegroupmerge.statement")
      run.layer("filegroupmerge.jobs") = ma.jobs.toDouble / mn
      run.layer("filegroupmerge.files_written") = Stats.medianOr0(mergeFiles.toSeq)
    }
    ctx.checkTable(table, gen)
    ctx.tableFootprint(d.table, gen.live.size)
  }
}

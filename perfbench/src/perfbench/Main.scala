package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What one run measured: operation counts, report lines and the metrics
  * of the final result line. */
final class Run(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean) {
  var attempted = 0L
  var failed = 0L
  /** False when the run must not be recorded as a timing (a stall). */
  var valid = true
  val config = mutable.LinkedHashMap.empty[String, String]
  /** name -> (value, unit, samples) for the workload's own metrics. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: FAILED $what") }
  }

  def metric(name: String, value: Double, unit: String, samples: Int): Unit =
    report(name) = (value, unit, samples)

  private val born = System.nanoTime()
  /** Progress note on stderr, stamped with the seconds since the run began. */
  def note(what: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.2fs $what")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val ShufflePartitions: Int = Cores

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = new Run(workload, a("seed").toLong, a("seconds").toInt, a("trace") == "1")
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(run.trace, spark)
    run.config ++= Seq("workload" -> workload, "seed" -> run.seed.toString,
      "seconds" -> run.seconds.toString, "trace" -> (if (run.trace) "1" else "0"),
      "master" -> s"local[$Cores]", "shuffle_partitions" -> ShufflePartitions.toString,
      "heap" -> sys.props.getOrElse("perfbench.heap", "?"),
      "spark_version" -> spark.version)
    val ctx = new Ctx(spark, tracer, run, work, sessionS)
    try workload match {
      case "pipeline" => Pipeline.run(ctx)
      case "serve" => Serve.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    tracer.drain()
    tracer.summary().foreach(System.err.println)
    run.note("workload done")
    spark.stop()
    run.note("session stopped")
    emit(run)
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def emit(run: Run): Unit = {
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println("config " + obj(run.config.map { case (k, v) => k -> ("\"" + v + "\"") }))
    run.report.foreach { case (k, (v, unit, n)) =>
      println(f"metric $k%-32s ${num(v)}%s $unit%s (n=$n%d)")
    }
    val ratio = if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted
    println(s"metric failed_op_ratio ${num(ratio)} ratio (n=${run.attempted})")
    val metrics =
      if (!run.valid) Nil
      else if (run.trace) Layers.names.map(n => n -> (run.layer.getOrElse(n, 0.0), Layers.unitOf(n)))
      else Seq("setup_s" -> "s", "latency_s" -> "s", "work_per_s" -> "1/s")
        .map { case (n, u) => n -> (run.e2e(n), u) }
    val correct = run.valid && run.failed == 0
    println(obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, run.attempted).toString,
      "failed" -> run.failed.toString,
      "metrics" -> obj(metrics.map { case (n, (v, u)) =>
        n -> obj(Seq("value" -> num(v), "unit" -> ("\"" + u + "\""))) }))))
  }
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val run: Run,
                val work: String, val sessionS: Double) {
  val progress = new Progress
  spark.streams.addListener(progress)

  def rm(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** (files, bytes) under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n, b = 0L
      while (it.hasNext) { val s = it.next(); n += 1; b += s.getLen }
      (n, b)
    }
  }

  /** Median of `reps` timed set-ups plus the session start, as `setup_s`. */
  def setup(reps: Int)(one: Int => Unit): Unit = {
    val ts = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      one(r)
      (System.nanoTime() - t0) / 1e9
    }
    run.note(s"session ${sessionS}s, set-ups ${ts.mkString(", ")}")
    run.e2e("setup_s") = sessionS + Stats.median(ts)
    run.config("setup_reps") = reps.toString
    run.metric("setup_s", run.e2e("setup_s"), "s", reps)
  }

  /** The SQL door's full read of `table` must equal the model, row for row. */
  def checkTable(table: String, gen: Gen): Unit = {
    val rows = spark.sql(
      s"SELECT id, full_name, email, phone, department, salary, created_at, op, lsn FROM $table")
      .collect()
    val got = rows.map(r => r.getInt(0) ->
      (Emp(r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4),
        r.getInt(5), r.getInt(6)), r.getString(7), r.getLong(8))).toMap
    val bad = (got.keySet ++ gen.live.keySet).count(k => got.get(k) != gen.live.get(k))
    run.op(rows.length == got.size && bad == 0,
      s"table check: ${rows.length} rows read, ${gen.live.size} expected, $bad keys differ")
  }

  /** Storage and history of one table directory at the end of the run. */
  def tableFootprint(tableDir: String, liveRows: Int): Unit = {
    val (files, bytes) = du(tableDir)
    val versions = graft.cdc.Ingest.snapshotVersions(spark, tableDir).size
    run.metric("table_bytes_per_row", bytes.toDouble / math.max(1, liveRows), "B/row", 1)
    run.layer("fs.table_files") = files
    run.layer("fs.table_bytes") = bytes
    run.layer("fs.versions_retained") = versions
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One pass after another over a fixed list of query bodies from
  * `graft.SparkEntry.queries`, each written to a noop sink, over star-
  * schema tables the benchmark generates from its seed. */
object Analytics {
  /** The measured list: query bodies that read only the tables (no
    * build-once fixture cache outside the run's own directory). */
  val Queries = Seq("q_agg_percentile", "q_agg_hll_merge", "q_heavy_hitters_cms",
    "q_join_asof_native", "q_join_broadcast", "q_win_analytic", "q_dedup_minhash", "q_ts_anomaly")
  /** lineitem rows; the other tables scale from it. */
  val LineitemRows = 20000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val run = ctx.run
    run.config ++= Seq("lineitem_rows" -> LineitemRows.toString, "queries" -> Queries.mkString(","),
      "passes" -> "1 untimed warm-up, then at least 2 whole timed passes, until --seconds",
      "cache" -> "cleared before every query")
    var dir: String = null
    ctx.setup(3) { rep =>
      if (dir != null) ctx.rm(dir)
      dir = s"${ctx.work}/sf-$rep"
      build(spark, dir, run.seed, LineitemRows)
    }
    val tr = ctx.tracer
    def once(name: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      tr.span(s"queries.$name") {
        graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    Queries.foreach { q =>
      try once(q) catch { case e: Exception => run.op(ok = false, s"$q (warm-up): $e") }
    }
    val walls = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val t0 = System.nanoTime()
    var passes = 0
    // at least two timed passes, so each query's median never rests on one sample
    while (passes < 2 || System.nanoTime() - t0 < run.seconds * 1000000000L) {
      Queries.foreach { q =>
        try { walls(q) += once(q); run.op(ok = true, q) }
        catch { case e: Exception => run.op(ok = false, s"$q: $e") }
      }
      passes += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val medians = walls.map { case (q, xs) => q -> Stats.medianOr0(xs.toSeq) }
    run.metric("analytics_s", medians.values.sum, "s", passes)
    run.e2e("latency_s") = medians.values.sum
    run.e2e("work_per_s") = walls.values.map(_.size).sum / wall
    run.metric("queries_per_s", run.e2e("work_per_s"), "1/s", walls.values.map(_.size).sum)
    if (tr.on) {
      tr.drain()
      Queries.foreach { q =>
        val a = tr.jobs.acc(s"queries.$q")
        val n = math.max(1, tr.seconds(s"queries.$q").size)
        run.layer(s"queries.${q}_s") = medians(q)
        run.layer(s"queries.${q}_jobs") = a.jobs.toDouble / n
        run.layer(s"queries.${q}_cpu_s") = a.cpuNs / 1e9 / n
        run.layer(s"queries.${q}_shuffle_bytes") = a.shuffleWrite.toDouble / n
      }
    }
  }

  // ------------------------------------------------------------ generator

  private def h(seed: Long, salt: String, c: Column): Column = abs(xxhash64(lit(seed), lit(salt), c))
  private def u(seed: Long, salt: String, c: Column): Column = pmod(h(seed, salt, c), lit(1000000)) / 1e6
  private def pick(values: Seq[String], hc: Column): Column =
    element_at(array(values.map(lit): _*), (pmod(hc, lit(values.size)) + 1).cast("int"))
  private def day(base: String, hc: Column, days: Int): Column =
    date_add(lit(base).cast("date"), pmod(hc, lit(days)).cast("int")).cast("timestamp")

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  /** The star schema + events + documents + embeddings at `dir`, in the
    * column names and types `graft.tables.Tables` reads. */
  def build(spark: SparkSession, dir: String, seed: Long, li: Int): Unit = {
    val nOrders = li / 4
    val nCust = math.max(50, li / 40)
    val nPart = math.max(60, li / 30)
    val nSupp = math.max(25, li / 600)
    val nUsers = math.max(20, nCust / 10)
    val nEvents = li / 6
    val nDocs = math.max(200, li / 100)
    def ids(n: Long) = spark.range(n).select(col("id"))
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    save("region", ids(5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name")))
    save("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")))
    save("customer", ids(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(seed, "cn", id), lit(25)).cast("int").as("c_nationkey"),
      round(u(seed, "cb", id) * 10999 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), h(seed, "cs", id))
        .as("c_mktsegment")))
    save("supplier", ids(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(id, lit(25)).cast("int").as("s_nationkey"),
      round(u(seed, "sb", id) * 10999 - 999.99, 2).as("s_acctbal")))
    save("part", ids(nPart).select(id.as("p_partkey"),
      concat(pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), h(seed, "pa", id)),
        lit(" "), pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"),
          h(seed, "pn", id))).as("p_name"),
      concat(lit("Brand#"), pmod(h(seed, "pb", id), lit(25)) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), h(seed, "pt", id)).as("p_type"),
      (pmod(h(seed, "ps", id), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000)) / 10.0).as("p_retailprice")))
    save("orders", ids(nOrders).select(id.as("o_orderkey"),
      pmod(h(seed, "oc", id), lit(nCust)).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, "os", id)).as("o_orderstatus"),
      round(u(seed, "op", id) * 499000 + 1000, 2).as("o_totalprice"),
      day("1995-01-01", h(seed, "od", id), 2400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), h(seed, "oo", id))
        .as("o_orderpriority")))
    save("lineitem", ids(li).select(pmod(h(seed, "lo", id), lit(nOrders)).as("l_orderkey"),
      pmod(h(seed, "lp", id), lit(nPart)).as("l_partkey"),
      pmod(h(seed, "ls", id), lit(nSupp)).as("l_suppkey"),
      (pmod(h(seed, "ln", id), lit(7)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, "lq", id), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(seed, "le", id) * 104000 + 900, 2).as("l_extendedprice"),
      (pmod(h(seed, "ld", id), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(seed, "lt", id), lit(9)) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, "lr", id)).as("l_returnflag"),
      pick(Seq("F", "O"), h(seed, "lx", id)).as("l_linestatus"),
      day("1995-01-02", h(seed, "lsd", id), 2500).as("l_shipdate")))
    save("events", ids(nEvents).select(id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + pmod(h(seed, "et", id), lit(30L * 86400))).as("ts"),
      pmod(h(seed, "eu", id), lit(nUsers)).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), h(seed, "ee", id)).as("event_type"),
      round(u(seed, "ev", id) * 490 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, "ek", id), lit(100)), lit("}")).as("props")))
    // every 20th document is a near-duplicate of its predecessor
    val words = array(vocab.map(lit): _*)
    val base = when(pmod(id, lit(20)) === 19, id - 1).otherwise(id)
    val text = concat_ws(" ", transform(sequence(lit(1), pmod(h(seed, "dn", base), lit(90)).cast("int") + 10),
      i => element_at(words, (pmod(abs(xxhash64(lit(seed), base, i)), lit(vocab.size)) + 1).cast("int"))))
    save("documents", ids(nDocs).select(id.as("doc_id"),
      when(pmod(id, lit(20)) === 19, concat(text, lit(" dup"))).otherwise(text).as("text"),
      pick(Seq("de", "en", "es", "fr", "zh"), h(seed, "dl", id)).as("lang"),
      concat(lit("src"), pmod(h(seed, "dsrc", id), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // 64-d unit vectors around 10 label centres
    val label = pmod(h(seed, "el", id), lit(10)).cast("int")
    def unit(salt: String, k: Column, j: Column) =
      pmod(abs(xxhash64(lit(seed), lit(salt), k, j)), lit(2000001)) / 1000000.0 - 1.0
    val raw = transform(sequence(lit(0), lit(63)), j => unit("c", label, j) + unit("n", id, j) * 0.3)
    save("embeddings", ids(nDocs).select(id.as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
  }
}

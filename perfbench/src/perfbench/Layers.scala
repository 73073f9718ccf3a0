package perfbench

/** Every per-layer metric of the traced run, in report order. A workload
  * that does not exercise a layer reports its metrics as 0. */
object Layers {
  private val fixed = Seq(
    "deltastream.trigger_overhead_s", "deltastream.add_batch_s", "deltastream.jobs_per_trigger",
    "deltastream.catchup_trigger_overhead_s", "deltastream.catchup_jobs_per_trigger",
    "ingest.parse_s",
    "filegroups.commit_s", "filegroups.executor_cpu_s", "filegroups.shuffle_bytes",
    "filegroups.dirty_buckets", "filegroups.rows_rewritten_per_event",
    "filegroups.files_written", "filegroups.bytes_written",
    "filegroups.catchup_commit_s", "filegroups.catchup_executor_cpu_s", "filegroups.catchup_shuffle_bytes",
    "incrementalstream.batch_s", "incrementalstream.jobs_per_trigger", "incrementalstream.bytes_read",
    "catalog.lookup_plan_s", "catalog.lookup_exec_s", "catalog.lookup_bytes_read",
    "catalog.scan_plan_s", "catalog.scan_exec_s",
    "incrementalread.plan_s", "incrementalread.exec_s", "incrementalread.bytes_read",
    "filegroupmerge.statement_s", "filegroupmerge.jobs", "filegroupmerge.files_written",
    "fs.table_files", "fs.table_bytes", "fs.versions_retained",
    "gen.lateness_p90_s")

  val names: Seq[String] = fixed ++ Analytics.Queries.flatMap(q =>
    Seq(s"queries.${q}_s", s"queries.${q}_jobs", s"queries.${q}_cpu_s", s"queries.${q}_shuffle_bytes"))

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_per_event")) "rows/event"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written") || name.endsWith("bytes_read")) "B"
    else "count"
}

package perfbench

/** Per-layer numbers of a traced run. Times, counts and bytes are per day
  * of the schedule (the day's job, its reads, and the end-of-run
  * operations spread over the days); `table.scan.files_*` are per scan;
  * ratios are ratios of totals.
  */
object Layers {
  /** Spans that only group other spans: their time is not a layer's. */
  private val parents = Set("ingest.run", "sql.call")

  val names: Seq[String] = Seq(
    "merge.detect.wall_s", "merge.detect.task_s", "merge.detect.shuffle_bytes",
    "merge.dedup.wall_s", "merge.change_rows", "merge.useful_ratio",
    "table.commit.wall_s", "table.commit.task_s", "table.commit.shuffle_bytes",
    "table.commit.data_bytes_written", "table.commit.files_added",
    "table.commit.files_removed", "table.commit.rows_written_per_change",
    "table.commit.meta_bytes_written",
    "table.scan.wall_s", "table.scan.files_read", "table.scan.files_live",
    "table.scan.bytes_read", "table.scan.delete_files_live",
    "table.changelog.wall_s", "table.changelog.shuffle_bytes", "table.changelog.rows",
    "table.meta.wall_s", "table.meta.timetravel.wall_s",
    "table.maint.expire.wall_s", "table.maint.orphans.wall_s",
    "table.maint.compact.wall_s", "table.maint.compact.bytes_rewritten",
    "table.maint.files_reclaimed",
    "ingest.run.wall_s", "ingest.test.wall_s", "ingest.outputs.wall_s",
    "sql.merge.wall_s", "sql.call.wall_s",
    "spark.driver_gap_s", "spark.jobs", "spark.tasks", "spark.gc_s", "spark.spill_bytes",
    "trace.coverage", "trace.overhead_s")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_read") ||
      name.endsWith("_written") || name.endsWith("_rewritten")) "bytes"
    else if (name.endsWith("ratio") || name.endsWith("coverage") ||
      name.endsWith("per_change")) "ratio"
    else "count"

  def compute(traced: Main.Run, untraced: Main.Run, days: Int): Seq[(String, Double)] = {
    val tr = traced.target.tracer
    val c = traced.target.counts
    val l = tr.listener.get
    val perDay = 1.0 / math.max(1, days)
    def wall(n: String) = tr.wallSeconds(n) * perDay
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val scans = math.max(1.0, c("table.scan.reads"))

    // driver gap and coverage over the traced run's timed operations
    val jobs = l.synchronized(l.jobIntervals.values.toSeq)
    val leaves = tr.spans.filterNot(s => parents(s.name)).map(s => (s.startMs, s.endMs)).toSeq
    var opMs = 0L
    var gapMs = 0L
    var unexplainedMs = 0L
    traced.opWindows.foreach { w =>
      val inJobs = Tracer.clip(jobs, w)
      opMs += w._2 - w._1
      gapMs += (w._2 - w._1) - Tracer.unionLength(inJobs)
      val outsideLeaves = Tracer.complement(leaves, w)
      unexplainedMs += Tracer.unionLength(Tracer.intersect(outsideLeaves, inJobs))
    }
    val all = l.synchronized(tr.spans.map(s => Tracer.group(s.id)).distinct
      .flatMap(l.byGroup.get).toSeq)
    val metrics = Map(
      "merge.detect.wall_s" -> wall("merge.detect"),
      "merge.detect.task_s" -> tr.counters("merge.detect").taskMs / 1000.0 * perDay,
      "merge.detect.shuffle_bytes" -> tr.counters("merge.detect").shuffleWriteBytes * perDay,
      "merge.dedup.wall_s" -> wall("merge.dedup"),
      "merge.change_rows" -> c("merge.change_rows") * perDay,
      "merge.useful_ratio" -> ratio(c("merge.change_rows"), c("merge.rows_read")),
      "table.commit.wall_s" -> wall("table.commit"),
      "table.commit.task_s" -> tr.counters("table.commit").taskMs / 1000.0 * perDay,
      "table.commit.shuffle_bytes" -> tr.counters("table.commit").shuffleWriteBytes * perDay,
      "table.commit.data_bytes_written" -> c("table.commit.data_bytes_written") * perDay,
      "table.commit.files_added" -> c("table.commit.files_added") * perDay,
      "table.commit.files_removed" -> c("table.commit.files_removed") * perDay,
      "table.commit.rows_written_per_change" ->
        ratio(c("table.commit.rows_written"), c("merge.change_rows")),
      "table.commit.meta_bytes_written" -> traced.storage.written("meta") * perDay,
      "table.scan.wall_s" -> wall("table.scan"),
      "table.scan.files_read" -> c("table.scan.files_read") / scans,
      "table.scan.files_live" -> c("table.scan.files_live") / scans,
      "table.scan.bytes_read" -> tr.counters("table.scan").inputBytes * perDay,
      "table.scan.delete_files_live" -> c("table.scan.delete_files_live") / scans,
      "table.changelog.wall_s" -> wall("table.changelog"),
      "table.changelog.shuffle_bytes" ->
        tr.counters("table.changelog").shuffleWriteBytes * perDay,
      "table.changelog.rows" -> c("table.changelog.rows") * perDay,
      "table.meta.wall_s" -> wall("table.meta"),
      "table.meta.timetravel.wall_s" -> wall("table.meta.timetravel"),
      "table.maint.expire.wall_s" -> wall("table.maint.expire"),
      "table.maint.orphans.wall_s" -> wall("table.maint.orphans"),
      "table.maint.compact.wall_s" -> wall("table.maint.compact"),
      "table.maint.compact.bytes_rewritten" -> c("table.maint.compact.bytes_rewritten") * perDay,
      "table.maint.files_reclaimed" -> traced.storage.reclaimed * perDay,
      "ingest.run.wall_s" -> wall("ingest.run"),
      "ingest.test.wall_s" -> wall("ingest.test"),
      "ingest.outputs.wall_s" -> wall("ingest.outputs"),
      "sql.merge.wall_s" -> wall("sql.merge"),
      "sql.call.wall_s" -> wall("sql.call"),
      "spark.driver_gap_s" -> gapMs / 1000.0 * perDay,
      "spark.jobs" -> all.map(_.jobs).sum * perDay,
      "spark.tasks" -> all.map(_.tasks).sum * perDay,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1000.0 * perDay,
      "spark.spill_bytes" -> all.map(_.spillBytes).sum * perDay,
      "trace.coverage" -> (if (opMs == 0) 0.0 else 1.0 - unexplainedMs.toDouble / opMs),
      "trace.overhead_s" -> (traced.jobs.sum - untraced.jobs.sum))
    names.map(n => n -> metrics(n))
  }
}

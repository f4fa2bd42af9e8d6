package perfbench

/** Per-layer figures derived from a traced run's spans and the jobs
  * the listener attributed to them. */
object Layers {

  /** Every per-layer metric a traced run reports, with its unit. A
    * layer the workload does not reach reports 0. */
  val All: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.executor_run_s_per_op" -> "s",
    "spark.driver_gap_frac" -> "ratio", "spark.shuffle_bytes_per_op" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio",
    "trace.overhead_frac" -> "ratio",
    "pipeline.normalize_dq_gate_s" -> "s", "pipeline.staging_write_s" -> "s",
    "pipeline.l2_merge_s" -> "s", "pipeline.rows_normalized" -> "count",
    "pipeline.rows_l2" -> "count", "lake.files" -> "count", "lake.bytes" -> "B",
    "corpus.prepare_s" -> "s", "corpus.materialize_s" -> "s",
    "corpus.rows_out" -> "count", "corpus.prepare_jobs" -> "count", "scratch.bytes" -> "B",
    "pq.build_jobs" -> "count", "pq.build_executor_run_s" -> "s", "pq.open_s" -> "s",
    "pq.query_jobs" -> "count",
    "ingest.rows_appended" -> "count", "ingest.replay_rows_appended" -> "count",
    "manifest.versions_live" -> "count", "manifest.files" -> "count", "manifest.bytes" -> "B",
    "jvm.peak_rss_mb" -> "MB")

  /** Spans named `name` and, for each, the jobs of the span and of
    * every span nested inside it. */
  def jobsUnder(t: Tracer, name: String): Seq[(Span, Seq[JobRec])] = {
    val spans = t.spans
    val bySpan = t.jobsBySpan
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    spans.filter(_.name == name).map(s => s -> subtree(s).flatMap(d => bySpan.getOrElse(d.id, Nil)))
  }

  /** Mean inclusive duration of the spans named `name`, in seconds. */
  def spanSeconds(t: Tracer, name: String): Double = {
    val ss = t.spans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(s => s.end - s.start).sum / 1e6 / ss.length
  }

  /** Jobs per span named `name` (0 when it never ran). */
  def jobsPer(t: Tracer, name: String): Double = {
    val u = jobsUnder(t, name)
    if (u.isEmpty) 0.0 else u.map(_._2.length).sum.toDouble / u.length
  }

  def executorRunSecondsPer(t: Tracer, name: String): Double = {
    val u = jobsUnder(t, name)
    if (u.isEmpty) 0.0 else u.map(_._2.flatMap(_.stages).map(_.runMs).sum).sum / 1e3 / u.length
  }

  /** The Spark engine layer, per traced execution of the workload's
    * primary operation. */
  def spark(c: Ctx, r: Report): Unit = {
    val u = jobsUnder(c.tracer, r.primaryOp)
    val n = math.max(1, u.length).toDouble
    val jobs = u.flatMap(_._2)
    val stages = jobs.flatMap(_.stages)
    val wall = u.map { case (s, _) => s.end - s.start }.sum
    val gaps = u.map { case (s, js) =>
      Stats.driverGapFrac(s.start, s.end, js.map(j => (j.start, j.end))) * (s.end - s.start)
    }.sum
    val skews = stages.filter(_.tasks >= 2).map(_.skew)
    r.layer("spark.jobs_per_op") = (jobs.length / n, "count")
    r.layer("spark.stages_per_op") = (stages.length / n, "count")
    r.layer("spark.tasks_per_op") = (stages.map(_.tasks).sum / n, "count")
    r.layer("spark.executor_run_s_per_op") = (stages.map(_.runMs).sum / 1e3 / n, "s")
    r.layer("spark.driver_gap_frac") = (if (wall > 0) gaps / wall else 0.0, "ratio")
    r.layer("spark.shuffle_bytes_per_op") = (stages.map(_.shuffleBytes).sum / n, "B")
    r.layer("spark.spill_bytes") = (stages.map(_.spillBytes).sum.toDouble, "B")
    r.layer("spark.task_skew") =
      (if (skews.isEmpty) 1.0 else skews.sum / skews.length, "ratio")
    val overhead =
      if (r.tracedOps.isEmpty || r.untracedOps.isEmpty) 0.0
      else Stats.median(r.tracedOps.toSeq) / Stats.median(r.untracedOps.toSeq) - 1.0
    r.layer("trace.overhead_frac") = (overhead, "ratio")
  }
}

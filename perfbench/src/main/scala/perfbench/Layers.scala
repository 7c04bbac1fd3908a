package perfbench

/** Per-pass layer figures from a finished trace. */
object Layers {
  /** Spans whose plan census is the final write's, not a build-time job's. */
  private val writeSpans = Set("exec", "sources.parquet", "sources.csv")

  def perPass(t: Tracer, passSpan: Int, cpus: Int): Map[String, Double] = {
    val ids = t.subtree(passSpan)
    val spans = t.spans.filter(s => ids.contains(s.id))
    def sum(names: Set[String], k: String): Double =
      spans.filter(s => names.contains(s.name)).map(_.counts.getOrElse(k, 0.0)).sum
    def all(k: String): Double = spans.map(_.counts.getOrElse(k, 0.0)).sum
    def wall(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
    def jobsUnder(name: String): Double = spans.filter(_.name == name).map(jobs(t, _)).sum
    val pass = t.spans(passSpan)
    // union of job intervals, clipped to the pass: time some job was running
    val busyMs = t.jobIntervals(ids).map { case (a, b) =>
      (math.max(a, pass.startMs), math.min(b, pass.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b)
        else if (b > end) (acc + (b - end), b)
        else (acc, end)
      }._1
    Map(
      "trace.pass_s" -> pass.seconds,
      "queries.build_s" -> wall("build"),
      "queries.build_jobs" -> jobsUnder("build"),
      "catalyst.plan_s" -> sum(writeSpans, "plan_s"),
      "catalyst.exchanges" -> sum(writeSpans, "exchanges"),
      "catalyst.wscg_stages" -> sum(writeSpans, "wscg_stages"),
      "catalyst.rdd_leaves" -> sum(writeSpans, "rdd_leaves"),
      "functions.fallback_exprs" -> sum(writeSpans, "fallback_exprs"),
      "functions.kernel_exprs" -> sum(writeSpans, "kernel_exprs"),
      "exec.wall_s" -> busyMs / 1e3,
      "exec.jobs" -> all("jobs"),
      "exec.stages" -> all("stages"),
      "exec.tasks" -> all("tasks"),
      "exec.task_run_s" -> all("task_run_s"),
      "exec.task_cpu_s" -> all("task_cpu_s"),
      "exec.gc_s" -> all("gc_s"),
      "exec.shuffle_write_mb" -> all("shuffle_write_mb"),
      "exec.shuffle_read_mb" -> all("shuffle_read_mb"),
      "exec.spill_mb" -> all("spill_mb"),
      "exec.input_mb" -> all("input_mb"),
      "exec.util" -> all("task_run_s") / (cpus * pass.seconds),
      "driver.idle_s" -> (pass.seconds - busyMs / 1e3),
      "pipeline.build_s" -> wall("pipeline.build"),
      "pipeline.build_jobs" -> jobsUnder("pipeline.build"),
      "sources.parquet_s" -> wall("sources.parquet"),
      "sources.csv_s" -> wall("sources.csv"))
  }

  /** Seconds and jobs of each span with this name (set-up layers). */
  def named(t: Tracer, name: String): Seq[(Double, Double)] =
    t.spans.filter(_.name == name).toSeq.map(s => s.seconds -> jobs(t, s))

  /** Spark jobs run in the span or below it. */
  private def jobs(t: Tracer, s: Span): Double =
    t.subtree(s.id).toSeq.map(t.spans(_).counts.getOrElse("jobs", 0.0)).sum

  def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds,
    "counts" -> s.counts.toMap, "tags" -> s.tags.toMap)
}

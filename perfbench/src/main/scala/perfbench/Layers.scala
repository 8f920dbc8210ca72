package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, derived from its spans and the
  * listener's job intervals. Every metric is a mean per traced op, except
  * the ratios and the lake footprint; a layer the workload does not use
  * reads 0.
  */
object Layers {
  val catalogCalls = Seq("append", "optimize", "table")

  /** Every per-layer metric name with its unit, in output order. */
  val declared: Seq[(String, String)] =
    Seq("pipeline.daily_s" -> "s", "pipeline.driver_s" -> "s") ++
      catalogCalls.flatMap(c => Seq(s"catalog.${c}_calls" -> "count", s"catalog.${c}_s" -> "s")) ++
      Seq("catalog.append_rows" -> "rows", "catalog.optimize_rows_rewritten" -> "rows",
        "catalog.rewrite_ratio" -> "ratio", "catalog.bytes_written_mb" -> "MB",
        "catalog.files_written" -> "count", "catalog.lake_mb" -> "MB",
        "catalog.lake_files" -> "count") ++
      NightlyDaily.upserted.map(t => s"stage.${t}_s" -> "s") ++
      QueryMix.queries.map(q => s"query.${q}_s" -> "s") ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.shuffle_write_mb" -> "MB", "spark.shuffle_fetch_wait_s" -> "s",
        "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
        "spark.core_busy_ratio" -> "ratio", "spark.driver_gap_s" -> "s",
        "trace.overhead_ratio" -> "ratio")

  private val MB = 1048576.0

  /** Seconds of [s, e] not covered by the union of `ivs` (all epoch ms). */
  def uncovered(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = s
    clipped.foreach { case (a, b) =>
      if (b > cur) { covered += b - math.max(a, cur); cur = b }
    }
    (e - s - covered) / 1e3
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(sp: Span, children: Seq[Span]): Double =
    uncovered(sp.start / 1e6, sp.end / 1e6,
      children.map(c => (c.outerStart / 1e6, c.outerEnd / 1e6)))

  def metrics(t: Tracer, timed: Seq[Main.Sample], cores: Int,
      lakeB: Long, lakeFiles: Long): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    val opSpans = spans.filter(s => s.parent == -1 && s.op >= 0)
    val n = math.max(1, opSpans.size).toDouble
    val ofOps = spans.filter(s => s.op >= 0)
    def perOp(xs: Iterable[Double]) = xs.sum / n
    def named(prefix: String) = ofOps.filter(_.name == prefix)
    val byParent = ofOps.groupBy(_.parent)
    val jobs = t.listener.jobRuns.filter(_.end > 0).map(j => (j.start.toDouble, j.end.toDouble))

    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    v("pipeline.daily_s") = perOp(named("pipeline.daily").map(_.seconds))
    v("pipeline.driver_s") = perOp(opSpans.filter(_.name.startsWith("pipeline."))
      .map(sp => selfSeconds(sp, byParent.getOrElse(sp.id, Nil))))
    catalogCalls.foreach { c =>
      val xs = named(s"catalog.$c")
      v(s"catalog.${c}_calls") = xs.size / n
      v(s"catalog.${c}_s") = perOp(xs.map(_.seconds))
    }
    val appended = named("catalog.append").map(_.c.outRows).sum.toDouble
    val rewritten = named("catalog.optimize").map(_.c.outRows).sum.toDouble
    val catalog = ofOps.filter(_.name.startsWith("catalog."))
    v("catalog.append_rows") = appended / n
    v("catalog.optimize_rows_rewritten") = rewritten / n
    v("catalog.rewrite_ratio") = if (appended > 0) rewritten / appended else 0.0
    v("catalog.bytes_written_mb") = perOp(catalog.map(_.c.outB / MB))
    v("catalog.files_written") = perOp(catalog.map(_.c.files.toDouble))
    v("catalog.lake_mb") = lakeB / MB
    v("catalog.lake_files") = lakeFiles.toDouble
    NightlyDaily.upserted.foreach { tb =>
      v(s"stage.${tb}_s") = perOp(named("catalog.append").filter(_.table == tb).map(_.seconds))
    }
    QueryMix.queries.foreach { q =>
      val xs = named(s"query.$q").map(_.seconds)
      v(s"query.${q}_s") = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val c = opSpans.map(_.c)
    val wall = opSpans.map(_.seconds).sum
    v("spark.jobs") = perOp(c.map(_.jobs.toDouble))
    v("spark.stages") = perOp(c.map(_.stages.toDouble))
    v("spark.tasks") = perOp(c.map(_.tasks.toDouble))
    v("spark.task_run_s") = perOp(c.map(_.runMs / 1e3))
    v("spark.task_cpu_s") = perOp(c.map(_.cpuNs / 1e9))
    v("spark.gc_s") = perOp(c.map(_.gcMs / 1e3))
    v("spark.shuffle_write_mb") = perOp(c.map(_.shuffleWriteB / MB))
    v("spark.shuffle_fetch_wait_s") = perOp(c.map(_.fetchWaitMs / 1e3))
    v("spark.spill_mb") = perOp(c.map(_.spillB / MB))
    v("spark.input_mb") = perOp(c.map(_.inputB / MB))
    v("spark.core_busy_ratio") = if (wall > 0) c.map(_.runMs / 1e3).sum / (wall * cores) else 0.0
    v("spark.driver_gap_s") = perOp(opSpans.map(sp =>
      uncovered(t.epochMs(sp.start), t.epochMs(sp.end), jobs)))
    // traced ops against the untraced ops of the same run, in calibrated
    // seconds; which of the two comes first alternates with the seed
    val (tr, un) = timed.partition(_.traced) match {
      case (a, b) => (a.map(_.calibrated), b.map(_.calibrated))
    }
    v("trace.overhead_ratio") =
      if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr) / Stats.median(un) - 1
    declared.map { case (name, unit) => (name, v(name), unit) }
  }
}

/** Per-run detail file: setup split, every op sample, and (traced runs)
  * every span and job interval, written once at the end of the run.
  */
object Detail {
  def write(path: Path, workload: String, seed: Long, trace: Boolean,
      setup: Map[String, Double], samples: Seq[Main.Sample], aborted: Option[String],
      metrics: Seq[(String, Double, String)], tracer: Option[Tracer]): Unit = {
    import Json.{num, str}
    def sample(s: Main.Sample) =
      s"""{"label": ${str(s.label)}, "seconds": ${num(s.seconds)}, "calibration_s": ${num(s.calib)}, "calibrated_s": ${num(s.calibrated)}, """ +
        s""""units": ${s.units}, "traced": ${s.traced}, """ +
        s""""failures": ${s.failures.map(str).mkString("[", ", ", "]")}}"""
    val spans = tracer.toSeq.flatMap(_.spans).map { sp =>
      s"""{"id": ${sp.id}, "name": ${str(sp.name)}, "table": ${str(sp.table)}, """ +
        s""""parent": ${sp.parent}, "op": ${sp.op}, "start_ms": ${num(tracer.get.epochMs(sp.start))}, """ +
        s""""end_ms": ${num(tracer.get.epochMs(sp.end))}, "jobs": ${sp.c.jobs}, """ +
        s""""rows_written": ${sp.c.outRows}, "bytes_written": ${sp.c.outB}, "files": ${sp.c.files}}"""
    }
    val jobs = tracer.toSeq.flatMap(_.listener.jobRuns).map(j =>
      s"""{"job": ${j.id}, "start_ms": ${j.start}, "end_ms": ${j.end}, "span": ${j.span}}""")
    val body = Seq(
      s""""workload": ${str(workload)}""", s""""seed": $seed""", s""""trace": $trace""",
      s""""setup": ${setup.toSeq.sortBy(_._1).map { case (k, x) => s"${str(k)}: ${num(x)}" }.mkString("{", ", ", "}")}""",
      s""""aborted": ${aborted.map(str).getOrElse("null")}""",
      s""""metrics": ${metrics.map { case (k, x, u) => s"${str(k)}: {\"value\": ${num(x)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")}""",
      s""""samples": ${samples.map(sample).mkString("[\n  ", ",\n  ", "]")}""",
      s""""spans": ${spans.mkString("[\n  ", ",\n  ", "]")}""",
      s""""jobs": ${jobs.mkString("[\n  ", ",\n  ", "]")}""")
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, body.mkString("{\n", ",\n", "\n}\n"))
  }
}

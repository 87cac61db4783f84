package graft.flockbench

/** The per-layer metrics a traced run prints, with their units. Every
  * traced run prints all of them; a layer the workload bypasses reads 0.
  */
object Layers {

  val headline: Seq[String] = graft.Bench.headline

  val names: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms",
    "store.bin_build_ms" -> "ms",
    "store.ivf_build_ms" -> "ms",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.codegen_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.scan_bytes" -> "bytes",
    "spark.scan_rows" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_read_rows" -> "count",
    "spark.shuffle_wait_ms" -> "ms",
    "spark.spill_bytes" -> "bytes") ++
    headline.flatMap(q => Seq(s"query.$q.cold_ms" -> "ms", s"query.$q.warm_ms" -> "ms")) ++
    Seq(
      "streaming.trigger_ms.q5" -> "ms",
      "streaming.trigger_ms.q11" -> "ms",
      "streaming.trigger_ms.cdc" -> "ms",
      "streaming.trigger_ms.ingest" -> "ms",
      "streaming.add_batch_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms",
      "streaming.wal_ms" -> "ms",
      "streaming.source_ms" -> "ms",
      "streaming.round_p50_ms" -> "ms",
      "state.rows_total" -> "count",
      "state.rows_updated" -> "count",
      "state.rows_removed" -> "count",
      "state.memory_bytes" -> "bytes",
      "state.commit_ms" -> "ms",
      "state.dropped_late" -> "count",
      "store.bin_serve_ms" -> "ms",
      "store.ivf_serve_ms" -> "ms",
      "store.bin_add_ms" -> "ms",
      "store.ivf_add_ms" -> "ms",
      "store.bin_delete_ms" -> "ms",
      "store.ivf_delete_ms" -> "ms",
      "store.bin_compact_ms" -> "ms",
      "store.ivf_compact_ms" -> "ms",
      "store.compactions" -> "count",
      "store.serve_p50_ms" -> "ms",
      "store.write_p50_ms" -> "ms",
      "store.bytes_written" -> "bytes",
      "store.user_bytes" -> "bytes",
      "store.write_amp" -> "ratio",
      "store.files_live" -> "count",
      "store.bytes_live" -> "bytes",
      "store.gen_dirs_max" -> "count",
      "host.steal_pm" -> "permille",
      "host.load1" -> "load",
      "host.task_gap_pm" -> "permille",
      "jvm.gc_ms" -> "ms",
      "jvm.rss_peak_mb" -> "MB",
      "trace.overhead_pct" -> "%")

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Driver-phase and execution metrics of the `spark.*` layers, each the
    * mean per traced unit (a sweep or a round). The own time of the op
    * spans (those `isOp` selects) is the driver gap.
    */
  def spark(ctx: Ctx, units: Seq[Span], isOp: Span => Boolean): Unit = {
    val t = ctx.tracer
    def per(f: Span => Double): Double = mean(units.map(f))
    def phase(p: String)(u: Span) =
      t.phasesIn(u).filter(_.phase == p).map(r => r.end - r.start).sum
    ctx.layer("spark.analysis_ms", per(phase("analysis")), "ms")
    ctx.layer("spark.optimization_ms", per(phase("optimization")), "ms")
    ctx.layer("spark.planning_ms", per(phase("planning")), "ms")
    ctx.layer("spark.driver_gap_ms", per(u => (u +: t.descendants(u))
      .filter(isOp).map(t.selfMs).sum), "ms")
    ctx.layer("spark.jobs", per(u => t.jobsIn(u).length.toDouble), "count")
    def st(f: StageRec => Double)(u: Span) = t.stagesIn(u).map(f).sum
    ctx.layer("spark.stages", per(u => t.stagesIn(u).length.toDouble), "count")
    ctx.layer("spark.tasks", per(st(_.tasks.toDouble)), "count")
    ctx.layer("spark.task_run_ms", per(st(_.runMs.toDouble)), "ms")
    ctx.layer("spark.task_cpu_ms", per(st(_.cpuMs.toDouble)), "ms")
    ctx.layer("spark.gc_ms", per(st(_.gcMs.toDouble)), "ms")
    ctx.layer("spark.scan_bytes", per(st(_.scanBytes.toDouble)), "bytes")
    ctx.layer("spark.scan_rows", per(st(_.scanRows.toDouble)), "count")
    ctx.layer("spark.shuffle_write_bytes", per(st(_.shWriteBytes.toDouble)), "bytes")
    ctx.layer("spark.shuffle_read_bytes", per(st(_.shReadBytes.toDouble)), "bytes")
    ctx.layer("spark.shuffle_read_rows", per(st(_.shReadRows.toDouble)), "count")
    ctx.layer("spark.shuffle_wait_ms", per(st(_.shWaitMs.toDouble)), "ms")
    ctx.layer("spark.spill_bytes", per(st(_.spillBytes.toDouble)), "bytes")
  }

  /** Generated-code compile time so far, in ms (Spark keeps it in ns). */
  def codegenMs(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  /** 100 × (traced / untraced − 1) over the medians of like units' walls. */
  def overhead(ctx: Ctx, traced: Seq[Double], untraced: Seq[Double]): Unit =
    ctx.layer("trace.overhead_pct",
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1.0), "%")

  /** Fill every per-layer metric the workload did not set with 0. */
  def complete(ctx: Ctx): Unit = {
    val set = ctx.perLayer.toMap
    ctx.perLayer.clear()
    names.foreach { case (n, u) => ctx.perLayer(n) = set.getOrElse(n, (0.0, u)) }
  }
}

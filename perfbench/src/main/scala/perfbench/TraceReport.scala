package perfbench

import java.io.{File, PrintWriter}

/** Turns a traced run's spans and listener counters into the per-layer
  * metrics, each normalised to one pass, plus an attribution report. */
object TraceReport {

  final case class Layers(metrics: Map[String, Double], report: Map[String, Any])

  /** per-layer metric → the span names whose time (or jobs) it sums */
  private val spanTime: Seq[(String, Seq[String])] = Seq(
    "pipeline.split.call_s" -> Seq("pipeline.split.call"),
    "pipeline.cacher.materialize_s" -> Seq("pipeline.cacher.materialize"),
    "pipeline.cacher.fingerprint_s" -> Seq("pipeline.cacher.fingerprint"),
    "pipeline.planner.cache_plan_s" -> Seq("pipeline.planner.cache_plan"),
    "pipeline.planner.serve_plan_s" -> Seq("pipeline.planner.serve_plan"),
    "pipeline.batch.shuffle_call_s" -> Seq("pipeline.batch.shuffle_call"),
    "pipeline.batch.weighted_draw_s" ->
      Seq("pipeline.batch.weighted_draw.call", "pipeline.batch.weighted_draw.action"),
    "pipeline.predictor.invert_s" ->
      Seq("pipeline.predictor.invert.call", "pipeline.predictor.invert.action"),
    "pipeline.exploration.explore_s" -> Seq("pipeline.exploration.explore"),
    "sources.cache_scan_s" -> Seq("sources.cache_scan"),
    "sources.raw_scan_s" -> Seq("sources.raw_scan"),
    "queries.call_s" -> Seq("queries.call"),
    "queries.action_s" -> Seq("queries.action"))
  private val spanJobs: Seq[(String, String)] = Seq(
    "pipeline.split.jobs" -> "pipeline.split.call",
    "pipeline.batch.shuffle_jobs" -> "pipeline.batch.shuffle_call",
    "queries.call_jobs" -> "queries.call")

  /** metrics a workload supplies itself; 0 where that layer sits idle */
  private val idleLayers = Seq("pipeline.cacher.bytes_written", "pipeline.cacher.files_written",
    "cache_bytes_per_input_byte", "tensor.affine_resample_ns_per_px",
    "tensor.gaussian_noise_ns_per_px", "tensor.gaussian_blur_ns_per_px",
    "expressions.buffer_stats_ns_per_elem", "expressions.shift_scale_ns_per_elem")

  def layers(wl: Workload, tr: Tracer, counters: Counters, passes: Seq[PassRec],
             cores: Int): Layers = {
    val traced = passes.filter(p => p.kind == "traced" && p.ok)
    val plain = passes.filter(p => p.kind == "plain" && p.ok)
    val tracedIds = traced.map(_.index).toSet
    val n = math.max(1, traced.size).toDouble
    val spans = tr.spans.filter(s => tracedIds(s.pass))
    def named(names: Seq[String]) = spans.filter(s => names.contains(s.name))
    val tot: Array[Long] = traced.flatMap(_.counters).foldLeft(new Array[Long](Counter.names.size)) {
      (acc, c) => Array.tabulate(acc.length)(i =>
        if (Counter.maxSlots(i)) math.max(acc(i), c(i)) else acc(i) + c(i))
    }
    def c(name: String): Double = tot(Counter(name)).toDouble
    val tracedWall = traced.map(_.secs).sum
    val layerSpans = spans.filter(s => s.kind == "call" || s.kind == "action")
    val callSecs = spans.filter(_.kind == "call").map(_.seconds).sum
    val plainMedian = Harness.median(plain.map(_.secs))
    val tracedMedian = Harness.median(traced.map(_.secs))
    val attributedPerPass = layerSpans.map(_.seconds).sum / n

    val metrics: Map[String, Double] =
      spanTime.map { case (m, names) => m -> named(names).map(_.seconds).sum / n }.toMap ++
      spanJobs.map { case (m, name) =>
        m -> named(Seq(name)).map(s => counters.spanSnapshot(s.id)(Counter("jobs"))).sum / n
      }.toMap ++ Map(
        "spark.jobs" -> c("jobs") / n,
        "spark.stages" -> c("stages") / n,
        "spark.tasks" -> c("tasks") / n,
        "spark.executor_run_s" -> c("executor_run_ms") / 1e3 / n,
        "spark.executor_cpu_s" -> c("executor_cpu_ns") / 1e9 / n,
        "spark.gc_s" -> c("gc_ms") / 1e3 / n,
        "spark.input_bytes" -> c("input_bytes") / n,
        "spark.output_bytes" -> c("output_bytes") / n,
        "spark.shuffle_read_bytes" -> c("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes" -> c("shuffle_write_bytes") / n,
        "spark.spill_bytes" -> c("spill_bytes") / n,
        "spark.peak_exec_mem_bytes" -> c("peak_exec_mem_bytes"),
        "spark.cpu_busy_share" ->
          (if (tracedWall > 0) c("executor_cpu_ns") / 1e9 / (tracedWall * cores) else 0.0),
        "catalyst.analysis_s" -> c("analysis_ms") / 1e3 / n,
        "catalyst.optimization_s" -> c("optimization_ms") / 1e3 / n,
        "catalyst.planning_s" -> c("planning_ms") / 1e3 / n,
        "driver.builder_share" -> (if (tracedWall > 0) callSecs / tracedWall else 0.0),
        "pipeline.batch.persisted_rdds" -> Harness.median(traced.map(_.persisted.toDouble)),
        "trace.overhead_share" ->
          (if (plainMedian > 0) tracedMedian / plainMedian - 1.0 else 0.0),
        "trace.attributed_share" ->
          (if (tracedMedian > 0) attributedPerPass / tracedMedian else 0.0)) ++
      idleLayers.map(_ -> 0.0) ++ wl.layerMetrics

    // where each op's traced time went: layer spans vs. the op's own glue
    val ops = spans.filter(_.kind == "op")
    val byOp = ops.groupBy(_.name).map { case (op, ss) =>
      val kids = ss.flatMap(tr.children)
      val layers = kids.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum / ss.size }
      op -> Map("wall_s" -> ss.map(_.seconds).sum / ss.size,
        "layers_s" -> layers,
        "unattributed_s" -> ss.map(tr.selfSeconds).sum / ss.size)
    }
    val report = Map(
      "traced_passes" -> traced.size, "untraced_passes" -> plain.size,
      "untraced_pass_median_s" -> plainMedian, "traced_pass_median_s" -> tracedMedian,
      "tracing_overhead_s" -> (tracedMedian - plainMedian),
      "span_time_per_pass_s" -> attributedPerPass,
      "span_time_share_of_untraced_pass" ->
        (if (plainMedian > 0) attributedPerPass / plainMedian else 0.0),
      "unattributed_per_traced_pass_s" -> (tracedMedian - attributedPerPass),
      "unattributed_is" -> ("driver work inside each op between the module calls: the " +
        "DataFrame construction, joins and filters the chain applies around them, and " +
        "the span bookkeeping itself (per-op time listed under by_op)"),
      "by_op" -> byOp)
    Layers(metrics, report)
  }

  def writeSpans(path: String, tr: Tracer, runId: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try tr.spans.foreach { s =>
      w.println(Events.json(scala.collection.mutable.LinkedHashMap(
        "name" -> s.name, "kind" -> s.kind, "start" -> tr.sinceStart(s.startNs),
        "end" -> tr.sinceStart(s.endNs), "parent" -> s.parent, "id" -> s.id,
        "pass" -> s.pass, "run_id" -> runId)))
    } finally w.close()
  }
}

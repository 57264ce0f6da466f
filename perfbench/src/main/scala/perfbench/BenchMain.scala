package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Command-line options of one benchmark JVM (one workload, one run). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      out: String, smoke: Boolean)

/** One measured pass; `counters` holds the listener deltas of traced passes. */
final case class PassRec(index: Int, kind: String, secs: Double, ok: Boolean,
                         counters: Option[Array[Long]], persisted: Int)

/** One benchmark operation. `run` returns nothing; item counts per op kind
  * are established once, after the timed loop, by the workload's checks. */
final case class Op(name: String, run: () => Unit)

/** What a workload provides to the closed-loop harness. */
trait Workload {
  /** untimed input generation, once per run, before the set-up repetitions */
  def prepare(): Unit
  /** one timed set-up repetition (engine start on the prepared inputs);
    * stops the previous repetition's session and returns the new one */
  def setup(rep: Int, previous: Option[SparkSession]): SparkSession
  /** the operations of one pass, in order. The warm-up pass (the first of
    * every run, never counted in the end-to-end medians) runs the same
    * chain but sinks its outputs into what the correctness checks read. */
  def pass(index: Int, tracer: Tracer, warmup: Boolean): Seq[Op]
  /** untimed bookkeeping after each operation */
  def afterOp(spark: SparkSession): Unit = ()
  /** untimed bookkeeping after a pass (release leaked caches, GC) */
  def afterPass(spark: SparkSession): Unit = Harness.releaseAll(spark)
  /** layer-isolating extra work, run after each traced pass */
  def probes(tracer: Tracer): Unit = ()
  /** correctness checks, run once after the timed loop, untimed */
  def checkNames: Seq[String]
  def checks(): Seq[(String, () => String)]
  /** items processed per op kind (served slices, draws, ...) */
  def itemsPerOp: Map[String, Long] = Map.empty
  /** workload facts for the report (bytes on disk, geometry, ...) */
  def facts: Map[String, Any] = Map.empty
  /** per-layer metrics that are not span or counter sums */
  def layerMetrics: Map[String, Double] = Map.empty
  def opNames: Seq[String]
}

object Harness {
  /** Drop every cached block the previous work left behind, then collect
    * garbage so the context cleaner frees broadcasts and shuffle files
    * outside the timed region (the same discipline as graft.Bench). */
  def releaseAll(spark: SparkSession, gc: Boolean = true): Unit =
    if (!spark.sparkContext.isStopped) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      if (gc) { System.gc(); Thread.sleep(50) }
    }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** peak resident set of this JVM so far, in MB (VmHWM) */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  def dirBytesAndFiles(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        val data = files.filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        (data.map(f => Files.size(f)).sum, data.length.toLong)
      } finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)
}

/** Records the stage behind a failed operation. Registered in every run —
  * it only reacts to stage completion, so the untraced run stays clean. */
final class FailureListener extends SparkListener {
  @volatile var lastFailedStage: String = ""
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.failureReason.foreach { r =>
      lastFailedStage = s"stage ${e.stageInfo.stageId} (${e.stageInfo.name.takeWhile(_ != '\n')}): ${r.take(200)}"
    }
}

/** Append-only JSONL event log, flushed per line so the harness outside the
  * JVM can account for every finished operation even if the JVM dies. */
final class Events(path: String) {
  private val w = new PrintWriter(new File(path), "UTF-8")
  def apply(fields: (String, Any)*): Unit = synchronized {
    w.println(Events.json(mutable.LinkedHashMap(fields: _*)))
    w.flush()
  }
  def close(): Unit = w.close()
}

object Events {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  /** one line of JSON (Scala maps, sequences and options included) */
  def json(v: Any): String = mapper.writeValueAsString(v)
}

object BenchMain {

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("out"), m.getOrElse("smoke", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(Paths.get(o.out))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val work = s"${o.out}/work"
    val wl: Workload = o.workload match {
      case "cine_chain" => new CineWorkload(o, cores, work, wide = false)
      case "cine_wide" => new CineWorkload(o, cores, work, wide = true)
      case "queries_mix" => new QueriesWorkload(o, cores, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ev = new Events(s"${o.out}/events.jsonl")
    val runId = f"${o.workload}-s${o.seed}-${System.currentTimeMillis}%d"
    ev("ev" -> "plan", "run_id" -> runId, "ops" -> wl.opNames, "checks" -> wl.checkNames)

    // --- set-up, several times; the last session is the measured one ---
    wl.prepare()
    var spark: Option[SparkSession] = None
    val setupReps = if (o.smoke) 1 else 5
    for (rep <- 0 until setupReps) {
      val t0 = System.nanoTime()
      spark = Some(wl.setup(rep, spark))
      ev("ev" -> "setup", "rep" -> rep, "s" -> (System.nanoTime() - t0) / 1e9)
    }
    val s = spark.get
    val sc = s.sparkContext
    val failures = new FailureListener
    sc.addSparkListener(failures)
    val counters = if (o.trace) Some(new Counters(s)) else None
    counters.foreach(_.register())
    counters.foreach(_.enabled = false)
    val tracer = new Tracer(o.trace, s)

    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    // the canary's three shapes cost more than an untraced run can spare
    val (calib, boxFactor) =
      if (o.trace && !o.smoke) graft.BoxCanary.run(s) else (Seq.empty[(String, Double)], -1.0)
    ev("ev" -> "env", "run_id" -> runId, "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> jvm.getInputArguments.toArray.toSeq,
      "java" -> System.getProperty("java.version"), "spark" -> s.version,
      "loadavg_start" -> Harness.loadAvg(), "box_factor" -> boxFactor,
      "box_calib" -> calib.toMap,
      "spark_conf" -> sc.getConf.getAll.toMap, "sql_conf" -> s.conf.getAll)

    // --- the timed closed loop: one client, each op waits for the last ---
    var index = 0
    var dead = false
    val passes = ArrayBuffer.empty[PassRec]
    var measureFrom = 0L
    def measured = if (measureFrom == 0L) 0.0 else (System.nanoTime() - measureFrom) / 1e9
    // Pass 0 warms the JVM up and feeds the checks; it never counts in the
    // end-to-end medians. The JIT keeps compiling through the next pass, so
    // several passes are measured and the metrics are medians. Trace runs
    // interleave traced and untraced passes T,U,U,T,… so the JIT's speed-up
    // over the run weighs on both sides of the tracing overhead.
    val warmups = 1
    val minMeasured = if (o.smoke) (if (o.trace) 2 else 1) else if (o.trace) 4 else 3
    def traced(i: Int) = o.trace && i >= warmups && Set(0, 3)((i - warmups) % 4)
    def keepGoing: Boolean =
      if (dead) false
      else if (index < warmups + minMeasured) true
      else !o.smoke && measured < o.seconds
    while (keepGoing) {
      val kind = if (index < warmups) "warmup" else if (traced(index)) "traced" else "plain"
      tracer.pass = index
      val on = kind == "traced"
      // drain with the listener still off, so earlier work is not counted
      val before = if (on) counters.map { c => c.resetPeaks(); c.snapshot() } else None
      tracer.enabled = on
      counters.foreach(_.enabled = on)
      val p0 = System.nanoTime()
      var passOk = true
      var persistedMax = 0
      var opSecs = 0.0
      val ops = wl.pass(index, tracer, warmup = index == 0)
      ops.foreach { op =>
        if (dead) {
          ev("ev" -> "op", "pass" -> index, "op" -> op.name, "ok" -> false, "s" -> 0.0,
            "kind" -> kind, "error_class" -> "SkippedAfterContextStop",
            "error" -> "the SparkContext stopped earlier in this run", "stage" -> "")
          passOk = false
        } else {
          ev("ev" -> "begin", "pass" -> index, "op" -> op.name)
          val a = System.nanoTime()
          val err: Option[Throwable] =
            try { tracer.span(op.name, "op")(op.run()); None }
            catch { case t: Throwable => Some(t) }
          val secs = (System.nanoTime() - a) / 1e9
          opSecs += secs
          val persisted = if (sc.isStopped) -1 else sc.getPersistentRDDs.size
          persistedMax = math.max(persistedMax, persisted)
          err match {
            case None =>
              ev("ev" -> "op", "pass" -> index, "op" -> op.name, "ok" -> true, "s" -> secs,
                "kind" -> kind, "persisted_rdds" -> persisted, "rss_mb" -> Harness.peakRssMb())
            case Some(t) =>
              passOk = false
              val root = Harness.rootCause(t)
              val stage = Option(failures.lastFailedStage).filter(_.nonEmpty).getOrElse(
                "(driver)")
              failures.lastFailedStage = ""
              ev("ev" -> "op", "pass" -> index, "op" -> op.name, "ok" -> false, "s" -> secs,
                "kind" -> kind, "persisted_rdds" -> persisted, "rss_mb" -> Harness.peakRssMb(),
                "error_class" -> root.getClass.getName,
                "error" -> String.valueOf(root.getMessage).take(400), "stage" -> stage)
              if (sc.isStopped) dead = true
          }
          if (!dead) wl.afterOp(s)
        }
      }
      // a pass's time is the sum of its operations; the untimed per-op
      // cleanup between them is not part of it
      val passSecs = opSecs
      val passWall = (System.nanoTime() - p0) / 1e9
      val delta = for (b <- before; c <- counters) yield {
        val after = c.snapshot()
        Array.tabulate(after.length)(i => if (Counter.maxSlots(i)) after(i) else after(i) - b(i))
      }
      counters.foreach(_.enabled = false)
      passes += PassRec(index, kind, passSecs, passOk, delta, persistedMax)
      ev("ev" -> "pass", "pass" -> index, "s" -> passSecs, "wall_s" -> passWall, "kind" -> kind,
        "ok" -> passOk,
        "persisted_rdds" -> persistedMax,
        "counters" -> delta.map(d => Counter.names.zip(d.toSeq).toMap))
      if (on && !dead) {
        counters.foreach(_.enabled = true)
        try wl.probes(tracer)
        catch { case t: Throwable => System.err.println(s"[perfbench] probe failed: $t") }
        counters.foreach(_.enabled = false)
      }
      tracer.enabled = false
      if (!dead) wl.afterPass(s)
      if (index == warmups - 1) measureFrom = System.nanoTime()
      index += 1
    }
    ev("ev" -> "measured", "s" -> measured, "passes" -> index)

    // --- correctness, untimed ---
    val c0 = System.nanoTime()
    val checkResults = wl.checks().map { case (name, f) =>
      val (ok, detail) =
        if (dead) (false, "not run: the SparkContext stopped during the timed loop")
        else try { val d = f(); (true, d) } catch {
          case t: Throwable => (false, s"${Harness.rootCause(t).getClass.getSimpleName}: " +
            String.valueOf(Harness.rootCause(t).getMessage).take(300))
        }
      ev("ev" -> "check", "name" -> name, "ok" -> ok, "detail" -> detail)
      name -> ok
    }
    ev("ev" -> "checked", "s" -> (System.nanoTime() - c0) / 1e9)
    ev("ev" -> "items", "per_op" -> wl.itemsPerOp)
    ev("ev" -> "facts", "facts" -> wl.facts)

    if (o.trace && !dead) {
      val layers = TraceReport.layers(wl, tracer, counters.get, passes.toSeq, cores)
      ev("ev" -> "layers", "metrics" -> layers.metrics, "report" -> layers.report)
      TraceReport.writeSpans(s"${o.out}/spans.jsonl", tracer, runId)
    }
    ev("ev" -> "done", "loadavg_end" -> Harness.loadAvg(), "rss_mb" -> Harness.peakRssMb(),
      "checks_ok" -> checkResults.forall(_._2))
    ev.close()
    if (!sc.isStopped) s.stop()
  }
}

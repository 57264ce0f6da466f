package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Counter slots shared by the run totals and the per-span tallies. */
object Counter {
  /** local property carrying the id of the span that launches a job */
  val SpanProperty = "perfbench.span"
  val names: IndexedSeq[String] = IndexedSeq(
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "output_bytes", "peak_exec_mem_bytes",
    "analysis_ms", "optimization_ms", "planning_ms")
  private val index = names.zipWithIndex.toMap
  def apply(name: String): Int = index(name)
  /** slots combined with max instead of sum */
  val maxSlots: Set[Int] = Set(index("peak_exec_mem_bytes"))

  final class Tally {
    val v = new AtomicLongArray(names.size)
    def add(slot: Int, x: Long): Unit =
      if (maxSlots(slot)) v.accumulateAndGet(slot, x, (a, b) => math.max(a, b))
      else v.addAndGet(slot, x)
    def snapshot: Array[Long] = Array.tabulate(names.size)(v.get)
  }
}

/** Spark listener + query-execution listener feeding atomic counters.
  *
  * Jobs carry the id of the span that launched them as a local property;
  * the listener maps each job's stages to that span, so task metrics land
  * on the span whose call or action caused them without any draining
  * inside the timed region. Catalyst phase times come from the executed
  * `QueryExecution` (the write's own, not the DataFrame's, whose tracker
  * only ever records analysis) and are kept as run totals. */
final class Counters(spark: SparkSession) extends SparkListener {
  import Counter._
  val total = new Tally
  private val perSpan = new ConcurrentHashMap[Int, Tally]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** callbacks are ignored while false (untraced passes, probes off) */
  @volatile var enabled: Boolean = true

  private def spanTally(id: Int): Tally = perSpan.computeIfAbsent(id, _ => new Tally)
  private def both(span: Option[Int], slot: Int, x: Long): Unit = {
    total.add(slot, x)
    span.foreach(id => spanTally(id).add(slot, x))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)
    span.foreach(id => e.stageIds.foreach(s => stageSpan.put(s, id)))
    both(span, apply("jobs"), 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled)
    both(Option(stageSpan.get(e.stageInfo.stageId)), apply("stages"), 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val span = Option(stageSpan.get(e.stageId))
    both(span, apply("tasks"), 1)
    val m = e.taskMetrics
    if (m != null) {
      both(span, apply("executor_run_ms"), m.executorRunTime)
      both(span, apply("executor_cpu_ns"), m.executorCpuTime)
      both(span, apply("gc_ms"), m.jvmGCTime)
      both(span, apply("shuffle_read_bytes"), m.shuffleReadMetrics.totalBytesRead)
      both(span, apply("shuffle_write_bytes"), m.shuffleWriteMetrics.bytesWritten)
      both(span, apply("spill_bytes"), m.memoryBytesSpilled + m.diskBytesSpilled)
      both(span, apply("input_bytes"), m.inputMetrics.bytesRead)
      both(span, apply("output_bytes"), m.outputMetrics.bytesWritten)
      both(span, apply("peak_exec_mem_bytes"), m.peakExecutionMemory)
    }
  }

  private val phases = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => total.add(apply(s"${p}_ms"), s.durationMs))
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(phases)
  }

  /** Drained read of the run totals. */
  def snapshot(): Array[Long] = { BusDrain.drain(spark.sparkContext); total.snapshot }

  /** Drained restart of the max-combined slots (peak memory is per pass). */
  def resetPeaks(): Unit = {
    BusDrain.drain(spark.sparkContext)
    Counter.maxSlots.foreach(i => total.v.set(i, 0L))
  }

  /** Drained read of one span's own tally (zeros when it launched no job). */
  def spanSnapshot(id: Int): Array[Long] = {
    BusDrain.drain(spark.sparkContext)
    Option(perSpan.get(id)).map(_.snapshot).getOrElse(new Array[Long](names.size))
  }
}

/** One timed region. `kind` is `op` (one benchmark operation), `call` (a
  * module's builder function — eager driver work only, DataFrames are lazy),
  * `action` (a noop sink consuming every column, where execution happens)
  * or `probe` (extra work that isolates one layer; excluded from
  * attribution and overhead). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      pass: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Nested spans on the single client thread. Disabled tracers run the body
  * and record nothing, so the untraced run pays no bookkeeping. */
final class Tracer(var enabled: Boolean, spark: SparkSession) {
  private val base = System.nanoTime()
  def sinceStart(ns: Long): Double = (ns - base) / 1e9
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var pass: Int = -1

  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prop = Counter.SpanProperty
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind, pass,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** span time minus the time of its direct children */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum
}

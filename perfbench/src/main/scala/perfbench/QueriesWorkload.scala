package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Declared queries over a generated table set, one query per operation,
  * each timed as build (the query's builder, eager driver work included)
  * plus a noop-write action — the action graft.Bench times, which consumes
  * every output column without I/O of its own.
  *
  * It runs a fixed cross-section of the suite sized to the run budget: the
  * `operators.Ranks` users shared with the cine serving path (q118, q126,
  * q134), the builder-heavy q11, the star join q121 and the text query q66;
  * `graft.Bench` times the whole suite. The seed permutes the order; the
  * tables come from `graft.tools.DataGen`, which is deterministic. Results
  * are checked against each query's DuckDB oracle outside the timed region. */
final class QueriesWorkload(o: Opts, cores: Int, work: String) extends Workload {
  private val name = "queries_mix"

  private val mix = Seq(
    "q11_exploration_sweep", "q118_rfm_segments", "q126_pareto_frontier",
    "q134_revenue_concentration", "q121_local_supplier_revenue", "q66_dup_spans")
  private val smokeMix = Seq("q05_invfreq_weights", "q22_rollup_revenue", "q118_rfm_segments")

  private val selected: Seq[String] = {
    val names = if (o.smoke) smokeMix else mix
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    new scala.util.Random(o.seed).shuffle(names)
  }
  val opNames: Seq[String] = selected

  private val sf = "0.001"
  private val dir = s"$work/tables"
  private var spark: SparkSession = _
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** Untimed: generate the tables (DataGen runs its own session and stops it). */
  override def prepare(): Unit = graft.tools.DataGen.main(Array(sf, dir))

  /** Set-up: engine start only. A fresh session, then the per-table schema
    * cache warmed so first-touch inference stays out of the timed queries. */
  def setup(rep: Int, previous: Option[SparkSession]): SparkSession = {
    previous.foreach(_.stop())
    spark = graft.Session.local(cores, "perfbench-" + name)
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach(t => Tables.table(spark, dir, t))
    Tables.events(spark, dir)
    spark
  }

  private val results = s"${o.out}/results"

  /** The warm-up pass writes each result as parquet for the DuckDB
    * comparison; measured passes sink into noop. */
  def pass(index: Int, tr: Tracer, warmup: Boolean): Seq[Op] = selected.map { q =>
    val build = SparkEntry.queries(q)
    Op(q, () => {
      val df = tr.span("queries.call", "call")(build(spark, dir))
      if (warmup) df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
      else tr.span("queries.action", "action")(Harness.noop(df))
    })
  }

  /** release what the query left cached; the GC waits for the pass end */
  override def afterOp(s: SparkSession): Unit = Harness.releaseAll(s, gc = false)

  /** The oracle comparison itself runs outside the JVM, in DuckDB; this
    * only writes the oracle SQL next to the dumped results. */
  val checkNames: Seq[String] = Nil
  def checks(): Seq[(String, () => String)] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(results))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Events.json(oracle).getBytes("UTF-8"))
    Nil
  }

  override def itemsPerOp: Map[String, Long] = selected.map(_ -> 1L).toMap

  override def facts: Map[String, Any] = Map("tables_dir" -> dir, "sf" -> sf,
    "queries" -> selected.size, "tables_bytes" -> Harness.dirBytesAndFiles(dir)._1)
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY §7.1): the one place a SparkSession is built,
  * so the bench, the oracle gate, the CLI and the specs all run the conf
  * that ships.
  *
  * The settings encode the scale posture, not magic numbers:
  * - shuffle partitions sized to cores locally (a cluster deployment sets
  *   this to ~2-3× total executor cores, or leaves AQE coalescing to fix it)
  * - AQE (Spark's default) may coalesce the materialization of persisted
  *   frames like any other stage output
  * - UTC session timezone (oracle parity + cluster determinism)
  *
  * Environment: `SPARK_MASTER` picks the master (default `local[cores]`),
  * `SPARK_GRAFT_CPUS` the core count (default: the JVM's available
  * processors).
  */
object Session {

  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Always `local[cores]`, whatever `SPARK_MASTER` says. */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession =
    builder(appName, cores, Some(s"local[$cores]")).getOrCreate()

  /** A tuned builder on `master`, else `SPARK_MASTER`, else `local[cores]`.
    * Callers add their own `.config` entries before `getOrCreate()`. */
  def builder(appName: String = "graft", cores: Int = defaultCores,
              master: Option[String] = None): SparkSession.Builder = {
    val m = master.orElse(sys.env.get("SPARK_MASTER")).getOrElse(s"local[$cores]")
    val b = tune(SparkSession.builder().master(m).appName(appName), cores)
    // local-cluster executors are fresh JVMs on this host: they need this
    // JVM's classpath and the JDK-17 add-opens that spark-submit would
    // inject (the same list build.sbt passes to forked runs)
    if (m.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar")
          .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" "))
    else b
  }

  /** Apply the engine's conf to any builder (cluster submit path). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Off by default only to keep cached output partitioning stable for
      // consumers that depend on it — none here do. Without it every
      // within-query persist (q44 sh, q55 subs, q66 spans, the rank-recipe
      // inputs) materializes at the raw shuffle-partition count and every
      // consumer launches that many near-empty tasks (q118: 336 tasks → 26).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** Vectorized-reader batch sizing for multi-MB tensor rows: the reader
    * materializes batchSize rows of EVERY projected column at once, so the
    * per-task working set is batchSize × row bytes. The 4096-row default
    * at ~5 MB per cine record is a ~20 GB reservation per task; 8-row
    * batches keep vectorization with a ~40 MB-per-column ceiling, suit
    * ~1 MB rows (64² cine) and survive 32 concurrent tasks in one local
    * JVM; native 256² volumes are ~160 MB/row → batch 2 keeps a 4-task
    * local run inside a few GB. Call before scanning tensor-record parquet
    * (DatasetCacher.load does this). */
  def wideRows(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "8")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scans stay declarative (`spark.read.parquet` + downstream select/filter)
  * so Catalyst pushes predicates and prunes columns into the parquet reader
  * — at 100 TB the scan dominates, and a scan that reads all columns for a
  * 2-column projection is wrong (check `.explain`: PushedFilters/ReadSchema).
  */
object Tables {
  /** Per-(application, path) parquet SCHEMA cache — metadata only, the
    * catalog's job done by hand since the driver tables are bare paths.
    *
    * r18 (guide §1.2/§6): every `spark.read.parquet(path)` call pays
    * schema inference — listing + footer reads + merge, measured at
    * ~0.16 s warm per call on the sf0.1 tables (0.178 s inferred vs
    * 0.021 s with an explicit schema) — and the bench
    * constructs ~2 table reads per query × 141 queries × reps, so
    * inference alone was tens of seconds of pure fixed floor. The cache
    * holds ONLY the inferred StructType (never rows, never results) and
    * is keyed by applicationId so a fresh process/session always
    * re-reads it from the parquet inputs; a changed table under a live
    * session was never supported (the driver's data dirs are immutable
    * per run).
    *
    * events.parquet caveat: its inference runs under whatever
    * `nanosAsLong` conf the FIRST reader set — unchanged from the
    * uncached behavior, because `events()` sets the conf before its
    * first read and the physical-variant branch reads the same cached
    * schema. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(
      (spark.sparkContext.applicationId, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.parquet`'s `ts` physical type has varied across driver data
    * generations — normalize every variant to a session-UTC TIMESTAMP so
    * downstream epoch arithmetic (`cast(double)`, window/session ops) is
    * generation-independent:
    *
    *  - TIMESTAMP(NANOS): only readable via the nanos-as-long legacy mode;
    *    convert with exact integer division (a double division would lose
    *    precision at 1e18 ns magnitudes). Truncation toward zero matches
    *    DuckDB's view of the same instants for post-1970 data.
    *  - timestamp[us] WITHOUT timezone: Spark 4 infers TIMESTAMP_NTZ, which
    *    rejects `cast(double)`; cast to TIMESTAMP — under the engine's
    *    mandated UTC session timezone (set by graft.Session)
    *    this reads the naive value as the same UTC instant DuckDB sees.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the TIMESTAMP_NTZ→TIMESTAMP cast below reads naive micros under the
    // SESSION timezone: graft.Session, which builds every engine session,
    // pins it to UTC at session construction. A reader must not mutate
    // session config behind the user's back, so only WARN when a session
    // lacks the pin — shifted instants would otherwise be silent.
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      System.err.println(
        "[graft] WARNING: events() read under non-UTC session timezone " +
          s"'${spark.conf.get("spark.sql.session.timeZone")}' — TIMESTAMP_NTZ " +
          "instants will shift vs the engine's UTC contract; set " +
          "spark.sql.session.timeZone=UTC at session construction")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
}

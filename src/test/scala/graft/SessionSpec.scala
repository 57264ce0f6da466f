package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.network.util.JavaUtils

/** The session factory is the only conf source: every session the bench,
  * the oracle gate, the CLI and the specs run carries the same conf, and
  * no second builder can drift from it. */
class SessionSpec extends SparkSpec {

  test("SparkSession builders appear only in graft/Session.scala") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala/graft")),
      s"run from the repository root (cwd ${sys.props("user.dir")})")
    val factory = src.resolve("main/scala/graft/Session.scala")
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val files = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    val offenders = files.filterNot(_ == factory).filter { p: Path =>
      builderCall.findFirstIn(Files.readString(p)).nonEmpty
    }
    assert(files.contains(factory) &&
      builderCall.findFirstIn(Files.readString(factory)).nonEmpty)
    assert(offenders.isEmpty,
      s"build sessions through graft.Session, not by hand: ${offenders.mkString(", ")}")
  }

  test("the factory's session carries UTC, GraftExtensions and the " +
    "cached-plan flag, with UI off") {
    // newSession: a fresh SQL conf seeded from the factory's builder conf,
    // untouched by runtime sets in other specs
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(fresh.conf.get("spark.sql.extensions") ==
      "graft.expressions.GraftExtensions")
    assert(fresh.catalog.functionExists("vec_dot"))
    assert(fresh.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(fresh.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(fresh.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("keys the factory no longer sets keep their old values as Spark " +
    "defaults") {
    val fresh = spark.newSession()
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.parquet.filterPushdown").foreach { k =>
      assert(!fresh.sparkContext.getConf.contains(k), s"$k is set explicitly")
      assert(fresh.conf.get(k) == "true", k)
    }
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    assert(!fresh.sparkContext.getConf.contains(maxBytes))
    assert(JavaUtils.byteStringAsBytes(fresh.conf.get(maxBytes)) ==
      128L * 1024 * 1024)
  }
}

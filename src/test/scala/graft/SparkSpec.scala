package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session — Spark startup
  * dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = Session.builder("graft-test", 4, Some("local[4]"))
    // Spark 4.1's checksummed checkpoint writer can deadlock state-store
    // commits under rapid micro-batches (executor tasks park forever in
    // ChecksumCancellableFSDataOutputStream.close while the checksum pool
    // sits idle — observed with flatMapGroupsWithState +
    // ProcessingTimeTimeout); tests don't need corruption detection
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

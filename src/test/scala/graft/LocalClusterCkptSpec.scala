package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r15 item 4: EXECUTE the non-local arm of the shared checkpoint
  * strategy. `Checkpoints` `auto` branches on `sc.isLocal`
  * (`util/Checkpoints.scala`), but every other spec runs `local[4]`, so
  * until r16 the reliable path was only exercised via explicit
  * `mode=reliable` on a local master and the auto-detection itself had
  * never run with `isLocal = false`.
  *
  * This suite builds its own session on `local-cluster[2,2,1024]` — a
  * real multi-process standalone master (in-JVM Master/Worker endpoints,
  * SEPARATE executor JVMs, `isLocal = false`) — and asserts all three
  * contracts of the auto mode:
  *
  *   1. non-local WITHOUT a checkpoint dir → stays LOCAL (executor-block
  *      checkpoints) and warns EXACTLY ONCE across repeated calls;
  *   2. non-local WITH a dir → RELIABLE files under the dir (and
  *      `unpersistCheckpoint` deletes the rdd-<id> dir promptly);
  *   3. a CC fixpoint on this master — whose every round routes through
  *      `Checkpoints.ckpt` in auto mode, i.e. the reliable arm — equals
  *      an independent driver-side union-find over the same edges (the
  *      same labels local mode produces, pinned by
  *      ConnectedComponentsSpec).
  *
  * The suite name carries "LocalCluster" so build.sbt's testGrouping
  * forks it into its own JVM: a JVM holds one SparkContext and every
  * other spec shares SparkSpec's local[4] session. Executors are separate
  * processes and need the test classpath explicitly (`Session.builder`
  * sets `spark.executor.extraClassPath`); `local-cluster` is a public Spark
  * master URL (used throughout Spark's own test suites), not an internal
  * API.
  */
class LocalClusterCkptSpec extends AnyFunSuite {

  test("auto checkpoints: warn-once local fallback without a dir, reliable " +
    "files with one, CC fixpoint on the cluster matches a driver union-find") {
    // Session.builder hands the executor JVMs this (forked test) JVM's
    // classpath and the JDK-17 add-opens on a local-cluster master
    val spark = Session.builder("graft-localcluster-test", 4,
      Some("local-cluster[2,2,1024]")).getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("ERROR")
      assert(!sc.isLocal, "local-cluster must present as non-local")
      assert(sc.getCheckpointDir.isEmpty, "spec needs a dir-less start")

      // ---- 1. auto + no dir: local fallback, warn fires EXACTLY once
      graft.util.Checkpoints.resetWarnForTest()
      val df = spark.range(0, 1000).toDF("v")
      val buf = new ByteArrayOutputStream
      val oldErr = System.err
      val (a, b) =
        try {
          System.setErr(new PrintStream(buf, true))
          val a = graft.util.Checkpoints.ckpt(df, eager = true)
          assert(a.count() == 1000)
          val b = graft.util.Checkpoints.ckpt(
            df.withColumn("w", col("v") * 2), eager = true)
          assert(b.count() == 1000)
          (a, b)
        } finally System.setErr(oldErr)
      val warns = buf.toString.linesIterator
        .count(_.contains("non-local master without spark.checkpoint.dir"))
      assert(warns == 1, s"warn-once fired $warns times:\n$buf")
      assert(CheckpointShim.checkpointFile(a).isEmpty,
        "no-dir fallback must produce a LOCAL checkpoint")
      assert(CheckpointShim.checkpointFile(b).isEmpty)

      // ---- 2. auto + dir: reliable files land under the dir
      val ckdir = java.nio.file.Files.createTempDirectory("graft-ck")
      sc.setCheckpointDir(ckdir.toString)
      val c = graft.util.Checkpoints.ckpt(
        spark.range(0, 500).toDF("v"), eager = true)
      assert(c.count() == 500)
      val file = CheckpointShim.checkpointFile(c)
      assert(file.isDefined,
        "auto on a non-local master WITH a dir must go RELIABLE")
      assert(file.get.contains(ckdir.getFileName.toString),
        s"checkpoint file ${file.get} not under $ckdir")
      // prompt retire: the rdd-<id> directory is deleted, not GC-deferred
      CheckpointShim.unpersistCheckpoint(c, blocking = true)
      val remaining = {
        // getCheckpointFile IS the rdd-<id> directory; cleanCheckpoint
        // deletes exactly it (the session dir above it stays)
        val p = new org.apache.hadoop.fs.Path(file.get)
        val fs = p.getFileSystem(sc.hadoopConfiguration)
        fs.exists(p)
      }
      assert(!remaining, s"retired rdd dir still on the checkpoint store: $file")

      // ---- 3. CC fixpoint on this master (every round checkpoints via
      // the reliable arm) vs an independent driver-side union-find
      import spark.implicits._
      val edges: Seq[(Long, Long)] =
        (0L until 9L).map(i => (i, i + 1)) ++ // chain 0..9
          (10L until 18L).map(i => (i, i + 1)) ++ // chain 10..18
          Seq((3L, 7L), (12L, 15L)) // shortcuts (cycles)
      val sym = edges.flatMap { case (s, d) => Seq((s, d), (d, s)) }
        .toDF("src", "dst")
      val vs = spark.range(0, 20).toDF("id") // 19 is isolated
      val (labels, _) = graft.operators.ConnectedComponents
        .minLabel(vs, "id", sym, "src", "dst")
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver union-find oracle
      val parent = Array.tabulate(20)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (s, d) =>
        val (rs, rd) = (find(s.toInt), find(d.toInt))
        if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
      }
      val expected = (0 until 20).map(i => i.toLong -> find(i).toLong).toMap
      assert(got == expected,
        s"cluster-master CC labels diverge from union-find:\n$got\nvs\n$expected")
    } finally spark.stop()
  }
}

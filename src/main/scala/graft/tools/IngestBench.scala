package graft.tools

import graft.pipeline.{DatasetCacher, GraftConfig, TransformPlanner}
import graft.sources.{Dicom, Sources}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** End-to-end ingest throughput: the full Spark job `binaryFile scan →
  * DICOM decode → cache transform → partitioned parquet materialize`,
  * over a generated corpus mixing the codecs a real archive carries
  * (multi-frame JPEG 2000 lossless cines, per-frame RLE series, lossy
  * JPEG 2000 .4.91 singles), at local[4] and local[32].
  *
  * CodecBench anchors per-core codec cost and CacheBench the cache
  * stage; this measures the composed pipeline — scan parallelism,
  * decode UDF, stats/shift kernels, explode, and the parquet write —
  * so BASELINE.md's node-ingest number is measured, not extrapolated.
  *
  * Run: `sbt 'runMain graft.tools.IngestBench'` → one JSON line.
  * Knobs: GRAFT_INGEST_SERIES (default 48), GRAFT_INGEST_FRAMES (12).
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val nSeries = sys.env.getOrElse("GRAFT_INGEST_SERIES", "48").toInt
    val nFrames = sys.env.getOrElse("GRAFT_INGEST_FRAMES", "12").toInt
    val rows = 256; val cols = 256
    val dir = Files.createTempDirectory("ingestbench-src").toString
    val cacheRoot = Files.createTempDirectory("ingestbench-cache").toString

    // anatomy-ish cine frames (CodecBench's texture, drifting per frame so
    // frames differ like a beating heart does)
    def mkFrame(s: Int, f: Int): Array[Float] = {
      val rng = new scala.util.Random(s * 1000L + f)
      Array.tabulate(rows * cols) { i =>
        val y = i / cols; val x = i % cols
        val dx = (x - 128) / 128.0; val dy = (y - 128) / 128.0
        val bowl = (11000 + 120 * f) * (1 - (dx * dx + dy * dy) / 2)
        val ripple = 1500 * math.sin(x / 9.0 + f * 0.3) * math.cos(y / 11.0)
        val speckle = rng.nextGaussian() * 300
        math.max(0, math.min(0xffff, (bowl + ripple + speckle).toInt)).toFloat
      }
    }

    // generate concurrently — the J2K encoder alone is a few MB/s/core
    val gen = Future.traverse((0 until nSeries).toList) { s => Future {
      val frames = (0 until nFrames).map(f => mkFrame(s, f))
      val uid = s"1.2.826.0.1.$s"
      var bytes = 0L
      (s % 4) match {
        case 1 => // per-frame RLE series (one file per frame, PS3.5 G)
          frames.zipWithIndex.foreach { case (fr, f) =>
            val b = Dicom.encodeRle(rows, cols, fr, seriesUid = uid,
              instanceNumber = f + 1, position = Seq(0f, 0f, f.toFloat))
            Files.write(Paths.get(f"$dir/s$s%03d-f$f%02d.dcm"), b)
            bytes += b.length
          }
        case 2 => // uncompressed Explicit-LE MONOCHROME1 cine (archives carry
          // inverted-polarity uncompressed series too; exercises the
          // photometric invert pass at measured throughput)
          val b = Dicom.encodeFrames(rows, cols, frames, seriesUid = uid,
            photometric = "MONOCHROME1")
          Files.write(Paths.get(f"$dir/s$s%03d.dcm"), b)
          bytes += b.length
        case 3 => // per-frame lossy JPEG 2000 (.4.91) singles
          frames.zipWithIndex.foreach { case (fr, f) =>
            val b = Dicom.encodeJpeg2000Lossy(rows, cols, fr, deltaShift = 2,
              seriesUid = uid, instanceNumber = f + 1,
              position = Seq(0f, 0f, f.toFloat))
            Files.write(Paths.get(f"$dir/s$s%03d-f$f%02d.dcm"), b)
            bytes += b.length
          }
        case _ => // multi-frame JPEG 2000 lossless cine (one file)
          val b = Dicom.encodeJpeg2000Frames(rows, cols, frames, seriesUid = uid)
          Files.write(Paths.get(f"$dir/s$s%03d.dcm"), b)
          bytes += b.length
      }
      bytes
    }}
    val fileBytes = Await.result(gen, Duration.Inf).sum
    val rawBytes = nSeries.toLong * nFrames * rows * cols * 2
    System.err.println(f"[ingest] corpus: $nSeries series x $nFrames frames, " +
      f"raw ${rawBytes / 1e6}%.0f MB, on disk ${fileBytes / 1e6}%.0f MB")

    val cfg = GraftConfig(
      datasetNames = Seq("bench"), keyPairs = Map("image" -> "none"),
      dimensionality = "2D", targetSize = (rows, cols))

    def runAt(cpus: Int): Double = {
      val spark = graft.Session.builder("graft-ingest-bench", cpus, Some(s"local[$cpus]"))
        // compressed DICOM expands ~30x in CPU terms at decode: the default
        // 128 MB binaryFile bin-packing puts the whole 56 MB corpus in ~11
        // partitions and starves the executor. Size scan partitions by
        // decode cost, not bytes — a few files per task.
        .config("spark.sql.files.maxPartitionBytes", 4L * 1024 * 1024)
        .config("spark.sql.files.openCostInBytes", 1L * 1024 * 1024)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t0 = System.nanoTime()
      val recs = Sources.scanDicomFrames(spark, dir)
        .select(col("series_uid").as("subject_id"), lit("bench").as("dataset"),
          col("volume").as("image"))
      val cached = TransformPlanner.cachePlan(cfg, Seq("image"), Nil)(recs)
      val subjects = recs.select("subject_id").distinct()
      val path = DatasetCacher.materialize(spark, cached,
        Seq("subject_id", "dataset", "frame_nr", "slice_nr",
          "total_nr_frames", "total_nr_slices", "image_meta"),
        cacheRoot, cfg, subjects, "subject_id", overwrite = true)
      val n = spark.read.parquet(s"$path/records").count()
      val secs = (System.nanoTime() - t0) / 1e9
      require(n == nSeries.toLong * nFrames, s"expected ${nSeries * nFrames} records, got $n")
      spark.stop()
      // a fresh builder after stop() needs the default session cleared
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      secs
    }

    val t4 = runAt(4)
    val t32 = runAt(32)
    def mbs(sec: Double) = rawBytes / sec / 1e6
    println(f"""{"metric":"ingest_mbs_local32","value":${mbs(t32)}%.1f,"unit":"MB/s","raw_mb":${rawBytes / 1e6}%.0f,"file_mb":${fileBytes / 1e6}%.0f,"local4_sec":$t4%.2f,"local32_sec":$t32%.2f,"local4_mbs":${mbs(t4)}%.1f,"local32_mbs":${mbs(t32)}%.1f,"scaling_4_to_32":${t4 / t32}%.2f}""")
  }
}

package perfbench

import graft.tensor.{Kernels, Tensors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-kernel cost of the tensor and expression layers, isolated from the
  * chain: a fixed set of single-plane slices is cached in memory, then each
  * kernel's projection is sunk into noop and timed against the same sink
  * without the kernel. The difference over the pixel count is the kernel's
  * cost per pixel (per element for the buffer expressions). */
object Probes {

  def kernels(spark: SparkSession, hw: Int): Map[String, Double] = {
    val planes = 4096
    val n = hw * hw
    val input = spark.range(planes).select(
      col("id"),
      format_string("k%05d", col("id")).as("key"),
      Tensors.tensor(typedLit(Seq(1, 1, 1, hw, hw)),
        transform(sequence(lit(0), lit(n - 1)),
          i => (pmod(xxhash64(col("id"), i), lit(1000L)).cast("double") / 10.0).cast("float")))
        .as("t"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    input.count()
    try {
      // least-contended of three: the difference of two small timings
      def time(df: DataFrame, c: Column): Double = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        Harness.noop(df.select(c.as("out")))
        (System.nanoTime() - t0).toDouble
      }.min
      // the per-pixel kernels see a quarter of the planes, the cheap buffer
      // expressions all of them, each against the same sink without the kernel
      def perPx(df: DataFrame, count: Int): Column => Double = {
        val base = time(df, col("t"))
        c => math.max(0.0, time(df, c) - base) / (count.toDouble * n)
      }
      val warp = perPx(input.where(col("id") < planes / 4), planes / 4)
      val buffer = perPx(input, planes)
      val affine = typedLit(Seq(0.96, 0.26, 1.5, -0.26, 0.96, -2.0))
      Map(
        "tensor.affine_resample_ns_per_px" -> warp(Kernels.affineResample(
          col("t.shape"), col("t.data"), affine, lit(hw), lit(hw), lit(true))),
        "tensor.gaussian_noise_ns_per_px" -> warp(
          Tensors.gaussianNoise(col("t"), 0.05, col("key"), 7L)),
        "tensor.gaussian_blur_ns_per_px" -> warp(
          Kernels.gaussianBlur(col("t.shape"), col("t.data"), lit(0.75))),
        "expressions.buffer_stats_ns_per_elem" -> buffer(Kernels.bufferStats(col("t.data"))),
        "expressions.shift_scale_ns_per_elem" -> buffer(
          Kernels.shiftScale(col("t.data"), lit(-1.0), lit(0.5))))
    } finally input.unpersist(blocking = true)
  }
}

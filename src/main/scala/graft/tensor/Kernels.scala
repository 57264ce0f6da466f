package graft.tensor

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graftshim.ColumnShim

/** Scalar UDF kernels for the image operators that genuinely need imperative
  * per-pixel loops (SURVEY §7.3: "Custom UDFs (not Expressions initially)").
  * Each kernel maps a flat (T,D,C,H,W) buffer → new buffer; tight JVM loops
  * over primitive arrays (JIT-vectorized), one call per record — the Spark
  * plumbing around them stays relational.
  *
  * Reference kernels: warp `pipeline/transforms/resampler.py:12-212`,
  * blur (monai RandGaussianSmoothd via `transforms/compose.py:180-190`),
  * reorient `setup/reformat/utils.py:56-72`.
  */
object Kernels {

  /** 2-D affine resample of every (t,d,c) plane. `m` is the 6-coefficient
    * inverse map (target pixel → source pixel, like torch affine_grid):
    * sx = m0*x + m1*y + m2 ; sy = m3*x + m4*y + m5, in *centered* pixel
    * coords (origin at plane center, like the reference's center-composed
    * matrix, `transformation_matrices.py:32-42`). Bilinear or nearest,
    * zero padding outside (matches `resampler.py:142`).
    */
  private def warpPlane(src: Array[Float], h: Int, w: Int,
                        oh: Int, ow: Int, m: Array[Double],
                        bilinear: Boolean): Array[Float] = {
    val out = new Array[Float](oh * ow)
    val cy = (h - 1) / 2.0; val cx = (w - 1) / 2.0
    val ocy = (oh - 1) / 2.0; val ocx = (ow - 1) / 2.0
    var y = 0
    while (y < oh) {
      val ty = y - ocy
      var x = 0
      while (x < ow) {
        val tx = x - ocx
        val sx = m(0) * tx + m(1) * ty + m(2) + cx
        val sy = m(3) * tx + m(4) * ty + m(5) + cy
        var v = 0.0
        if (bilinear) {
          val x0 = math.floor(sx).toInt; val y0 = math.floor(sy).toInt
          val fx = sx - x0; val fy = sy - y0
          var dy = 0
          while (dy <= 1) {
            var dx = 0
            while (dx <= 1) {
              val xx = x0 + dx; val yy = y0 + dy
              if (xx >= 0 && xx < w && yy >= 0 && yy < h) {
                val wgt = (if (dx == 0) 1 - fx else fx) * (if (dy == 0) 1 - fy else fy)
                v += wgt * src(yy * w + xx)
              }
              dx += 1
            }
            dy += 1
          }
        } else {
          val xx = math.round(sx).toInt; val yy = math.round(sy).toInt
          if (xx >= 0 && xx < w && yy >= 0 && yy < h) v = src(yy * w + xx)
        }
        out(y * ow + x) = v.toFloat
        x += 1
      }
      y += 1
    }
    out
  }

  /** T4/T5 warp over the whole record: applies the same 2-D affine to every
    * (t,d,c) plane; returns struct(shape, data). */
  val affineResample: UserDefinedFunction =
    udf((shape: Seq[Int], data: Array[Float], m: Seq[Double],
         targetH: Int, targetW: Int, bilinear: Boolean) => {
      // Array[Float] at the boundary: Spark bulk-copies the primitive
      // UnsafeArrayData instead of boxing every pixel — the warp reads
      // each source sample up to 4× (bilinear), so boxed access dominated
      val Seq(t, d, c, h, w) = shape
      val planes = t * d * c
      val out = new Array[Float](planes * targetH * targetW)
      val mm = m.toArray
      var p = 0
      while (p < planes) {
        val plane = java.util.Arrays.copyOfRange(data, p * h * w, (p + 1) * h * w)
        System.arraycopy(warpPlane(plane, h, w, targetH, targetW, mm, bilinear),
          0, out, p * targetH * targetW, targetH * targetW)
        p += 1
      }
      (Seq(t, d, c, targetH, targetW), out)
    })

  /** invert a 6-coefficient affine (for T5's exact inverse pipeline,
    * `resampler.py:194-212`): driver-free column math would also work; kept
    * as a UDF for reuse inside other kernels. */
  val invertAffine: UserDefinedFunction = udf((m: Seq[Double]) => {
    val det = m(0) * m(4) - m(1) * m(3)
    val i0 = m(4) / det; val i1 = -m(1) / det
    val i3 = -m(3) / det; val i4 = m(0) / det
    Seq(i0, i1, -(i0 * m(2) + i1 * m(5)), i3, i4, -(i3 * m(2) + i4 * m(5)))
  })

  /** A4/T6 fast path for LARGE buffers: one-pass stats + shift as native
    * Catalyst expressions over the UnsafeArrayData buffer. Spark's
    * higher-order array functions are CodegenFallback (interpreted, boxed,
    * per element — the `aggregate` fold even allocates a struct row per
    * element), and a Scala UDF boxes the whole array at the boundary —
    * at native 256² cine geometry (19.6M floats/volume) the UDF path was
    * GC-bound. `Tensors.stats`/HOF intensity ops remain the right tool for
    * small arrays (vectors, shingles, per-order groups) where they stay
    * inside the relational plan. Size alone does not decide it: the
    * per-element cost does. A cheap arithmetic lambda is fine as a HOF on a
    * few thousand elements, but a hashing/transcendental one is not — the
    * seeded-noise `zip_with` (two xxhash64, log, cos, sqrt per element) cost
    * ~210 ns/px on 4,096-px slices against ~23 ns/px as a native kernel
    * (perfbench kernel probe, local[4] on a 4-core Xeon). Whole served
    * buffers go to kernels. Same arithmetic as the UDFs these
    * replaced — stats fingerprints and oracle parity unaffected.
    */
  def bufferStats(data: Column): Column =
    ColumnShim.column(graft.expressions.BufferStats(ColumnShim.expression(data)))

  /** x → (x + shift) * scale over the buffer, codegen primitive loop. */
  def shiftScale(data: Column, shift: Column, scale: Column): Column =
    ColumnShim.column(graft.expressions.ShiftScale(
      ColumnShim.expression(data), ColumnShim.expression(shift),
      ColumnShim.expression(scale)))

  /** A7 fast path: sorted distinct rounded classes of a large label buffer. */
  def presentClasses(data: Column): Column =
    ColumnShim.column(graft.expressions.PresentClasses(ColumnShim.expression(data)))

  /** T9 separable Gaussian blur of every (t,d,c) plane, truncated at 3σ
    * (monai RandGaussianSmoothd semantics), reflect-free zero-sum-preserving
    * normalization at borders. */
  val gaussianBlur: UserDefinedFunction =
    udf((shape: Seq[Int], data: Array[Float], sigma: Double) => {
      val Seq(t, d, c, h, w) = shape
      val radius = math.max(1, math.ceil(3 * sigma).toInt)
      val k = Array.tabulate(2 * radius + 1)(i => math.exp(-0.5 * math.pow((i - radius) / sigma, 2)))
      val planes = t * d * c
      val src = data
      val out = new Array[Float](src.length)
      var p = 0
      while (p < planes) {
        val off = p * h * w
        val tmp = new Array[Double](h * w)
        // horizontal pass
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var s = 0.0; var ws = 0.0; var i = -radius
            while (i <= radius) {
              val xx = x + i
              if (xx >= 0 && xx < w) { s += k(i + radius) * src(off + y * w + xx); ws += k(i + radius) }
              i += 1
            }
            tmp(y * w + x) = s / ws
            x += 1
          }
          y += 1
        }
        // vertical pass
        y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var s = 0.0; var ws = 0.0; var i = -radius
            while (i <= radius) {
              val yy = y + i
              if (yy >= 0 && yy < h) { s += k(i + radius) * tmp(yy * w + x); ws += k(i + radius) }
              i += 1
            }
            out(off + y * w + x) = (s / ws).toFloat
            x += 1
          }
          y += 1
        }
        p += 1
      }
      (shape, out)
    })

  /** T13 reorientation: permute the 5 axes (perm(i) = source axis feeding
    * output axis i) with optional per-axis mirroring — a stride remap over
    * the flat buffer (`setup/reformat/utils.py:56-72`'s io_orientation
    * fixups generalized). */
  val reorient: UserDefinedFunction =
    udf((shapeS: Seq[Int], data: Array[Float], permS: Seq[Int], flipS: Seq[Boolean]) => {
      // copy the small Seq params to primitive arrays once: they are indexed
      // n times PER ELEMENT below, and Seq#apply boxes per access
      val shape = shapeS.toArray
      val perm = permS.toArray
      val flip = flipS.toArray
      val n = shape.length
      val srcStrides = new Array[Int](n)
      var acc = 1
      var i = n - 1
      while (i >= 0) { srcStrides(i) = acc; acc *= shape(i); i -= 1 }
      val outShape = perm.map(shape)
      val out = new Array[Float](data.length)
      val src = data
      val idx = new Array[Int](n)
      var flat = 0
      val total = data.length
      while (flat < total) {
        // decode output multi-index, map through perm/flip to source offset
        var rem = flat; var srcOff = 0
        var a = 0
        while (a < n) {
          var sz = 1
          var b = a + 1
          while (b < n) { sz *= outShape(b); b += 1 }
          val ia = rem / sz; rem %= sz
          val srcAxis = perm(a)
          val srcIdx = if (flip(a)) shape(srcAxis) - 1 - ia else ia
          srcOff += srcIdx * srcStrides(srcAxis)
          idx(a) = ia
          a += 1
        }
        out(flat) = src(srcOff)
        flat += 1
      }
      (outShape, out)
    })
}

/** T4's random affine parameter/matrix construction
  * (`transforms/transformation_matrices.py:4-42`, `resampler.py:55-101`) as
  * pure column math: seeded uniforms → rotation/scale/flip/translate
  * coefficients composed into the 6-coefficient inverse map consumed by
  * Kernels.affineResample. */
object AffineParams {
  import Tensors.seededUniform

  /** uniform in [lo, hi] from a named op draw. */
  private def u(key: Column, op: String, seed: Long, lo: Double, hi: Double): Column =
    seededUniform(key, op, seed) * (hi - lo) + lo

  /** Compose rotate(θ)∘scale(s)∘flip(fx) (about the center) into the inverse
    * map coefficients [m0..m5] as a 6-element array column. Probabilities
    * gate each component exactly like the reference's per-component
    * `RandomizableTransform` draws. */
  def randomAffine(key: Column, seed: Long,
                   maxRotDeg: Double, rotProb: Double,
                   scaleRange: (Double, Double), scaleProb: Double,
                   flipProb: Double,
                   maxShift: Double, shiftProb: Double): Column = {
    val rot = when(seededUniform(key, "rot?", seed) < rotProb,
      radians(u(key, "rot", seed, -maxRotDeg, maxRotDeg))).otherwise(lit(0.0))
    val sc = when(seededUniform(key, "scale?", seed) < scaleProb,
      u(key, "scale", seed, scaleRange._1, scaleRange._2)).otherwise(lit(1.0))
    val fx = when(seededUniform(key, "flip?", seed) < flipProb, lit(-1.0)).otherwise(lit(1.0))
    val tx = when(seededUniform(key, "shiftx?", seed) < shiftProb,
      u(key, "shiftx", seed, -maxShift, maxShift)).otherwise(lit(0.0))
    val ty = when(seededUniform(key, "shifty?", seed) < shiftProb,
      u(key, "shifty", seed, -maxShift, maxShift)).otherwise(lit(0.0))
    // inverse map: target → source = flip∘scale⁻¹∘rotate(−θ) then shift
    val c = cos(rot); val s = sin(rot)
    val inv = lit(1.0) / sc
    array(
      c * inv * fx, s * inv * fx, tx * fx,
      -s * inv, c * inv, ty)
  }
}

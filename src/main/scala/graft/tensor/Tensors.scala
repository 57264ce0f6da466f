package graft.tensor

import graft.expressions.GaussianNoise
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

/** 5-D tensor support over the flat-buffer encoding (SURVEY §1.1):
  * a tensor column is `struct(shape: array<int>, data: array<float>)` with
  * the flat buffer in **(T, D, C, H, W)** row-major order. The reference's
  * canonical order is (C,H,W,D,T) (`pipeline/transforms/utils.py:9-33`);
  * we store time/depth outermost so frame/slice explosion is a *contiguous*
  * `slice()` of the buffer — a pure Catalyst expression instead of a
  * strided gather. Semantics (which axis is channel/depth/time) are
  * unchanged.
  *
  * Everything here is Column math — higher-order functions, no UDFs — so
  * it distributes with zero serialization overhead. The HOFs do not stay
  * inside whole-stage codegen: they are `CodegenFallback`, their lambdas
  * interpreted per element, so they suit small arrays; whole-buffer ops on
  * the serve path are native expressions (`gaussianNoise` here, the
  * `expressions.BufferKernels` wrappers in Kernels.scala). UDF kernels
  * (warp/blur/reorient) live in Kernels.scala.
  */
object Tensors {

  /** Build a tensor column from shape + data columns. */
  def tensor(shape: Column, data: Column): Column =
    struct(shape.as("shape"), data.as("data"))

  /** T1 `Ensure4Dd`-analog (`transforms/utils.py:9-33`): pad shape to rank 5
    * by prepending size-1 axes ((C,H,W) → (1,1,C,H,W)); buffer unchanged. */
  def ensure5d(t: Column): Column = {
    val r = size(t("shape"))
    tensor(concat(array_repeat(lit(1), lit(5) - r), t("shape")), t("data"))
  }

  private def dimAt(t: Column, i: Int): Column = element_at(t("shape"), i + 1)

  /** elements per (t,d) block = C*H*W. */
  private def blockSize(t: Column): Column = dimAt(t, 2) * dimAt(t, 3) * dimAt(t, 4)

  /** T2 `DimensionsTo2Dd` (`transforms/dimensions.py:8-44`): explode a 5-D
    * record into T·D 2-D records. Emits frame_nr/slice_nr/total counters
    * like the reference. The generator is `posexplode(sequence(...))` + a
    * contiguous `slice` — Catalyst's Generate, fully distributed, no UDTF.
    * The reference's single-frame/slice short-circuit
    * (`dimensions.py:23-28`) is unnecessary here: T=D=1 explodes to the
    * same single record with identical shape.
    */
  def explodeTo2d(df: DataFrame, col2d: String): DataFrame = {
    val t = col(col2d)
    val tDim = dimAt(t, 0); val dDim = dimAt(t, 1)
    df.withColumn("total_nr_frames", tDim.cast("int"))
      .withColumn("total_nr_slices", dDim.cast("int"))
      .withColumn("_idx", explode(sequence(lit(0), tDim * dDim - 1)))
      .withColumn("frame_nr", expr("_idx DIV total_nr_slices").cast("int"))
      .withColumn("slice_nr", (col("_idx") % col("total_nr_slices")).cast("int"))
      .withColumn(col2d, tensor(
        concat(array(lit(1), lit(1)), slice(t("shape"), 3, 3)),
        slice(t("data"), col("_idx") * blockSize(t) + 1, blockSize(t))))
      .drop("_idx")
  }

  /** T2 `DimensionsTo3Dd` (`transforms/dimensions.py:47-109`): explode into
    * T 3-D records (all slices of one frame — contiguous block of D·C·H·W). */
  def explodeTo3d(df: DataFrame, col3d: String): DataFrame = {
    val t = col(col3d)
    val tDim = dimAt(t, 0); val dDim = dimAt(t, 1)
    val frameSize = dDim * blockSize(t)
    df.withColumn("total_nr_frames", tDim.cast("int"))
      .withColumn("frame_nr", explode(sequence(lit(0), tDim - 1)))
      .withColumn("frame_nr", col("frame_nr").cast("int"))
      .withColumn(col3d, tensor(
        concat(array(lit(1)), slice(t("shape"), 2, 4)),
        slice(t("data"), col("frame_nr") * frameSize + 1, frameSize)))
  }

  /** T3 `CopySamplesd` (`transforms/utils.py:172-183`): duplicate each
    * record n+1 times with a copy index (multi-view augmentation). */
  def copySamples(df: DataFrame, n: Int): DataFrame =
    df.withColumn("copy_nr", explode(sequence(lit(0), lit(n))))

  /** A4 per-image stats (`transforms/utils.py:87-91`): one-pass
    * min/max/mean/std over the buffer via an `aggregate` HOF with a struct
    * accumulator. std is population (torch.std(unbiased) differences are
    * pinned at the call sites that care). */
  def stats(data: Column): Column = {
    val acc = aggregate(
      data,
      struct(lit(0L).as("n"), lit(0.0).as("s1"), lit(0.0).as("s2"),
        lit(Double.MaxValue).as("mn"), lit(Double.MinValue).as("mx")),
      (a, x) => {
        val xd = x.cast("double")
        struct((a("n") + 1).as("n"), (a("s1") + xd).as("s1"),
          (a("s2") + xd * xd).as("s2"),
          least(a("mn"), xd).as("mn"), greatest(a("mx"), xd).as("mx"))
      })
    val mean = acc("s1") / acc("n")
    struct(acc("mn").as("amin"), acc("mx").as("amax"), mean.as("mean"),
      sqrt(greatest(acc("s2") / acc("n") - mean * mean, lit(0.0))).as("std"),
      acc("n").as("numel"))
  }

  /** F12 / T6 `ProcessIntensityd` (`transforms/utils.py:36-53`): shift so
    * min = 0. */
  def shiftToZero(t: Column): Column = {
    val mn = array_min(t("data"))
    tensor(t("shape"), transform(t("data"), x => x - mn))
  }

  /** T7 `StandardizeIntensityd` (`transforms/intensity.py:8-58`): (x−μ)/σ,
    * stats either current-record or saved subject-level (`reference_level`). */
  def standardize(t: Column, mean: Column, std: Column): Column =
    // std=0 (constant block, e.g. fully padded after warp) → 0, not ±inf;
    // also keeps the expression safe under Spark 4's default ANSI mode
    tensor(t("shape"), transform(t("data"),
      x => when(std > 0, (x.cast("double") - mean) / std)
        .otherwise(lit(0.0)).cast("float")))

  def standardizeInPlace(t: Column): Column = {
    val st = stats(t("data"))
    standardize(t, st("mean"), st("std"))
  }

  /** T7 `NormalizeIntensityd` (`transforms/intensity.py:61-110`): min-max →
    * [lo, hi]. Degenerate range maps to lo (guarded division). */
  def normalize(t: Column, lo: Double, hi: Double): Column = {
    val mn = array_min(t("data")).cast("double")
    val mx = array_max(t("data")).cast("double")
    val rng = mx - mn
    tensor(t("shape"), transform(t("data"), x =>
      when(rng > 0, ((x.cast("double") - mn) / rng * (hi - lo) + lo))
        .otherwise(lit(lo)).cast("float")))
  }

  /** F8 / T7 `ClampIntensityd` (`transforms/intensity.py:117-131`). */
  def clamp(t: Column, lo: Double, hi: Double): Column =
    tensor(t("shape"), transform(t("data"),
      x => greatest(least(x, lit(hi.toFloat)), lit(lo.toFloat))))

  /** Deterministic per-record uniform in [0,1): hash(key, op, seed) — the
    * RandomizableTransform replacement (SURVEY §2.9 summary): Spark
    * `rand()` is partition-order dependent; this is retry/partition-proof. */
  def seededUniform(key: Column, opId: String, seed: Long): Column =
    (pmod(xxhash64(key, lit(opId), lit(seed)), lit(1L << 24)).cast("double")
      / lit((1L << 24).toDouble))

  /** T8 `RandSolarized` (`transforms/intensity.py:134-165`): with
    * probability p, x > thr → max − x. */
  def solarize(t: Column, thr: Double, prob: Double, key: Column, seed: Long): Column = {
    val fire = seededUniform(key, "solarize", seed) < prob
    val mx = array_max(t("data"))
    tensor(t("shape"), when(fire,
      transform(t("data"), x => when(x > thr.toFloat, mx - x).otherwise(x)))
      .otherwise(t("data")))
  }

  /** T9 (partial) `RandScaleIntensityd`/`RandShiftIntensityd`/gamma
    * (`transforms/compose.py:168-204`): factor/offset drawn from seeded
    * uniforms at the call site. */
  def scaleShift(t: Column, scale: Column, shift: Column): Column =
    tensor(t("shape"), transform(t("data"),
      x => (x.cast("double") * scale + shift).cast("float")))

  /** gamma correction on a [0,1]-normalized buffer. */
  def gamma(t: Column, g: Column): Column =
    tensor(t("shape"), transform(t("data"),
      x => pow(greatest(x.cast("double"), lit(0.0)), g).cast("float")))

  /** Seeded additive Gaussian noise (T9 `RandGaussianNoised`): per-element
    * normal via Box–Muller over two per-element hash uniforms — fully
    * deterministic in (key, seed, element index). A native kernel
    * (`expressions.GaussianNoise`), not a HOF: the buffer is a whole served
    * slice and the per-element hashing and transcendentals dominate (cost
    * in the `Kernels.bufferStats` scaladoc). */
  def gaussianNoise(t: Column, sigma: Double, key: Column, seed: Long): Column =
    tensor(t("shape"), ColumnShim.column(GaussianNoise(
      ColumnShim.expression(t("data")), ColumnShim.expression(xxhash64(key)), sigma, seed)))

  /** A7 present classes (`transforms/utils.py:136-141`) — as a real
    * array<int>, not the reference's joined-string workaround (SURVEY §1.2). */
  def presentClasses(t: Column): Column =
    array_sort(array_distinct(transform(t("data"), x => round(x, 0).cast("int"))))

  /** T10 `AsDiscreted` one-hot (`transforms/compose.py:226-233`): label
    * buffer with C=1 → C=nrClasses, per (t,d) block, channel-major within
    * block (matches the (T,D,C,H,W) layout). */
  def oneHot(t: Column, nrClasses: Int): Column = {
    val hw = dimAt(t, 3) * dimAt(t, 4)
    val blocks = dimAt(t, 0) * dimAt(t, 1)
    val data = flatten(transform(sequence(lit(0), blocks - 1), b =>
      flatten(transform(sequence(lit(0), lit(nrClasses - 1)), c =>
        transform(slice(t("data"), b * hw + 1, hw),
          v => when(round(v, 0).cast("int") === c, lit(1.0f)).otherwise(lit(0.0f)))))))
    tensor(concat(slice(t("shape"), 1, 2), array(lit(nrClasses)), slice(t("shape"), 4, 2)), data)
  }

  /** A12 axis-sum projection to the (H,W) plane (`transforms/utils.py:130`,
    * `setup/reformat/utils.py:46`): sum over T, D, C. Pure index arithmetic:
    * out[y*W+x] = Σ_blocks data[b*H*W + y*W + x] (C folded into blocks). */
  def projectHW(t: Column): Column = {
    val hw = dimAt(t, 3) * dimAt(t, 4)
    val blocks = dimAt(t, 0) * dimAt(t, 1) * dimAt(t, 2)
    val data = transform(sequence(lit(0), hw - 1), i =>
      aggregate(sequence(lit(0), blocks - 1), lit(0.0),
        (acc, b) => acc + element_at(t("data"), (b * hw + i + 1).cast("int")).cast("double"))
        .cast("float"))
    tensor(array(lit(1), lit(1), lit(1), dimAt(t, 3), dimAt(t, 4)), data)
  }

  /** T14 border crop (`setup/reformat/utils.py:46-54`): nonzero bounding box
    * of the (H,W) projection, applied to every (t,d,c) block. Returns the
    * cropped tensor. HOF-only: bbox from index arithmetic over the
    * projection, crop via nested slice/flatten. */
  def borderCrop(t: Column): Column = {
    val w = dimAt(t, 4)
    val proj = projectHW(t)("data")
    val nz = filter(zip_with(proj, sequence(lit(0), size(proj) - 1), (v, i) => struct(v.as("v"), i.as("i"))),
      s => s("v") =!= 0.0f)
    val xs = transform(nz, s => s("i") % w)
    val ys = transform(nz, s => floor(s("i") / w).cast("int"))
    val y0 = array_min(ys); val y1 = array_max(ys)
    val x0 = array_min(xs); val x1 = array_max(xs)
    cropHW(t, y0, y1, x0, x1)
  }

  /** T16 histogram equalization (`visualization/utils.py:39-46`; the
    * A10+W1+F10 composite, relational twin = q14): 256 equal-width bins over
    * the buffer, CDF via running sum, remap each value to
    * round(255·(cdf−cdf_min)/(n−cdf_min)).
    *
    * Per-record HOF implementation (O(256·n) per buffer via the counts
    * transform) — fine for record-sized images; a corpus-wide equalization
    * uses the q14 relational shape instead (histogram as a groupBy, one
    * pass). */
  def histEqualize(t: Column): Column = {
    val mn = array_min(t("data")).cast("double")
    val mx = array_max(t("data")).cast("double")
    val n = size(t("data"))
    val rng = mx - mn
    val bucketOf: Column => Column = x =>
      least(floor((x.cast("double") - mn) / (rng + lit(1e-12)) * 256), lit(255.0)).cast("int")
    val counts = transform(sequence(lit(0), lit(255)), b =>
      size(filter(t("data"), x => bucketOf(x) === b)))
    // running CDF over the 256 counts (fold builds the prefix-sum array)
    val cdf = aggregate(counts, array().cast("array<int>"),
      (acc, c) => concat(acc, array(
        when(size(acc) === 0, lit(0)).otherwise(element_at(acc, -1)) + c)))
    val cdfMin = array_min(filter(cdf, c => c > 0))
    val remapped = transform(t("data"), x =>
      when(rng > 0,
        round((element_at(cdf, bucketOf(x) + 1) - cdfMin).cast("double")
          / greatest((n - cdfMin).cast("double"), lit(1.0)) * 255, 0))
        .otherwise(lit(0.0)).cast("float"))
    tensor(t("shape"), remapped)
  }

  /** crop every (t,d,c) block of the buffer to rows [y0,y1] × cols [x0,x1]
    * (inclusive). */
  def cropHW(t: Column, y0: Column, y1: Column, x0: Column, x1: Column): Column = {
    val h = dimAt(t, 3); val w = dimAt(t, 4)
    val blocks = dimAt(t, 0) * dimAt(t, 1) * dimAt(t, 2)
    val newH = (y1 - y0 + 1); val newW = (x1 - x0 + 1)
    val data = flatten(transform(sequence(lit(0), blocks - 1), b =>
      flatten(transform(sequence(y0, y1), y =>
        slice(t("data"), (b * h * w + y * w + x0 + 1).cast("int"), newW.cast("int"))))))
    tensor(concat(slice(t("shape"), 1, 3), array(newH.cast("int"), newW.cast("int"))), data)
  }
}

package graft

import graft.tensor.{AffineParams, Kernels, Tensors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

class TensorSpec extends SparkSpec {
  import Tensors._

  /** one-row DF with tensor column "t" of given shape and data 0,1,2,... */
  private def mk(shape: Seq[Int], data: Seq[Float] = Nil): DataFrame = {
    val n = shape.product
    val d = if (data.nonEmpty) data else (0 until n).map(_.toFloat)
    spark.range(1).select(
      col("id").as("key"),
      tensor(typedLit(shape), typedLit(d)).as("t"))
  }

  private def dataOf(df: DataFrame, c: String = "t"): Seq[Float] =
    df.select(col(s"$c.data")).head().getSeq[Float](0)
  private def shapeOf(df: DataFrame, c: String = "t"): Seq[Int] =
    df.select(col(s"$c.shape")).head().getSeq[Int](0)

  test("ensure5d pads leading axes") {
    val df = mk(Seq(2, 3)).select(ensure5d(col("t")).as("t"))
    assert(shapeOf(df) == Seq(1, 1, 1, 2, 3))
    assert(dataOf(df) == (0 until 6).map(_.toFloat))
  }

  test("explodeTo2d yields contiguous frame/slice blocks with counters") {
    // T=2, D=3, C=1, H=1, W=2 → data 0..11, block size 2
    val df = explodeTo2d(mk(Seq(2, 3, 1, 1, 2)), "t")
    val rows = df.select(col("frame_nr"), col("slice_nr"),
      col("total_nr_frames"), col("total_nr_slices"), col("t.shape"), col("t.data"))
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Int]("total_nr_frames") == 2 && r.getAs[Int]("total_nr_slices") == 3)
      val f = r.getAs[Int]("frame_nr"); val s = r.getAs[Int]("slice_nr")
      assert(r.getSeq[Int](4) == Seq(1, 1, 1, 1, 2))
      val expected = Seq((f * 3 + s) * 2, (f * 3 + s) * 2 + 1).map(_.toFloat)
      assert(r.getSeq[Float](5) == expected, s"frame $f slice $s")
    }
  }

  test("explodeTo3d keeps depth axis") {
    val df = explodeTo3d(mk(Seq(2, 3, 1, 1, 2)), "t")
    val rows = df.select(col("frame_nr"), col("t.shape"), col("t.data")).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getSeq[Int](1)).forall(_ == Seq(1, 3, 1, 1, 2)))
    assert(rows.find(_.getInt(0) == 1).get.getSeq[Float](2) == (6 until 12).map(_.toFloat))
  }

  test("stats one-pass matches closed form") {
    val df = mk(Seq(1, 1, 1, 1, 4), Seq(1f, 2f, 3f, 6f))
      .select(stats(col("t.data")).as("s"))
    val s = df.select(col("s.amin"), col("s.amax"), col("s.mean"), col("s.std")).head()
    assert(s.getDouble(0) == 1.0 && s.getDouble(1) == 6.0 && s.getDouble(2) == 3.0)
    assert(math.abs(s.getDouble(3) - math.sqrt((1 + 4 + 9 + 36) / 4.0 - 9.0)) < 1e-12)
  }

  test("intensity family: shift/normalize/clamp/standardize") {
    val base = mk(Seq(1, 1, 1, 1, 4), Seq(2f, 4f, 6f, 10f))
    assert(dataOf(base.select(shiftToZero(col("t")).as("t"))) == Seq(0f, 2f, 4f, 8f))
    assert(dataOf(base.select(normalize(col("t"), 0, 1).as("t"))) == Seq(0f, 0.25f, 0.5f, 1f))
    assert(dataOf(base.select(clamp(col("t"), 3, 7).as("t"))) == Seq(3f, 4f, 6f, 7f))
    val st = dataOf(base.select(standardizeInPlace(col("t")).as("t")))
    assert(math.abs(st.map(_.toDouble).sum) < 1e-6) // zero-mean
    // degenerate normalize: constant image → lo
    val const = mk(Seq(1, 1, 1, 1, 3), Seq(5f, 5f, 5f))
    assert(dataOf(const.select(normalize(col("t"), 0, 1).as("t"))) == Seq(0f, 0f, 0f))
  }

  test("scaleShift is (x·scale + shift).toFloat bit for bit; gamma clamps " +
    "negatives to 0 before pow") {
    val xs = Seq(-2.5f, -0.1f, 0f, 1e-3f, 0.3f, 1f / 3, 0.7f, 1f, 17.25f)
    val base = mk(Seq(1, 1, 1, 1, xs.length), xs)
    def bits(fs: Seq[Float]): Seq[Int] = fs.map(java.lang.Float.floatToRawIntBits)
    val (scale, shift) = (0.1, 1.0 / 3)
    assert(bits(dataOf(base.select(scaleShift(col("t"), lit(scale), lit(shift)).as("t")))) ==
      bits(xs.map(x => (x.toDouble * scale + shift).toFloat)))
    val g = 2.2
    val gd = dataOf(base.select(gamma(col("t"), lit(g)).as("t")))
    // unclamped, pow of a negative base to a fractional power is NaN
    assert(bits(gd) == bits(xs.map(x => StrictMath.pow(math.max(x.toDouble, 0.0), g).toFloat)))
    assert(gd.take(2) == Seq(0f, 0f))
  }

  test("oneHot expands channel per block") {
    // T=1,D=2,C=1,H=1,W=2: labels [0,1, 2,0]
    val df = mk(Seq(1, 2, 1, 1, 2), Seq(0f, 1f, 2f, 0f))
      .select(oneHot(col("t"), 3).as("t"))
    assert(shapeOf(df) == Seq(1, 2, 3, 1, 2))
    assert(dataOf(df) == Seq(
      1f, 0f, 0f, 1f, 0f, 0f, // block d=0 labels [0,1]: class maps [1,0],[0,1],[0,0]
      0f, 1f, 0f, 0f, 1f, 0f)) // block d=1 labels [2,0]: class maps [0,1],[0,0],[1,0]
  }

  test("presentClasses returns sorted distinct ints") {
    val df = mk(Seq(1, 1, 1, 1, 5), Seq(0f, 2f, 2f, 1f, 0f))
      .select(presentClasses(col("t")).as("pc"))
    assert(df.head().getSeq[Int](0) == Seq(0, 1, 2))
  }

  test("projectHW sums over leading axes; borderCrop crops to nonzero bbox") {
    // T=2,D=1,C=1,H=3,W=3; nonzero only at (1,1) and (1,2)
    val plane1 = Seq(0f, 0f, 0f, 0f, 5f, 0f, 0f, 0f, 0f)
    val plane2 = Seq(0f, 0f, 0f, 0f, 1f, 2f, 0f, 0f, 0f)
    val df = mk(Seq(2, 1, 1, 3, 3), plane1 ++ plane2)
    val proj = df.select(projectHW(col("t")).as("t"))
    assert(dataOf(proj) == Seq(0f, 0f, 0f, 0f, 6f, 2f, 0f, 0f, 0f))
    val cropped = df.select(borderCrop(col("t")).as("t"))
    assert(shapeOf(cropped) == Seq(2, 1, 1, 1, 2))
    assert(dataOf(cropped) == Seq(5f, 0f, 1f, 2f))
  }

  test("copySamples duplicates with copy index") {
    val df = copySamples(mk(Seq(1, 1, 1, 1, 2)), 2)
    assert(df.count() == 3)
    assert(df.select("copy_nr").collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
  }

  test("seeded ops are deterministic and seed-sensitive") {
    val df = mk(Seq(1, 1, 1, 1, 8))
    val a = dataOf(df.select(gaussianNoise(col("t"), 0.5, col("key"), 42L).as("t")))
    val b = dataOf(df.select(gaussianNoise(col("t"), 0.5, col("key"), 42L).as("t")))
    val c = dataOf(df.select(gaussianNoise(col("t"), 0.5, col("key"), 43L).as("t")))
    assert(a == b, "same seed must reproduce")
    assert(a != c, "different seed must differ")
    // solarize with prob 1 flips values above threshold
    val sol = dataOf(mk(Seq(1, 1, 1, 1, 3), Seq(1f, 5f, 9f))
      .select(solarize(col("t"), 4.0, 1.0, col("key"), 1L).as("t")))
    assert(sol == Seq(1f, 4f, 0f)) // max=9: 5→4, 9→0
  }

  /** The zip_with formula `gaussianNoise` evaluated before it became a
    * native kernel — the bitwise reference the kernel must reproduce. */
  private def hofNoise(data: Column, sigma: Double, key: Column, seed: Long): Column = {
    val n = size(data)
    zip_with(data, sequence(lit(0), n - 1), (x, i) => {
      val u1 = (pmod(xxhash64(key, i, lit(seed)), lit(1 << 24)).cast("double") + 1.0) / lit((1 << 24).toDouble + 2)
      val u2 = (pmod(xxhash64(key, i, lit(seed + 1)), lit(1 << 24)).cast("double") + 1.0) / lit((1 << 24).toDouble + 2)
      val z = sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
      (x.cast("double") + lit(sigma) * z).cast("float")
    })
  }

  /** raw float bits per row; a null element stays visible as None. */
  private def bitsOf(df: DataFrame, c: String): Seq[Seq[Option[Int]]] =
    df.select(c).collect().toSeq.map(r => r.getSeq[java.lang.Float](0).map(f =>
      Option(f).map(v => java.lang.Float.floatToRawIntBits(v.floatValue))))

  test("gaussianNoise kernel is bit-identical to the zip_with formula") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val buffers = (0 until 24).map(_ => Array.fill(64 * 64)((rnd.nextGaussian() * 300).toFloat))
    val base = buffers.zipWithIndex.map { case (b, i) => (i.toLong, s"subj${i % 5}-${i % 3}-${i % 8}", b) }
      .toDF("id", "file_id", "data")
    val keys = Seq(
      // DataModule's augmentation key: file_id # copy_nr # epoch
      "aug_key" -> concat_ws("#", col("file_id"), col("id") % 2, lit(3L)),
      "int_key" -> col("id").cast("int"),
      "long_key" -> (col("id") * 1000003L),
      "null_key" -> when(col("id") % 3 === 0, lit(null).cast("string")).otherwise(col("file_id")))
    val buffersOf = Seq(
      "plain" -> col("data"),
      // transform() types its output containsNull=true: the checked loop
      "nullable_typed" -> transform(col("data"), x => x * 0.5f))
    for ((kn, key) <- keys; (bn, data) <- buffersOf; (sigma, seed) <- Seq((0.05, 1001L), (2.5, -7L))) {
      val df = base.select(key.as("key"), data.as("data"), typedLit(Seq(1, 1, 1, 64, 64)).as("shape"))
      val out = df.select(
        gaussianNoise(tensor(col("shape"), col("data")), sigma, col("key"), seed)("data").as("k"),
        hofNoise(col("data"), sigma, col("key"), seed).as("h"))
      val (k, h) = (bitsOf(out, "k"), bitsOf(out, "h"))
      assert(k.map(_.size) == Seq.fill(24)(64 * 64))
      assert(k == h, s"float bits differ from the zip_with formula ($kn, $bn, σ=$sigma, seed=$seed)")
    }
    // a null buffer stays null; an empty one stays empty (the formula's
    // sequence(0, -1) counted down and padded two null elements instead)
    val edge = Seq((1L, Array.empty[Float]), (2L, null)).toDF("key", "data")
      .select(gaussianNoise(tensor(typedLit(Seq(1, 1, 1, 0, 0)), col("data")), 0.1, col("key"), 5L)("data").as("k"))
      .collect().map(r => Option(r.getSeq[Float](0)))
    assert(edge.toSeq == Seq(Some(Seq.empty[Float]), None))
  }

  test("gaussianNoise fails loudly on a null buffer element") {
    import spark.implicits._
    val withNull = Seq((1L, Seq(Some(1.0f), None))).toDF("key", "data")
    val ex = intercept[Exception] {
      withNull.select(gaussianNoise(tensor(typedLit(Seq(1, 1, 1, 1, 2)), col("data")),
        0.1, col("key"), 5L)).collect()
    }
    assert(ex.getMessage.contains("null element") ||
      Option(ex.getCause).exists(_.getMessage.contains("null element")))
  }

  test("affineResample: identity matrix reproduces the image") {
    val img = (0 until 16).map(_.toFloat)
    val df = mk(Seq(1, 1, 1, 4, 4), img)
      .select(Kernels.affineResample(col("t.shape"), col("t.data"),
        typedLit(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0)), lit(4), lit(4), lit(true)).as("t"))
      .select(col("t._1").as("shape"), col("t._2").as("data"))
    assert(df.select("data").head().getSeq[Float](0) == img)
  }

  test("affineResample: warp then inverse ≈ identity on interior") {
    val img = (0 until 64).map(i => ((i * 37) % 11).toFloat)
    val m = Seq(0.9, 0.1, 0.5, -0.1, 0.9, -0.3)
    val base = mk(Seq(1, 1, 1, 8, 8), img)
    val fwd = base.select(col("t"),
      Kernels.affineResample(col("t.shape"), col("t.data"), typedLit(m),
        lit(8), lit(8), lit(true)).as("w"))
    val back = fwd.select(col("t"),
      Kernels.affineResample(col("w._1"), col("w._2"),
        Kernels.invertAffine(typedLit(m)), lit(8), lit(8), lit(true)).as("b"))
    val orig = back.select(col("t.data")).head().getSeq[Float](0)
    val round = back.select(col("b._2")).head().getSeq[Float](0)
    // compare interior 4x4 (borders suffer zero-padding)
    var err = 0.0; var cnt = 0
    for (y <- 2 until 6; x <- 2 until 6) {
      err += math.abs(orig(y * 8 + x) - round(y * 8 + x)); cnt += 1
    }
    assert(err / cnt < 1.5, s"interior roundtrip error too high: ${err / cnt}")
  }

  test("gaussianBlur preserves constants and reduces variance") {
    val const = mk(Seq(1, 1, 1, 4, 4), Seq.fill(16)(3f))
      .select(Kernels.gaussianBlur(col("t.shape"), col("t.data"), lit(1.0)).as("t"))
    assert(const.select(col("t._2")).head().getSeq[Float](0).forall(v => math.abs(v - 3f) < 1e-5))
    val noisy = (0 until 16).map(i => if (i % 2 == 0) 10f else 0f)
    val blurred = mk(Seq(1, 1, 1, 4, 4), noisy)
      .select(Kernels.gaussianBlur(col("t.shape"), col("t.data"), lit(1.0)).as("t"))
      .select(col("t._2")).head().getSeq[Float](0)
    def variance(xs: Seq[Float]) = {
      val m = xs.map(_.toDouble).sum / xs.size
      xs.map(v => (v - m) * (v - m)).sum / xs.size
    }
    assert(variance(blurred) < variance(noisy))
  }

  test("reorient transposes H and W") {
    // shape (1,1,1,2,3) data row-major [[0,1,2],[3,4,5]] → transpose (1,1,1,3,2)
    val df = mk(Seq(1, 1, 1, 2, 3))
      .select(Kernels.reorient(col("t.shape"), col("t.data"),
        typedLit(Seq(0, 1, 2, 4, 3)), typedLit(Seq(false, false, false, false, false))).as("t"))
    assert(df.select(col("t._1")).head().getSeq[Int](0) == Seq(1, 1, 1, 3, 2))
    assert(df.select(col("t._2")).head().getSeq[Float](0) == Seq(0f, 3f, 1f, 4f, 2f, 5f))
    // H flip
    val flipped = mk(Seq(1, 1, 1, 2, 3))
      .select(Kernels.reorient(col("t.shape"), col("t.data"),
        typedLit(Seq(0, 1, 2, 3, 4)), typedLit(Seq(false, false, false, true, false))).as("t"))
    assert(flipped.select(col("t._2")).head().getSeq[Float](0) == Seq(3f, 4f, 5f, 0f, 1f, 2f))
  }

  test("histEqualize flattens the intensity distribution") {
    // strongly skewed image: mostly 0s, few bright pixels
    val img = Seq.fill(12)(0f) ++ Seq(10f, 20f, 200f, 255f)
    val eq = dataOf(mk(Seq(1, 1, 1, 4, 4), img).select(histEqualize(col("t")).as("t")))
    // darkest mass maps to 0-level, brightest to 255
    assert(eq.max == 255f)
    assert(eq.count(_ == eq.min) == 12, "the dominant bin stays grouped")
    assert(eq.distinct.sorted == eq.distinct.sorted.distinct, "monotone remap")
    // constant image maps to 0 (degenerate range guard)
    val const = dataOf(mk(Seq(1, 1, 1, 1, 4), Seq(7f, 7f, 7f, 7f))
      .select(histEqualize(col("t")).as("t")))
    assert(const == Seq(0f, 0f, 0f, 0f))
  }

  test("randomAffine with zero probabilities is the identity map") {
    val df = spark.range(1).select(
      AffineParams.randomAffine(col("id"), 1L, 30, 0.0, (0.8, 1.2), 0.0, 0.0, 5, 0.0).as("m"))
    val m = df.head().getSeq[Double](0)
    assert(m == Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0))
  }
}

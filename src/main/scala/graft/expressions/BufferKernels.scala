package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Null-element posture for every kernel in this file: the primitive loops
  * read `getFloat(i)` without per-element null checks (that is the point —
  * zero branches, zero boxing). A nullable-element array would silently
  * read 0/undefined where the old UDF path surfaced the null, so when the
  * input type is `containsNull=true` (provably-non-null arrays built via
  * `transform` lambdas still type as nullable) the loops run an explicit
  * null check and FAIL LOUDLY on the first null element; the checked branch
  * is only taken when the static type demands it, so proven
  * `containsNull=false` buffers keep the branch-free loop.
  */

/** Native kernels for multi-megabyte tensor buffers (A4/T6/A7/T9 fast paths).
  *
  * These replace the Scala-UDF kernels for the cache/serve hot path, and
  * `GaussianNoise` the interpreted `zip_with` seeded-noise formula. A UDF
  * over `array<float>` pays a full Catalyst→Scala conversion per call —
  * every element boxed into an object Seq — which at the reference's native
  * 256² cine geometry (19.6M floats per volume) means hundreds of MB of
  * garbage per row and a GC-bound pipeline (measured on the 256² cache
  * benchmark, 4 cores: 0.060 subj/s with the UDFs, most of the cores
  * collecting garbage, vs 0.376 with these kernels; BASELINE.md "Cache
  * throughput at native resolution"). These expressions read
  * the UnsafeArrayData buffer in place — zero boxing, zero copies in, one
  * primitive-array copy out where an array is produced.
  *
  * Arithmetic is bit-identical to the code they replace (same loop, same
  * double-accumulation order), so oracle parity and cached fingerprints are
  * unaffected.
  */
object BufferKernels {

  /** (min, max, mean, std, numel) of a float buffer — one pass, same field
    * names as the scala-tuple UDF it replaces (_1.._5). */
  val statsType: StructType = StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", DoubleType, nullable = false),
    StructField("_3", DoubleType, nullable = false),
    StructField("_4", DoubleType, nullable = false),
    StructField("_5", LongType, nullable = false)))

  def nullElement(kernel: String, i: Int): RuntimeException =
    new IllegalArgumentException(
      s"$kernel: null element at index $i — tensor buffers must be fully " +
        "populated (the kernel loops have no null semantics; fix the producer)")
}

/** One-pass buffer stats; CodegenFallback is fine — one eval call per row
  * with a primitive loop inside, not per-element interpretation. */
case class BufferStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"buffer_stats expects array<float>, got ${other.sql}")
  }

  // lazy: expressions are constructed over unresolved columns (col("...")),
  // whose dataType throws/returns NullType until analysis binds them. Only
  // read the type at first eval, which is always post-resolution.
  private lazy val checkNulls =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = BufferKernels.statsType
  override def prettyName: String = "buffer_stats"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mn = Double.MaxValue; var mx = Double.MinValue
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && a.isNullAt(i))
        throw BufferKernels.nullElement(prettyName, i)
      val x = a.getFloat(i).toDouble
      if (x < mn) mn = x
      if (x > mx) mx = x
      s1 += x; s2 += x * x
      i += 1
    }
    val mean = if (n > 0) s1 / n else 0.0
    val variance = if (n > 0) math.max(s2 / n - mean * mean, 0.0) else 0.0
    InternalRow(mn, mx, mean, math.sqrt(variance), n.toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** x → (x + shift) * scale over the buffer — full codegen, the output
  * array is built primitive-to-primitive. */
case class ShiftScale(data: Expression, shift: Expression, scale: Expression)
    extends TernaryExpression {

  override def first: Expression = data
  override def second: Expression = shift
  override def third: Expression = scale

  // Nullable-TYPED arrays are accepted (transform()-built arrays type as
  // containsNull=true even when provably non-null); null ELEMENTS fail
  // loudly via a runtime guard taken only when the static type demands it.
  override def checkInputDataTypes(): TypeCheckResult =
    (data.dataType, shift.dataType, scale.dataType) match {
      case (ArrayType(FloatType, _), DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (d, s, c) => TypeCheckResult.TypeCheckFailure(
        s"shift_scale expects (array<float>, double, double), " +
          s"got (${d.sql}, ${s.sql}, ${c.sql})")
    }

  private lazy val checkNulls =
    data.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "shift_scale"

  override def nullSafeEval(d: Any, sh: Any, sc: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val shift = sh.asInstanceOf[Double]
    val scale = sc.asInstanceOf[Double]
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (checkNulls && a.isNullAt(i))
        throw BufferKernels.nullElement(prettyName, i)
      out(i) = ((a.getFloat(i) + shift) * scale).toFloat
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, sh, sc) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val guard = if (checkNulls)
        s"""if ($d.isNullAt($i)) {
           |  throw graft.expressions.BufferKernels.nullElement("$prettyName", $i);
           |}""".stripMargin
      else ""
      s"""
         |int $n = $d.numElements();
         |float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard
         |  $out[$i] = (float)(((double)$d.getFloat($i) + $sh) * $sc);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(data = newFirst, shift = newSecond, scale = newThird)
}

/** Seeded additive Gaussian noise (T9 `RandGaussianNoised`): x + σ·z per
  * element, z ~ N(0,1) by Box–Muller over two uniforms drawn from
  * xxhash64(key, i, seed) and xxhash64(key, i, seed + 1) — deterministic in
  * (key, seed, element index). `keyHash` is `xxhash64(key)`, the hash state
  * after the key argument: Spark hashes the key once per row (a null key is
  * skipped, as `xxhash64` skips a null argument, so `keyHash` is never null)
  * and the loop goes on from that state per element. A null buffer gives
  * null. `StrictMath.log`, `Math.cos` and `Math.sqrt` are what Spark's
  * interpreted `log`/`cos`/`sqrt` call, so the bits match that formula.
  * CodegenFallback is fine: one eval call per row, primitive loop inside. */
case class GaussianNoise(data: Expression, keyHash: Expression, sigma: Double, seed: Long)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = data
  override def right: Expression = keyHash

  override def checkInputDataTypes(): TypeCheckResult =
    (data.dataType, keyHash.dataType) match {
      case (ArrayType(FloatType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (d, k) => TypeCheckResult.TypeCheckFailure(
        s"gaussian_noise expects (array<float>, bigint), got (${d.sql}, ${k.sql})")
    }

  private lazy val checkNulls =
    data.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "gaussian_noise"

  override def nullSafeEval(d: Any, k: Any): Any = {
    val a = d.asInstanceOf[ArrayData]
    val keyHash = k.asInstanceOf[Long]
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (checkNulls && a.isNullAt(i))
        throw BufferKernels.nullElement(prettyName, i)
      val h = XXH64.hashInt(i, keyHash)
      // pmod(hash, 2^24) → (u + 1) / (2^24 + 2): uniform in (0, 1)
      val u1 = (Math.floorMod(XXH64.hashLong(seed, h), 1L << 24).toDouble + 1.0) / ((1 << 24).toDouble + 2)
      val u2 = (Math.floorMod(XXH64.hashLong(seed + 1, h), 1L << 24).toDouble + 1.0) / ((1 << 24).toDouble + 2)
      val z = Math.sqrt(-2.0 * StrictMath.log(u1)) * Math.cos(2.0 * Math.PI * u2)
      out(i) = (a.getFloat(i).toDouble + sigma * z).toFloat
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(data = newLeft, keyHash = newRight)
}

/** Sorted distinct rounded classes of a label buffer → array<int>. */
case class PresentClasses(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"present_classes expects array<float>, got ${other.sql}")
  }

  private lazy val checkNulls =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "present_classes"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val seen = new java.util.TreeSet[Int]()
    var i = 0
    while (i < n) {
      if (checkNulls && a.isNullAt(i))
        throw BufferKernels.nullElement(prettyName, i)
      seen.add(Math.round(a.getFloat(i)))
      i += 1
    }
    val out = new Array[Int](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

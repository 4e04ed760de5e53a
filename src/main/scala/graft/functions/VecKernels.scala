package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Native exact-decimal vector kernel.
  *
  * The similarity operators need `sum_i round(a[i]*b[i], 12dp)` in
  * exact DECIMAL — exact so that no engine's accumulation order can
  * change the result vs the DuckDB oracle (decimal addition is
  * associative; doubles are not). The two built-in ways to compute it
  * both pay a structural tax:
  *  - `zip_with` + `aggregate` evaluate their lambda INTERPRETED per
  *    element per pair (measured 30x on the ANN queries);
  *  - posexplode -> equi-join on the index -> hash-agg is codegen'd
  *    but multiplies every vector into `dim` shuffle rows and runs a
  *    full aggregation just to fold one pair.
  *
  * [[DecimalVecDot]] is the missing scalar: ONE whole-stage-codegen'd
  * call per pair, a tight JIT-compiled loop inside ([[VecKernels.dotDec]]),
  * no row expansion, no aggregation. Per-product rounding matches
  * Spark's `CAST(double AS DECIMAL(28,12))` (BigDecimal.valueOf ==
  * BigDecimal(Double.toString), then HALF_UP to scale 12), so swapping
  * the execution shape does not move a single output bit. Float
  * elements are read in place and widened exactly — no casted array
  * copy per row.
  *
  * Registered as SQL function `vec_dot_dec` via
  * [[org.apache.spark.sql.SparkSessionExtensions]] (see
  * [[VecKernels.register]], wired in `Sessions.builder`).
  */
object VecKernels {

  /** Exact decimal(28,12) dot product: zip to the shorter length (the
    * equi-join-on-index semantics), skip null element pairs (SUM
    * semantics), round each product exactly like the
    * double->decimal(28,12) cast, accumulate exactly. `aFloat`/
    * `bFloat` select the element reader (flags are compile-time
    * literals in generated code, so the JIT sees a monomorphic loop).
    * Called from generated code — keep the signature JVM-simple.
    *
    * Arithmetic contract (unchanged since the kernel landed): each
    * product rounds as `BigDecimal.valueOf(x*y).setScale(12, HALF_UP)`
    * — i.e. the SHORTEST-decimal (Double.toString) representation of
    * the product, rounded half-away-from-zero at 12 dp — and the
    * rounded terms sum exactly. The execution is a scaled-long fast
    * path ([[prodPicos]]): the sum accumulates in 10^-12 units
    * ("picos") with overflow-checked adds, and each term takes a
    * branch-free exact rounding of the true binary product except
    * inside a guard band around the .5 boundaries, where
    * shortest-decimal rounding and true-value rounding can disagree
    * and the term falls back to the BigDecimal reference (~1-in-10^4
    * of uniform inputs). `VecKernelsSpec` ("dotDec fast path matches
    * the BigDecimal reference") fuzzes the fast path against the
    * reference on random and boundary-adversarial inputs; the full
    * oracle board re-gated bit-identical when the fast path landed
    * (round 18). */
  def dotDec(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Decimal = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    try {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i)) {
          val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
          val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
          acc = Math.addExact(acc, prodPicos(x * y))
        }
        i += 1
      }
    } catch { case _: ArithmeticException =>
      // |Σ| past ~9.2·10^6 units (or one term past the fast-path
      // magnitude bar): redo the whole dot on the reference path —
      // decimal addition is exact and associative, so the result is
      // identical, just slower. Never taken on O(1)-magnitude
      // embeddings.
      return dotDecSlow(a, b, aFloat, bFloat, n)
    }
    // unscaled picos -> DECIMAL(28,12); a long always fits 28 digits
    Decimal(acc, 28, 12)
  }

  /** Reference implementation of [[dotDec]] — the pre-round-18
    * BigDecimal path, kept verbatim: the fallback when the fast
    * path's long accumulator would overflow, and the oracle the
    * fuzz spec grades the fast path against. */
  private[graft] def dotDecSlow(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean, n: Int): Decimal = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc = acc.add(java.math.BigDecimal.valueOf(x * y)
          .setScale(12, java.math.RoundingMode.HALF_UP))
      }
      i += 1
    }
    val d = Decimal(scala.math.BigDecimal(acc))
    // 16 integral digits of headroom; embeddings are O(1)-magnitude.
    // Throw rather than return null: defineCodeGen has already decided
    // non-null, and a silent null would corrupt downstream cosines.
    if (!d.changePrecision(28, 12))
      throw new ArithmeticException(
        "vec_dot_dec overflow: |result| too large for DECIMAL(28,12)")
    d
  }

  /** `BigDecimal.valueOf(p).setScale(12, HALF_UP).unscaledValue` as a
    * long, ~30-50x faster than the BigDecimal chain for the common
    * case. Exactness argument:
    *
    *  - `hi = p * 1e12` and `err = fma(p, 1e12, -hi)` give the TRUE
    *    binary product value T = hi + err exactly (10^12 is an exact
    *    double, fma rounds once).
    *  - HALF_UP on the magnitude: n = floor(|T|) + (frac > 0.5).
    *    The contract rounds the SHORTEST-DECIMAL repr D of p, not T
    *    itself; |D − p| ≤ ulp(p)/2, so the two roundings can disagree
    *    only when |T| lands within ulp(|hi|)·(~1) of a .5 boundary —
    *    the guard band routes exactly those terms to the reference
    *    path ([[prodPicosSlow]]). Everywhere else floor/compare on
    *    (frac + err) is provably the same rounding.
    *  - Non-finite p and |p| ≥ ~4.4·10^3 (ahi ≥ 4.4e15 ≈ 2^52, where
    *    frac logic breaks outright) also take the reference path —
    *    including its exceptions: `valueOf(NaN/Inf)` throws
    *    NumberFormatException exactly as the old kernel did. For
    *    ahi in [~2^50, 4.4e15) the guard band g = 2·ulp(ahi) + 1e-9
    *    already exceeds 0.5, so every term in that range is
    *    "ambiguous" and routes to the reference path anyway — the
    *    fast path is only ever trusted where the band is meaningfully
    *    narrow (verified empirically: 0/70M mismatches including
    *    near-bar boundary inputs).
    *
    * Shared by the distributed kernel and the driver-side Lloyd's
    * trainers (same per-product contract). */
  def prodPicos(p: Double): Long = {
    val hi = p * 1e12
    val ahi = Math.abs(hi)
    // beyond 4.4e15 ≈ 2^52 every double is an integer and the frac
    // logic breaks outright, so those magnitudes must go straight to
    // the reference path. Below the bar the guard band g (computed
    // from ulp(ahi)) does the real gating: for ahi ≥ ~2^50, g > 0.5
    // and EVERY term is "ambiguous" — effectively reference-path —
    // so the fast path is only trusted where the band is narrow.
    // Embeddings and their pairwise products live far below either
    // threshold. NaN/Inf fail the comparison and fall through to the
    // reference path too.
    if (!(ahi < 4.4e15)) return prodPicosSlow(p)
    val err = Math.fma(p, 1e12, -hi)
    val aerr = if (p < 0) -err else err // |T| = ahi + aerr exactly
    val f = Math.floor(ahi)
    val frac = (ahi - f) + aerr // exact: ahi - f is Sterbenz-exact
    val g = Math.ulp(ahi) * 2.0 + 1e-9 // D-vs-T wobble + fma slack
    val n =
      if (frac > 0.5 + g) f.toLong + 1L
      else if (frac < 0.5 - g) f.toLong
      else return prodPicosSlow(p) // ambiguous: shortest-decimal rules
    if (p < 0) -n else n
  }

  /** Reference per-product rounding (see [[prodPicos]]); throws on
    * magnitudes whose unscaled value exceeds a long — callers catch
    * ArithmeticException and take the whole-dot BigDecimal path. */
  private def prodPicosSlow(p: Double): Long =
    java.math.BigDecimal.valueOf(p)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Driver-array form of the exact dot for the Lloyd's trainers:
    * Σ_i round12(a_i·b_i) exactly, returned as the correctly-rounded
    * double of the exact decimal sum — bit-identical to the
    * accumulate-BigDecimal/doubleValue loop it replaces (the final
    * BigDecimal is reconstructed from the exact unscaled sum, so the
    * decimal→double conversion is the same correctly-rounded one).
    * Falls back to the BigDecimal loop if the picos accumulator
    * overflows (never on O(1)-magnitude embeddings). */
  def dotPicosDouble(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0L
    var i = 0
    try {
      while (i < a.length) {
        acc = Math.addExact(acc, prodPicos(a(i) * b(i)))
        i += 1
      }
    } catch { case _: ArithmeticException =>
      var bd = java.math.BigDecimal.ZERO
      var j = 0
      while (j < a.length) {
        bd = bd.add(java.math.BigDecimal.valueOf(a(j) * b(j))
          .setScale(12, java.math.RoundingMode.HALF_UP))
        j += 1
      }
      return bd.doubleValue()
    }
    new java.math.BigDecimal(java.math.BigInteger.valueOf(acc), 12)
      .doubleValue()
  }

  /** Symmetric int8 quantization of one vector in one codegen'd call:
    * scale = max|x| over non-null elements, q_i = round-half-away-
    * from-zero(x_i * 127 / scale) — the 4x storage/bandwidth cut a
    * 100 TB embedding corpus ships and serves with. |q_i| <= 127 by
    * construction, so the byte range is safe. Rounding mirrors both
    * Spark's `round` on DOUBLE (BigDecimal HALF_UP == away from zero)
    * and DuckDB's `round`, which is what lets the gated query hash-
    * match a SQL twin. Null elements stay null; an all-zero (or
    * all-null/empty) vector quantizes to all zeros (scale 0 guard).
    * Called from generated code — keep the signature JVM-simple. */
  def quantI8(a: ArrayData, aFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(if (aFloat) a.getFloat(i).toDouble else a.getDouble(i))
        if (v > m) m = v
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (a.isNullAt(i)) out(i) = null
      else if (m == 0.0) out(i) = 0.toByte
      else {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = java.math.BigDecimal.valueOf(x * 127.0 / m)
          .setScale(0, java.math.RoundingMode.HALF_UP).byteValue()
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Integer dot product of two int8-quantized vectors: Σ a_i·b_i as
    * a LONG — every term is |a_i·b_i| ≤ 127² and a 64-dim sum is
    * ≤ ~10⁶, so the accumulation is exact integer arithmetic with no
    * rounding anywhere: the ranking primitive of the quantized
    * (memory-compressed) ANN serving path. Null element pairs skip
    * (SUM semantics), zip to the shorter length. Called from
    * generated code — keep the signature JVM-simple. */
  def dotI8(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }

  /** Column form of [[DecimalVecDot]] (requires [[register]]ed session). */
  def vecDotDec(a: Column, b: Column): Column = call_function("vec_dot_dec", a, b)

  /** Column form of [[VecDotInt8]] (requires [[register]]ed session). */
  def vecDotI8(a: Column, b: Column): Column = call_function("vec_dot_i8", a, b)

  /** Column form of [[VecQuantInt8]] (requires [[register]]ed session). */
  def vecQuantI8(a: Column): Column = call_function("vec_quant_i8", a)

  /** SparkSessionExtensions hook: `vec_dot_dec(array<float|double>,
    * array<float|double>) -> decimal(28,12)` and
    * `vec_quant_i8(array<float|double>) -> array<tinyint>`. */
  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_dec"),
      new ExpressionInfo(classOf[DecimalVecDot].getName, "vec_dot_dec"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"vec_dot_dec takes 2 args, got ${children.size}")
        DecimalVecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_quant_i8"),
      new ExpressionInfo(classOf[VecQuantInt8].getName, "vec_quant_i8"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"vec_quant_i8 takes 1 arg, got ${children.size}")
        VecQuantInt8(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_i8"),
      new ExpressionInfo(classOf[VecDotInt8].getName, "vec_dot_i8"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"vec_dot_i8 takes 2 args, got ${children.size}")
        VecDotInt8(children.head, children(1))
      }))
  }
}

/** Exact integer dot of two int8 vectors as one codegen'd scalar —
  * see [[VecKernels.dotI8]] for the arithmetic contract. */
case class VecDotInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_dot_i8 requires array<tinyint> arguments, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def dataType: DataType = LongType

  override def prettyName: String = "vec_dot_i8"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.dotI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotInt8 =
    copy(left = newLeft, right = newRight)
}

/** `sum_i round(a[i]*b[i], 12dp)` as one codegen'd scalar — see
  * [[VecKernels]] for why this exists and its exact-arithmetic
  * contract. */
case class DecimalVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemKind(e: Expression): Option[Boolean] = e.dataType match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemKind(left).isDefined && elemKind(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_dot_dec requires array<float|double> arguments, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def dataType: DataType = DecimalType(28, 12)

  override def prettyName: String = "vec_dot_dec"

  private lazy val aFloat = elemKind(left).get
  private lazy val bFloat = elemKind(right).get

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dotDec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.dotDec($a, $b, $aFloat, $bFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalVecDot =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization as one codegen'd scalar — see
  * [[VecKernels.quantI8]] for the arithmetic contract. */
case class VecQuantInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def elemKind: Option[Boolean] = child.dataType match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemKind.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_quant_i8 requires an array<float|double> argument, got " +
        child.dataType.sql)

  override def dataType: DataType = ArrayType(ByteType, containsNull = true)

  override def prettyName: String = "vec_quant_i8"

  private lazy val aFloat = elemKind.get

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.quantI8(a.asInstanceOf[ArrayData], aFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VecKernels.quantI8($a, $aFloat)")

  override protected def withNewChildInternal(
      newChild: Expression): VecQuantInt8 = copy(child = newChild)
}

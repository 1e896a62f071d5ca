package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector expressions with whole-stage codegen.
  *
  * The generic route (`zip_with` + `aggregate` higher-order functions) is
  * CodegenFallback: every element evaluation boxes through an InternalRow
  * and allocates an intermediate array — measured 60s for 12.5M pair
  * cosines at sf0.1. This expression generates a tight primitive loop
  * instead (the Spark-native analogue of the reference pushing hot scalar
  * kernels into C, e.g. `/root/reference/src/backend/utils/adt/float.c`):
  * same math, same left-to-right summation order (bit-compatible with
  * DuckDB's `list_dot_product` oracle), ~50x faster.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = Math.min($x.length, $y.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $x[$i] * $y[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm — `vec_dot(v, v)` without materializing v twice. */
case class NormSq(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm_sq"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val x = ctx.freshName("x")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double $s = 0.0;
         |for (int $i = 0; $i < $x.length; $i++) { $s += $x[$i] * $x[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static kernels shared by interpreted eval and generated code. */
object VectorKernels {
  /** Sign signature of `v` against `nPlanes` stacked hyperplanes (flat
    * row-major `planes`, each `dim` wide): bit j = dot(v, plane_j) > 0.
    * ONE v materialization + a planes reference object per generated
    * class — the fused replacement for nPlanes separate `vec_dot(v,
    * <array literal>)` calls, each of which re-materialized BOTH sides
    * per call (r15 found that pattern was ~ALL of the x1000
    * embedding-LSH wall time, SCALING.md "Round 15: the embedding
    * sign-LSH lanes were 95% signature cost": 60 dots x 2 toDoubleArray
    * x 500k rows, with the literal side unboxing element-wise). Same
    * left-to-right summation and strict `> 0` as the vec_dot form, so
    * every sign decision — and hence the DuckDB oracle — is unchanged. */
  def signSig(v: org.apache.spark.sql.catalyst.util.ArrayData,
              planes: Array[Double], dim: Int): Long = {
    val x = v.toDoubleArray()
    val m = math.min(x.length, dim)
    val nPlanes = planes.length / dim
    var sig = 0L
    var j = 0
    while (j < nPlanes) {
      val off = j * dim
      var d = 0.0
      var i = 0
      while (i < m) { d += x(i) * planes(off + i); i += 1 }
      if (d > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Per-band sign-LSH keys of `v` against `bands * bits` stacked
    * hyperplanes: keys(b) bit k = dot(v, plane_{b*bits+k}) > 0 — the
    * SAME bit layout a consumer would get from `(signSig >> b*bits) &
    * mask`, but with no 64-plane ceiling (the wide 10x12 = 120-plane
    * geometry does not fit one long). One v materialization, one pass
    * over the plane matrix, keys packed in place — the fused shape that
    * made [[signSig]] ~80x cheaper than per-plane vec_dot calls. */
  def signBandKeys(v: org.apache.spark.sql.catalyst.util.ArrayData,
                   planes: Array[Double], dim: Int,
                   bands: Int, bits: Int): ArrayData = {
    val x = v.toDoubleArray()
    val m = math.min(x.length, dim)
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var k = 0
      while (k < bits) {
        val off = (b * bits + k) * dim
        var d = 0.0
        var i = 0
        while (i < m) { d += x(i) * planes(off + i); i += 1 }
        if (d > 0) key |= 1L << k
        k += 1
      }
      keys(b) = key
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(keys)
  }
}

/** Fused sign-LSH signature: all planes in one pass (see
  * [[VectorKernels.signSig]]). Carries the plane matrix as expression
  * state (codegen reference object), so it bypasses the function
  * registry and is built via `GraftBridge.exprColumn`. */
case class SignSig(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_sign_sig"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.signSig(a.asInstanceOf[ArrayData], planes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.signSig($c, $ref, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Array[Double] fields get reference equality from the case-class
  // machinery, which would make two semantically identical signature
  // expressions never compare equal — defeating canonicalization,
  // subexpression elimination, and exchange reuse. Compare contents.
  override def equals(other: Any): Boolean = other match {
    case s: SignSig =>
      dim == s.dim && child == s.child &&
        java.util.Arrays.equals(planes, s.planes)
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    h = 31 * h + java.util.Arrays.hashCode(planes)
    31 * h + dim
  }
}

/** Fused sign-LSH band keys for geometries WIDER than one long's worth
  * of planes (the 10x12 = 120-plane wide geometry): array<long> of
  * per-band keys, keys(b) bit k = sign(v . plane_{b*bits+k}) — the same
  * bit layout `(SignSig >> b*bits) & mask` yields below 64 planes, so
  * the two forms band identically where both apply (FuzzParitySpec
  * draws both regimes against one pure-Scala model). Same single-pass
  * kernel shape and codegen reference-object plane matrix as
  * [[SignSig]]. */
case class SignBandKeys(child: Expression, planes: Array[Double],
                        dim: Int, bands: Int, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_sign_band_keys"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.signBandKeys(a.asInstanceOf[ArrayData], planes, dim,
      bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.signBandKeys($c, $ref, $dim, $bands, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // content equality for the plane matrix — same reasoning as SignSig
  // (reference equality would defeat CSE and exchange reuse)
  override def equals(other: Any): Boolean = other match {
    case s: SignBandKeys =>
      dim == s.dim && bands == s.bands && bits == s.bits &&
        child == s.child && java.util.Arrays.equals(planes, s.planes)
    case _ => false
  }
  override def hashCode(): Int = {
    var h = child.hashCode()
    h = 31 * h + java.util.Arrays.hashCode(planes)
    h = 31 * h + dim
    h = 31 * h + bands
    31 * h + bits
  }
}

object VectorFns {
  /** Register `vec_dot` / `vec_norm_sq` for SQL + `expr(...)` use.
    * Idempotent; call at the top of any query that needs them. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // exists-guard: createOrReplace on an already-registered name logs a
    // "replaced a previously registered function" WARN per call, which
    // spams per-query re-registration (the driver session has no
    // withExtensions hook, so every query re-invokes register).
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"))) {
      reg.createOrReplaceTempFunction(
        "vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "vec_norm_sq", exprs => NormSq(exprs.head), "built-in")
    }
    // the quantization kernels ride along: every vector lane that dots
    // may also encode (PqFns has its own idempotence guard)
    PqFns.register(spark)
  }
}

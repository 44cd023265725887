package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native expressions for the int8-quantization hot path.
  *
  * The HOF formulation (`array_max(transform(...))` + nested `transform`)
  * interprets its lambdas per element outside whole-stage codegen; at
  * 100 TB the per-vector quantize is the innermost loop of the quantized
  * scan, so like [[DotProduct]] it gets fused single-pass codegen.
  * Bit-compatible with the HOF formulation (the specs'
  * `HofOracles.quantizeInt8Hof`) for FINITE, non-null element
  * values (the differential-test oracle's domain); on corrupt inputs
  * (null/NaN/Inf elements) the native expressions null the whole result —
  * the engine's "null is loud" contract — where the HOF chain would emit
  * per-element garbage.
  */
private[graft] trait DoubleArrayUnary extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
  // both subclasses null corrupt inputs even when the child is
  // non-nullable; without the override codegen declares ev.isNull as the
  // `false` literal and the `ev.isNull = true` branch fails to COMPILE —
  // a silent whole-stage interpreter fallback (see DotProduct.nullable)
  override def nullable: Boolean = true
}

/** max(|v_i|) over a double array — the per-vector quantization scale.
  * Null or non-finite (NaN/Inf) elements make the result null: the
  * engine-wide "NaN ≡ null, and null is loud" contract — a corrupt
  * embedding must not silently produce garbage codes. */
case class MaxAbs(child: Expression)
    extends DoubleArrayUnary with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_maxabs"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i)
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return null
      val av = math.abs(v)
      if (av > m) m = av
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val v = ctx.freshName("v")
      val av = ctx.freshName("av")
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = $a.getDouble($i);
         |  if (java.lang.Double.isNaN($v) || java.lang.Double.isInfinite($v)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  double $av = java.lang.Math.abs($v);
         |  if ($av > $m) $m = $av;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $m; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MaxAbs =
    copy(child = newChild)
}

/** Symmetric int8 quantization codes in ONE fused pass: scale = max|v_i|,
  * `code_i = clamp(sign(r)*floor(|r|+0.5), ±127)` with `r = v_i/scale*127`
  * (half-away-from-zero). Zero scale yields all zeros. Null or non-finite
  * elements make the whole result null (see [[MaxAbs]]). Emitted as
  * array<double> (values are exact integers) so it feeds [[DotProduct]]
  * directly; cast to array<tinyint> for storage. */
case class Int8Codes(child: Expression)
    extends DoubleArrayUnary with Serializable {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_int8_codes"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var scale = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i)
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return null
      val av = math.abs(v)
      if (av > scale) scale = av
      i += 1
    }
    val out = new Array[Double](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val r = x.getDouble(i) / scale * 127.0
        var q = math.signum(r) * math.floor(math.abs(r) + 0.5)
        if (q > 127.0) q = 127.0
        else if (q < -127.0) q = -127.0
        out(i) = q
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val scale = ctx.freshName("scale"); val v = ctx.freshName("v")
      val av = ctx.freshName("av")
      val out = ctx.freshName("out"); val r = ctx.freshName("r")
      val q = ctx.freshName("q"); val j = ctx.freshName("j")
      s"""
         |int $n = $a.numElements();
         |double $scale = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = $a.getDouble($i);
         |  if (java.lang.Double.isNaN($v) || java.lang.Double.isInfinite($v)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  double $av = java.lang.Math.abs($v);
         |  if ($av > $scale) $scale = $av;
         |}
         |if (!${ev.isNull}) {
         |  double[] $out = new double[$n];
         |  if ($scale != 0.0) {
         |    for (int $j = 0; $j < $n; $j++) {
         |      double $r = $a.getDouble($j) / $scale * 127.0;
         |      double $q = java.lang.Math.signum($r) * java.lang.Math.floor(java.lang.Math.abs($r) + 0.5);
         |      if ($q > 127.0) $q = 127.0;
         |      else if ($q < -127.0) $q = -127.0;
         |      $out[$j] = $q;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Codes =
    copy(child = newChild)
}

object QuantizeExpressions {
  /** Codegen'd per-vector max-abs (quantization scale). */
  def maxAbs(vec: Column): Column =
    ColumnBridge.column(MaxAbs(ColumnBridge.expression(vec.cast("array<double>"))))

  /** Codegen'd fused int8 codes as array<double> (exact integer values). */
  def int8Codes(vec: Column): Column =
    ColumnBridge.column(Int8Codes(ColumnBridge.expression(vec.cast("array<double>"))))
}

package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Number of positions where two long-array minhash signatures agree —
  * the estimated-Jaccard numerator of the near-dup pair operators.
  *
  * This runs once per CANDIDATE PAIR, which on a near-dup-rich corpus is
  * the hot inner loop of `polyMinhashNearDupPairs` /
  * `incrementalNearDupPairsFromSigs` (and the pipeline compositions built
  * on them): the `aggregate(zip_with(...))` formulation interprets
  * 2·numHashes lambda calls and materializes an intermediate array per
  * pair. Here it is one fused primitive loop inside whole-stage codegen. The HOF formulation
  * stays in the operators' specs as the differential oracle.
  *
  * Mismatched lengths yield the agreement over the shorter prefix plus
  * ZERO for the excess — exactly what `zip_with`'s null padding followed
  * by `when(x === y, 1).otherwise(0)` produces (null == x is null, the
  * `when` falls to 0), so the oracle equivalence holds on ragged input
  * too. Signatures never carry null elements (both producers emit
  * non-null arrays); a null element in either position simply never
  * counts as agreement, again matching the HOF.
  */
case class SignatureAgreement(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sig_agreement requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sig_agreement"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("cnt")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignatureAgreement =
    copy(left = newLeft, right = newRight)
}

object SignatureAgreement {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(new SignatureAgreement(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

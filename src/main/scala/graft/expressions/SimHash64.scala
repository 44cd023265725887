package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native ORACLE-PORTABLE 64-bit SimHash over whitespace tokens: per
  * token (lowercased, non-distinct — votes weight by occurrence) the
  * first 16 hex digits of md5(token) supply 64 bits, bit `i` living in
  * hex digit `i/4` at weight `2^(i%4)`; per bit, the fingerprint takes
  * the sign of the summed ±1 votes. Every step is md5 + integer
  * arithmetic, so DuckDB re-derives the bits (q43/q65 oracles).
  *
  * Value-identical to the interpreted formulation the specs keep as
  * its differential oracle, but the tokenize + md5 + 64-bit vote loop
  * runs as one compiled pass per row instead of 64 interpreted vote
  * folds. CodegenFallback is deliberate, same rationale as
  * [[PolyMinHashSignature]]. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with Serializable {

  @transient private lazy val ws = Pattern.compile("\\s+")
  @transient private lazy val edgeWs = Pattern.compile("^\\s+|\\s+$")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def nullable: Boolean = false

  /** Null text has no tokens, so no bit wins a vote: 0, like the
    * interpreted formulation and the oracles' COALESCE (the
    * UnaryExpression default would null-propagate and diverge). */
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    // mirror TextAnalysis.tokens(lower(text)) EXACTLY: edge whitespace of
    // ALL kinds is stripped (regexp "^\s+|\s+$"), then split on \s+ —
    // limit -1 like Spark's split (no empties can remain after the trim,
    // but the contract stays aligned).
    val lowered = input.asInstanceOf[UTF8String].toLowerCase.toString
    val trimmed = edgeWs.matcher(lowered).replaceAll("")
    val votes = new Array[Int](64)
    if (trimmed.nonEmpty) {
      val md5 = PolyMinHashSignature.digests.get()
      val toks = ws.split(trimmed, -1)
      var t = 0
      while (t < toks.length) {
        md5.reset()
        val d = md5.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var i = 0
        while (i < 64) {
          // hex digit i/4 is the high nibble of byte i/8 when even, the
          // low nibble when odd
          val digit = if ((i & 4) == 0) (d(i >> 3) >> 4) & 0xf else d(i >> 3) & 0xf
          if (((digit >> (i & 3)) & 1) == 1) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
        t += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(text: Column): Column =
    ColumnBridge.column(new SimHash64(ColumnBridge.expression(text)))
}

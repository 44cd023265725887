package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native ORACLE-PORTABLE MinHash signature: canonicalize -> distinct
  * k-shingles -> md5-prefix 32-bit hash per shingle -> `numPerms` affine
  * min-hashes `(a*h + b) mod (2^31-1)` with [[PolyMinHashSignature.perms]]
  * constants, all in ONE compiled per-row loop.
  *
  * Every step is arithmetic any engine reproduces (DuckDB oracle-checked
  * end-to-end in q41/q67), value-identical to the HOF formulation the
  * specs keep as its differential oracle, but ~two orders of magnitude
  * faster — the HOF chain interprets one md5 + numPerms lambda trees per
  * shingle. CodegenFallback is deliberate: one virtual call per row into
  * a tight loop beats generated code that would still interpret HOF
  * lambdas. */
case class PolyMinHashSignature(child: Expression, numPerms: Int, k: Int)
    extends UnaryExpression with CodegenFallback with Serializable {

  private val P = 2147483647L // 2^31 - 1
  @transient private lazy val ws = Pattern.compile("\\s+")
  @transient private lazy val perms: Array[(Long, Long)] =
    PolyMinHashSignature.perms(numPerms).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_poly_minhash requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_poly_minhash"
  override def nullable: Boolean = false

  /** Null text yields the all-sentinel signature [P, P, ...] — NOT null:
    * the HOF formulation's per-position `coalesce(array_min(...), P)` and
    * the DuckDB oracles' COALESCE land there for null input, and the
    * value-identity contract with both must hold on every input. (The
    * UnaryExpression default would null-propagate and diverge.) */
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.fill(numPerms)(P))
    else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    // mirror TextAnalysis.canonicalize exactly: lower, collapse \s+ runs
    // to ' ', then Spark trim (strips ' ' — after the collapse every edge
    // whitespace IS a space)
    val lowered = input.asInstanceOf[UTF8String].toLowerCase.toString
    val collapsed = ws.matcher(lowered).replaceAll(" ")
    var st = 0
    var en = collapsed.length
    while (st < en && collapsed.charAt(st) == ' ') st += 1
    while (en > st && collapsed.charAt(en - 1) == ' ') en -= 1
    val canon = collapsed.substring(st, en)

    val shingles = new java.util.HashSet[String]()
    if (canon.length < k) shingles.add(canon)
    else {
      var i = 0
      while (i <= canon.length - k) { shingles.add(canon.substring(i, i + k)); i += 1 }
    }

    // MessageDigest is stateful and not thread-safe: one per partition
    // thread (eval can run concurrently over shared expression instances)
    val md5 = PolyMinHashSignature.digests.get()
    val sig = Array.fill(numPerms)(P)
    val it = shingles.iterator()
    while (it.hasNext) {
      val sh = it.next()
      md5.reset()
      val d = md5.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars of the digest == first 4 bytes, big-endian
      // unsigned — exactly conv(substr(md5(t), 1, 8), 16, 10)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var j = 0
      while (j < numPerms) {
        // h < 2^32, a < 2^30: h*a + b < 2^63, no overflow; operands
        // positive so % == pmod
        val v = (h * perms(j)._1 + perms(j)._2) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): PolyMinHashSignature =
    copy(child = newChild)
}

object PolyMinHashSignature {
  /** Permutation constants — pure arithmetic so the DuckDB oracle
    * generator (and any external engine) derives the identical (a, b)
    * pairs. Exposed via `Dedup.polyPerms`. */
  def perms(numPerms: Int): Seq[(Long, Long)] =
    (1 to numPerms).map { i =>
      (1000003L * i % 1073741789L + 1L, 998244353L * i % 2147483647L)
    }

  private[expressions] val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def apply(text: Column, numPerms: Int, k: Int): Column =
    ColumnBridge.column(new PolyMinHashSignature(ColumnBridge.expression(text), numPerms, k))
}

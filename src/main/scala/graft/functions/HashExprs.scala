package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native evaluation of the portable 32-bit MD5 hash `Det.hash32`
  * (round 16 optimization, guide step 4 "eliminate non-codegen /
  * multi-pass expressions in the hot path").
  *
  * The LAW is unchanged — the low four bytes of the MD5 digest read
  * little-endian, exactly `Det.hash32Scala` and the oracle's
  * `md5_number_upper(x) & 4294967295` — but the old Column spelling
  * (`conv(concat(substring(md5(x),7,2), ...), 16, 10)`) re-evaluated the
  * `md5` subexpression once per `substring` reference inside Filter
  * predicates (whole-stage codegen subexpression elimination does not
  * cover filter conditions), plus hex-string slicing and a base-16
  * parse: measured 6.3 s vs 1.4 s for a single md5 pass over the same
  * 320k rows (OPTIMIZATION_r16.md §5). This expression computes the
  * digest ONCE per row with a thread-local MessageDigest and returns
  * the long directly — no hex string, no conv.
  *
  * DetLemmaSpec pins the three-way agreement (Column form == Scala
  * scalar == DuckDB SQL) — unchanged by this rewrite because the value
  * is bit-identical. */
object HashExprs {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Low 4 MD5 bytes of the UTF-8 encoding, little-endian, in [0, 2^32). */
  def md5Low32(s: UTF8String): Long = {
    val m = md.get()
    m.reset()
    val dg = m.digest(s.getBytes)
    ((dg(3) & 0xffL) << 24) | ((dg(2) & 0xffL) << 16) |
      ((dg(1) & 0xffL) << 8) | (dg(0) & 0xffL)
  }
}

case class Md5Low32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  // match the StringType FAMILY (any collation), not the bare default:
  // the hash reads the UTF-8 bytes, which are collation-independent, and
  // the old md5()-based spelling accepted collated inputs too (ADVICE r16)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.simpleString}")
  }

  override def prettyName: String = "graft_md5low32"

  override def nullSafeEval(s: Any): Any =
    HashExprs.md5Low32(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashExprs.md5Low32($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The repo-wide 60-bit md5 hash (`h60`) as ONE fused codegen expression
 * (r16): the declarative form `conv(substring(md5(c), 1, 15), 16, 10)`
 * renders the 16-byte digest to a 32-char hex STRING, substrings it,
 * and re-parses it back to a long — three per-row string round-trips
 * that measured ~3µs/row and dominated every hash-dense operator
 * (char-window span dedup spent 11 of its 15 hashed-mode seconds in
 * them). This computes the identical value directly: the first 15 hex
 * digits of an md5 are exactly the TOP 60 BITS of its first 8 bytes
 * (big-endian, shifted right a nibble) — non-negative, bit-equal to
 * the conv form and to DuckDB's `('0x' || substr(md5(x), 1, 15))::BIGINT`
 * on every input (H60Spec fuzzes the equality, unicode included).
 */
object H60 {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Codegen/eval entry points (object methods compile to static
    * forwarders). The string form hashes the UTF-8 bytes — identical to
    * the legacy chain's cast-to-binary. */
  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  def hashBytes(b: Array[Byte]): Long = {
    val md = tl.get()
    md.reset()
    top60(md.digest(b))
  }

  /** h60 of `parts(from until until)` joined by single spaces, NULL
    * parts skipped with their separator (`array_join`'s rule), fed to
    * the digest piecewise instead of built as one string. */
  def hashJoined(parts: Array[Array[Byte]], from: Int, until: Int): Long = {
    val md = tl.get()
    md.reset()
    var first = true
    var i = from
    while (i < until) {
      if (parts(i) != null) {
        if (!first) md.update(' '.toByte)
        md.update(parts(i))
        first = false
      }
      i += 1
    }
    top60(md.digest())
  }

  private def top60(d: Array[Byte]): Long = {
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }

  def h60(c: Column): Column =
    GraftSqlBridge.column(H60Expr(GraftSqlBridge.expression(c)))
}

/** `h60(string | binary)` — 60-bit md5 prefix as a long; see [[H60]].
  * Unlike the repo's other custom expressions (caller-enforced types),
  * this one checks its input at ANALYSIS time: the legacy conv/md5
  * chain failed a bad input during analysis, and the public
  * `TextOps.h60` / `graft_h60` surfaces must keep that failure mode
  * rather than a mid-stage ClassCastException (r16 review fix). */
case class H60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_h60"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_h60 needs a string or binary input, got ${other.sql}")
    }
  }

  private def isBinary: Boolean =
    child.dataType == org.apache.spark.sql.types.BinaryType

  override def nullSafeEval(input: Any): Any =
    if (isBinary) H60.hashBytes(input.asInstanceOf[Array[Byte]])
    else H60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isBinary) defineCodeGen(ctx, ev, c => s"graft.functions.H60.hashBytes($c)")
    else defineCodeGen(ctx, ev, c => s"graft.functions.H60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * The hashed word k-grams of a words array in one codegen'd loop:
 * element i is the [[H60]] hash of words i .. i+k-1 joined by single
 * spaces. Bit-equal to the declarative
 * `transform(TextOps.shinglesOf(w, k), s => h60(s))` it replaces (NULL
 * words are skipped as `array_join` skips them; fewer than k words, or
 * a NULL array, give the empty array), which evaluates two interpreted
 * higher-order functions per gram and builds each gram as a string;
 * this feeds each gram's word bytes to the digest directly. Every
 * hashed word k-gram of the datapipe comes from it: the Dedup shingle
 * sets (documents and segments), the Decontam probe grams (index, flag
 * and the stream gate of `Prep.prepareStream`) and the winnowing
 * fingerprints.
 */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "the shingle width must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes needs an array of strings, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any =
    ShingleHashes.of(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.ShingleHashes.of(${c.isNull} ? null : ${c.value}, $k);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val none = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** The k-gram hashes of `words` (the codegen and eval entry point). */
  def of(words: ArrayData, k: Int): ArrayData = {
    val n = if (words == null) 0 else words.numElements()
    if (n < k) return none
    val parts = Array.tabulate(n)(i => if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes)
    UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n - k + 1)(i => H60.hashJoined(parts, i, i + k)))
  }

  /** DataFrame-API door to the native expression. */
  def hashes(words: Column, k: Int): Column =
    GraftSqlBridge.column(ShingleHashes(GraftSqlBridge.expression(words), k))
}

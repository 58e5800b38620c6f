package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Native Catalyst expression computing ALL MinHash signature mins in one
 * primitive loop over a hashed-shingle array: for permutation j,
 * `min over x of (a(j) * (x mod p) + b(j)) mod p`, seeded at `p` (an
 * identity for min, since every permuted value is < p) — bit-identical
 * to the grouped per-shingle mins of the DuckDB mirrors (same Long
 * arithmetic in the same order; min is order-insensitive).
 *
 * Why an Expression: higher-order functions (`aggregate`/`transform`)
 * evaluate INTERPRETED with a per-element array allocation for the
 * accumulator — the measured cost of the stateless stream-side
 * signature in the ingest near-dup gate. This is one codegen'd loop
 * with a primitive long[] accumulator, the shape you want signing an
 * arriving 100 TB feed. Every MinHash signature is signed through it,
 * map-side, by way of `Dedup.bandKeys`: the index (`Dedup.minhashIndex`),
 * the stream gate, the batch self-join `Dedup.minhashLsh` and the
 * segment-level `Dedup.segmentDedupFuzzy` share one band-key path.
 */
case class MinhashSignature(
    child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression {

  require(a.length == b.length && a.nonEmpty, "permutation constant arrays must align")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  private val aArr = a.toArray
  private val bArr = b.toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = aArr.length
    val mins = Array.fill(k)(p)
    var i = 0
    while (i < n) {
      val s = arr.getLong(i) % p
      var j = 0
      while (j < k) {
        val v = (aArr(j) * s + bArr(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |int $k = $aRef.length;
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, ${p}L);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $s = $c.getLong($i) % ${p}L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = ($aRef[$j] * $s + $bRef[$j]) % ${p}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSignature {
  /** DataFrame-API door to the native expression. */
  def signature(shingles: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    GraftSqlBridge.column(
      MinhashSignature(GraftSqlBridge.expression(shingles), a, b, p))
}

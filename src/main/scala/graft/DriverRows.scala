package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.Platform

/** The bounded collect behind the driver finishes of the iterative
  * operators (connected components, n-gram Jaccard pairs): bring a
  * frame's rows to the driver only when they fit a fixed row budget, and
  * finish the operator there in memory instead of in per-round jobs. */
object DriverRows {

  /** Whether `df` is already rows on the driver: its optimized plan is a
    * LocalRelation (a local frame, with any projections and filters the
    * optimizer folded into it). */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The rows of `df` when there are at most `budget` of them, else None.
    * A local frame ([[isLocal]]) is read with no job. Anything else costs
    * ONE job whatever the partitioning: one task walks the partitions in
    * turn (on a persisted frame with a cold cache it also computes the
    * partitions it reads) and stops after `budget + 1` rows, so the
    * driver never receives more. */
  def within(df: DataFrame, budget: Int): Option[Array[Row]] = {
    if (isLocal(df)) {
      val rows = df.collect()
      return if (rows.length > budget) None else Some(rows)
    }
    val schema = df.schema
    // planned under an SQL execution id, as `Dataset.rdd` is: without
    // one, collecting the n-gram pairs of a persisted distributed plan
    // took ~1.2 s longer at sf0.1 (1.5-2.0 s against 2.8-3.3 s)
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("DriverRows.within"))(qe.toRdd)
    // the task packs its rows into ONE byte array (length-prefixed
    // UnsafeRows): shipped as an object per row, collecting 2^18 n-gram
    // postings took about twice as long as computing them
    val (n, packed) = rdd.coalesce(1).mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bytes)
      val buf = new Array[Byte](4096)
      var n = 0
      while (n <= budget && it.hasNext) {
        val r = toUnsafe(it.next())
        out.writeInt(r.getSizeInBytes)
        r.writeToStream(out, buf)
        n += 1
      }
      out.flush()
      Iterator((n, bytes.toByteArray))
    }.collect().headOption.getOrElse((0, Array.emptyByteArray))
    if (n > budget) return None
    val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    val in = java.nio.ByteBuffer.wrap(packed)
    val row = new UnsafeRow(schema.length)
    Some(Array.fill(n) {
      val size = in.getInt()
      row.pointTo(packed, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      toRow(row)
    })
  }
}

package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Row count and order-independent sum of a 64-bit hash over every output
  * column. Hashing every column forces each one to be computed, and the
  * exact decimal sum does not depend on partitioning or row order. */
final case class Digest(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${hashSum.toPlainString}"
}

object Digest {
  /** The one-row aggregate whose collection is the timed action. */
  def frame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
        // a sum of 64-bit hashes overflows long after a few rows
        .cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)).as("rows"), sum("__h").as("h"))

  def collect(frame: DataFrame): Digest = {
    val r = frame.collect()(0)
    val h = if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1)
    Digest(r.getLong(0), h)
  }

  def of(df: DataFrame): Digest = collect(frame(df))
}

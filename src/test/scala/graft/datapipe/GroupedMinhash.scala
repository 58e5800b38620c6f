package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The grouped MinHash reference the map-side signing path is checked
  * against: the exploded `(doc_id, sh)` relation ([[Dedup.shingles]]),
  * one `min` aggregate per signature row grouped by document, band keys
  * concatenated from those mins, and Jaccard verified by joining the
  * two exploded sets — the dataflow the DuckDB mirrors spell out. Rows
  * sharing a `doc_id` merge into one member here. */
object GroupedMinhash {
  import Dedup.{mhA, mhB, mhBands, mhP, mhRows, mhTau}

  /** `(doc_id, mh0 .. mh11)`: the signature mins per document. */
  def signatures(sh: DataFrame): DataFrame = {
    val aggs = (0 until mhBands * mhRows).map { j =>
      min((lit(mhA(j)) * (col("sh") % mhP) + lit(mhB(j))) % mhP).as(s"mh$j")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** `(doc_id, band, key)` from a signature frame. */
  def bandKeys(sig: DataFrame): DataFrame = {
    val structs = (0 until mhBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until mhRows).map(r => col(s"mh${b * mhRows + r}")): _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(structs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The grouped form of [[Dedup.minhashLsh]]: `(d1, d2, jac)`. */
  def lsh(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingles(docs)
    val bands = bandKeys(signatures(sh))
    val cand = bands.toDF("d1", "band", "key")
      .join(bands.toDF("d2", "band", "key"), Seq("band", "key"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    cand
      .join(sh.toDF("d1", "sh"), "d1")
      .join(sh.toDF("d2", "sh"), Seq("d2", "sh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("d1", "sz1"), "d1")
      .join(sizes.toDF("d2", "sz2"), "d2")
      .withColumn("jac", col("shared") / (col("sz1") + col("sz2") - col("shared")))
      .where(col("jac") >= mhTau)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
  }
}

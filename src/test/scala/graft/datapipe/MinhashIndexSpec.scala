package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lean MinHash index built map-side from per-document shingle sets
  * holds the same rows as the grouped form over the exploded shingle
  * relation ([[GroupedMinhash]]). */
class MinhashIndexSpec extends SparkSpecBase {
  import spark.implicits._

  /** The grouped reference ([[GroupedMinhash]]): band keys from the
    * grouped mins over `shingles`; sets collected per doc, sorted. */
  private def grouped(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = Dedup.shingles(docs)
    val keys = GroupedMinhash.bandKeys(GroupedMinhash.signatures(sh))
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
    val sets = sh.groupBy(col("doc_id")).agg(sort_array(collect_list(col("sh"))).as("corpus_shs"))
      .select(col("doc_id").as("corpus_id"), col("corpus_shs"))
    (keys, sets)
  }

  /** Rows as a sorted sequence: equal sequences are equal multisets. */
  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def sortedSets(sets: DataFrame): DataFrame =
    sets.select(col("corpus_id"), sort_array(col("corpus_shs")).as("corpus_shs"))

  test("map-side index keys and sets equal the grouped form, fixtures included") {
    val fixtures = Seq[(java.lang.Long, String)](
      (9000001L, "two words"), // below the shingle width
      (9000002L, null), // NULL text
      (null, "a document whose id is missing but whose text is long enough")
    ).toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(fixtures)
    val idx = Dedup.minhashIndex(docs)
    val (keys, sets) = grouped(docs)
    assert(bag(idx.keys) == bag(keys), "band keys differ from the grouped signatures'")
    assert(bag(sortedSets(idx.sets)) == bag(sets), "shingle sets differ from the grouped sets")
    // the fixtures: no shingles, no rows; a NULL id is indexed under NULL
    val ids = idx.sets.select("corpus_id").as[Option[Long]].collect().toSeq
    assert(!ids.contains(Some(9000001L)) && !ids.contains(Some(9000002L)))
    assert(ids.count(_.isEmpty) == 1)
    assert(idx.keys.where(col("corpus_id").isNull).count() == Dedup.mhBands)
  }

  test("doc_id is the index key: rows sharing a doc_id are indexed one by one") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (1L, "an unrelated text about distributed query engines"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(docs)
    val one = idx.sets.where(col("corpus_id") === 1L)
    assert(one.count() == 2, "each row of a repeated doc_id keeps its own set row")
    // ...equal to the grouped sets of the same rows under distinct ids
    val apart = docs.withColumn("doc_id",
      when(col("text").startsWith("an"), lit(3L)).otherwise(col("doc_id")))
    assert(bag(sortedSets(one)) == bag(grouped(apart)._2.where(col("corpus_id") =!= 2L)
      .select(lit(1L).as("corpus_id"), col("corpus_shs"))))
    assert(idx.keys.where(col("corpus_id") === 1L).count() == 2 * Dedup.mhBands)
    // the grouped form merged them into one member
    assert(grouped(docs)._2.where(col("corpus_id") === 1L).count() == 1)
  }
}

package graft.datapipe

import graft.SparkSpecBase
import graft.functions.{H60Expr, ShingleHashes}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, Expression, LambdaFunction, Literal, Slice}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Every hashed shingle goes through the one codegen'd kernel
  * ([[ShingleHashes]]) and every MinHash signature through the one
  * map-side signing path: the optimized plans hold no interpreted gram
  * chain, and `minhashLsh` keeps the grouped form's rows. */
class ShingleKernelSpec extends SparkSpecBase {
  import spark.implicits._

  /** The optimized form of `df`'s analysed plan (a streaming plan too,
    * which `queryExecution.optimizedPlan` refuses). */
  private def optimized(df: DataFrame): LogicalPlan =
    spark.sessionState.optimizer.execute(df.queryExecution.analyzed)

  /** Every expression of a plan and of its subqueries. */
  private def exprs(p: QueryPlan[_]): Seq[Expression] =
    p.expressions ++ (p.children ++ p.innerChildren).flatMap {
      case q: QueryPlan[_] => exprs(q)
      case _ => Nil
    }

  /** The lambdas of `df`'s optimized plan that join a gram of `k` words
    * (any width when None): `shinglesOf`'s interpreted chain. */
  private def gramLambdas(df: DataFrame, k: Option[Int] = None): Seq[LambdaFunction] =
    exprs(optimized(df)).flatMap(_.collect {
      case l: LambdaFunction if l.function.exists {
        case ArrayJoin(Slice(_, _, Literal(n, _)), _, _) => k.forall(_ == n)
        case _: ArrayJoin => k.isEmpty
        case _ => false
      } => l
    })

  private def assertOneKernel(name: String, df: DataFrame, gramWidth: Option[Int] = None): Unit = {
    val es = exprs(optimized(df))
    assert(es.exists(_.exists(_.isInstanceOf[ShingleHashes])), s"$name: no ShingleHashes")
    assert(!es.exists(_.exists {
      case l: LambdaFunction => l.function.exists(_.isInstanceOf[H60Expr])
      case _ => false
    }), s"$name: a lambda hashes grams")
    assert(gramLambdas(df, gramWidth).isEmpty, s"$name: a lambda joins gram strings")
  }

  test("hashed shingles come from the one kernel, never an interpreted gram chain") {
    val docs = graft.sources.Tables.documents(spark, sfDir).select("doc_id", "text")
    val probes = Decontam.probes(docs)
    assertOneKernel("Decontam.probeIndex", Decontam.probeIndex(probes))
    assertOneKernel("Decontam.flag", Decontam.flag(docs, Decontam.probeIndex(probes)))
    assertOneKernel("TextOps.fingerprints", TextOps.fingerprints(docs))
    assertOneKernel("Dedup.segmentDedupFuzzy", Dedup.segmentDedupFuzzy(docs))
    assertOneKernel("Dedup.minhashLsh", Dedup.minhashLsh(docs))
    // the gate's probe grams are 5 words wide; repetitionOver's own 2-
    // and 3-word string grams stay lambdas by design
    val gate = Prep.prepareStream(MemoryStream[StreamDoc](spark).toDF(), probes)
    assertOneKernel("Prep.prepareStream", gate, Some(Decontam.probeN))
    assert(gramLambdas(gate).nonEmpty, "the width filter must see repetitionOver's grams")
  }

  /** Rows as a sorted sequence: equal sequences are equal multisets. */
  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("minhashLsh equals the grouped form, fixtures included") {
    val fixtures = Seq[(java.lang.Long, String)](
      (9000001L, "two words"), // below the shingle width
      (9000002L, null), // NULL text
      (null, "one text under a missing id and under two present ids"),
      (9000003L, "one text under a missing id and under two present ids"),
      (9000004L, "one text under a missing id and under two present ids")
    ).toDF("doc_id", "text")
    // planted block-scrambled copies give the corpus real candidates
    val docs = Decontam.plantNearDups(graft.sources.Tables.documents(spark, sfDir))
      .select("doc_id", "text").unionByName(fixtures)
    val want = bag(GroupedMinhash.lsh(docs))
    assert(want.size > 1, "a vacuous comparison")
    assert(bag(Dedup.minhashLsh(docs)) == want)
    // the fixtures: the NULL id pairs with nothing, the present ids do
    val ids = Dedup.minhashLsh(fixtures).as[(Long, Long, Double)].collect().map(r => (r._1, r._2))
    assert(ids.toSeq == Seq((9000003L, 9000004L)))
  }

  test("doc_id is the member key: rows sharing a doc_id are verified one by one") {
    val text = "the quick brown fox jumps over the lazy dog"
    val docs = Seq((1L, text), (1L, "an unrelated text about distributed query engines"),
      (2L, text)).toDF("doc_id", "text")
    // one candidate id pair (1, 2); each row under id 1 is verified on
    // its own: the copy passes with Jaccard 1, the unrelated row fails
    assert(bag(Dedup.minhashLsh(docs)) == Seq("[1,2,1.0]"))
    // a second copy under id 1 gives a second row for the pair
    val twice = docs.unionByName(Seq((1L, text)).toDF("doc_id", "text"))
    assert(bag(Dedup.minhashLsh(twice)) == Seq("[1,2,1.0]", "[1,2,1.0]"))
    // the grouped form merged the rows under id 1 into one member whose
    // signature agrees with id 2's on no band: it lost the pair
    assert(GroupedMinhash.lsh(docs).count() == 0)
  }
}

package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("graft_cosine is registered for SQL and matches the declarative form") {
    val viaSql = spark.sql(
      "SELECT graft_cosine(array(1.0F, 2.0F, 3.0F), array(3.0F, 2.0F, 1.0F)) AS c")
      .head().getDouble(0)
    val viaCols = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
      .select(graft.datapipe.Ann.dot(col("a"), col("b")) /
        (graft.datapipe.Ann.norm(col("a")) * graft.datapipe.Ann.norm(col("b"))))
      .head().getDouble(0)
    assert(viaSql == viaCols) // bit-identical, not approximately equal
  }

  test("native expression matches the declarative composition on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(50)
    val pairs = emb.select(col("vec_id").as("i"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("j"), col("embedding").as("b")))
      .where(col("i") < col("j"))
    val diff = pairs.select(
        (CosineSimilarity.cosine(col("a"), col("b")) -
          graft.datapipe.Ann.dot(col("a"), col("b")) /
          (graft.datapipe.Ann.norm(col("a")) * graft.datapipe.Ann.norm(col("b"))))
          .as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff == 0.0)
  }

  test("cosine dispatches on element type: float vs double arrays agree") {
    val f = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, 0.25f, 4.0f))).toDF("a", "b")
    val viaFloat = f.select(graft.datapipe.Ann.cosine(col("a"), col("b"))).head().getDouble(0)
    // same values as doubles (exactly representable) must give the same cosine
    val d = Seq((Array(1.0, 2.0, 3.0), Array(0.5, 0.25, 4.0))).toDF("a", "b")
    val viaDouble = d.select(graft.datapipe.Ann.cosine(col("a"), col("b"))).head().getDouble(0)
    val mixed = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5, 0.25, 4.0)))
      .toDF("a", "b")
      .select(graft.datapipe.Ann.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(viaFloat == viaDouble && viaDouble == mixed)
  }

  test("MinhashSignature equals the declarative fold, codegen and interpreted") {
    // the native loop must be bit-identical to the aggregate() fold it
    // replaced (same Long arithmetic; min is order-insensitive), on
    // random shingle sets AND the empty/singleton edges, under codegen
    // on and off
    import graft.datapipe.Dedup.{mhA, mhB, mhP}
    val k = 12
    val rnd = new scala.util.Random(149717)
    val rows = (Seq(Seq.empty[Long], Seq(0L), Seq(mhP - 1L)) ++
      (1 to 20).map(_ => Seq.fill(1 + rnd.nextInt(50))(rnd.nextLong().abs))).zipWithIndex
    val df = rows.map { case (s, i) => (i.toLong, s) }.toDF("id", "shs")
    def viaFold = df.select(col("id"),
      aggregate(col("shs"), array_repeat(lit(mhP), k),
        (acc, x) => array((0 until k).map { j =>
          least(element_at(acc, j + 1), (lit(mhA(j)) * (x % mhP) + lit(mhB(j))) % mhP)
        }: _*)).as("sig"))
    def viaExpr = df.select(col("id"),
      graft.functions.MinhashSignature.signature(
        col("shs"), mhA.take(k), mhB.take(k), mhP).as("sig"))
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val old = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val a = viaFold.collect().map(_.toString).sorted.toSeq
        val b = viaExpr.collect().map(_.toString).sorted.toSeq
        assert(a == b, s"fold vs expression diverged under $codegen")
      } finally old match {
        case Some(o) => spark.conf.set("spark.sql.codegen.factoryMode", o)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("ShingleHashes equals the hashed shinglesOf chain, codegen and interpreted") {
    // bit-equal to transform(shinglesOf(w, k), h60) on random word
    // arrays (unicode, empty words, NULL words, fewer than k words) and
    // a NULL array, which both give the empty array
    import graft.datapipe.TextOps.{h60, shinglesOf}
    val rnd = new scala.util.Random(271828)
    val pool = Seq("", "a", "the", "äöü", "你好", "𐀀x", "word", "·:/", null)
    val arrays = Seq(null, Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq(null, null, null), Seq("", "", "")) ++
      (1 to 200).map(_ => Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))))
    val df = arrays.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    for (k <- Seq(1, 3); codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val old = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try {
        val diverged = df.where(
          not(ShingleHashes.hashes(col("w"), k) <=> transform(shinglesOf(col("w"), k), s => h60(s))))
          .count()
        assert(diverged == 0, s"$diverged arrays diverged at k=$k under $codegen")
      } finally old match {
        case Some(o) => spark.conf.set("spark.sql.codegen.factoryMode", o)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("graft_h60 is registered and equals TextOps.h60") {
    val viaSql = spark.sql("SELECT graft_h60('hello') AS h").head().getLong(0)
    val viaCol = Seq("hello").toDF("s")
      .select(graft.datapipe.TextOps.h60(col("s"))).head().getLong(0)
    assert(viaSql == viaCol)
    assert(viaSql == 419982666956583591L) // DuckDB-verified constant
  }
}

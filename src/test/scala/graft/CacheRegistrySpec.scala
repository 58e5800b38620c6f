package graft

class CacheRegistrySpec extends SparkSpecBase {

  test("tracked persists are released by unpersistAll") {
    CacheRegistry.unpersistAll() // isolate from other suites
    val p = CacheRegistry.persistTracked(spark.range(100).toDF("x"))
    p.count()
    assert(p.storageLevel.useMemory)
    assert(CacheRegistry.trackedCount == 1)
    CacheRegistry.unpersistAll()
    assert(CacheRegistry.trackedCount == 0)
    assert(!p.storageLevel.useMemory)
  }

  test("operator-internal persists register themselves") {
    CacheRegistry.unpersistAll()
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val bags = graft.wcoj.Ghd.decompose(Seq(
      graft.cqc.Rel("g1", e.toDF("a", "b")), graft.cqc.Rel("g2", e.toDF("b", "c")),
      graft.cqc.Rel("g3", e.toDF("c", "a"))))
    bags.find(_.name == "g1+g2+g3").get.df.collect()
    assert(CacheRegistry.trackedCount > 0) // the WCOJ certificate bag
    CacheRegistry.unpersistAll()
    assert(CacheRegistry.trackedCount == 0)
  }
}

package graft

import graft.meta.{InodeCatalog, ListingCache}

/** Hit and snapshot-keying semantics of the readdir memo (list_cache.rs
  * analog). */
class ListingCacheSpec extends SparkSpec {

  private def catWithFiles(names: String*): InodeCatalog =
    names.foldLeft(InodeCatalog.empty(spark))((c, n) => c.create(1, n, "file"))

  test("second readdir of a snapshot is a hit and runs no Spark job") {
    val cache = new ListingCache
    val cat = catWithFiles("a", "b")
    val first = cache.readdir(cat, 1)
    assert(first.map(_.getAs[String]("name")) === Seq("a", "b"))
    var second: Seq[org.apache.spark.sql.Row] = Nil
    assert(jobsOf { second = cache.readdir(cat, 1) } === 0)
    assert(second === first)
    assert(cache.hits === 1 && cache.misses === 1)
  }

  test("a newer snapshot's listing shows its changes with no invalidation") {
    val cache = new ListingCache
    val s1 = catWithFiles("a")
    assert(cache.readdir(s1, 1).map(_.getAs[String]("name")) === Seq("a"))
    val s2 = s1.create(1, "z", "file")
    assert(cache.readdir(s2, 1).map(_.getAs[String]("name")) === Seq("a", "z"))
    assert(cache.hits === 0 && cache.misses === 2)
  }

  test("pagination slices the cached listing without refetching") {
    val cache = new ListingCache
    val cat = catWithFiles("a", "b", "c", "d")
    assert(cache.readdir(cat, 1, offset = 1, limit = 2)
      .map(_.getAs[String]("name")) === Seq("b", "c"))
    assert(cache.readdir(cat, 1, offset = 3, limit = 5)
      .map(_.getAs[String]("name")) === Seq("d"))
    assert(cache.misses === 1 && cache.hits === 1)
  }

  test("engine facade: mutation through updateFs invalidates listings") {
    val eng = new graft.api.GraftEngine(spark,
      "file:" + java.nio.file.Files.createTempDirectory("lscache").toString)
    eng.updateFs(_.create(1, "x", "file"))
    assert(eng.readdirCached(1).map(_.getAs[String]("name")) === Seq("x"))
    eng.updateFs(_.create(1, "y", "file"))
    assert(eng.readdirCached(1).map(_.getAs[String]("name")) === Seq("x", "y"))
  }

  test("engine facade: an updateFs that keeps the snapshot keeps its listings") {
    val eng = new graft.api.GraftEngine(spark,
      "file:" + java.nio.file.Files.createTempDirectory("lscache").toString)
    eng.updateFs(_.create(1, "x", "file"))
    eng.readdirCached(1)
    eng.updateFs(_.unlink(1, "missing")) // unlink of a missing name: same snapshot
    assert(eng.readdirCached(1).map(_.getAs[String]("name")) === Seq("x"))
    assert(eng.lsCache.hits === 1 && eng.lsCache.misses === 1)
  }
}

package graft

import graft.meta.InodeCatalog

/** The one-probe rule of [[InodeCatalog]]: how many Spark jobs each
  * metadata op runs, and the check orders the fused probe must keep. */
class InodeCatalogProbeSpec extends SparkSpec {

  private def tree(): InodeCatalog = {
    // / ── a/ ── x, y ; b/
    InodeCatalog
      .empty(spark)
      .mkdir(1, "a")          // ino 2
      .create(2, "x", "file") // ino 3
      .create(2, "y", "file") // ino 4
      .mkdir(1, "b")          // ino 5
      .checkpointed()
  }

  private def errorOf(f: => Any): String = intercept[RuntimeException](f).getMessage

  test("each metadata op runs one probe: job counts per op") {
    val cat = tree()
    assert(jobsOf(cat.lookup(2, "x")) === 1, "lookup")
    assert(jobsOf(cat.getattr(3)) === 1, "getattr")
    assert(jobsOf(cat.checkpointed()) === 1, "checkpointed()")
    assert(jobsOf(cat.resolve("/a/x")) === 1, "resolve")
    assert(jobsOf(cat.readdir(2).collect()) === 1, "readdir")
    assert(jobsOf(cat.rename(2, "x", 5, "x2")) === 1, "rename")
    assert(jobsOf(cat.rename(2, "x", 2, "y")) === 1, "rename over a file")
    assert(jobsOf(cat.unlink(2, "x")) === 1, "unlink")
    // minting adds one aggregate: the next ino and the path's generation
    assert(jobsOf(cat.create(2, "z", "file")) === 2, "create")
    assert(jobsOf(cat.symlink(2, "z", "/a/x")) === 2, "symlink")
    assert(jobsOf(cat.mknod(2, "z", 0x8180)) === 2, "mknod")
    assert(jobsOf(cat.link(3, 5, "z")) === 2, "link")
    // rmdir adds a probe of the children of the ino its first probe found
    assert(jobsOf(cat.rmdir(1, "b")) === 2, "rmdir")
  }

  test("checkpointed() keeps minted rows from adding partitions") {
    val cores = spark.sparkContext.defaultParallelism
    val grown = (0 until 2 * cores).foldLeft(tree())((c, i) =>
      c.create(2, s"n$i", "file").checkpointed())
    assert(grown.df.rdd.getNumPartitions <= cores)
    assert(grown.readdir(2).count() === 2 + 2 * cores)
  }

  test("create and rename under a missing parent keep 'no such parent ino'") {
    val cat = tree()
    assert(errorOf(cat.create(99, "z", "file")) === "no such parent ino 99")
    assert(errorOf(cat.symlink(99, "z", "/a")) === "no such parent ino 99")
    assert(errorOf(cat.link(3, 99, "z")) === "no such parent ino 99")
    assert(errorOf(cat.rename(2, "x", 99, "z")) === "no such parent ino 99")
    assert(cat.mknod(99, "z", 0x8180) === Left("ENOENT: parent ino 99"))
  }

  test("a live name is EEXIST before its parent is checked") {
    // unlink does not check emptiness: /a's children stay live under a
    // dead directory, so (2, "x") is taken while parent ino 2 is gone
    val cat = tree().unlink(1, "a").checkpointed()
    assert(cat.getattr(2).isEmpty && cat.lookup(2, "x").isDefined)
    assert(errorOf(cat.create(2, "x", "file")).endsWith("exists: x"))
    assert(errorOf(cat.symlink(2, "x", "/t")).endsWith("exists: x"))
    assert(errorOf(cat.link(4, 2, "x")).endsWith("exists: x"))
    assert(cat.mknod(2, "x", 0x8180) === Left("EEXIST: x"))
    // a free name under the same dead parent reaches the parent check
    assert(errorOf(cat.create(2, "z", "file")) === "no such parent ino 2")
    assert(cat.mknod(2, "z", 0x8180) === Left("ENOENT: parent ino 2"))
    // rename replaces a live destination rather than refusing it, so its
    // first failing check here is the parent
    assert(errorOf(cat.rename(2, "y", 2, "x")) === "no such parent ino 2")
  }

  test("rename from a missing source fails on the source first") {
    val cat = tree()
    assert(errorOf(cat.rename(2, "q", 5, "z")) === "no such entry q")
    assert(errorOf(cat.rename(2, "q", 99, "z")) === "no such entry q",
      "source is checked before the destination parent")
    assert(errorOf(cat.rename(99, "x", 5, "z")) === "no such entry x")
  }

  test("generation follows full_path, not (parent, name), after a parent rename") {
    // /a/x lived and died at generation 0; its tombstone keeps
    // (parent 2, name "x") and full_path "/a/x"
    val cat = tree().unlink(2, "x").forget(3).rename(1, "a", 1, "c")
      .checkpointed()
    // /c/x is a new path under the same (parent 2, name "x"): generation 0
    val underC = cat.create(2, "x", "file")
    assert(underC.resolve("/c/x").get.getAs[Long]("generation") === 0L)
    // a new /a reuses the old path "/a/x": generation 1
    val a2 = cat.mkdir(1, "a").checkpointed()
    val a2Ino = a2.lookup(1, "a").get.getAs[Long]("ino")
    val reused = a2.create(a2Ino, "x", "file").resolve("/a/x").get
    assert(reused.getAs[Long]("generation") === 1L)
    assert(reused.getAs[Long]("ino") > a2Ino, "inos are never reused")
  }
}

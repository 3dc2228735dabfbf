package graft

import graft.meta.InodeCatalog

/** Plan growth of un-checkpointed [[InodeCatalog]] snapshots: every
  * column-only mutation rewrites its rows in one projection, so it adds
  * exactly one logical-plan node. */
class InodeCatalogPlanSpec extends SparkSpec {

  private def nodes(c: InodeCatalog): Int =
    c.df.queryExecution.logical.collect { case p => p }.size

  test("each column-only mutation adds one logical-plan node") {
    val base = InodeCatalog.empty(spark).create(1, "a", "file").checkpointed()
    val ops: Seq[(String, InodeCatalog => InodeCatalog)] = Seq(
      "recordWrite" -> (_.recordWrite(2, 0, 10)),
      "setattr" -> (_.setattr(2, size = Some(5L), atime = Some(
        InodeCatalog.TimeOrNow.Now), mtime = Some(InodeCatalog.TimeOrNow.Now))
        .toOption.get),
      "open" -> (_.open(2, read = true, write = false).toOption.get._2),
      "release" -> (_.release(2)),
      "forget" -> (_.forget(2)),
      "setxattr" -> (_.setxattr(2, "user.k", Array[Byte](1))),
      "removexattr" -> (_.removexattr(2, "user.k")),
      "unlink" -> (_.unlink(1, "a")))
    for ((name, op) <- ops)
      assert(nodes(op(base)) === nodes(base) + 1, name)
  }

  test("40 creates and 20 recordWrites in one directory leave a 102-node plan") {
    var cat = InodeCatalog.empty(spark)
    for (i <- 0 until 40) cat = cat.create(1, s"f$i", "file")
    for (i <- 0 until 20) cat = cat.recordWrite(2 + i, 0, 10)
    // a union and a one-row relation per create, one projection per
    // recordWrite
    assert(nodes(cat) === 102)
    assert(cat.readdir(1).count() === 40)
  }
}

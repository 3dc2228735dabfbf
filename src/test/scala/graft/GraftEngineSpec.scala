package graft

import graft.api.GraftEngine
import graft.meta.InodeCatalog
import java.nio.file.Files

class GraftEngineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val engine =
    new GraftEngine(spark, Files.createTempDirectory("engine").toString, 64)

  test("kv plane: put/get through the facade") {
    engine.kv.put(Seq(("obj1", "payload".getBytes)).toDF("key", "value"))
    assert(new String(engine.kv.get("obj1").get) === "payload")
  }

  test("fs plane: stateful catalog ops through the facade") {
    engine.updateFs(_.mkdir(1, "data"))
    val dataIno = engine.fs.lookup(1, "data").get.getAs[Long]("ino")
    engine.updateFs(_.create(dataIno, "file.txt", "file"))
    assert(engine.fs.resolve("/data/file.txt").isDefined)
    engine.updateFs(_.rename(1, "data", 1, "archive"))
    assert(engine.fs.resolve("/archive/file.txt").isDefined)
    assert(engine.fs.resolve("/data/file.txt").isEmpty)
  }

  test("query plane: registry dispatch and helpful unknown-name error") {
    val df = engine.query("q1_agg", sf)
    assert(df.count() > 0)
    val err = intercept[RuntimeException](engine.query("nope", sf))
    assert(err.getMessage.contains("unknown query 'nope'"))
    assert(err.getMessage.contains("q1_agg"), "error must list known queries")
  }

  test("sql plane: graft functions are live") {
    val d = engine
      .sql("SELECT vec_dot(array(CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(d === 6.0)
  }

  test("SQL plane: stable_hash60 / kmv_distinct / simhash_agg have Column-API parity") {
    // golden value (same as StableHash60's spec): md5-derived 60-bit hash
    assert(engine.sql("SELECT stable_hash60('abc') AS h").head().getLong(0)
      === 648541476951500027L)
    // a sketch with k >= distinct-count is exact
    val kmv = engine.sql(
      """SELECT kmv_distinct(stable_hash60(CAST(v AS STRING)), 64) AS d
        |FROM VALUES (1),(2),(3),(2),(1) AS t(v)""".stripMargin)
      .head().getLong(0)
    assert(kmv === 3L)
    // SQL simhash equals the Column-API aggregate on the same rows
    val viaSql = engine.sql(
      """SELECT simhash_agg(stable_hash60(CAST(v AS STRING)), 16) AS s
        |FROM VALUES (1),(2),(3) AS t(v)""".stripMargin)
      .head().getLong(0)
    val viaCol = Seq("1", "2", "3").toDF("v")
      .agg(graft.plans.SimhashAgg.simhashAgg(
        graft.functions.TextFunctions.stableHash60($"v"), 16))
      .head().getLong(0)
    assert(viaSql === viaCol)
    // non-literal tuning knob fails loudly, not silently wrong
    intercept[Exception] {
      engine.sql("SELECT kmv_distinct(stable_hash60(CAST(v AS STRING)), v) FROM VALUES (1) AS t(v)").collect()
    }
  }

  test("copy_file_range: saturating read, hole fill, A7 size accounting (filesystem.rs:1812)") {
    val rFh = InodeCatalog.fhEncode(1L, read = true, write = false)
    val wFh = InodeCatalog.fhEncode(2L, read = false, write = true)
    engine.kv.put(Seq(
      ("cfr_src", "0123456789".getBytes),
      ("cfr_dst", "AAAA".getBytes)).toDF("key", "value"))
    engine.updateFs(_.create(1, "cfr_dst", "file"))
    val dstIno = engine.fs.lookup(1, "cfr_dst").get.getAs[Long]("ino")
    engine.updateFs(_.recordWrite(dstIno, 0, 4))

    // copy src[2, 2+5) over dst at offset 6: dst grows 4 -> 11 with a
    // 2-byte zero hole at [4,6)
    val copied = engine.copyFileRange("cfr_src", rFh, 2, "cfr_dst", wFh,
      dstIno, 6, 5)
    assert(copied === 5)
    val dst = engine.kv.get("cfr_dst").get
    assert(dst.length === 11)
    assert(new String(dst.slice(0, 4)) === "AAAA")
    assert(dst.slice(4, 6).toSeq === Seq[Byte](0, 0), "hole zero-fills")
    assert(new String(dst.slice(6, 11)) === "23456")
    assert(engine.fs.getattr(dstIno).get.getAs[Long]("size") === 11,
      "catalog size follows max(size, off+written)")

    // saturating read past src EOF: only 3 bytes available at offset 7
    val short = engine.copyFileRange("cfr_src", rFh, 7, "cfr_dst", wFh,
      dstIno, 0, 100)
    assert(short === 3, "read saturates at src EOF")
    assert(engine.kv.get("cfr_dst").get.length === 11, "no growth inside file")
    // offset entirely past EOF copies nothing and changes nothing
    assert(engine.copyFileRange("cfr_src", rFh, 99, "cfr_dst", wFh,
      dstIno, 0, 10) === 0)

    // permission + existence gates
    intercept[IllegalArgumentException] {
      engine.copyFileRange("cfr_src", wFh, 0, "cfr_dst", wFh, dstIno, 0, 1)
    }
    intercept[IllegalArgumentException] {
      engine.copyFileRange("cfr_src", rFh, 0, "cfr_dst", rFh, dstIno, 0, 1)
    }
    intercept[NoSuchElementException] {
      engine.copyFileRange("missing", rFh, 0, "cfr_dst", wFh, dstIno, 0, 1)
    }
    intercept[NoSuchElementException] {
      engine.copyFileRange("cfr_src", rFh, 0, "missing", wFh, dstIno, 0, 1)
    }
  }

  test("fs plane: concurrent updateFs calls lose no mutation") {
    val eng = new GraftEngine(spark,
      Files.createTempDirectory("engine-conc").toString, 64)
    val threads = 4
    val perThread = 3
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val calls = for (t <- 0 until threads) yield pool.submit(
        new java.util.concurrent.Callable[Seq[(String, InodeCatalog)]] {
          def call(): Seq[(String, InodeCatalog)] = {
            start.await()
            (0 until perThread).map { i =>
              val name = s"t$t-$i"
              name -> eng.updateFs(_.create(1, name, "file"))
            }
          }
        })
      start.countDown()
      for ((name, snapshot) <- calls.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS)))
        assert(snapshot.lookup(1, name).isDefined,
          s"the snapshot updateFs returned for $name lacks it")
    } finally pool.shutdown()
    val listed = eng.fs.readdir(1).collect().map(_.getAs[String]("name")).toSet
    val want = (for (t <- 0 until threads; i <- 0 until perThread) yield s"t$t-$i").toSet
    assert(listed === want, "every concurrent create must survive")
  }
}

package graft

import graft.meta.InodeCatalog
import org.apache.spark.sql.functions._

/** Mirrors the reference's inode-table unit tests
  * (/root/reference/fuse/src/async_fuse/inode_table.rs:263-352): rename
  * remap, unlink-keeps-ino-until-forget, plus the pagination and
  * xattr/access surfaces the FUSE impls exercise.
  */
class InodeCatalogSpec extends SparkSpec {
  import spark.implicits._

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

  test("lookup and path resolution agree (J1 both directions)") {
    val cat = tree()
    val viaLookup = cat.lookup(2, "x").get
    val viaPath = cat.resolve("/a/x").get
    assert(viaLookup.getAs[Long]("ino") === viaPath.getAs[Long]("ino"))
    assert(cat.resolve("/a/z").isEmpty)
  }

  test("readdir is name-sorted and pages concatenate to the full listing (O1/O2)") {
    var cat = InodeCatalog.empty(spark)
    val names = Seq("delta", "alpha", "echo", "bravo", "charlie")
    names.foreach(n => cat = cat.create(1, n, "file"))
    cat = cat.checkpointed()
    val full = cat.readdir(1).select($"name").as[String].collect().toSeq
    assert(full === names.sorted)
    val paged = (0 until names.length by 2).flatMap(off =>
      cat.readdir(1, off, 2).select($"name").as[String].collect())
    assert(paged === full)
  }

  test("rename remaps the node and rewrites descendant paths (J3, test_rename analog)") {
    val cat = tree().rename(1, "a", 5, "a2") // /a → /b/a2
    assert(cat.resolve("/a").isEmpty)
    assert(cat.resolve("/b/a2").isDefined)
    assert(cat.resolve("/b/a2/x").isDefined, "descendant path must follow")
    assert(cat.resolve("/a/x").isEmpty)
    // ino is unchanged by rename (inode_table.rs test_rename)
    assert(cat.resolve("/b/a2/x").get.getAs[Long]("ino") === 3L)
  }

  test("rename over an existing destination replaces it (POSIX rename-over)") {
    val cat = tree() // /a/x (ino 3), /a/y (ino 4)
      .rename(2, "x", 2, "y")
    val y = cat.lookup(2, "y")
    assert(y.isDefined && y.get.getAs[Long]("ino") === 3L, "x's ino now owns the name")
    assert(cat.lookup(2, "x").isEmpty)
    assert(
      cat.readdir(2).count() === 1,
      "no duplicate live entries after rename-over")
    // old ino-4 entry is unlinked (pending forget), not duplicated
    assert(cat.df.filter($"ino" === 4 && $"nlink" === 0).count() === 1)
    // and a fresh create over the freed name works after forget
    assert(cat.forget(4).unlink(2, "y").forget(3).create(2, "y", "file")
      .lookup(2, "y").isDefined)
  }

  test("unlink keeps the ino until forget (test_unlink_and_forget analog)") {
    val cat = tree()
    val ino = cat.lookup(2, "x").get.getAs[Long]("ino")
    val unlinked = cat.unlink(2, "x")
    assert(unlinked.lookup(2, "x").isEmpty, "entry invisible after unlink")
    assert(
      unlinked.df.filter($"ino" === ino && $"nlink" === 0).count() === 1,
      "row survives until forget")
    val forgotten = unlinked.forget(ino)
    assert(forgotten.getattr(ino).isEmpty, "gone for good after forget")
    assert(
      forgotten.df.filter($"ino" === ino && $"nlink" === -1).count() === 1,
      "tombstone retains generation history")
  }

  test("recreating a previously used path bumps generation") {
    val cat = tree()
    val gen0 = cat.resolve("/a/x").get.getAs[Long]("generation")
    val recreated = cat
      .unlink(2, "x")
      .forget(3)
      .create(2, "x", "file")
    val r = recreated.resolve("/a/x").get
    assert(r.getAs[Long]("generation") === gen0 + 1)
    assert(r.getAs[Long]("ino") > 5, "inos are never reused (divergence)")
  }

  test("write extends size monotonically: size = max(size, offset+len) (A7)") {
    val cat = tree()
      .recordWrite(3, 0, 100)
      .recordWrite(3, 50, 20) // inside current size — no change
      .recordWrite(3, 200, 56)
    assert(cat.getattr(3).get.getAs[Long]("size") === 256)
  }

  test("xattr set/get/list/remove round-trip") {
    var cat = tree()
      .setxattr(3, "user.tag", "hello".getBytes)
      .setxattr(3, "user.other", Array[Byte](1, 2))
    assert(new String(cat.getxattr(3, "user.tag").get) === "hello")
    assert(cat.listxattr(3) === Seq("user.other", "user.tag"))
    cat = cat.setxattr(3, "user.tag", "replaced".getBytes)
    assert(new String(cat.getxattr(3, "user.tag").get) === "replaced")
    cat = cat.removexattr(3, "user.tag")
    assert(cat.getxattr(3, "user.tag").isEmpty)
    assert(cat.listxattr(3) === Seq("user.other"))
  }

  test("POSIX access bits: owner/group/other shift logic (P6)") {
    // mode 0640: owner rw, group r, other none
    val df = Seq((1L, 10, 20, 0x1a0)).toDF("ino", "uid", "gid", "mode")
    def allowed(reqUid: Int, reqGid: Int, mask: Int): Boolean =
      df.filter(InodeCatalog.checkAccess($"uid", $"gid", $"mode",
        lit(reqUid), lit(reqGid), lit(mask))).count() == 1
    assert(allowed(10, 99, 4), "owner can read")
    assert(allowed(10, 99, 6), "owner can read+write")
    assert(allowed(99, 20, 4), "group can read")
    assert(!allowed(99, 20, 2), "group cannot write")
    assert(!allowed(99, 99, 4), "other cannot read")
  }

  test("fh permission bits live in the top 2 bits (P8/F10)") {
    val fh = InodeCatalog.fhEncode(42L, read = true, write = false)
    val df = Seq(fh).toDF("fh")
    assert(df.filter(InodeCatalog.fhAllowsRead($"fh")).count() === 1)
    assert(df.filter(InodeCatalog.fhAllowsWrite($"fh")).count() === 0)
    assert((fh & 0x3fffffffffffffffL) === 42L, "payload bits intact")
  }

  test("catalog persists and reloads with full state (SimpleFS inode serialization analog)") {
    val dir = java.nio.file.Files.createTempDirectory("cat").toString + "/inodes"
    val cat = tree()
      .setxattr(3, "user.k", "v".getBytes)
      .unlink(2, "y") // pending-forget state must survive too
    cat.save(dir)
    val reloaded = graft.meta.InodeCatalog.load(spark, dir)
    assert(reloaded.resolve("/a/x").get.getAs[Long]("ino") === 3L)
    assert(new String(reloaded.getxattr(3, "user.k").get) === "v")
    assert(reloaded.lookup(2, "y").isEmpty, "unlinked entry stays invisible")
    assert(reloaded.df.filter($"nlink" === 0).count() === 1, "pending forget persisted")
    // and the reloaded catalog is still mutable
    assert(reloaded.create(5, "z", "file").resolve("/b/z").isDefined)
    // load → mutate → save back to the SAME directory (the real
    // persistence cycle — fails without materialization before write)
    reloaded.create(5, "w", "file").save(dir)
    assert(
      graft.meta.InodeCatalog.load(spark, dir).resolve("/b/w").isDefined)
    // loading garbage fails loudly
    val bad = java.nio.file.Files.createTempDirectory("bad").toString + "/x"
    Tables.region(spark, sf).write.parquet(bad)
    intercept[IllegalArgumentException] {
      graft.meta.InodeCatalog.load(spark, bad)
    }
  }

  test("name length guard rejects >255 (P9)") {
    intercept[IllegalArgumentException] {
      tree().create(1, "x" * 256, "file")
    }
  }

  test("symlink stores the target verbatim; readlink resolves it (filesystem.rs:727,1019)") {
    val cat = tree().symlink(1, "lnk", "/a/x").checkpointed()
    val row = cat.resolve("/lnk").get
    assert(row.getAs[String]("kind") === "symlink")
    assert(row.getAs[Int]("mode") === 0x1ff, "symlinks are 0777")
    assert(row.getAs[Long]("size") === 4L, "size = target length")
    assert(cat.readlink(row.getAs[Long]("ino")) === Some("/a/x"))
    // readlink on a non-symlink is None, not a panic
    assert(cat.readlink(3L).isEmpty)
    // dangling targets are legal — readlink still returns the bytes
    val dangling = cat.symlink(1, "dang", "/no/such/path")
    val dIno = dangling.resolve("/dang").get.getAs[Long]("ino")
    assert(dangling.readlink(dIno) === Some("/no/such/path"))
  }

  test("hardlink shares the ino and bumps nlink on every entry (filesystem.rs:1293)") {
    val cat = tree().link(3, 5, "xh").checkpointed() // /a/x also at /b/xh
    val orig = cat.resolve("/a/x").get
    val linked = cat.resolve("/b/xh").get
    assert(linked.getAs[Long]("ino") === 3L, "same inode")
    assert(orig.getAs[Long]("nlink") === 2L, "source entry sees the bump")
    assert(linked.getAs[Long]("nlink") === 2L, "new entry carries the count")
    // attrs are the inode's, not fresh ones
    assert(linked.getAs[Int]("mode") === orig.getAs[Int]("mode"))
    // size accounting reaches the inode through EITHER name
    val grown = cat.recordWrite(3, 0, 77)
    assert(grown.resolve("/a/x").get.getAs[Long]("size") === 77L)
    assert(grown.resolve("/b/xh").get.getAs[Long]("size") === 77L)
    // directories refuse hardlinks (EPERM)
    intercept[IllegalArgumentException] { cat.link(2, 5, "dirlink") }
    // EEXIST on an occupied name
    intercept[IllegalArgumentException] { cat.link(4, 5, "xh") }
  }

  test("unlink decrements while links remain; only the last link waits for forget") {
    val cat = tree().link(3, 5, "xh").checkpointed()
    // drop the ORIGINAL name: the inode survives via /b/xh with nlink 1
    val one = cat.unlink(2, "x").checkpointed()
    assert(one.lookup(2, "x").isEmpty, "dropped name invisible")
    val survivor = one.resolve("/b/xh").get
    assert(survivor.getAs[Long]("ino") === 3L)
    assert(survivor.getAs[Long]("nlink") === 1L, "count decremented, not zeroed")
    assert(one.getattr(3L).isDefined, "inode alive while a link remains")
    // dropping the LAST name enters the unlink→forget two-step
    val gone = one.unlink(5, "xh")
    assert(gone.getattr(3L).isEmpty)
    assert(gone.df.filter($"ino" === 3 && $"nlink" === 0).count() === 1,
      "last link pends forget")
  }

  test("fallocate grows size per A7 unless KEEP_SIZE; errors mirror the reference") {
    val cat = tree().recordWrite(3, 0, 100).checkpointed() // /a/x, 100 bytes
    // preallocation past EOF grows the size WITHOUT any content write
    val grown = cat.fallocate(3, 80, 120).toOption.get
    assert(grown.getattr(3).get.getAs[Long]("size") === 200L)
    // a range inside the file leaves the size alone (max rule)
    val same = cat.fallocate(3, 10, 20).toOption.get
    assert(same.getattr(3).get.getAs[Long]("size") === 100L)
    // FALLOC_FL_KEEP_SIZE reserves space but never changes the size
    val kept = cat.fallocate(3, 500, 500, keepSize = true).toOption.get
    assert(kept.getattr(3).get.getAs[Long]("size") === 100L)
    // error surface: ENOENT unknown ino, EBADF on a directory, EINVAL args
    assert(cat.fallocate(999, 0, 10).left.toOption.get.startsWith("ENOENT"))
    assert(cat.fallocate(2, 0, 10).left.toOption.get.startsWith("EBADF"))
    assert(cat.fallocate(3, -1, 10).left.toOption.get.startsWith("EINVAL"))
    assert(cat.fallocate(3, 0, 0).left.toOption.get.startsWith("EINVAL"))
  }

  test("statfs: real block/inode accounting against the stub capacities") {
    val cat = tree().recordWrite(3, 0, 1000).checkpointed()
    val st = cat.statfs()
    // 5 live inodes: root, /a, /a/x (1000 B = 2 blocks), /a/y, /b
    assert(st.inodesUsed === 5L)
    assert(st.blocksUsed === 2L)
    assert(st.blocksFree === InodeCatalog.StatfsBlockCapacity - 2L)
    assert(st.inodesFree === InodeCatalog.StatfsInodeCapacity - 5L)
    assert(st.blockSize === 512 && st.nameMax === InodeCatalog.MaxNameLength)
    // fallocate-reserved space shows up in the accounting (A7 → F9)
    val after = cat.fallocate(4, 0, 5000).toOption.get.statfs()
    assert(after.blocksUsed === 2L + 10L)
    // unlinked-then-forgotten inodes leave the accounting
    val fewer = cat.unlink(2, "y").forget(4).statfs()
    assert(fewer.inodesUsed === 4L)
  }

  test("setattr chmod: owner-or-root only; outside-group callers lose SGID (filesystem.rs:571)") {
    val c = tree().create(2, "owned", "file", mode = 0x1a4, uid = 5, gid = 5)
      .checkpointed()
    val ino = c.lookup(2, "owned").get.getAs[Long]("ino")
    // non-owner non-root → EPERM
    assert(c.setattr(ino, mode = Some(0x1ff), reqUid = 7, reqGid = 7)
      .left.toOption.get.startsWith("EPERM"))
    // owner inside the group keeps the full requested mode, ctime bumps
    val m1 = c.setattr(ino, mode = Some(0xfff), reqUid = 5, reqGid = 5,
      now = 111L).toOption.get
    assert(m1.getattr(ino).get.getAs[Int]("mode") === 0xfff)
    assert(m1.getattr(ino).get.getAs[Long]("ctime_us") === 111L)
    // owner OUTSIDE the file's group: SGID silently stripped
    val m2 = c.setattr(ino, mode = Some(0xfff), reqUid = 5, reqGid = 9)
      .toOption.get
    assert(m2.getattr(ino).get.getAs[Int]("mode") === (0xfff & ~0x400))
    // root chmod always allowed, keeps SGID
    val m3 = c.setattr(ino, mode = Some(0xfff), reqUid = 0).toOption.get
    assert(m3.getattr(ino).get.getAs[Int]("mode") === 0xfff)
    assert(c.setattr(999, mode = Some(0x1c0))
      .left.toOption.get.startsWith("ENOENT"))
  }

  test("setattr chown mirrors the reference permission matrix (filesystem.rs:593)") {
    val c = tree().create(2, "o", "file", mode = 0xda4, uid = 5, gid = 5)
      .checkpointed() // suid+sgid+0644, NO exec bits
    val ino = c.lookup(2, "o").get.getAs[Long]("ino")
    // non-root chgrp to a foreign group → EPERM
    assert(c.setattr(ino, gid = Some(9), reqUid = 5, reqGid = 5)
      .left.toOption.get.startsWith("EPERM"))
    // non-root chown to another user → EPERM
    assert(c.setattr(ino, uid = Some(9), reqUid = 5, reqGid = 5)
      .left.toOption.get.startsWith("EPERM"))
    // …but a no-op chown by the owner is fine
    assert(c.setattr(ino, uid = Some(5), reqUid = 5, reqGid = 5).isRight)
    // a non-owner may not chgrp even to its own group
    assert(c.setattr(ino, gid = Some(7), reqUid = 7, reqGid = 7)
      .left.toOption.get.startsWith("EPERM"))
    // root chown of a NON-executable file: uid set clears SUID only
    val r1 = c.setattr(ino, uid = Some(9), reqUid = 0, now = 5L).toOption.get
    assert(r1.getattr(ino).get.getAs[Int]("uid") === 9)
    assert(r1.getattr(ino).get.getAs[Int]("mode") === (0xda4 & ~0x800))
    assert(r1.getattr(ino).get.getAs[Long]("ctime_us") === 5L)
    // an EXECUTABLE file loses both bits on any chown (clear_suid_sgid)
    val ex = tree().create(2, "e", "file", mode = 0xfed, uid = 5, gid = 5)
      .checkpointed()
    val eIno = ex.lookup(2, "e").get.getAs[Long]("ino")
    val r2 = ex.setattr(eIno, uid = Some(9), reqUid = 0).toOption.get
    assert(r2.getattr(eIno).get.getAs[Int]("mode") === (0xfed & ~0xc00))
    // owner chgrp to own group: allowed, clears SGID (non-root)
    val r3 = c.setattr(ino, gid = Some(5), reqUid = 5, reqGid = 5)
      .toOption.get
    assert(r3.getattr(ino).get.getAs[Int]("mode") === (0xda4 & ~0x400))
  }

  test("setattr truncate SETS the size; write-fh bypasses a later chmod (filesystem.rs:399,645)") {
    val f = tree().create(2, "t", "file", mode = 0xfed, uid = 5, gid = 5)
      .checkpointed()
    val ino = f.lookup(2, "t").get.getAs[Long]("ino")
    val g = f.setattr(ino, size = Some(100L), reqUid = 5, reqGid = 5,
      now = 7L).toOption.get
    assert(g.getattr(ino).get.getAs[Long]("size") === 100L)
    // suid+sgid cleared by truncate (group-exec set in 0xfed)
    assert(g.getattr(ino).get.getAs[Int]("mode") === (0xfed & ~0xc00))
    assert(g.getattr(ino).get.getAs[Long]("mtime_us") === 7L)
    // truncate is a SET, not the recordWrite max rule — shrink works
    val s = g.setattr(ino, size = Some(40L), reqUid = 5, reqGid = 5)
      .toOption.get
    assert(s.getattr(ino).get.getAs[Long]("size") === 40L)
    // non-owner without W_OK (other bits r-x) → EACCES
    assert(f.setattr(ino, size = Some(10L), reqUid = 7, reqGid = 7)
      .left.toOption.get.startsWith("EACCES"))
    // a write-capable fh truncates even after chmod 0 — the handle keeps
    // the permission it was opened with
    val locked = f.setattr(ino, mode = Some(0), reqUid = 0).toOption.get
    val wFh = InodeCatalog.fhEncode(1L, read = false, write = true)
    assert(locked.setattr(ino, size = Some(10L), fh = Some(wFh),
      reqUid = 7, reqGid = 7).isRight)
    val rFh = InodeCatalog.fhEncode(1L, read = true, write = false)
    assert(locked.setattr(ino, size = Some(10L), fh = Some(rFh),
      reqUid = 7, reqGid = 7).left.toOption.get.startsWith("EACCES"))
    assert(f.setattr(ino, size = Some(InodeCatalog.MaxFileSize + 1))
      .left.toOption.get.startsWith("EFBIG"))
  }

  test("setattr utimens: specific times need ownership, Now needs W_OK, omit untouched") {
    import InodeCatalog.TimeOrNow
    val f = tree().create(2, "u", "file", mode = 0x1b6, uid = 5, gid = 5)
      .checkpointed() // 0666 — world-writable
    val ino = f.lookup(2, "u").get.getAs[Long]("ino")
    // owner sets both specific stamps; ctime follows `now`
    val t = f.setattr(ino,
      atime = Some(TimeOrNow.SpecificTime(123L)),
      mtime = Some(TimeOrNow.SpecificTime(456L)),
      reqUid = 5, reqGid = 5, now = 999L).toOption.get.checkpointed()
    val row = t.getattr(ino).get
    assert(row.getAs[Long]("atime_us") === 123L)
    assert(row.getAs[Long]("mtime_us") === 456L)
    assert(row.getAs[Long]("ctime_us") === 999L)
    // non-owner + specific time → EPERM even on a world-writable file
    assert(f.setattr(ino, atime = Some(TimeOrNow.SpecificTime(1L)),
      reqUid = 7, reqGid = 7).left.toOption.get.startsWith("EPERM"))
    // non-owner touch-to-Now with W_OK is allowed
    val touched = f.setattr(ino, mtime = Some(TimeOrNow.Now),
      reqUid = 7, reqGid = 7, now = 555L).toOption.get
    assert(touched.getattr(ino).get.getAs[Long]("mtime_us") === 555L)
    // …but not without W_OK
    val ro = f.setattr(ino, mode = Some(0x124), reqUid = 0).toOption.get
    assert(ro.setattr(ino, mtime = Some(TimeOrNow.Now),
      reqUid = 7, reqGid = 7).left.toOption.get.startsWith("EACCES"))
    // UTIME_OMIT: an omitted mtime stays put when only atime changes
    val omit = t.setattr(ino, atime = Some(TimeOrNow.SpecificTime(77L)),
      reqUid = 5, reqGid = 5).toOption.get
    assert(omit.getattr(ino).get.getAs[Long]("mtime_us") === 456L)
  }

  test("rmdir: ENOTEMPTY guard, ENOENT/ENOTDIR, sticky parent, parent mtime (filesystem.rs:958)") {
    val cat = tree()
    assert(cat.rmdir(1, "a").left.toOption.get.startsWith("ENOTEMPTY"))
    assert(cat.rmdir(1, "zz").left.toOption.get.startsWith("ENOENT"))
    assert(cat.rmdir(2, "x").left.toOption.get.startsWith("ENOTDIR"))
    val ok = cat.rmdir(1, "b", now = 44L).toOption.get.checkpointed()
    assert(ok.lookup(1, "b").isEmpty)
    assert(ok.df.filter($"ino" === 5 && $"nlink" === 0).count() === 1,
      "removed dir pends forget like unlink")
    assert(ok.getattr(1).get.getAs[Long]("mtime_us") === 44L)
    // unlinking the children (tombstone rows remain) empties /a
    val emptied = cat.unlink(2, "x").unlink(2, "y").checkpointed()
    assert(emptied.rmdir(1, "a").isRight)
    // sticky parent (uid 3): only root, parent owner, or dir owner remove
    val sticky = tree()
      .create(1, "tmp", "dir", mode = 0x3ff, uid = 3, gid = 3)
      .checkpointed()
    val tmpIno = sticky.lookup(1, "tmp").get.getAs[Long]("ino")
    val withD = sticky.create(tmpIno, "d", "dir", mode = 0x1ed, uid = 5,
      gid = 5).checkpointed()
    assert(withD.rmdir(tmpIno, "d", reqUid = 7, reqGid = 7)
      .left.toOption.get.startsWith("EACCES"))
    assert(withD.rmdir(tmpIno, "d", reqUid = 5, reqGid = 5).isRight,
      "dir owner removes")
    assert(withD.rmdir(tmpIno, "d", reqUid = 3, reqGid = 3).isRight,
      "parent owner removes")
    assert(withD.rmdir(tmpIno, "d", reqUid = 0, reqGid = 0).isRight,
      "root removes")
  }

  test("open/release: refcount lifecycle; unlinked-but-open survives until last release") {
    val cat = tree().checkpointed()
    assert(cat.open(3, read = false, write = false)
      .left.toOption.get.startsWith("EINVAL"))
    assert(cat.open(999, read = true, write = false)
      .left.toOption.get.startsWith("ENOENT"))
    // 0644 root-owned: non-owner write open → EACCES
    assert(cat.open(3, read = false, write = true, reqUid = 7, reqGid = 7)
      .left.toOption.get.startsWith("EACCES"))
    val (fh, opened0) = cat.open(3, read = true, write = true).toOption.get
    val opened = opened0.checkpointed()
    assert(InodeCatalog.fhAllowsReadScalar(fh))
    assert(InodeCatalog.fhAllowsWriteScalar(fh))
    assert(opened.getattr(3).get.getAs[Long]("open_handles") === 1L)
    val (fh2, o2raw) = opened.open(3, read = true, write = false)
      .toOption.get
    val o2 = o2raw.checkpointed()
    assert(fh2 !== fh, "handle ids differ per open")
    assert(!InodeCatalog.fhAllowsWriteScalar(fh2))
    assert(o2.getattr(3).get.getAs[Long]("open_handles") === 2L)
    // unlink while open: invisible to lookups, row survives with nlink 0
    val unlinked = o2.unlink(2, "x").checkpointed()
    assert(unlinked.getattr(3).isEmpty)
    assert(unlinked.df.filter($"ino" === 3 && $"nlink" === 0).count() === 1)
    // first release: still one handle → inode stays
    val r1 = unlinked.release(3).checkpointed()
    assert(r1.df.filter($"ino" === 3 && $"nlink" === 0).count() === 1)
    // LAST release: gc_inode fires (hardlinks == 0 && handles == 0)
    val r2 = r1.release(3).checkpointed()
    assert(r2.df.filter($"ino" === 3 && $"nlink" === 0).count() === 0)
    assert(r2.df.filter($"ino" === 3 && $"nlink" === -1).count() === 1,
      "tombstoned exactly like forget")
    // release with live links just decrements — no gc
    val lively = opened.release(3).checkpointed()
    assert(lively.getattr(3).get.getAs[Long]("open_handles") === 0L)
    assert(lively.getattr(3).get.getAs[Long]("nlink") === 1L)
  }

  test("opendir/releasedir: dir-only handles, O_TRUNC EACCES, shared refcount") {
    val cat = tree().checkpointed()
    // ENOTDIR on a regular file, ENOENT on a ghost
    assert(cat.opendir(3, read = true, write = false)
      .left.toOption.get.startsWith("ENOTDIR"))
    assert(cat.opendir(999, read = true, write = false)
      .left.toOption.get.startsWith("ENOENT"))
    // reference filesystem.rs:1471: O_TRUNC with O_RDONLY -> EACCES
    assert(cat.opendir(2, read = true, write = false, truncate = true)
      .left.toOption.get.startsWith("EACCES"))
    val (fh, od0) = cat.opendir(2, read = true, write = false).toOption.get
    val od = od0.checkpointed()
    assert(InodeCatalog.fhAllowsReadScalar(fh))
    assert(!InodeCatalog.fhAllowsWriteScalar(fh))
    // the handle count is the same counter open() bumps (filesystem.rs:1496)
    assert(od.getattr(2).get.getAs[Long]("open_handles") === 1L)
    val closed = od.releasedir(2).checkpointed()
    assert(closed.getattr(2).get.getAs[Long]("open_handles") === 0L)
    assert(closed.getattr(2).get.getAs[Long]("nlink") >= 1L, "dir survives")
  }

  test("mknod mints fifo/socket, refuses devices, strips suid/sgid, inherits SGID gid") {
    val cat = tree().checkpointed()
    // fifo + socket mint with the FileType names modeToFiletype decodes
    val fifo = cat.mknod(5, "pipe", 0x1180, now = 9L).toOption.get
      .checkpointed()
    assert(fifo.lookup(5, "pipe").get.getAs[String]("kind") === "fifo")
    assert(fifo.getattr(5).get.getAs[Long]("mtime_us") === 9L,
      "parent mtime bumps")
    val sock = cat.mknod(5, "sock", 0xc180).toOption.get
    assert(sock.lookup(5, "sock").get.getAs[String]("kind") === "socket")
    // kind strings match the F6 S_IFMT decode (schema consistency)
    val decoded = spark.range(1)
      .select(InodeCatalog.modeToFiletype(lit(0x1180)).as("f"),
        InodeCatalog.modeToFiletype(lit(0xc180)).as("s"))
      .head()
    assert(decoded.getString(0) === "fifo" && decoded.getString(1) === "socket")
    // char/block devices → EINVAL; unknown S_IFMT → ENOSYS
    assert(cat.mknod(5, "cdev", 0x2180)
      .left.toOption.get.startsWith("EINVAL"))
    assert(cat.mknod(5, "bdev", 0x6180)
      .left.toOption.get.startsWith("EINVAL"))
    assert(cat.mknod(5, "odd", 0x0180)
      .left.toOption.get.startsWith("ENOSYS"))
    // EEXIST and parent EACCES mirror create
    assert(cat.mknod(2, "x", 0x8180).left.toOption.get.startsWith("EEXIST"))
    assert(cat.mknod(5, "f", 0x8180, reqUid = 5, reqGid = 5)
      .left.toOption.get.startsWith("EACCES"), "0755 parent, non-owner")
    // non-root caller loses suid/sgid from the requested mode
    val pub = cat.mkdir(1, "pub", mode = 0x1ff).checkpointed()
    val pubIno = pub.lookup(1, "pub").get.getAs[Long]("ino")
    val minted = pub.mknod(pubIno, "s", 0x8fff, reqUid = 5, reqGid = 6)
      .toOption.get.checkpointed()
    val row = minted.lookup(pubIno, "s").get
    assert(row.getAs[Int]("mode") === (0xfff & ~0xc00))
    assert(row.getAs[Int]("uid") === 5 && row.getAs[Int]("gid") === 6)
    // SGID parent: the minted node inherits the PARENT's gid
    val sgid = cat.create(1, "g", "dir", mode = 0x5ed, uid = 0, gid = 42)
      .checkpointed()
    val gIno = sgid.lookup(1, "g").get.getAs[Long]("ino")
    val child = sgid.mknod(gIno, "n", 0x8180, reqUid = 0, reqGid = 7)
      .toOption.get
    assert(child.lookup(gIno, "n").get.getAs[Int]("gid") === 42)
  }

  test("rename over a multi-link file decrements instead of zeroing (filesystem.rs:1257)") {
    val cat = tree().link(3, 5, "xh").checkpointed() // ino 3 at /a/x and /b/xh
    // /a/y renamed over /b/xh: ino 3 must survive via /a/x with nlink 1
    val over = cat.rename(2, "y", 5, "xh").checkpointed()
    assert(over.resolve("/b/xh").get.getAs[Long]("ino") === 4L, "y owns the name")
    assert(over.resolve("/a/x").get.getAs[Long]("nlink") === 1L,
      "overwritten target's other link survives with decremented count")
    assert(over.getattr(3L).isDefined)
  }
}

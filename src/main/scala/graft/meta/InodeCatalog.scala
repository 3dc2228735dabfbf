package graft.meta

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** POSIX-style metadata catalog — the reference's FUSE semantic core
  * (SURVEY §2 P2-P9, J1-J3, O1-O2) re-expressed as snapshot DataFrames.
  *
  * Reference model (/root/reference):
  *  - inode maps: `inodes: HashMap<InodeNo, Inode>` +
  *    `path_index: HashMap<String, InodeNo>`,
  *    fuse/src/uring_fuse/uring_fs/inode.rs:64-69 — here both lookup
  *    directions are columns (`ino`, `full_path`) of ONE table;
  *  - lookup(parent, name) resolves via parent path + name join,
  *    inode.rs:83-110 (J1);
  *  - readdir enrichment + offset pagination, uring_fs/mod.rs:116-166
  *    (J2/O2);
  *  - rename moves an edge between parents (two-sided update),
  *    fuse/src/filesystem.rs:1086-1291 (J3);
  *  - unlink keeps the inode alive until `forget`,
  *    fuse/src/async_fuse/inode_table.rs:159-228;
  *  - attrs: FileAttr fields, fuse/src/uring_fuse/file_meta.rs:4-35;
  *    xattrs as a byte-keyed map, filesystem.rs:199-214;
  *  - access checks: mode-bit arithmetic, filesystem.rs:1870-1904 (P6);
  *    fh permission bits in the top 2 bits, filesystem.rs:39-41 (P8).
  *
  * Batch semantics (SURVEY §1.3): every mutation returns a NEW snapshot
  * (persistent-data-structure style) — the Spark analog of the reference's
  * `RwLock<HashMap>` mutation. Divergences, both documented in SURVEY §7:
  * ino numbers are never reused (no free-list; allocation is max+1 and
  * `generation` bumps on path reuse), and the snapshot is immutable
  * between ops.
  *
  * One probe per op: the reference answers each metadata call with one
  * in-memory inode-map probe (inode.rs:83-110, filesystem.rs:1086-1291),
  * and every Spark job here costs a planned query, so a call runs ONE
  * filtered `collect()` ([[probe]]) of the live rows any of its checks
  * needs and sorts them into roles (entry, parent, source, destination)
  * on the driver. Minting adds one aggregate ([[allocate]]: the next
  * ino and the path's next generation together); rmdir adds a second
  * probe for the children of the ino its first probe found. Checks read
  * the probed rows in the order the errors are reported, so fusing the
  * probes changes no error text and no error order.
  */
final case class InodeCatalog(df: DataFrame) {
  import InodeCatalog._

  private def spark: SparkSession = df.sparkSession

  /** The single Spark job behind a metadata op: every live row matching
    * any of `preds`, in scan order. */
  private def probe(preds: Column*): Array[Row] =
    df.filter(col("nlink") > 0 && preds.reduce(_ || _)).collect()

  /** P2: point lookup by ino. */
  def getattr(ino: Long): Option[Row] = probe(col("ino") === ino).headOption

  /** J1: lookup by (parent ino, name). */
  def lookup(parent: Long, name: String): Option[Row] =
    probe(isEntry(parent, name)).headOption

  /** Path-index probe (the `path_index: HashMap<String, ino>` direction). */
  def resolve(path: String): Option[Row] =
    probe(col("full_path") === path).headOption

  /** O1+O2: name-sorted directory listing with offset pagination
    * (skip/limit resume, uring_fs/mod.rs:126-152). One directory is
    * small, so its rows sort in a single partition: no shuffle for the
    * window, no range shuffle for the final order. */
  def readdir(parent: Long, offset: Int = 0, limit: Int = Int.MaxValue): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("parent"))
      .orderBy(col("name"))
    df.filter(col("parent") === parent && col("nlink") > 0)
      .coalesce(1)
      .withColumn("off", row_number().over(w))
      .filter(col("off") > offset && col("off") <= offset + limit)
      .select(col("off"), col("ino"), col("name"), col("kind"))
      .orderBy(col("off"))
  }

  /** The one aggregate a mint needs: the next free ino and the
    * generation `path` takes (one past the highest it ever carried,
    * tombstones included; 0 for a fresh path). It runs in one partition,
    * so it needs no shuffle and stays one job. */
  private def allocate(path: String): (Long, Long) = {
    val r = df.coalesce(1).agg(
      max(col("ino")) + 1,
      coalesce(max(when(col("full_path") === path, col("generation"))) + 1,
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Apply column updates to every live entry of `ino` (attrs are inode
    * properties mirrored across its hardlink rows, like nlink). */
  private def updateIno(d: DataFrame, ino: Long)(
      updates: (String, Column)*): DataFrame =
    updates.foldLeft(d) { case (acc, (f, v)) =>
      acc.withColumn(f,
        when(col("ino") === ino && col("nlink") > 0, v).otherwise(col(f)))
    }

  /** `d` plus one new row. */
  private def append(d: DataFrame, row: Row): DataFrame =
    d.unionByName(spark.createDataFrame(java.util.List.of(row), schema))

  /** Mint a new inode row under the probed directory row `parent` (shared
    * by create / symlink / mknod): generation bump on path reuse,
    * times = `now`, 0 handles. */
  private def mint(parent: Row, name: String, kind: String, size: Long,
      mode: Int, uid: Int, gid: Int, target: String,
      now: Long): DataFrame = {
    val path = childPath(parent, name)
    val (ino, gen) = allocate(path)
    append(df, Row(ino, parent.getAs[Long]("ino"), name, path, kind, size,
      mode, uid, gid, gen, 1L, Map.empty[String, Array[Byte]], target, now,
      now, now, 0L))
  }

  /** create / symlink: P9 name guard, EEXIST, then the parent — all off
    * one probe. */
  private def mintChecked(parent: Long, name: String, kind: String,
      size: Long, mode: Int, uid: Int, gid: Int, target: String,
      now: Long): InodeCatalog = {
    require(name.length <= MaxNameLength, s"name too long: $name") // P9
    val rows = probe(isEntry(parent, name), col("ino") === parent)
    require(entryIn(rows, parent, name).isEmpty, s"exists: $name") // EEXIST
    val p = inoIn(rows, parent)
      .getOrElse(sys.error(s"no such parent ino $parent"))
    InodeCatalog(mint(p, name, kind, size, mode, uid, gid, target, now))
  }

  /** Create a child node (file or dir). Recreating a previously seen path
    * bumps `generation` — the reference bumps generation when an ino slot
    * is reused (inode_table.rs:92-101); we key the bump on path reuse
    * since inos are never reused here. */
  def create(
      parent: Long,
      name: String,
      kind: String,
      mode: Int = 0x1a4, // 0644
      uid: Int = 0,
      gid: Int = 0,
      now: Long = 0L): InodeCatalog =
    mintChecked(parent, name, kind, 0L, mode, uid, gid, null, now)

  def mkdir(parent: Long, name: String, mode: Int = 0x1ed): InodeCatalog =
    create(parent, name, "dir", mode) // 0755

  /** Symlink (filesystem.rs:1019-1078): a new inode of kind `symlink`
    * with mode 0777, size = target length, the target string stored as
    * the link content. The target is NOT resolved or validated —
    * dangling links are legal, exactly as in the reference (readlink
    * just returns the stored bytes). */
  def symlink(parent: Long, name: String, target: String,
      now: Long = 0L): InodeCatalog =
    mintChecked(parent, name, "symlink", target.length.toLong, 0x1ff, 0, 0,
      target, now)

  /** mknod (filesystem.rs:740-854 + passthrough/passthrough_fs.rs:517-545):
    * mint an inode of any supported file kind. SimpleFS itself accepts
    * only reg/symlink/dir (ENOSYS otherwise, filesystem.rs:752-760); the
    * passthrough backend also mints fifo and socket nodes via
    * libc::mknod and names them in its FileType map
    * (passthrough_fs.rs:35-36). This catalog takes the union: regular /
    * dir / symlink / fifo / socket mint; char and block devices are
    * refused with EINVAL (there is no device layer to bind them to);
    * any other S_IFMT pattern is ENOSYS like SimpleFS.
    *
    * Reference semantics mirrored: EEXIST on a live entry, parent W_OK
    * check (EACCES), suid/sgid stripped from the requested mode for
    * non-root callers (filesystem.rs:790-792), gid inherited from an
    * SGID parent (creation_gid, filesystem.rs:118-124), parent
    * mtime/ctime bumped. */
  def mknod(parent: Long, name: String, stMode: Int, reqUid: Int = 0,
      reqGid: Int = 0, now: Long = 0L): Either[String, InodeCatalog] = {
    val kind = (stMode & 0xF000) match {
      case 0x8000 => "file"
      case 0x4000 => "dir"
      case 0xA000 => "symlink"
      case 0x1000 => "fifo"
      case 0xC000 => "socket"
      case 0x2000 | 0x6000 =>
        return Left(
          f"EINVAL: device nodes unsupported (fmt 0x${stMode & 0xF000}%04x)")
      case other => return Left(f"ENOSYS: unknown file type 0x$other%04x")
    }
    if (name.length > MaxNameLength) return Left(s"ENAMETOOLONG: $name")
    val rows = probe(isEntry(parent, name), col("ino") === parent)
    if (entryIn(rows, parent, name).isDefined) return Left(s"EEXIST: $name")
    val p = inoIn(rows, parent) match {
      case Some(r) => r
      case None => return Left(s"ENOENT: parent ino $parent")
    }
    if (!checkAccessScalar(p.getAs[Int]("uid"), p.getAs[Int]("gid"),
        p.getAs[Int]("mode"), reqUid, reqGid, 2))
      return Left(s"EACCES: parent ino $parent")
    var perm = stMode & 0xFFF
    if (reqUid != 0) perm &= ~(0x800 | 0x400) // strip suid/sgid, :790-792
    val g =
      if ((p.getAs[Int]("mode") & 0x400) != 0) p.getAs[Int]("gid")
      else reqGid // creation_gid
    val minted = mint(p, name, kind, 0L, perm, reqUid, g, null, now)
    Right(InodeCatalog(updateIno(minted, parent)(
      "mtime_us" -> lit(now), "ctime_us" -> lit(now))))
  }

  /** Readlink (filesystem.rs:727-739): the stored target of a live
    * symlink inode; None for missing inodes or non-symlinks (EINVAL in
    * the kernel protocol — an engine surfaces absence, not a panic). */
  def readlink(ino: Long): Option[String] =
    getattr(ino)
      .filter(_.getAs[String]("kind") == "symlink")
      .map(_.getAs[String]("symlink_target"))

  /** Hardlink (filesystem.rs:1293-1320): a second directory entry for an
    * EXISTING inode — the new row shares ino/kind/size/mode/owner/xattrs
    * with the source, and the link count bumps on every row of that ino
    * (nlink is an inode attribute, mirrored across its entries).
    * Directories refuse (EPERM) as in POSIX. */
  def link(ino: Long, newParent: Long, newName: String,
      now: Long = 0L): InodeCatalog = {
    require(newName.length <= MaxNameLength, s"name too long: $newName") // P9
    val rows = probe(isEntry(newParent, newName), col("ino") === ino,
      col("ino") === newParent)
    require(entryIn(rows, newParent, newName).isEmpty,
      s"exists: $newName") // EEXIST
    val src = inoIn(rows, ino).getOrElse(sys.error(s"no such ino $ino"))
    require(src.getAs[String]("kind") != "dir", "EPERM: hardlink to directory")
    val path = childPath(
      inoIn(rows, newParent)
        .getOrElse(sys.error(s"no such parent ino $newParent")),
      newName)
    val (_, gen) = allocate(path)
    val newCount = src.getAs[Long]("nlink") + 1
    // nlink bump mirrors across the ino's rows; ctime too
    // (link updates last_metadata_changed, filesystem.rs:1316)
    val bumped = updateIno(df, ino)(
      "nlink" -> (col("nlink") + 1), "ctime_us" -> lit(now))
    InodeCatalog(append(bumped,
      Row(ino, newParent, newName, path, src.getAs[String]("kind"),
        src.getAs[Long]("size"), src.getAs[Int]("mode"),
        src.getAs[Int]("uid"), src.getAs[Int]("gid"), gen, newCount,
        src.getAs[Map[String, Array[Byte]]]("xattrs"),
        src.getAs[String]("symlink_target"),
        src.getAs[Long]("atime_us"), src.getAs[Long]("mtime_us"),
        now, src.getAs[Long]("open_handles"))))
  }

  /** J3: two-sided rename — the node moves to (newParent, newName) and
    * every descendant's full_path is rewritten (subtree prefix swap).
    * POSIX semantics: an existing destination entry is atomically
    * replaced (unlinked), never left as a live duplicate; only live
    * rows (nlink > 0) move — tombstones keep their generation history
    * at the old path. */
  def rename(
      oldParent: Long,
      oldName: String,
      newParent: Long,
      newName: String): InodeCatalog = {
    val rows = probe(isEntry(oldParent, oldName), col("ino") === newParent,
      isEntry(newParent, newName))
    val node = entryIn(rows, oldParent, oldName)
      .getOrElse(sys.error(s"no such entry $oldName"))
    val oldPath = node.getAs[String]("full_path")
    val newPath = childPath(
      inoIn(rows, newParent)
        .getOrElse(sys.error(s"no such parent ino $newParent")),
      newName)
    val live = col("nlink") > 0
    // replace an existing destination entry (rename-over semantics):
    // a directory target zeroes outright, a file target decrements its
    // link count — filesystem.rs:1253-1257 (hardlinks = 0 vs -= 1)
    val cleared = entryIn(rows, newParent, newName) match {
      case Some(dest) if dest.getAs[Long]("ino") != node.getAs[Long]("ino") =>
        if (dest.getAs[String]("kind") == "dir")
          df.withColumn(
            "nlink",
            when(col("full_path") === newPath && live, lit(0L))
              .otherwise(col("nlink")))
        else
          dropEntry(df, dest, col("full_path") === newPath)
      case _ => df
    }
    val moved = cleared
      .withColumn(
        "parent",
        when(col("full_path") === oldPath && live, lit(newParent))
          .otherwise(col("parent")))
      .withColumn(
        "name",
        when(col("full_path") === oldPath && live, lit(newName))
          .otherwise(col("name")))
      .withColumn(
        "full_path",
        when(col("full_path") === oldPath && live, lit(newPath))
          .when(
            col("full_path").startsWith(oldPath + "/") && live,
            concat(lit(newPath), expr(s"substring(full_path, ${oldPath.length + 1})")))
          .otherwise(col("full_path")))
    InodeCatalog(moved)
  }

  /** Remove one directory entry of `ino` and decrement its link count
    * (filesystem.rs:946 `hardlinks -= 1`): while other links remain the
    * removed entry becomes a tombstone immediately (the NAME is gone from
    * its directory; the inode lives on through its siblings, which mirror
    * the decremented count); the LAST link drops to 0 and survives until
    * [[forget]], the unlink→forget two-step of inode_table.rs:159-186.
    * The link count comes from the probed `node` row: nlink is mirrored
    * on every live row of an inode. */
  private def dropEntry(d: DataFrame, node: Row,
      isEntry: Column): DataFrame = {
    val ino = node.getAs[Long]("ino")
    if (node.getAs[Long]("nlink") > 1)
      d.withColumn(
        "nlink",
        when(col("ino") === ino && isEntry && col("nlink") > 0, lit(-1L))
          .when(col("ino") === ino && col("nlink") > 0, col("nlink") - 1)
          .otherwise(col("nlink")))
    else
      d.withColumn(
        "nlink",
        when(col("ino") === ino && isEntry && col("nlink") > 0, lit(0L))
          .otherwise(col("nlink")))
  }

  /** Unlink: the entry's link count decrements (hardlink-aware); the last
    * link drops to 0 but the row survives until [[forget]] — mirrors
    * inode_table.rs:159-186 (unlink keeps ino until forget). */
  def unlink(parent: Long, name: String): InodeCatalog =
    lookup(parent, name) match {
      case Some(node) => InodeCatalog(dropEntry(df, node, isEntry(parent, name)))
      case None => this
    }

  /** rmdir (filesystem.rs:958-1020): remove a directory entry, refusing
    * a non-empty directory. Reference order mirrored: ENOENT → check
    * child count (the reference tests `> 2` because SimpleFS stores "."
    * and ".."; this catalog stores neither, so live children > 0) →
    * parent W_OK (EACCES) → sticky-bit rule (a sticky parent lets only
    * root, the parent's owner, or the dir's owner remove it). The
    * removed dir follows unlink's tombstone protocol (nlink → 0,
    * survives until [[forget]]); the parent's mtime/ctime bump. */
  def rmdir(parent: Long, name: String, reqUid: Int = 0, reqGid: Int = 0,
      now: Long = 0L): Either[String, InodeCatalog] = {
    val rows = probe(isEntry(parent, name), col("ino") === parent)
    val node = entryIn(rows, parent, name) match {
      case Some(r) => r
      case None => return Left(s"ENOENT: $name")
    }
    if (node.getAs[String]("kind") != "dir")
      return Left(s"ENOTDIR: $name is a ${node.getAs[String]("kind")}")
    val ino = node.getAs[Long]("ino")
    val children = probe(col("parent") === ino).length
    if (children > 0)
      return Left(s"ENOTEMPTY: $name has $children entries")
    val p = inoIn(rows, parent) match {
      case Some(r) => r
      case None => return Left(s"ENOENT: parent ino $parent")
    }
    if (!checkAccessScalar(p.getAs[Int]("uid"), p.getAs[Int]("gid"),
        p.getAs[Int]("mode"), reqUid, reqGid, 2))
      return Left(s"EACCES: parent ino $parent")
    if ((p.getAs[Int]("mode") & 0x200) != 0 && reqUid != 0 &&
        reqUid != p.getAs[Int]("uid") && reqUid != node.getAs[Int]("uid"))
      return Left(s"EACCES: sticky parent, uid $reqUid may not remove")
    val dropped = dropEntry(df, node, isEntry(parent, name))
    Right(InodeCatalog(updateIno(dropped, parent)(
      "mtime_us" -> lit(now), "ctime_us" -> lit(now))))
  }

  /** open (filesystem.rs:1322-1368): access check against the
    * flag-derived mask, then the inode's open-handle refcount increments
    * and the caller gets an fh with the permission bits in its top two
    * bits (P8/F10). Exactly one of read/write — or both — must be set
    * (EINVAL otherwise, the reference's O_ACCMODE match). The raw handle
    * id derives from (ino, new refcount) — the snapshot analog of the
    * reference's global next_file_handle counter, which is process
    * state a persistent catalog cannot carry. */
  def open(ino: Long, read: Boolean, write: Boolean, reqUid: Int = 0,
      reqGid: Int = 0): Either[String, (Long, InodeCatalog)] = {
    if (!read && !write) return Left("EINVAL: no access mode")
    val mask = (if (read) 4 else 0) | (if (write) 2 else 0)
    val attrs = getattr(ino) match {
      case Some(r) => r
      case None => return Left(s"ENOENT: ino $ino")
    }
    if (!checkAccessScalar(attrs.getAs[Int]("uid"), attrs.getAs[Int]("gid"),
        attrs.getAs[Int]("mode"), reqUid, reqGid, mask))
      return Left(s"EACCES: open ino $ino mask $mask")
    val newCount = attrs.getAs[Long]("open_handles") + 1
    val fh = fhEncode((ino << 20) | newCount, read, write)
    Right((fh, InodeCatalog(
      updateIno(df, ino)("open_handles" -> lit(newCount)))))
  }

  /** opendir (filesystem.rs:1466-1508): directory handle acquisition —
    * the same access-mask decode and handle-count bump as [[open]],
    * with the reference's O_TRUNC-on-read-only EACCES, plus an
    * ENOTDIR guard (the kernel enforces it for the reference; a
    * library caller gets the explicit error). Flags mirror open's
    * (read, write) decode of O_ACCMODE. Error ORDER deviates from the
    * reference where the reference has no ordering at all: it decides
    * bad-accmode EINVAL in the flags match before `get_inode`, while
    * this catalog looks up first (ENOENT/ENOTDIR before EINVAL) — see
    * [[opendirOutcome]] for the rationale. */
  def opendir(ino: Long, read: Boolean, write: Boolean,
      truncate: Boolean = false, reqUid: Int = 0,
      reqGid: Int = 0): Either[String, (Long, InodeCatalog)] = {
    if (truncate && read && !write)
      return Left(s"EACCES: O_TRUNC on read-only opendir of $ino")
    getattr(ino) match {
      case None => Left(s"ENOENT: ino $ino")
      case Some(r) if r.getAs[String]("kind") != "dir" =>
        Left(s"ENOTDIR: opendir on ${r.getAs[String]("kind")} $ino")
      case Some(_) => open(ino, read, write, reqUid, reqGid)
    }
  }

  /** releasedir (filesystem.rs:1545-1558): the directory handle closes —
    * same persisted decrement as [[release]] (the reference decrements a
    * local copy in BOTH release and releasedir and never writes it back;
    * we persist, the only reading under which gc_inode can fire). */
  def releasedir(ino: Long): InodeCatalog = release(ino)

  /** release (filesystem.rs:1450-1464): the open-handle refcount
    * decrements; when the LAST handle closes on an inode whose last
    * link is already gone (nlink 0), the inode is garbage-collected
    * (tombstoned like [[forget]]) — the reference's gc_inode rule
    * `hardlinks == 0 && open_file_handles == 0` (filesystem.rs:380-397),
    * i.e. an unlinked-but-open inode survives until its last release.
    * NOTE the reference's own release decrements a local copy and never
    * writes it back (filesystem.rs:1459-1462 has no write_inode) — the
    * refcount leak is a reference bug; we persist the decrement, which
    * is the only reading under which gc_inode ever fires from release. */
  def release(ino: Long): InodeCatalog = {
    val st = df
      .filter(col("ino") === ino && col("nlink") >= 0)
      .agg(max(col("open_handles")), max(col("nlink")))
      .head()
    if (st.isNullAt(0)) return this // unknown ino: reference replies ok
    val handles = math.max(0L, st.getLong(0) - 1)
    val links = st.getLong(1)
    val dec = df.withColumn(
      "open_handles",
      when(col("ino") === ino && col("nlink") >= 0, lit(handles))
        .otherwise(col("open_handles")))
    if (handles == 0 && links == 0)
      InodeCatalog(dec.withColumn(
        "nlink",
        when(col("ino") === ino && col("nlink") === 0, lit(-1L))
          .otherwise(col("nlink"))))
    else InodeCatalog(dec)
  }

  /** Forget: the unlinked inode becomes a tombstone (nlink = -1) —
    * invisible to every lookup (which all require nlink > 0) but
    * retaining the (full_path → generation) history that [[create]]
    * consults for its generation bump, the way the reference's slot
    * allocator retains per-slot generations (inode_table.rs:188-228). */
  def forget(ino: Long): InodeCatalog =
    InodeCatalog(
      df.withColumn(
        "nlink",
        when(col("ino") === ino && col("nlink") === 0, lit(-1L))
          .otherwise(col("nlink"))))

  /** Write-path size accounting: size = max(size, offset + len)
    * (filesystem.rs:1429-1432, A7), plus the rest of the reference's
    * write epilogue — mtime/ctime bump and the unconditional
    * suid/sgid clear (filesystem.rs:1430-1442). */
  def recordWrite(ino: Long, offset: Long, len: Long,
      now: Long = 0L): InodeCatalog =
    InodeCatalog(updateIno(df, ino)(
      "size" -> greatest(col("size"), lit(offset + len)),
      "mode" -> clearSuidSgid(col("mode")),
      "mtime_us" -> lit(now),
      "ctime_us" -> lit(now)))

  /** setattr (filesystem.rs:545-739): chmod / chown / truncate / utimens
    * as one catalog op, mirroring the reference's control flow exactly —
    * a mode update returns after chmod, uid/gid after chown, and
    * size/atime/mtime apply cumulatively. Our single-gid requester model
    * stands in for the reference's get_groups(pid) supplementary-group
    * lookup (reqGid is the caller's one group).
    *
    * - chmod (:571-591): non-owner non-root EPERM; caller outside the
    *   file's group → SGID stripped from the new mode.
    * - chown (:593-638): non-root may only chgrp to its own group and
    *   only no-op chown itself; any exec bit → suid/sgid cleared; uid
    *   set clears SUID; gid set by non-root clears SGID.
    * - truncate (:399-431 via :640-663): EFBIG over [[MaxFileSize]]; a
    *   write-capable fh bypasses the W_OK access check (the handle was
    *   opened with write permission — chmod after open must not revoke
    *   it); size is SET (not maxed — shrink is the point), suid/sgid
    *   clear, mtime+ctime bump.
    * - utimens (:665-737, special values passthrough_fs.rs:426-446): a
    *   non-owner may only set `Now` (EPERM on a specific time) and only
    *   with W_OK access (EACCES); omitted times (None) are untouched —
    *   the UTIME_OMIT convention. */
  def setattr(
      ino: Long,
      mode: Option[Int] = None,
      uid: Option[Int] = None,
      gid: Option[Int] = None,
      size: Option[Long] = None,
      atime: Option[TimeOrNow] = None,
      mtime: Option[TimeOrNow] = None,
      fh: Option[Long] = None,
      reqUid: Int = 0,
      reqGid: Int = 0,
      now: Long = 0L): Either[String, InodeCatalog] = {
    val attrs = getattr(ino) match {
      case Some(r) => r
      case None => return Left(s"ENOENT: ino $ino")
    }
    val aUid = attrs.getAs[Int]("uid")
    val aGid = attrs.getAs[Int]("gid")
    val aMode = attrs.getAs[Int]("mode")

    for (m <- mode) { // chmod — reference returns immediately
      if (reqUid != 0 && reqUid != aUid)
        return Left(s"EPERM: chmod of ino $ino by uid $reqUid")
      val newMode = // SGID stripped when the caller is outside the group
        if (reqUid != 0 && reqGid != aGid) m & ~0x400 else m
      return Right(InodeCatalog(updateIno(df, ino)(
        "mode" -> lit(newMode), "ctime_us" -> lit(now))))
    }

    if (uid.isDefined || gid.isDefined) { // chown — returns immediately
      for (g <- gid if reqUid != 0 && reqGid != g)
        return Left(s"EPERM: chgrp to foreign group $g")
      for (u <- uid if reqUid != 0 && !(u == aUid && reqUid == aUid))
        return Left(s"EPERM: chown of ino $ino by uid $reqUid")
      if (gid.isDefined && reqUid != 0 && reqUid != aUid)
        return Left(s"EPERM: only the owner may chgrp ino $ino")
      var m = aMode
      if ((m & 0x49) != 0) m = clearSuidSgidScalar(m) // any exec bit, :617
      for (_ <- uid) m &= ~0x800 // clear SUID on owner change
      for (_ <- gid if reqUid != 0) m &= ~0x400 // clear SGID unless root
      return Right(InodeCatalog(updateIno(df, ino)(
        "uid" -> lit(uid.getOrElse(aUid)),
        "gid" -> lit(gid.getOrElse(aGid)),
        "mode" -> lit(m),
        "ctime_us" -> lit(now))))
    }

    var d = df
    var curMode = aMode
    for (sz <- size) { // truncate
      if (sz > MaxFileSize) return Left(s"EFBIG: $sz")
      fh match {
        case Some(h) =>
          if (!fhAllowsWriteScalar(h))
            return Left(s"EACCES: fh $h not opened for write")
        case None =>
          if (!checkAccessScalar(aUid, aGid, aMode, reqUid, reqGid, 2))
            return Left(s"EACCES: truncate ino $ino by uid $reqUid")
      }
      curMode = clearSuidSgidScalar(curMode)
      d = updateIno(d, ino)(
        "size" -> lit(sz), "mode" -> lit(curMode),
        "mtime_us" -> lit(now), "ctime_us" -> lit(now))
    }
    for (t <- atime) {
      if (aUid != reqUid && reqUid != 0 && t != TimeOrNow.Now)
        return Left(s"EPERM: set atime of ino $ino by uid $reqUid")
      if (aUid != reqUid &&
          !checkAccessScalar(aUid, aGid, aMode, reqUid, reqGid, 2))
        return Left(s"EACCES: set atime of ino $ino by uid $reqUid")
      val v = t match {
        case TimeOrNow.SpecificTime(us) => us
        case TimeOrNow.Now => now
      }
      d = updateIno(d, ino)("atime_us" -> lit(v), "ctime_us" -> lit(now))
    }
    for (t <- mtime) {
      if (aUid != reqUid && reqUid != 0 && t != TimeOrNow.Now)
        return Left(s"EPERM: set mtime of ino $ino by uid $reqUid")
      if (aUid != reqUid &&
          !checkAccessScalar(aUid, aGid, aMode, reqUid, reqGid, 2))
        return Left(s"EACCES: set mtime of ino $ino by uid $reqUid")
      val v = t match {
        case TimeOrNow.SpecificTime(us) => us
        case TimeOrNow.Now => now
      }
      d = updateIno(d, ino)("mtime_us" -> lit(v), "ctime_us" -> lit(now))
    }
    Right(InodeCatalog(d))
  }

  /** fallocate analog (filesystem.rs:1781-1811): preallocate
    * [offset, offset+len) WITHOUT writing content — unless the
    * FALLOC_FL_KEEP_SIZE mode bit is set, the size follows the A7 rule
    * size = max(size, offset+len) (the reference's
    * `if (offset + length) > attrs.size { attrs.size = offset + length }`
    * under `mode & FALLOC_FL_KEEP_SIZE == 0`). Error surface: the
    * reference itself only surfaces ENOENT (failed content-path open)
    * vs ok — it ignores the libc fallocate64 return entirely — so the
    * EINVAL (bad range) and EBADF (non-file) branches here model POSIX
    * fallocate(2) ON TOP of that ENOENT/ok skeleton; the full
    * EINVAL→ENOENT→EBADF precedence is this catalog's own contract
    * (spec-swept), not a claim about the reference's. */
  def fallocate(ino: Long, offset: Long, len: Long,
      keepSize: Boolean = false): Either[String, InodeCatalog] =
    if (offset < 0 || len <= 0) Left(s"EINVAL: offset=$offset len=$len")
    else getattr(ino) match {
      case None => Left(s"ENOENT: ino $ino")
      case Some(r) if r.getAs[String]("kind") != "file" =>
        Left(s"EBADF: ino $ino is a ${r.getAs[String]("kind")}")
      case Some(_) if keepSize => Right(this) // space reserved, size kept
      case Some(_) => Right(recordWrite(ino, offset, len))
    }

  /** statfs analog (filesystem.rs:1559-1572): the reference stubs the
    * reply with fixed capacities and TODOs the accounting; here the
    * accounting is real — live-inode count and 512-byte block usage
    * (F9 rule) aggregated over the catalog, reported against the stub's
    * advertised 10 000/10 000 capacities with the BLOCK_SIZE /
    * MAX_NAME_LENGTH constants (filesystem.rs:33-34). One global
    * map-side-combined aggregate; the catalog-wide oracle twin is
    * q_fs_statfs. */
  def statfs(): Statfs = {
    val r = df
      .filter(col("nlink") > 0)
      .agg(
        count(lit(1)),
        coalesce(sum(blocksOf(col("size"))), lit(0L)))
      .head()
    val inodesUsed = r.getLong(0)
    val blocksUsed = r.getLong(1)
    Statfs(
      blocksTotal = StatfsBlockCapacity,
      blocksUsed = blocksUsed,
      blocksFree = math.max(0L, StatfsBlockCapacity - blocksUsed),
      inodesTotal = StatfsInodeCapacity,
      inodesUsed = inodesUsed,
      inodesFree = math.max(0L, StatfsInodeCapacity - inodesUsed),
      blockSize = 512,
      nameMax = MaxNameLength)
  }

  // -- xattrs (filesystem.rs xattr surface, string-keyed MapType) --------
  def setxattr(ino: Long, key: String, value: Array[Byte]): InodeCatalog =
    InodeCatalog(
      df.withColumn(
        "xattrs",
        when(
          col("ino") === ino,
          map_concat(
            map_filter(col("xattrs"), (k, _) => k =!= key),
            map(lit(key), lit(value)))).otherwise(col("xattrs"))))

  def getxattr(ino: Long, key: String): Option[Array[Byte]] =
    getattr(ino).flatMap(r =>
      r.getAs[Map[String, Array[Byte]]]("xattrs").get(key))

  def listxattr(ino: Long): Seq[String] =
    getattr(ino)
      .map(_.getAs[Map[String, Array[Byte]]]("xattrs").keys.toSeq.sorted)
      .getOrElse(Seq.empty)

  /** P7-enforced xattr read: the namespace policy (xattr_access_check,
    * filesystem.rs:126-174) evaluated against the inode's owner/mode for
    * the requesting (uid, gid) before the raw lookup runs. */
  def getxattrChecked(ino: Long, key: String, reqUid: Int,
      reqGid: Int): Either[String, Option[Array[Byte]]] =
    if (xattrOpAllowed(ino, key, mask = 4, reqUid, reqGid))
      Right(getxattr(ino, key))
    else Left(s"EPERM: $key")

  /** P7-enforced xattr write (mask W_OK). */
  def setxattrChecked(ino: Long, key: String, value: Array[Byte],
      reqUid: Int, reqGid: Int): Either[String, InodeCatalog] =
    if (xattrOpAllowed(ino, key, mask = 2, reqUid, reqGid))
      Right(setxattr(ino, key, value))
    else Left(s"EPERM: $key")

  /** Evaluate the xattr policy for one inode. Uses the scalar twin of the
    * column expression (spec-checked equivalent) — the policy is pure bit
    * arithmetic, so only the getattr point read touches Spark. */
  private def xattrOpAllowed(ino: Long, key: String, mask: Int,
      reqUid: Int, reqGid: Int): Boolean =
    getattr(ino).exists { r =>
      xattrAccessAllowedScalar(key, mask, r.getAs[Int]("uid"),
        r.getAs[Int]("gid"), r.getAs[Int]("mode"), reqUid, reqGid)
    }

  def removexattr(ino: Long, key: String): InodeCatalog =
    InodeCatalog(
      df.withColumn(
        "xattrs",
        when(col("ino") === ino, map_filter(col("xattrs"), (k, _) => k =!= key))
          .otherwise(col("xattrs"))))

  /** Persist the catalog snapshot — the analog of SimpleFS serializing
    * its inode table to `$data_dir/inodes` (filesystem.rs:241-242,
    * 356-380), except parquet instead of bincode so the stored catalog
    * is itself queryable. Materializes first so a catalog loaded from
    * `dir` can save back to the SAME `dir` (writing straight from the
    * lineage would hit Spark's cannot-overwrite-path-being-read-from
    * check — the load→mutate→save cycle is the whole point). */
  def save(dir: String): Unit =
    df.localCheckpoint(true).write.mode("overwrite").parquet(dir)

  /** Force computation of the snapshot (long op chains otherwise build
    * ever-deeper plans — the batch analog of flushing the write log).
    * Every minted row arrives in a one-row partition of its own; the
    * coalesce keeps those from piling up across checkpoints, where each
    * would add a task to every later probe. */
  def checkpointed(): InodeCatalog =
    InodeCatalog(
      df.coalesce(spark.sparkContext.defaultParallelism).localCheckpoint(true))
}

object InodeCatalog {
  val MaxNameLength = 255 // filesystem.rs:34 (P9)
  val MaxFileSize = 1024L * 1024 * 1024 * 1024 // filesystem.rs:35 (EFBIG)

  /** utimens time argument (fuser's TimeOrNow, filesystem.rs:665-680):
    * either an explicit epoch-µs stamp or the server-side "now" — the
    * distinction matters for permissions (touch-to-now needs only W_OK;
    * setting a specific time needs ownership). */
  sealed trait TimeOrNow
  object TimeOrNow {
    final case class SpecificTime(micros: Long) extends TimeOrNow
    case object Now extends TimeOrNow
  }

  /** The stub capacities the reference's statfs reply advertises
    * (filesystem.rs:1562-1566). */
  val StatfsBlockCapacity = 10000L
  val StatfsInodeCapacity = 10000L

  /** statfs reply fields (ReplyStatfs, filesystem.rs:1561-1571). */
  final case class Statfs(
      blocksTotal: Long,
      blocksUsed: Long,
      blocksFree: Long,
      inodesTotal: Long,
      inodesUsed: Long,
      inodesFree: Long,
      blockSize: Int,
      nameMax: Int)

  val schema: StructType = StructType(Seq(
    StructField("ino", LongType, nullable = false),
    StructField("parent", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("full_path", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("mode", IntegerType, nullable = false),
    StructField("uid", IntegerType, nullable = false),
    StructField("gid", IntegerType, nullable = false),
    StructField("generation", LongType, nullable = false),
    StructField("nlink", LongType, nullable = false),
    StructField("xattrs", MapType(StringType, BinaryType), nullable = false),
    // symlink inodes store their target here (filesystem.rs:1062 keeps it
    // as the inode's content); NULL for every other kind
    StructField("symlink_target", StringType, nullable = true),
    // last_accessed / last_modified / last_metadata_changed
    // (InodeAttributes, filesystem.rs:204-206) as epoch-µs; ops take an
    // explicit `now` so snapshots stay deterministic
    StructField("atime_us", LongType, nullable = false),
    StructField("mtime_us", LongType, nullable = false),
    StructField("ctime_us", LongType, nullable = false),
    // open_file_handles refcount (filesystem.rs:202), mirrored across an
    // ino's entries like nlink
    StructField("open_handles", LongType, nullable = false)))

  // Probe predicates and the driver-side roles a probe's rows sort into.
  private def isEntry(parent: Long, name: String): Column =
    col("parent") === parent && col("name") === name
  private def entryIn(rows: Array[Row], parent: Long, name: String): Option[Row] =
    rows.find(r =>
      r.getAs[Long]("parent") == parent && r.getAs[String]("name") == name)
  private def inoIn(rows: Array[Row], ino: Long): Option[Row] =
    rows.find(_.getAs[Long]("ino") == ino)
  private def childPath(parent: Row, name: String): String = {
    val p = parent.getAs[String]("full_path")
    if (p == "/") s"/$name" else s"$p/$name"
  }

  /** Reload a persisted catalog (schema-checked: names AND types, so a
    * wrong-typed parquet fails here rather than deep inside a later
    * operation). */
  def load(spark: SparkSession, dir: String): InodeCatalog = {
    val df = spark.read.parquet(dir)
    val got = df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1)
    val want = schema.fields.map(f => f.name -> f.dataType).sortBy(_._1)
    require(
      got.sameElements(want),
      s"not a catalog snapshot: got ${got.mkString(",")}")
    InodeCatalog(df.select(schema.fieldNames.map(col): _*))
  }

  /** Fresh catalog containing only the root directory (ino 1). */
  def empty(spark: SparkSession): InodeCatalog =
    InodeCatalog(
      spark.createDataFrame(
        java.util.List.of(
          Row(1L, 0L, "", "/", "dir", 0L, 0x1ed, 0, 0, 0L, 1L,
            Map.empty[String, Array[Byte]], null, 0L, 0L, 0L, 0L)),
        schema))

  /** P6: POSIX access predicate — mode-bit arithmetic over (uid, gid,
    * mask), mirroring filesystem.rs:1870-1904: root passes everything,
    * owner bits shift 6, group bits shift 3, other bits shift 0. */
  def accessAllowed(uid: Column, gid: Column, mode: Column,
      reqUid: Int, reqGid: Int, mask: Int): Column = {
    if (reqUid == 0) lit(true)
    else {
      val eff = when(uid === reqUid, shiftright(mode, 6))
        .when(gid === reqGid, shiftright(mode, 3))
        .otherwise(mode)
      (eff.bitwiseAND(lit(7)).bitwiseAND(lit(mask))) === mask
    }
  }

  /** Column-form POSIX check (filesystem.rs:1870-1903) for requester ids
    * carried in columns: F_OK (mask 0) always passes, root reads/writes
    * anything but execs only if SOME x bit is set; otherwise exactly one
    * tier (owner/group/other) must cover the mask. */
  def checkAccess(fileUid: Column, fileGid: Column, mode: Column,
      reqUid: Column, reqGid: Column, mask: Column): Column = {
    val anyX = (shiftright(mode, 6).bitwiseOR(shiftright(mode, 3)).bitwiseOR(mode))
      .bitwiseAND(lit(1))
    val rootOk = (mask.bitwiseAND(lit(1)) === 0) || (anyX === 1)
    val eff = when(fileUid === reqUid, shiftright(mode, 6))
      .when(fileGid === reqGid, shiftright(mode, 3))
      .otherwise(mode)
    when(reqUid === 0, rootOk)
      .otherwise(mask.bitwiseAND(eff).bitwiseAND(lit(7)) === mask)
  }

  /** P7: xattr namespace classification (filesystem.rs:74-107) — dotted
    * `user.` / `system.` / `trusted.` prefixes, the bare `security`
    * prefix (no dot, as in the reference), anything else unsupported
    * (ENOTSUP → NULL). */
  def xattrNamespace(key: Column): Column =
    when(key.startsWith("user."), "user")
      .when(key.startsWith("system."), "system")
      .when(key.startsWith("trusted."), "trusted")
      .when(key.startsWith("security"), "security")
      .otherwise(lit(null).cast(StringType))

  /** P7: the xattr access policy (filesystem.rs:126-174): security is
    * world-readable but root-writable; trusted is root-only; system is
    * root-only except `system.posix_acl_access` which follows the POSIX
    * file bits; user follows the POSIX file bits; unknown namespaces are
    * denied (ENOTSUP). */
  def xattrAccessAllowed(key: Column, mask: Column,
      fileUid: Column, fileGid: Column, mode: Column,
      reqUid: Column, reqGid: Column): Column = {
    val ns = xattrNamespace(key)
    val posix = checkAccess(fileUid, fileGid, mode, reqUid, reqGid, mask)
    when(ns === "security", (mask === 4) || (reqUid === 0))
      .when(ns === "trusted", reqUid === 0)
      .when(ns === "system",
        when(key === "system.posix_acl_access", posix).otherwise(reqUid === 0))
      .when(ns === "user", posix)
      .otherwise(lit(false))
  }

  /** Scalar twin of [[checkAccess]] for driver-side point ops (an xattr
    * permission check is pure bit arithmetic over seven scalars — running
    * a Spark job per check would make every CRUD call O(job launch)).
    * FsSemanticsSpec asserts equivalence with the column form over a
    * combinatorial sweep. */
  def checkAccessScalar(fileUid: Int, fileGid: Int, mode: Int,
      reqUid: Int, reqGid: Int, mask: Int): Boolean =
    if (reqUid == 0) (mask & 1) == 0 || (((mode >> 6) | (mode >> 3) | mode) & 1) == 1
    else {
      val eff =
        if (fileUid == reqUid) mode >> 6
        else if (fileGid == reqGid) mode >> 3
        else mode
      (mask & eff & 7) == mask
    }

  /** Scalar twin of [[xattrAccessAllowed]] (same spec-checked equivalence). */
  def xattrAccessAllowedScalar(key: String, mask: Int, fileUid: Int,
      fileGid: Int, mode: Int, reqUid: Int, reqGid: Int): Boolean = {
    val posix = checkAccessScalar(fileUid, fileGid, mode, reqUid, reqGid, mask)
    if (key.startsWith("user.")) posix
    else if (key.startsWith("system."))
      if (key == "system.posix_acl_access") posix else reqUid == 0
    else if (key.startsWith("trusted.")) reqUid == 0
    else if (key.startsWith("security")) mask == 4 || reqUid == 0
    else false
  }

  /** F8: suid/sgid clear on write (filesystem.rs:110-116). SUID always
    * clears; SGID clears only when group-execute is set (otherwise the
    * bit means mandatory locking, not setgid). */
  def clearSuidSgid(mode: Column): Column = {
    val noSuid = mode - mode.bitwiseAND(lit(0x800))
    when(noSuid.bitwiseAND(lit(8)) =!= 0,
      noSuid - noSuid.bitwiseAND(lit(0x400)))
      .otherwise(noSuid)
  }

  /** Scalar twin of [[clearSuidSgid]] for driver-side point ops
    * (setattr's chown/truncate branches). FsSemanticsSpec asserts
    * equivalence with the column form over the full 12-bit mode space. */
  def clearSuidSgidScalar(mode: Int): Int = {
    val noSuid = mode & ~0x800
    if ((noSuid & 8) != 0) noSuid & ~0x400 else noSuid
  }

  /** F6: st_mode → file type via the full S_IFMT decode chain
    * (passthrough_fs.rs:28-41). The reference panics on an unknown
    * pattern; an analytic engine surfaces NULL so bad rows are
    * filterable instead of fatal. */
  def modeToFiletype(stMode: Column): Column = {
    val fmt = stMode.bitwiseAND(lit(0xF000))
    when(fmt === 0x4000, "dir")
      .when(fmt === 0x8000, "file")
      .when(fmt === 0xA000, "symlink")
      .when(fmt === 0x6000, "blockdev")
      .when(fmt === 0x2000, "chardev")
      .when(fmt === 0x1000, "fifo")
      .when(fmt === 0xC000, "socket")
      .otherwise(lit(null).cast(StringType))
  }

  // P8/F10: file-handle permission bits in the top 2 bits of the fh
  // (filesystem.rs:39-41,304-324).
  private val FhRead = 1L << 63
  private val FhWrite = 1L << 62
  def fhEncode(fh: Long, read: Boolean, write: Boolean): Long =
    fh | (if (read) FhRead else 0L) | (if (write) FhWrite else 0L)
  def fhAllowsRead(fh: Column): Column = fh.bitwiseAND(lit(FhRead)) =!= 0
  def fhAllowsWrite(fh: Column): Column = fh.bitwiseAND(lit(FhWrite)) =!= 0
  /** Scalar twins for driver-side point ops (check_file_handle_read/
    * write, filesystem.rs:380-386). */
  def fhAllowsReadScalar(fh: Long): Boolean = (fh & FhRead) != 0
  def fhAllowsWriteScalar(fh: Long): Boolean = (fh & FhWrite) != 0

  /** F9: block accounting, (size + 511) / 512 (filesystem.rs:221,33). */
  def blocksOf(size: Column): Column = ceil(size / lit(512.0)).cast("long")

  /** Column twin of [[InodeCatalog.fallocate]]'s decision tree, in the
    * method's exact precedence: EINVAL (offset<0 ∨ len≤0) is decided
    * BEFORE the inode lookup, then ENOENT (`tKind` null = lookup miss),
    * then EBADF on non-files, then 'ok_keep' (FALLOC_FL_KEEP_SIZE —
    * space reserved, size kept) vs 'ok' (A7 grow rule applies). Shared
    * by the bulk census q_fs_fallocate so the query gates with the SAME
    * text the imperative engine path uses; FsSemanticsSpec sweeps this
    * column form against [[InodeCatalog.fallocate]] itself over every
    * branch. */
  def fallocateOutcome(off: Column, len: Column, tKind: Column,
      keepSize: Column): Column =
    when(off < 0 || len <= 0, "einval")
      .when(tKind.isNull, "enoent")
      .when(tKind =!= "file", "ebadf")
      .when(keepSize, "ok_keep")
      .otherwise("ok")

  /** Column twin of [[InodeCatalog.opendir]]'s decision tree, in the
    * method's exact precedence: the O_TRUNC-on-read-only EACCES fires
    * BEFORE the lookup (as the reference's flags match does,
    * filesystem.rs:1466-1508 with open's O_ACCMODE decode at
    * :1322-1368), then ENOENT (`tKind` null = lookup miss), then
    * ENOTDIR on non-dirs, then the bad-accmode EINVAL, then the
    * flag-derived-mask access check.
    *
    * DOCUMENTED DEVIATION from the reference (this catalog's own
    * contract, not reference parity): the reference decides the
    * bad-O_ACCMODE EINVAL inside the flags match BEFORE `get_inode`
    * and has no ENOTDIR branch at all (the kernel guarantees opendir
    * targets a directory), so a MISSING inode opened with garbage
    * accmode is EINVAL upstream but 'enoent' here. This catalog orders
    * existence/kind before flag validity because its bulk census rows
    * synthesize ghost inodes and non-dir targets that a kernel would
    * never hand to opendir — lookup-first gives those rows a
    * well-defined outcome. Shared by the bulk census q_fs_opendir so
    * the query gates with the SAME text the imperative engine path
    * uses; FsSemanticsSpec sweeps this column form against
    * [[InodeCatalog.opendir]] itself over every branch. */
  def opendirOutcome(read: Column, write: Column, trunc: Column,
      tKind: Column, uid: Column, gid: Column, mode: Column,
      reqUid: Column, reqGid: Column): Column = {
    val mask = when(read, 4).otherwise(0) + when(write, 2).otherwise(0)
    when(trunc && read && !write, "eacces")
      .when(tKind.isNull, "enoent")
      .when(tKind =!= "dir", "enotdir")
      .when(!read && !write, "einval")
      .when(checkAccess(uid, gid, mode, reqUid, reqGid, mask), "ok")
      .otherwise("eacces")
  }
}

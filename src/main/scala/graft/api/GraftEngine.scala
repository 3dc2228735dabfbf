package graft.api

import graft.meta.InodeCatalog
import graft.sources.KvStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The user-facing engine facade — what a user of the reference would
  * switch to. One object exposes fairy's three surfaces (SURVEY §3):
  *
  *  - the KV data plane (`get`/`put`/`putChunked`/`scanPrefix`/`compact`,
  *    mirroring GET /get/{id} and PUT /put/{id},
  *    /root/reference/common/src/h2/h2_service.rs:57-123);
  *  - the POSIX metadata plane (`fs`: lookup/readdir/rename/xattr…,
  *    mirroring the FUSE impls under /root/reference/fuse/src/);
  *  - the analytics plane (`query`/`sql`: the declared operator registry
  *    plus free-form SQL with graft's functions and optimizer rule
  *    registered).
  *
  * The reference's etcd service registry (worker/src/service_registry/
  * etcd.rs) has no analog here by design: Spark's cluster manager owns
  * membership (SURVEY §1.1 "Service list").
  */
class GraftEngine(
    val spark: SparkSession,
    storeRoot: String,
    numBuckets: Int = 1024) {

  /** Config-driven construction: the KV plane takes its root and bucket
    * count from [[graft.config.LocalKvOptions]] (the FromConfig surface),
    * so defaults live in ONE place instead of drifting per call site. */
  def this(spark: SparkSession, options: graft.config.LocalKvOptions) =
    this(spark, options.rootPath, options.numBucket)

  graft.plans.GraftExtensions.register(spark)

  /** Hash-bucketed KV object store (the data plane). */
  val kv: KvStore = new KvStore(spark, storeRoot, numBuckets)

  /** Mutable handle on the metadata catalog (the FUSE-semantics plane).
    * Ops are snapshot-in/snapshot-out; this handle just tracks the
    * latest snapshot the way the reference's worker owns its inode maps.
    * Mutations are serialized (the reference's RwLock write side), so two
    * concurrent `updateFs` calls never lose one's update and each caller
    * gets back the snapshot its own `f` produced; readers see the latest
    * published snapshot without taking the lock. */
  @volatile private var catalog: InodeCatalog = InodeCatalog.empty(spark)
  def fs: InodeCatalog = catalog
  def updateFs(f: InodeCatalog => InodeCatalog): InodeCatalog = synchronized {
    catalog = f(catalog)
    catalog
  }

  /** Readdir memo over the metadata plane (list_cache.rs analog), keyed
    * by the snapshot it was computed from: publishing a new snapshot is
    * all it takes for listings to follow the catalog. */
  val lsCache = new graft.meta.ListingCache
  def readdirCached(parent: Long, offset: Int = 0,
      limit: Int = Int.MaxValue): Seq[org.apache.spark.sql.Row] =
    lsCache.readdir(catalog, parent, offset, limit)

  /** copy_file_range analog (filesystem.rs:1812-1858) as ONE operation
    * across both planes: read `size` bytes of the src object starting at
    * `srcOffset` (saturating at src EOF, the reference's
    * `min(size, file_size - src_offset)`), splice them into the dst
    * object at `dstOffset` (zero-filling a seek-past-EOF hole), persist
    * the patched object, and record the dst inode's size as
    * max(size, dstOffset + written) in the catalog (A7). Returns bytes
    * copied. Permission gates mirror the reference: the src handle must
    * carry the read bit and the dst handle the write bit (EACCES), the
    * src object must exist (ENOENT), the dst object must exist (EBADF —
    * the reference opens dst without `create`). */
  def copyFileRange(srcKey: String, srcFh: Long, srcOffset: Long,
      dstKey: String, dstFh: Long, dstIno: Long, dstOffset: Long,
      size: Long): Long = {
    require(InodeCatalog.fhAllowsReadScalar(srcFh), "EACCES: src fh lacks read")
    require(InodeCatalog.fhAllowsWriteScalar(dstFh), "EACCES: dst fh lacks write")
    val src = kv.get(srcKey)
      .getOrElse(throw new NoSuchElementException(s"ENOENT: $srcKey"))
    val readSize =
      math.min(size, math.max(0L, src.length.toLong - srcOffset)).toInt
    val dst = kv.get(dstKey)
      .getOrElse(throw new NoSuchElementException(s"EBADF: $dstKey"))
    if (readSize > 0) {
      val newLen = math.max(dst.length.toLong, dstOffset + readSize).toInt
      val out = java.util.Arrays.copyOf(dst, newLen) // hole zero-fills
      System.arraycopy(src, srcOffset.toInt, out, dstOffset.toInt, readSize)
      import spark.implicits._
      kv.put(Seq((dstKey, out)).toDF("key", "value"))
      updateFs(_.recordWrite(dstIno, dstOffset, readSize.toLong))
    }
    readSize.toLong
  }

  /** Run a declared operator from the registry against a data dir. */
  def query(name: String, sfDir: String): DataFrame =
    graft.SparkEntry.queries
      .getOrElse(name, sys.error(s"unknown query '$name'; known: ${
          graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      .apply(spark, sfDir)

  /** Free-form SQL with graft functions (vec_dot, hist_buckets) and the
    * hash-rewrite optimizer rule active. */
  def sql(text: String): DataFrame = spark.sql(text)

  /** Corpus-curation plane: column-parameterized sampling / dedup /
    * quality operators over the USER's own DataFrames (the library form
    * of the oracle-gated q_sample_* / q_dedup_groups / q_text_* queries).
    */
  val corpus: graft.operators.CorpusOps.type = graft.operators.CorpusOps

  /** Tokenizer lifecycle: [[graft.operators.TextOps.bpeTrain]] (merge
    * induction on the word histogram) and
    * [[graft.operators.TextOps.bpeEncode]] (apply trained merges over the
    * distinct vocabulary) — train on a corpus slice, encode the corpus. */
  val text: graft.operators.TextOps.type = graft.operators.TextOps

  /** Spectral plane: one-pass covariance moments
    * ([[graft.plans.CovarianceAgg]]), driver-side Jacobi
    * eigendecomposition, and literal-folded PCA projection
    * ([[graft.operators.Spectral.pcaTrain]] / `pcaProject`). */
  val spectral: graft.operators.Spectral.type = graft.operators.Spectral
}

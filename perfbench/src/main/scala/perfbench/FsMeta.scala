package perfbench

import graft.api.GraftEngine
import graft.meta.InodeCatalog
import org.apache.spark.sql.{Row, SparkSession}

import java.util.SplittableRandom
import scala.collection.mutable

/** fs_meta: the metadata plane through `engine.updateFs`, `engine.fs` and
  * `engine.readdirCached`.
  *
  * Set-up writes a snapshot of [[FsMeta.Dirs]] directories of
  * [[FsMeta.FilesPerDir]] files each and loads it with
  * `InodeCatalog.load`. The mix is lookup 30%, getattr 10%, readdir 25%,
  * create 10%, write (`recordWrite`) 10%, rename 10% and unlink 5%, in
  * shuffled cycles of 20, with directories Zipf(1)-skewed;
  * `checkpointed()` runs after every [[FsMeta.CheckpointEvery]] mutations.
  * A shadow tree checks every lookup, getattr and readdir, and
  * the whole catalog at the end. */
final class FsMeta(spark: SparkSession, rec: Recorder, seed: Long,
    work: java.io.File) extends Workload {
  import FsMeta._

  private final class Dir(val ino: Long, val path: String) {
    val names = mutable.ArrayBuffer.empty[String]
    val files = mutable.HashMap.empty[String, FileState]
    def add(name: String, f: FileState): Unit = { names += name; files(name) = f }
    def remove(name: String): FileState = { names -= name; files.remove(name).get }
  }

  private val rng = new SplittableRandom(seed)
  private val zipf = new Gen.Zipf(Dirs, 1.0)
  private var dirs: Vector[Dir] = Vector.empty // position = popularity rank
  private var maxIno = 0L
  private var created = 0
  private var mutations = 0
  private var engine: GraftEngine = _
  private var snapshotDir: java.io.File = _

  def fixtureReps: Int = 3

  def buildFixture(rep: Int): Unit = {
    if (snapshotDir != null) Files.delete(snapshotDir)
    snapshotDir = new java.io.File(work, s"fs-$rep")
    val sizes = new SplittableRandom(seed ^ 0xf5L)
    val built = (0 until Dirs).map(d => new Dir(2L + d, f"/d$d%02d")).toVector
    var ino = 1L + Dirs
    for (d <- built; f <- 0 until FilesPerDir) {
      ino += 1
      d.add(f"f$f%03d", FileState(ino, Gen.logUniform(sizes, 4096, 131072).toLong))
    }
    maxIno = ino
    val rows = Seq(node(1L, 0L, "", "/", "dir", 0L)) ++
      built.map(d => node(d.ino, 1L, d.path.drop(1), d.path, "dir", 0L)) ++
      built.flatMap(d => d.names.map { n =>
        val f = d.files(n); node(f.ino, d.ino, n, s"${d.path}/$n", "file", f.size)
      })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), InodeCatalog.schema)
      .write.parquet(snapshotDir.getPath)
    val catalog = InodeCatalog.load(spark, snapshotDir.getPath)
    engine = new GraftEngine(spark, new java.io.File(work, "kv-unused").getPath)
    engine.updateFs(_ => catalog)
    dirs = Gen.shuffle(built, new SplittableRandom(seed))
    created = 0
    mutations = 0
  }

  def warmUp(): Unit = {
    for (op <- Ops.map(_._1)) run(op)
    checkpoint()
    mutations = 0
  }

  private var cacheAtStart = (0L, 0L)
  override def windowStarted(): Unit =
    cacheAtStart = (engine.lsCache.hits, engine.lsCache.misses)

  private val mix = new Gen.Cycle(Ops, rng)
  def step(): Unit = run(mix.next())

  private def hotDir(): Dir = dirs(zipf.sample(rng))

  private def run(op: String): Unit = {
    val dir = hotDir()
    if (dir.names.isEmpty && op != "readdir") return create(dir)
    lazy val name = dir.names(rng.nextInt(dir.names.size))
    op match {
      case "lookup" =>
        val want = dir.files(name).ino
        rec.op(OpClass.Read, "meta.lookup")(engine.fs.lookup(dir.ino, name)) {
          case Some(r) if r.getAs[Long]("ino") == want => None
          case other => Some(s"lookup ${dir.path}/$name: want ino $want, got ${other.map(_.getAs[Long]("ino"))}")
        }
      case "getattr" =>
        val f = dir.files(name)
        rec.op(OpClass.Read, "meta.getattr")(engine.fs.getattr(f.ino)) {
          case Some(r) if r.getAs[Long]("size") == f.size && r.getAs[String]("name") == name => None
          case other => Some(s"getattr ${f.ino}: want $name size ${f.size}, got $other")
        }
      case "readdir" =>
        val want = dir.names.sorted
        rec.op(OpClass.Read, "meta.readdir")(engine.readdirCached(dir.ino)) { rows =>
          val got = rows.map(_.getAs[String]("name"))
          if (got == want) None
          else Some(s"readdir ${dir.path}: ${got.size} names, want ${want.size}")
        }
      case "create" => create(dir)
      case "write" =>
        val f = dir.files(name)
        val off = (rng.nextDouble() * f.size).toLong
        val len = Gen.logUniform(rng, 4096, 131072).toLong
        mutate("meta.write")(_.recordWrite(f.ino, off, len)) {
          dir.files(name) = f.copy(size = math.max(f.size, off + len))
        }
      case "rename" =>
        val to = hotDir()
        created += 1
        val newName = s"r$created"
        mutate("meta.rename")(_.rename(dir.ino, name, to.ino, newName)) {
          to.add(newName, dir.remove(name))
        }
      case "unlink" =>
        mutate("meta.unlink")(_.unlink(dir.ino, name))(dir.remove(name))
    }
  }

  private def create(dir: Dir): Unit = {
    created += 1
    val name = s"c$created"
    mutate("meta.create")(_.create(dir.ino, name, "file")) {
      maxIno += 1
      dir.add(name, FileState(maxIno, 0L))
    }
  }

  /** A mutation through the engine; the shadow tree follows only when the
    * engine accepted it, and every [[CheckpointEvery]]th mutation is
    * followed by a checkpoint. */
  private def mutate(span: String)(f: InodeCatalog => InodeCatalog)(shadow: => Unit): Unit = {
    if (rec.op(OpClass.Write, span)(engine.updateFs(f))(_ => None)) shadow
    mutations += 1
    if (mutations % CheckpointEvery == 0) checkpoint()
  }

  private def checkpoint(): Unit =
    rec.op(OpClass.Maint, "meta.checkpoint")(engine.updateFs(_.checkpointed()))(_ => None)

  def finish(): Unit = {
    val df = engine.fs.df
    rows = df.count().toDouble
    planNodes = df.queryExecution.logical.collect { case p => p }.size.toDouble
    rec.verify("meta.verify_tree") {
      val live = df.filter("nlink > 0 AND kind = 'file'")
        .select("parent", "name", "ino", "size").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> FileState(r.getLong(2), r.getLong(3))).toMap
      val want = dirs.flatMap(d => d.files.map { case (n, f) => (d.ino, n) -> f }).toMap
      if (live == want) None
      else Some(s"catalog holds ${live.size} live files, shadow tree ${want.size}; " +
        s"${(live.toSet diff want.toSet).size} differ")
    }
  }

  private var rows = 0.0
  private var planNodes = 0.0

  /** Catalog rows (tombstones included) per live entry. */
  def spaceAmp: Double = rows / (1 + Dirs + dirs.map(_.names.size).sum)

  def tails: Map[OpClass, Double] =
    Map(OpClass.Read -> 0.75, OpClass.Write -> 0.85, OpClass.Maint -> 0.5)

  def counters: Map[String, Double] = {
    val hits = (engine.lsCache.hits - cacheAtStart._1).toDouble
    val misses = (engine.lsCache.misses - cacheAtStart._2).toDouble
    Map(
      "meta.listing_cache.hits" -> hits,
      "meta.listing_cache.misses" -> misses,
      "meta.listing_cache.hit_ratio" -> (if (hits + misses > 0) hits / (hits + misses) else 0.0),
      "meta.catalog.rows" -> rows,
      "meta.catalog.plan_nodes" -> planNodes)
  }
}

object FsMeta {
  private final case class FileState(ino: Long, size: Long)

  val Dirs = 64
  val FilesPerDir = 64
  /** Every 8 left two checkpoints a run, whose cost swung with the
    * mutations stacked under them (run-to-run spread 0.55); every 4 gives
    * six or more. */
  val CheckpointEvery = 4
  /** One cycle of 20 operations: lookup 30%, getattr 10%, readdir 25%,
    * create 10%, write 10%, rename 10%, unlink 5%. */
  val Ops: Seq[(String, Int)] = Seq(
    "lookup" -> 6, "getattr" -> 2, "readdir" -> 5, "create" -> 2,
    "write" -> 2, "rename" -> 2, "unlink" -> 1)

  private def node(ino: Long, parent: Long, name: String, path: String,
      kind: String, size: Long): Row =
    Row(ino, parent, name, path, kind, size, if (kind == "dir") 0x1ed else 0x1a4,
      0, 0, 0L, 1L, Map.empty[String, Array[Byte]], null, 0L, 0L, 0L, 0L)
}

package perfbench

import graft.api.GraftEngine
import graft.sources.KvStore
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom
import scala.collection.mutable

/** kv_mixed: fairy's GET/PUT surface through `engine.kv`.
  *
  * Set-up preloads [[KvMixed.Keys]] objects, exactly
  * [[KvMixed.KeysPerBucket]] in each of [[KvMixed.Buckets]] buckets, with
  * log-uniform sizes from 4 KiB up to 128 KiB (fairy's chunk size). The
  * mix is 80% `get` and 20% single-object `put` in shuffled cycles of
  * five, keys Zipf(1)-skewed;
  * `compact()` closes the window. A digest model (key -> version, size)
  * checks every `get` and, after compaction, the whole store. */
final class KvMixed(spark: SparkSession, rec: Recorder, seed: Long,
    work: java.io.File) extends Workload {
  import KvMixed._
  import spark.implicits._

  private val rng = new SplittableRandom(seed)
  private val keys: Vector[String] = {
    val perBucket = new Array[Int](Buckets)
    val out = mutable.ArrayBuffer.empty[String]
    var j = 0
    while (out.size < Keys) {
      val k = s"obj-$seed-$j"
      val b = math.floorMod(KvStore.hashOf(k), Buckets.toLong).toInt
      if (perBucket(b) < KeysPerBucket) { perBucket(b) += 1; out += k }
      j += 1
    }
    Gen.shuffle(out.toSeq, rng) // position = popularity rank
  }
  private val zipf = new Gen.Zipf(Keys, 1.0)
  /** key -> (version, size) of the value last put. */
  private val model = mutable.HashMap.empty[String, (Int, Int)]
  private var engine: GraftEngine = _
  private var storeRoot: java.io.File = _
  private var store: (Long, Long) = (0L, 0L)

  def fixtureReps: Int = 2

  def buildFixture(rep: Int): Unit = {
    if (storeRoot != null) Files.delete(storeRoot)
    storeRoot = new java.io.File(work, s"kv-$rep")
    engine = new GraftEngine(spark, storeRoot.getPath, Buckets)
    model.clear()
    val sizes = new SplittableRandom(seed ^ 0x5eedL)
    keys.foreach(k => model(k) = (0, Gen.logUniform(sizes, MinValue, MaxValue)))
    val rows = keys.map(k => (k, model(k)._2))
    engine.kv.put(spark.createDataset(rows).map(materialize).toDF("key", "value"))
  }

  def warmUp(): Unit = {
    for (_ <- 0 until 3) get()
    put()
  }

  private val mix = new Gen.Cycle(Seq(true -> 4, false -> 1), rng)
  def step(): Unit = if (mix.next()) get() else put()

  private def hotKey(): String = keys(zipf.sample(rng))

  private def get(): Unit = {
    val key = hotKey()
    val (version, size) = model(key)
    rec.op(OpClass.Read, "sources.get")(engine.kv.get(key)) {
      case Some(v) if java.util.Arrays.equals(v, Gen.valueBytes(key, version, size)) => None
      case Some(v) => Some(s"get $key returned ${v.length} bytes, not version $version ($size bytes)")
      case None => Some(s"get $key returned nothing")
    }
  }

  private def put(): Unit = {
    val key = hotKey()
    val version = model(key)._1 + 1
    val size = Gen.logUniform(rng, MinValue, MaxValue)
    val df = Seq((key, Gen.valueBytes(key, version, size))).toDF("key", "value")
    if (rec.op(OpClass.Write, "sources.put")(engine.kv.put(df))(_ => None))
      model(key) = (version, size)
  }

  def finish(): Unit = {
    store = Files.sizeOf(storeRoot, _.endsWith(".parquet"))
    // compacting the compacted store twice more gives the maintenance
    // figure a median of three (one compaction swung 0.27 between runs)
    for (_ <- 0 until 3)
      rec.op(OpClass.Maint, "sources.compact")(engine.kv.compact())(_ => None)
    rec.verify("sources.verify_store") {
      val got = engine.kv.read().select($"key", $"value").as[(String, Array[Byte])]
        .collect().toMap
      val wrong = model.collect {
        case (k, (v, s)) if !got.get(k).exists(java.util.Arrays.equals(_, Gen.valueBytes(k, v, s))) => k
      }
      if (got.size != model.size || wrong.nonEmpty)
        Some(s"store after compact holds ${got.size} keys, ${wrong.size} of ${model.size} wrong")
      else None
    }
  }

  /** Parquet bytes on disk, taken before compaction, per live value byte. */
  def spaceAmp: Double = store._2.toDouble / model.values.map(_._2.toLong).sum

  def tails: Map[OpClass, Double] =
    Map(OpClass.Read -> 0.6, OpClass.Write -> 0.5, OpClass.Maint -> 0.5)

  def counters: Map[String, Double] = Map(
    "sources.store.files" -> store._1.toDouble,
    "sources.store.bytes" -> store._2.toDouble)
}

object KvMixed {
  val Buckets = 64
  val KeysPerBucket = 4
  val Keys: Int = Buckets * KeysPerBucket
  val MinValue = 4 * 1024
  val MaxValue = 128 * 1024

  /** Builds a preload row inside the Spark task, so the client never holds
    * the whole store. */
  private val materialize: ((String, Int)) => (String, Array[Byte]) = {
    case (k, size) => (k, Gen.valueBytes(k, 0, size))
  }
}

/** Small file-tree helpers. */
object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** (file count, total bytes) of the files under `f` whose name passes. */
  def sizeOf(f: java.io.File, keep: String => Boolean): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles).toSeq.flatten.map(sizeOf(_, keep))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile && keep(f.getName)) (1L, f.length)
    else (0L, 0L)
}

package perfbench

import graft.api.GraftEngine
import org.apache.spark.sql.{Row, SparkSession}

import java.util.SplittableRandom

/** registry: the analytics plane through `engine.query` on the sf0.01
  * test tables in `sfDir`.
  *
  * The call list is fixed; the seed only permutes it. Each pass spreads
  * the heavy queries evenly among the one-shot calls, and the window
  * closes only between passes, so every run measures whole passes of the
  * same list. A read collects its result to the client. Two pipeline
  * products persisted as parquet make up the plane's write step, and
  * compacting them its maintenance step. Every result (a persisted one
  * read back) must match the fingerprint the oracle-checked engine
  * produced for it. */
final class Registry(spark: SparkSession, rec: Recorder, seed: Long,
    work: java.io.File, sfDir: String, oracle: Map[String, Fingerprint.Print])
    extends Workload {
  import Registry._

  private val engine = new GraftEngine(spark, new java.io.File(work, "kv-unused").getPath)
  private val rng = new SplittableRandom(seed)
  private var pass: Vector[String] = Vector.empty
  private var next = 0
  private val derived = new java.io.File(work, "derived")
  private var derivedAmp = 0.0

  def fixtureReps: Int = 0
  def buildFixture(rep: Int): Unit = ()

  /** Runs each distinct query once, so the window measures warm queries
    * (a query's first run pays its own code generation). */
  def warmUp(): Unit = All.distinct.foreach(run(_, "operators.warmup"))

  override def atBoundary: Boolean = next == pass.size

  def step(): Unit = {
    if (next == pass.size) { pass = order(rng); next = 0 }
    val q = pass(next)
    next += 1
    run(q, if (Heavy.contains(q)) "operators.heavy" else "operators.oneshot")
  }

  private def out(q: String) = new java.io.File(derived, q)

  /** One registry call: a query, the write step or the maintenance step,
    * executed and then checked against the oracle. */
  private def run(call: String, span: String): Unit = {
    val queries = queriesOf(call)
    rec.op(classOf(call), span, call) {
      queries.map { q =>
        if (call == MaintStep) { compact(q); Array.empty[Row] }
        else {
          val df = rec.tracer.span("operators.build")(engine.query(q, sfDir))
          rec.tracer.span("operators.exec") {
            if (call == WriteStep) { df.write.mode("overwrite").parquet(out(q).getPath); Array.empty[Row] }
            else df.collect()
          }
        }
      }
    } { results =>
      val persisted = call == WriteStep || call == MaintStep
      val rows = queries.zip(results).map { case (q, collected) =>
        q -> (if (persisted) spark.read.parquet(out(q).getPath).collect() else collected)
      }
      if (call == WriteStep) derivedAmp =
        queries.map(q => Files.sizeOf(out(q), _.endsWith(".parquet"))._2).sum.toDouble /
          rows.map(_._2.map(Fingerprint.render(_).length).sum).sum
      rows.collectFirst(Function.unlift { case (q, rs) =>
        val want = oracle.getOrElse(q, sys.error(s"no oracle fingerprint for $q"))
        val got = Fingerprint.of(rs)
        if (got == want) None else Some(s"$q: result $got, oracle $want")
      })
    }
  }

  /** Rewrites a persisted table as one file through the engine's SQL
    * plane, then swaps it in. */
  private def compact(q: String): Unit = rec.tracer.span("operators.exec") {
    val tmp = new java.io.File(derived, q + ".compacting")
    engine.sql(s"SELECT * FROM parquet.`${out(q).getPath}`").coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    Files.delete(out(q))
    if (!tmp.renameTo(out(q))) sys.error(s"cannot install compacted $q")
  }

  def finish(): Unit = ()

  /** Parquet bytes of the persisted result per byte of its rows as text. */
  def spaceAmp: Double = derivedAmp

  def tails: Map[OpClass, Double] =
    Map(OpClass.Read -> 0.9, OpClass.Write -> 0.5, OpClass.Maint -> 0.5)

  def counters: Map[String, Double] = Map.empty
}

object Registry {
  /** The loop-bound tail: a fixed-round graph loop, most of whose jobs
    * run while the query is built. */
  val Heavy: Seq[String] = Seq("q_pagerank")

  /** The plane's write step: two pipeline products persisted as parquet
    * and read back. */
  val WriteStep = "pipeline_products"
  val WriteQueries: Seq[String] = Seq("q_pipeline_training_mix", "q_shard_manifest")
  /** The plane's maintenance step: the persisted products compacted to
    * one file each. */
  val MaintStep = "compact_products"

  def queriesOf(call: String): Seq[String] =
    if (call == WriteStep || call == MaintStep) WriteQueries else Seq(call)

  /** Single-pass queries from four operator families: the per-query floor.
    * The write step persists two products so it times steadier than one
    * sub-second query; the layout planners tried as maintenance swung
    * 0.29 between runs. */
  val OneShot: Seq[String] = Seq(
    "q_sort_limit", "q_token_histogram", "q_events_histogram", "q_cosine_knn",
    WriteStep, MaintStep)

  /** One pass: every call once. */
  val All: Seq[String] = Heavy ++ OneShot

  def classOf(q: String): OpClass =
    if (q == WriteStep) OpClass.Write
    else if (q == MaintStep) OpClass.Maint
    else OpClass.Read

  /** One pass: both lists shuffled, heavy queries spread evenly. */
  def order(rng: SplittableRandom): Vector[String] = {
    val heavy = Gen.shuffle(Heavy, rng)
    val light = Gen.shuffle(OneShot, rng)
    val every = All.size.toDouble / heavy.size
    val slots = heavy.indices.map(i => (i * every + every / 2).toInt).toSet
    val (h, l) = (heavy.iterator, light.iterator)
    All.indices.map(i => if (slots(i)) h.next() else l.next()).toVector
  }
}

/** Order-insensitive result fingerprints: row count plus a SHA-256 over
  * the sorted rows rendered as text, doubles at 10 significant digits so
  * summation order cannot flip a fingerprint. */
object Fingerprint {
  final case class Print(rows: Long, sha256: String) {
    override def toString: String = s"$rows rows sha256 ${sha256.take(16)}"
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else BigDecimal(d).round(new java.math.MathContext(10)).bigDecimal
        .stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): Print = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    Print(rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** Reads `name<TAB>rows<TAB>sha256` lines. */
  def load(path: java.nio.file.Path): Map[String, Print] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(a => a(0) -> Print(a(1).toLong, a(2)))
      .toMap
}

/** Writes the registry's oracle fingerprints (`name<TAB>rows<TAB>sha256`)
  * from the engine's results on the sf0.01 tables. Run it only on a
  * commit whose results match the DuckDB oracle (scripts/check_oracle.py).
  * {{{ RecordOracle <cores> <sf0.01 dir> <out.tsv> }}} */
object RecordOracle {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get(args(0).toInt, "perfbench-oracle")
    val engine = new GraftEngine(spark, "unused")
    val lines = Registry.All.flatMap(Registry.queriesOf).distinct.sorted.map { q =>
      val p = Fingerprint.of(engine.query(q, args(1)).collect())
      s"$q\t${p.rows}\t${p.sha256}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
      ("# registry results on sf0.01: name, rows, sha256" +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

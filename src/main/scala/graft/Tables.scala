package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md /
  * FIXTURES.md). Every query takes an explicit `sfDir` so the same code runs
  * at any scale factor — and, on a real cluster, against any warehouse path.
  */
object Tables {
  /** Resolved-relation cache, keyed by (session, path). `spark.read
    * .parquet` re-resolves the relation on EVERY call — a driver-side
    * file listing plus a footer-reading schema-inference job, measured
    * at ~80 ms each — and the bench pays it per table per query per
    * pass (~1600 resolutions ≈ 2 min of pure driver time per run).
    * A production deployment resolves a table once per session (a
    * catalog/metastore registration; guide §6 endorses exactly this
    * file-listing cache). This caches the lazy PLAN + file-index
    * metadata only — no rows, no results; every action still computes
    * from the parquet inputs. Keyed by session REFERENCE so tests that
    * build fresh sessions never see a stale session's plan.
    *
    * Entries of STOPPED sessions are purged on the next miss from any
    * session (the map otherwise retains stopped sessions and their
    * resolved plans for the JVM lifetime — a leak in the
    * fresh-session-per-suite test JVM); a hit costs one map read. Paths
    * are assumed immutable for the life of a session, as with any
    * catalog registration. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, s"$dir/$name.parquet")
    val hit = resolved.get(key)
    if (hit != null) hit
    else {
      resolved.keySet.removeIf(k => k._1.sparkContext.isStopped)
      resolved.computeIfAbsent(key, k => k._1.read.parquet(k._2))
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events.parquet's `ts` column has varied across driver testdata
    * generations: TIMESTAMP(NANOS) (reads as BIGINT epoch-nanos under
    * spark.sql.legacy.parquet.nanosAsLong=true), TIMESTAMP(µs,
    * adjusted-to-UTC), and tz-naive TIMESTAMP(µs) (reads as
    * TIMESTAMP_NTZ in Spark 4). Normalize all three here — sessions run
    * with spark.sql.session.timeZone=UTC, so casting NTZ→TIMESTAMP
    * preserves the instant and matches DuckDB's naive-timestamp oracle
    * semantics. Expose raw nanos (`ts_ns`) and a µs TimestampType `ts`
    * so event-time operators (windows, watermarks, unix_micros) work
    * uniformly.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType.typeName match {
      case "long" | "bigint" =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          // integer DIV, not `/ 1000`: double division of epoch-nanos
          // loses ulps and can shift the µs by one
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case "timestamp_ntz" =>
        // keep `ts` NTZ so columns we surface match the naive timestamps
        // the DuckDB oracle reads from the same file; the cast (exact
        // under the UTC session tz) exists only to reach epoch-µs
        raw.withColumn("ts_ns",
          unix_micros(col("ts").cast("timestamp")) * 1000)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000)
    }
  }
}

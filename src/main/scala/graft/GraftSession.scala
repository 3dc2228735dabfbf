package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference (beinan/fairy) splits control plane (tokio) from data plane
  * (monoio thread-per-core) — see /root/reference/worker/src/main.rs:30-66.
  * In Spark that split is driver vs executors; all we configure here is the
  * SQL session. Tuned for local[N] testing but with settings that hold on a
  * real cluster (AQE, sensible shuffle partitions, UTC).
  */
object GraftSession {

  /** ObjectHashAggregate sort-fallback threshold, derived from the JVM
    * heap instead of a constant (r11 ADVICE: the old hard-coded 2^24
    * assumed this box's 96 GB probe heap and could OOM a small
    * deployment where the default would have spilled).
    *
    * Why raise it at all: bounded-partial-state aggregates (SmallestKAgg
    * & the sketch family) rely on MAP-SIDE combine to keep
    * data-quadratic streams out of the shuffle. Spark's
    * ObjectHashAggregate abandons hashing after 128 distinct keys by
    * default and SORTS the remaining input — for a quadratic candidate
    * stream that re-creates the very spill the bounded buffer exists to
    * avoid (measured: the dense x1000 sampled-emission leg ENOSPC'd in
    * exactly that sort, scaleprobe-r11h2).
    *
    * Sizing: each map entry is one grouping key + one capped buffer
    * (~300 B at k=20), and up to `cores` tasks aggregate concurrently,
    * so budget a quarter of the heap across them: keys =
    * heap / cores / 4 / 300 B, floored at Spark's 128 default, capped
    * at 2^26. The 96 GB probe heap lands at ~2.5 M keys (the dense
    * x1000 probe's real per-task group count is ~160 k — 15× headroom);
    * sbt's default 8 g lands at ~200 k (still 1000× the stock 128); a
    * 2 g toy heap gets ~55 k and spills instead of OOMing. Override via
    * SPARK_GRAFT_OBJ_AGG_KEYS — the override rides through the same
    * 128..2^26 clamp as the derived value, and a non-numeric value
    * falls back to the derivation (r12 ADVICE: unclamped, a value above
    * Int.MaxValue threw when Spark parsed the int conf). */
  def objAggFallbackKeys(cores: Int): Long = {
    val requested = sys.env
      .get("SPARK_GRAFT_OBJ_AGG_KEYS")
      .flatMap(_.toLongOption)
      .getOrElse {
        val heap = Runtime.getRuntime.maxMemory()
        heap / math.max(cores, 1) / 4 / 300
      }
    math.min(math.max(requested, 128L), 1L << 26)
  }

  /** The one shared builder behind every graft entry point
    * (GraftSession.get, Verify, Bench, tools.PlanDump, perfbench) and the
    * spec suite's session — r11 ADVICE: the threshold/config block had
    * been duplicated per entry point and drifted. Callers layer only
    * their master/app specifics on top. */
  def tunedBuilder(cores: Int, appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
      // reader cannot represent natively; read as epoch-nanos BIGINT and
      // convert explicitly (Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // map-side combine for bounded-buffer object aggregates must not
      // fall back to sorting the (possibly quadratic) input stream —
      // see objAggFallbackKeys' sizing note
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        objAggFallbackKeys(cores).toString)

  /** Build (or reuse) a SparkSession with graft defaults.
    *
    * @param cores parallelism for local mode; shuffle partitions follow it
    *              (on a real cluster you'd size shuffle partitions to
    *              ~2-3x total executor cores instead of the default 200).
    */
  def get(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = tunedBuilder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

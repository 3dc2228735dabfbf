package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Shared materialization primitive for iterative dataflows (connected
  * components, BFS relaxation, k-core peeling, label propagation).
  *
  * Every loop of this family needs, per round: (a) materialize the new
  * state so round N+1's plan does not replay rounds 1..N, and (b) read a
  * change count to decide termination. Doing those as two actions doubles
  * the driver round-trips — and at blow-up scale the loops are
  * round-overhead-bound (the r9 probe measured the x1000 embed-dedup CC
  * DNF'ing a 2400 s wall on ~120 small jobs). [[matObserve]] fuses them:
  * one eager checkpoint job both materializes the rows and fills the
  * observation's CollectMetrics accumulators, and the driver reads the
  * count from the completed job's metrics without a second scan.
  *
  * The checkpoint is the stats-dropping variant
  * ([[DatasetBridge.localCheckpointFreshStats]]): a plain localCheckpoint
  * inherits the origin plan's sizeInBytes, and a loop whose round plan
  * joins the state with itself raises that estimate to the ~4th power per
  * round until the driver spends minutes in BigInteger multiplication
  * under join-stats estimation (the other r9 probe catch).
  */
object Iterate {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `f` (an eager materialization) with AQE scoped off, restoring
    * the session conf in a finally. Loop-safe: the bench/verify drivers
    * execute queries sequentially on one thread.
    *
    * Why off: with AQE on, each round's checkpoint splinters into one
    * BLOCKING job per exchange (stage-by-stage materialization +
    * re-optimization), and the convergence family is driver-latency
    * bound: per-round plans are a join + aggregate over an already
    * partitioned, cached edge list, so the adaptive re-planning buys
    * nothing the static plan doesn't already have — while roughly
    * doubling the per-round job count (measured r15, noop-sink runs:
    * q_kcore_converged 70→40 jobs, q_lpa_converged 76→32,
    * q_graph_bfs_converged 67→34, q_dedup_groups 29→18). The trade
    * given away is runtime skew-splitting INSIDE a round (guide §2.5 —
    * AQE skew-join only fires on sort-merge/shuffled-hash joins, which
    * these rounds only hit at real scale anyway); a loop on a skewed
    * graph that needs it checkpoints through [[matObserveKeepAqe]] or a
    * plain localCheckpoint instead. Scoped to the checkpoint EXECUTION
    * only, so declared plans, non-loop queries and the bench's timed
    * dataflows keep session AQE. */
  private def scopedNoAqe[T](spark: org.apache.spark.sql.SparkSession)(
      f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** `localCheckpoint()` under the same scoped-AQE-off policy as
    * [[matObserve]]. Adopt PER CALL SITE on measurement only: it wins
    * where every exchange in the checkpointed plan is aggregate-sized
    * and broadcast decisions hold statically (q_markov_stationary,
    * best-of-8 1.70 vs 2.85 s), but the nation-graph fixed-round loops
    * REGRESSED with it (kcore 4.92 vs 2.25, lpa_communities 4.46 vs
    * 2.69: their every-3rd-round cadence leaves two rounds of
    * un-checkpointed lineage whose static join estimates force
    * sort-merge plans AQE would have rewritten to broadcasts at
    * runtime) — those keep plain localCheckpoint under session AQE. */
  private[graft] def ckptRound(df: DataFrame): DataFrame =
    scopedNoAqe(df.sparkSession)(df.localCheckpoint())

  /** Materialize `z` AND evaluate `metric` (an aggregate over `z`'s
    * rows, e.g. `count(when($"label" =!= $"old", lit(1)))`) in the SAME
    * Spark job; returns the checkpointed frame with `dropCols` removed,
    * and the metric value.
    *
    * Runs the checkpoint with AQE scoped OFF (see [[ckptRound]]'s policy
    * note) — correct for the graph fixpoints whose round joins run on a
    * pre-partitioned persisted edge list and are never
    * broadcast-eligible (kcore/lpa/bfs converged: jobs roughly halve,
    * wall flat-to-better across five matched A/B alternations). Loops
    * whose rounds RELY on AQE's runtime broadcast conversion — the CC
    * star-contraction's label-chain self-joins, r10 adjudication in
    * Dedup.connectedComponents — must use [[matObserveKeepAqe]]
    * (re-measured r15: q_er_entity_clusters best-of-8 1.61 with AQE vs
    * 3.54 without). */
  private[graft] def matObserve(z: DataFrame, metric: Column,
      dropCols: String*): (DataFrame, Long) = {
    val name = s"it_m_${seq.incrementAndGet()}"
    val obs = z.observe(name, metric.as("n"))
    val c = scopedNoAqe(z.sparkSession)(
      DatasetBridge.localCheckpointFreshStats(obs))
    val n = obs.queryExecution.observedMetrics(name).getLong(0)
    (c.drop(dropCols: _*), n)
  }

  /** [[matObserve]] under the SESSION's AQE setting — for loop rounds
    * whose plans want runtime re-optimization (broadcast conversion of a
    * shrinking relation, post-shuffle coalescing of un-pre-partitioned
    * joins). */
  private[graft] def matObserveKeepAqe(z: DataFrame, metric: Column,
      dropCols: String*): (DataFrame, Long) = {
    val name = s"it_m_${seq.incrementAndGet()}"
    val obs = z.observe(name, metric.as("n"))
    val c = DatasetBridge.localCheckpointFreshStats(obs)
    val n = obs.queryExecution.observedMetrics(name).getLong(0)
    (c.drop(dropCols: _*), n)
  }
}

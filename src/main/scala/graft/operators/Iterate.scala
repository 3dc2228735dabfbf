package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.storage.StorageLevel

/** The one driver for iterative dataflows: PageRank, BFS relaxation,
  * label propagation, k-core peeling, the Markov chain and connected
  * components all run their rounds through [[fixpoint]].
  *
  * Each round's state is checkpointed so round N's plan does not replay
  * rounds 1..N-1. A step comes in one of two kinds:
  *
  *  - No change metric: the loop runs `maxRounds` rounds and
  *    `coalesce(1).localCheckpoint()`s the state every 3rd round and on
  *    the last. Each eager checkpoint is a full job round-trip, and three
  *    rounds of join+aggregate lineage is still well inside planner
  *    comfort: 3x fewer fixed-cost jobs for the same bounded depth.
  *  - A change metric (an aggregate over the new state's rows counting
  *    what changed): the loop runs until it reads 0 or `maxRounds`, and
  *    every round is ONE eager job. The checkpoint both materializes the
  *    rows and fills the observation's accumulators, and the driver reads
  *    the count from the finished job's metrics. At blow-up scale these
  *    loops are round-overhead-bound (the r9 probe measured the x1000
  *    embed-dedup CC DNF'ing a 2400 s wall on ~120 small jobs), so a
  *    second action per round would double the cost. This checkpoint
  *    drops the origin plan's statistics
  *    ([[DatasetBridge.localCheckpointFreshStats]]): a plain one inherits
  *    the origin's sizeInBytes, and a round that joins the state with
  *    itself raises that estimate to the ~4th power per round until the
  *    driver spends minutes in BigInteger multiplication (the other r9
  *    probe catch).
  *
  * `aqe` is the loop's AQE setting: `true` keeps the session's, `false`
  * runs the checkpoints with AQE off. With AQE on, each checkpoint
  * splinters into one blocking job per exchange. Measured at r15:
  *  - Off for the graph convergence loops: their rounds join a
  *    pre-partitioned cached edge list ([[withEdgeCache]]) and are never
  *    broadcast-eligible, so re-planning buys nothing while roughly
  *    doubling the jobs (noop-sink runs: q_kcore_converged 70→40 jobs,
  *    q_lpa_converged 76→32, q_graph_bfs_converged 67→34), and wall is
  *    flat-to-better over five matched A/B alternations.
  *  - Off for the Markov chain, where every exchange is aggregate-sized
  *    and broadcast decisions hold statically (q_markov_stationary
  *    best-of-8 1.70 vs 2.85 s).
  *  - On for the fixed-round graph loops: the two un-checkpointed rounds
  *    between cuts carry static join estimates that force sort-merge plans
  *    AQE rewrites to broadcasts at runtime (q_kcore 4.92 s without AQE
  *    vs 2.25 s with, q_lpa_communities 4.46 vs 2.69).
  *  - On for connected components: its label-chain self-joins rely on
  *    AQE's runtime broadcast conversion of the shrinking label table.
  *    AQE off halves q_dedup_groups' jobs (29→18) but loses on wall
  *    (q_er_entity_clusters best-of-8 1.61 s with AQE vs 3.54 without).
  *
  * AQE off is confined to the checkpoint's own query through a session
  * clone ([[DatasetBridge.withoutAqe]]); the shared session's conf is
  * never written, so declared plans, other threads and the final query
  * keep session AQE.
  */
object Iterate {

  /** One round's result: the next state and, for a converging loop, an
    * aggregate over its rows that counts what changed. `drop` names the
    * columns only that metric reads; they are dropped after the
    * checkpoint. */
  final case class Round(next: DataFrame, change: Option[Column] = None,
      drop: Seq[String] = Nil)

  /** A finished loop: its state, the rounds run and the last round's
    * change count (-1 when the step observes none). */
  final case class Fixpoint(state: DataFrame, rounds: Int, change: Long)

  private val CheckpointEvery = 3

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Eager `localCheckpoint()` of `df`, under the session's AQE setting
    * or with AQE off; either way a frame of `df`'s session. */
  def checkpoint(df: DataFrame, aqe: Boolean): DataFrame =
    if (aqe) df.localCheckpoint()
    else DatasetBridge.ofRows(df.sparkSession, DatasetBridge.analyzedPlan(
      DatasetBridge.withoutAqe(df).localCheckpoint()))

  /** Run `step` from `init` until its change metric reads 0 or for
    * `maxRounds` rounds. `step` gets the current state and the change
    * count the previous round observed (-1 before the first round and
    * for steps without a metric). */
  def fixpoint(init: DataFrame, maxRounds: Int, aqe: Boolean)(
      step: (DataFrame, Long) => Round): Fixpoint = {
    val spark = init.sparkSession
    var state = init
    var rounds = 0
    var change = -1L
    while (change != 0 && rounds < maxRounds) {
      val r = step(state, change)
      rounds += 1
      r.change match {
        case Some(metric) =>
          val name = s"it_m_${seq.incrementAndGet()}"
          val obs = r.next.observe(name, metric.as("n"))
          val ran = if (aqe) obs else DatasetBridge.withoutAqe(obs)
          state = DatasetBridge
            .withoutOriginStats(spark, ran.localCheckpoint())
            .drop(r.drop: _*)
          change = ran.queryExecution.observedMetrics(name).getLong(0)
        case None =>
          state =
            if (rounds % CheckpointEvery == 0 || rounds == maxRounds)
              checkpoint(r.next.coalesce(1), aqe)
            else r.next
      }
    }
    Fixpoint(state, rounds, change)
  }

  /** Run `body` over `edges` shuffled once onto `key` and cached:
    * InMemoryRelation keeps its partitioning, so each round's join
    * against the state reuses that layout and exchanges only the state.
    * The partition count is the session's shuffle partitions, so the
    * join's requirement matches exactly. The cache is released in a
    * finally because the loops' `require`s and any failed job leave by
    * exception, and a return-path-only unpersist would leak the
    * MEMORY_AND_DISK blocks into every later query of the JVM. `body`
    * must return checkpointed frames, not lineage over the cache. */
  def withEdgeCache[T](edges: DataFrame, key: String)(body: DataFrame => T): T = {
    val cached = edges
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions,
        col(key))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(cached)
    finally cached.unpersist(false)
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Spark 4 keeps `Dataset.ofRows` and `Dataset.logicalPlan`
  * `private[sql]`. Building a DataFrame over a custom LogicalPlan (the
  * supported extension path for whole-operator semantics) needs both, so
  * this bridge exposes them from an `org.apache.spark.sql` subpackage —
  * same pattern as [[ColumnBridge]], no Spark internals modified.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** `localCheckpoint()` that also DROPS the origin plan's statistics.
    *
    * `Dataset.localCheckpoint` truncates lineage but copies the
    * checkpointed plan's `Statistics` into the resulting `LogicalRDD`
    * (`originStats`, kept so broadcast decisions survive the cut). For
    * ITERATED checkpoints whose plan joins the previous round's
    * checkpoint with itself — connected components' pointer-jumping
    * `label(label(n))` self-join — that inheritance is an exponential
    * trap: `SizeInBytesOnlyStatsPlanVisitor.visitJoin` estimates a join
    * as the PRODUCT of its children's sizeInBytes, so round N's stats
    * are ~(round N−1)⁴ and the BigInteger's bit-length QUADRUPLES per
    * round. By round ~15 sizeInBytes has ~10⁸ digits and every round's
    * planning spends MINUTES of driver CPU inside Toom-Cook
    * multiplication (jstack: `BigInteger.multiplyToomCook3` under
    * `visitJoin`, all executors idle) — the r9 scale probe measured the
    * 10× embed-dedup corpus DNF'ing at a 900 s wall on 42M candidate
    * pairs of actual work. Dropping `originStats` resets each round's
    * leaves to `defaultSizeInBytes`, so per-round stats are a bounded
    * product of a few Long-sized terms forever; the loop's joins are
    * key-partitioned exchanges either way (never broadcast-eligible), so
    * plan CHOICE is unchanged.
    */
  def localCheckpointFreshStats(df: DataFrame): DataFrame =
    withoutOriginStats(df.sparkSession, df.localCheckpoint())

  /** The checkpoint `ck` as a frame of `spark` with its origin plan's
    * statistics dropped (see [[localCheckpointFreshStats]]). `ck` may
    * come from another session, such as [[withoutAqe]]'s clone. */
  def withoutOriginStats(spark: SparkSession, ck: DataFrame): DataFrame =
    ck.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(
          s, lr.copy()(session = s, originStats = None, originConstraints = None))
      case _ => ck
    }

  /** `df`'s plan as a frame of a clone of its session whose conf has AQE
    * off, so an action on it runs without AQE while the shared session
    * and every other thread keep theirs. A thread-local conf
    * (`SQLConf.withExistingConf`) is not enough: `InsertAdaptiveSparkPlan`
    * reads the query's session conf, not `SQLConf.get`.
    *
    * The clone is reused while its parent's conf and extra planner rules
    * stay the same. Each session runs its jobs under its own artifact
    * state, so a fresh clone per checkpoint paid a new executor-side
    * session every loop round (q_kcore_converged 6.8 s → 10.3 s, median
    * of four runs at sf0.01 on 4 cores). */
  def withoutAqe(df: DataFrame): DataFrame = {
    val parent = df.sparkSession.asInstanceOf[classic.SparkSession]
    val key = (parent.sessionState.conf.getAllConfs,
      parent.experimental.extraOptimizations, parent.experimental.extraStrategies)
    val clone = lastClone match {
      case (p, k, c) if (p eq parent) && k == key => c
      case _ =>
        val c = parent.cloneSession()
        c.sessionState.conf.setConf(
          org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
        lastClone = (parent, key, c)
        c
    }
    classic.Dataset.ofRows(clone, df.queryExecution.analyzed)
  }

  @volatile private var lastClone: (classic.SparkSession, Any, classic.SparkSession) =
    (null, null, null)
}

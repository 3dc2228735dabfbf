package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{MinBy, Partial}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import graft.operators.Pipeline

/** Pins for the r15 exact-dup keeper (Pipeline.cleanedDocsOf): one
  * min_by aggregate on the content hash — partial-aggregated so a
  * mega-clique of exact duplicates is crushed per map task BEFORE the
  * exchange, never assembled in one window/task (the r14 verdict's
  * 100 TB skew hazard #1). */
class PipelineKeeperSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Aggregate nodes that run `min_by` in Partial mode (map side, before
    * the exchange), searched through AQE's current plan and its
    * subqueries. */
  private def partialMinBys(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial && e.aggregateFunction.isInstanceOf[MinBy]) => a
    }

  /** Window operators of any kind. */
  private def windows(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) {
      case w: WindowExecBase => w
      case w: WindowGroupLimitExec => w
    }

  // a quality-gate-passing text: >=100 chars, high distinct-word ratio
  private val base: String =
    (1 to 30).map(i => s"tok$i").mkString(" ")

  test("mega-clique of exact dups keeps exactly min doc_id, via partial aggregation, no window") {
    val clique = (100L until 2100L).map(id => (id, base, "en", base.length))
    val uniques = Seq(
      (1L, base + " extraone", "en", base.length + 9),
      (2L, base + " extratwo", "de", base.length + 9))
    val docs = (clique ++ uniques)
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = Pipeline.cleanedDocsOf(docs)
    val rows = out.select($"doc_id").as[Long].collect().sorted
    assert(rows === Array(1L, 2L, 100L),
      "keeper must emit min doc_id per content hash and all uniques")
    // executed-plan shape: the keeper is a partial+final min_by aggregate
    // (clique reduced to one buffered row per map task before the
    // exchange) and there is NO window operator anywhere in the keeper
    val p = out.queryExecution.executedPlan
    assert(partialMinBys(p).nonEmpty,
      s"keeper must partial-aggregate before its exchange:\n$p")
    assert(windows(p).isEmpty,
      s"keeper must not plan a window over the content hash:\n$p")
  }

  test("clean-corpus pipeline plans the keeper without any window over md5(text)") {
    val df = SparkEntry.queries("q_pipeline_clean_corpus")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan
    assert(partialMinBys(p).nonEmpty, s"expected partial min_by keeper:\n$p")
    assert(windows(p).isEmpty,
      s"clean corpus must have no window operator (keeper was the only one):\n$p")
  }

  test("keeper output matches the groupBy + semi-join reference shape") {
    // random-ish corpus with duplicate texts across several hashes
    val docs = (0L until 300L)
      .map { id =>
        val t = base + " grp" + (id % 7)
        (id, t, if (id % 2 == 0) "en" else "fr", t.length)
      }
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = Pipeline.cleanedDocsOf(docs)
      .select($"doc_id", $"lang", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val keep = docs.groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
    val want = docs.join(keep, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"lang", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === want)
  }
}

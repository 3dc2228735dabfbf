package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan guardrails: the properties that make these queries
  * viable at 100 TB — pushdown, pruning, broadcast choice, top-k
  * plans — asserted on the actual executed plans so a refactor cannot
  * silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("q6: filters are pushed to the parquet scan and columns pruned") {
    val p = plan(q("q6_selective_filter"))
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    // non-empty PushedFilters (the node string truncates the full list)
    assert(scanLine.contains("PushedFilters: [IsNotNull"), scanLine)
    // column pruning: the scan's projected column list is the first
    // bracket — only the 4 referenced columns may appear
    assert(
      !scanLine.contains("l_orderkey") && !scanLine.contains("l_tax") &&
        !scanLine.contains("l_returnflag"),
      s"scan must prune unused columns: $scanLine")
    assert(scanLine.contains("l_shipdate") && scanLine.contains("l_discount"))
  }

  test("q5 star join broadcasts every dimension") {
    val p = plan(q("q5_star_join"))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"supplier/nation/region must broadcast, got $broadcasts:\n$p")
  }

  test("q3: small filtered dimension is broadcast, not shuffled") {
    val p = plan(q("q3_join_topk"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1 aggregation is partial (map-side combine before the exchange)") {
    val p = plan(q("q1_agg"))
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expect partial+final HashAggregate, got $aggs")
  }

  test("top-k sorts plan as TakeOrderedAndProject, not a global sort") {
    val p = plan(q("q_sort_limit"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("similarity scoring stays inside whole-stage codegen") {
    // in the adaptive final-plan string codegen spans print as `*(n)`;
    // the projection computing the native dot product must carry one
    val p = plan(q("q_cosine_knn"))
    val dotLine = p.linesIterator.find(_.contains("floatvectordot"))
    assert(dotLine.isDefined, s"native dot expected in plan:\n$p")
    assert(dotLine.get.trim.contains("*("), s"dot projection not codegen'd: ${dotLine.get}")
  }

  test("gauge prefix sum never single-partitions ANY rows") {
    // the naive Window.orderBy (no partitionBy) funnels every event
    // through ONE task; the broadcast-join offsets form removes even the
    // aggregate-sized single-partition window the earlier two-phase form
    // carried. Assert there is NO SinglePartition exchange and every
    // Window in the plan declares a partition spec.
    val p = plan(q("q_events_gauge"))
    assert(!p.contains("Exchange SinglePartition"),
      s"gauge plan must not single-partition anything:\n$p")
  }

  test("grouped top-k plans WindowGroupLimit (rank pushdown, not full sort)") {
    // rank()<=k over a window must trigger InferWindowGroupLimit: each
    // partition keeps only k rows per group BEFORE the shuffle, so the
    // window's exchange carries O(groups*k) of its input rows (here the
    // hourly aggregates feeding the window, not raw events)
    val p = plan(q("q_topk_per_hour"))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
  }

  test("capped jaccard still reuses the postings exchange across branches") {
    // the DF-cap anti-join must not break exchange reuse: the exploded,
    // shingle-partitioned postings pipeline feeds the hot-shingle groupBy,
    // both self-join sides, and the per-doc count — recomputing it per
    // branch would quadruple the explode at 100 TB
    val p = plan(q("q_dedup_ngram_jaccard"))
    val reused = "ReusedExchange".r.findAllIn(p).length
    assert(reused >= 1, s"expected ReusedExchange in:\n$p")
  }

  test("shingle dedup has no distinct exchange before the postings join") {
    // array_distinct replaced the (doc_id, shingle) distinct shuffle;
    // the only exchanges should be for the join/groupBys themselves
    val p = plan(q("q_dedup_simhash"))
    // the old shape was HashAggregate(keys=[doc_id, s]) — a full
    // (doc_id, shingle) distinct; only the keys=[doc_id] signature
    // aggregation should remain
    assert(
      !("HashAggregate\\(keys=\\[doc_id#\\d+L?, s#".r.findFirstIn(p).isDefined),
      "distinct on (doc_id, shingle) must not reappear")
  }

  test("vocab OOV joins the token stream against a BROADCAST vocabulary") {
    // the V-row vocabulary must broadcast — shuffling the token stream
    // by word to meet it would be a corpus-sized exchange at 100 TB
    val p = plan(q("q_vocab_oov"))
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).isDefined,
      s"expected broadcast vocab join in:\n$p")
  }

  test("grouping sets fan out via Expand below ONE aggregation exchange") {
    val p = plan(q("q_grouping_sets"))
    assert("Expand".r.findFirstIn(p).isDefined, s"expected Expand in:\n$p")
    // partial + final HashAggregate around a single hash exchange — the
    // grouping-set fan-out happens map-side, before the shuffle
    assert("partial_sum|partial_count".r.findFirstIn(p).isDefined,
      s"expected partial aggregation in:\n$p")
  }

  test("training-mix pipeline plans no nested-loop or cartesian joins") {
    // quality gate + hash-predicate sampling are narrow; the dedup
    // group-by and packing window are the only wide ops — any BNLJ or
    // cartesian here means the sampling predicate leaked into a join
    val p = plan(q("q_pipeline_training_mix"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"unexpected non-equi join in:\n$p")
  }

  private def finalPlan(p: String): String =
    p.split("== Initial Plan ==").head

  test("substring dedup: one window pass, no join, no dup-set broadcast") {
    // the dup flag must come from COUNT OVER (PARTITION BY h) on the one
    // hashed window stream — an aggregate + join-back would broadcast or
    // shuffle the duplicate-hash set, which is corpus-sized worst-case
    val p = finalPlan(plan(q("q_substring_dedup")))
    assert("Generate posexplode".r.findAllIn(p).length === 1,
      s"window Generate must run exactly once in:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
    assert(!p.contains("BroadcastExchange"), s"no broadcast either:\n$p")
  }

  test("cross-entropy: word split materializes before the bigram lambda") {
    // words() inlined into the shingle transform re-splits the text for
    // every element_at — O(n²) per document (8.7s → 1.9s at sf0.1)
    val p = finalPlan(plan(q("q_doc_cross_entropy")))
    p.linesIterator.filter(_.contains("Generate explode")).foreach { g =>
      assert(!g.contains("element_at(split("),
        s"split() must not be inlined into element_at:\n$g")
    }
    // both model relations (bigram counts, head totals) broadcast — the
    // document bigram stream must never shuffle by token at 100 TB
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2,
      s"expected 2 broadcast model joins in:\n$p")
  }

  test("rag chunking is a narrow Generate with no word-split re-inline") {
    val p = finalPlan(plan(q("q_rag_chunks")))
    p.linesIterator.filter(_.contains("Generate explode")).foreach { g =>
      assert(!g.contains("slice(split("),
        s"split() must not be re-inlined into each chunk slice:\n$g")
    }
    // narrow until the final presentation sort: no hash exchange at all
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"chunking must not shuffle in:\n$p")
  }

  test("weighted sample lowers to per-partition top-k, not a global sort") {
    val p = finalPlan(plan(q("q_weighted_sample")))
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY key LIMIT k must plan as TakeOrderedAndProject:\n$p")
  }

  test("gopher rules fuse into the scan: no join, no aggregate exchange") {
    // five integer rules are a pure projection — only the presentation
    // sort may exchange
    val p = finalPlan(plan(q("q_gopher_rules")))
    assert(!p.contains("Join"), s"rule filter needs no join:\n$p")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"rule filter must not hash-shuffle:\n$p")
  }

  test("random projection is one narrow pass: literal signs, no join") {
    // the 16x64 sign matrix is folded into the plan as a literal nested
    // array, so there is no model relation to join or broadcast
    val p = finalPlan(plan(q("q_embed_project")))
    assert(!p.contains("Join"), s"projection needs no model join:\n$p")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"projection must not hash-shuffle:\n$p")
  }

  test("batch padding plans partial aggregation before its one exchange") {
    val p = finalPlan(plan(q("q_batch_padding")))
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"only the band aggregate may shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"band counts must combine map-side:\n$p")
  }

  test("mix budget broadcasts its 1-row totals; corpus scans once") {
    val p = finalPlan(plan(q("q_mix_budget")))
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p).nonEmpty,
      s"totals must broadcast:\n$p")
    // the per-source wordcount subtree must be computed once and reused
    assert(p.contains("ReusedExchange") ||
      "FileScan parquet".r.findAllIn(p).length === 1,
      s"corpus must scan once via exchange reuse:\n$p")
  }

  test("source overlap self-joins the shingle stream on one reused exchange") {
    // the distinct (source, shingle) relation is planted once on the
    // shingle key; the pair join's second branch must read that exchange,
    // not recompute the corpus scan
    val p = finalPlan(plan(q("q_source_overlap")))
    assert(p.contains("ReusedExchange"),
      s"self-join must reuse the shingle exchange:\n$p")
    // denominators are |sources| rows — broadcast, never shuffled wide
    assert(p.contains("BroadcastHashJoin"),
      s"per-source counts must broadcast:\n$p")
  }

  test("dedup group stats: aggregate-sized rollups, no global window") {
    val p = finalPlan(plan(q("q_dedup_group_stats")))
    assert(!p.contains("Window"),
      s"histogram must come from aggregates, not windows:\n$p")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findFirstIn(p).isDefined,
      s"the 1-row corpus total must broadcast:\n$p")
  }

  test("vocab coverage takes the top-1000 via per-partition heaps, no window") {
    // the vocab relation is unbounded at scale; only the ≤1000-row
    // post-limit slice may be ranked, and that via boundedRank (joins),
    // never a WindowExec
    val p = finalPlan(plan(q("q_vocab_coverage")))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1000 must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window ["),
      s"vocab coverage must not plan a WindowExec:\n$p")
  }

  test("kmeans step broadcasts centroids; corpus is never re-shuffled") {
    // both the seed assignment and the re-assignment are broadcast joins
    // of k centroid rows against the embedding scan; the (cid, dim) mean
    // must aggregate map-side (partial) before its k·64-row exchange
    val p = finalPlan(plan(q("q_kmeans_step")))
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected broadcast centroid joins in:\n$p")
    assert(p.contains("partial_avg"),
      s"(cid,dim) means must combine map-side in:\n$p")
  }

  test("bounded ranks never plan a single-partition window (Spark 4 folds lit keys)") {
    // Spark 4's EliminateWindowPartitions folds a literal partitionBy key
    // away, so the old partitionBy(lit(0)) "silencing" produced a real
    // partition-less WindowExec: for q_bpe_merge_step that funneled the
    // whole symbol-pair vocabulary through ONE task. The post-limit
    // boundedRank form must plan ZERO WindowExec nodes in all three
    // former lit(0) sites. (Global 1-row aggregates still legitimately
    // plan an aggregate-sized Exchange SinglePartition — partial
    // aggregation upstream means only group rows transit it.)
    for (name <- Seq("q_bpe_merge_step", "q_weighted_sample",
        "q_temperature_mix")) {
      val p = finalPlan(plan(q(name)))
      assert(!p.contains("Window ["),
        s"$name still plans a WindowExec:\n$p")
    }
  }

  test("quality classifier plans zero joins and zero broadcasts") {
    // the hashing trick means NO model relation exists at all — the whole
    // scorer is scan → explode → per-doc aggregate
    val p = finalPlan(plan(q("q_quality_classifier")))
    assert(!p.contains("Join"), s"hashed scorer needs no join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"only the per-doc aggregate may shuffle in:\n$p")
  }

  test("ngram novelty shares the postings exchange between agg and join") {
    // first-owner aggregate and ownership join read the SAME
    // shingle-partitioned stream; recomputing the explode per branch
    // would double the dominant cost at 100 TB
    val p = plan(q("q_ngram_novelty"))
    assert("ReusedExchange".r.findAllIn(p).length >= 1,
      s"expected ReusedExchange in:\n$p")
  }

  test("dsir weights broadcast the bucket models, never shuffle by token") {
    // the 1024-row bucket table must come back as a broadcast; the token
    // stream itself may only shuffle for the per-doc aggregate
    val p = finalPlan(plan(q("q_dsir_weights")))
    assert(p.contains("BroadcastHashJoin"),
      s"bucket model must broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing may sort-merge join in:\n$p")
  }

  test("embed outliers broadcast centroids and the per-cell cuts") {
    val p = finalPlan(plan(q("q_embed_outliers")))
    assert(!p.contains("SortMergeJoin"),
      s"centroids and cuts are aggregate-sized; no sort-merge join in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected broadcast joins in:\n$p")
  }

  test("cluster silhouette broadcasts the k centroids, never sort-merges") {
    val p = finalPlan(plan(q("q_cluster_silhouette")))
    assert(!p.contains("SortMergeJoin"),
      s"centroid side is k rows; no sort-merge join in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected broadcast centroid join in:\n$p")
  }

  test("hard negatives broadcast the query side, never sort-merge") {
    val p = finalPlan(plan(q("q_hard_negatives")))
    assert(!p.contains("SortMergeJoin"),
      s"query side is 3 rows; no sort-merge join in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected broadcast query join in:\n$p")
  }

  test("fuzzy linkage: length blocking plans as a broadcast EQUI-join") {
    // the length block is written as a join condition, but Catalyst must
    // recognize length(a) = length(b) as an equi-key: a BroadcastHashJoin
    // keyed on the lengths, never a cartesian scoring of dirty x master
    val p = finalPlan(plan(q("q_er_fuzzy_match")))
    assert(p.contains("BroadcastHashJoin [length("), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("blocklist screen is a pure scan: no join, no aggregate exchange") {
    val p = finalPlan(plan(q("q_blocklist_filter")))
    assert(!p.contains("Join"), p)
    // the only exchange is the deterministic output ordering
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("hamming ANN broadcasts the query side; corpus is never shuffled") {
    val p = finalPlan(plan(q("q_ann_hamming")))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("kmv source-jaccard aggregates partially before its one exchange") {
    // the kmv sketch is a TypedImperativeAggregate: partial buffers must
    // combine map-side (ObjectHashAggregate partial + final), shipping
    // <= k longs per partial — the whole point of the sketch
    val p = finalPlan(plan(q("q_kmv_source_jaccard")))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("boilerplate strip joins the df-filtered template set by broadcast") {
    // at sf0.001 no chunk reaches the df threshold and AQE folds the
    // empty build side into a null projection — equally scale-correct;
    // what must NEVER appear is a shuffled (sort-merge) template join
    val p = finalPlan(plan(q("q_boilerplate_strip")))
    assert(
      p.contains("BroadcastHashJoin") || p.contains("AS b_chunk"),
      p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bm25 takes its top-10 via per-partition heaps, not a global sort") {
    val p = plan(q("q_bm25_retrieval"))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the query-term filter must reach the token pipeline before the
    // (doc, term) aggregate — no corpus-wide tf aggregate
    assert(!p.contains("Exchange SinglePartition") || p.contains("TakeOrdered"), p)
  }

  test("bloom semijoin never shuffles the probe side into a sort-merge join") {
    val p = finalPlan(plan(q("q_bloom_semijoin")))
    assert(!p.contains("SortMergeJoin"),
      s"all bloom/exact sides are aggregate-sized broadcasts:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval concurrency prefix sum never single-partitions rows") {
    val p = plan(q("q_interval_concurrency"))
    assert(!p.contains("Exchange SinglePartition"),
      s"sweep line must stay two-phase:\n$p")
  }

  test("column profile runs its multi-distinct via ONE Expand over one scan") {
    val p = plan(q("q_column_profile"))
    assert("Expand".r.findAllIn(p).length >= 1, p)
    assert("FileScan parquet".r.findAllIn(finalPlan(p)).length === 1,
      s"profile must scan the table once:\n$p")
  }

  test("market basket joins baskets on the order key, never a cartesian") {
    val p = finalPlan(plan(q("q_market_basket")))
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay keyed on the order:\n$p")
    // supports and totals ride broadcasts, the pair join is the only
    // fact-sized exchange
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c-tf-idf pushes its rank<=5 below the window exchange") {
    val p = plan(q("q_ctfidf_terms"))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"expected partial+final WindowGroupLimit in:\n$p")
  }

  test("naive bayes: model rides broadcasts, no cartesian, no sort-merge") {
    val p = finalPlan(plan(q("q_naive_bayes")))
    assert(!p.contains("CartesianProduct"),
      s"hypothesis fan-out must be a broadcast of the |langs| relation:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length +
      "BroadcastNestedLoopJoin".r.findAllIn(p).length >= 2,
      s"model and priors must broadcast against the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the predict path:\n$p")
  }

  test("skipgram: the position band join stays keyed on the document") {
    val p = finalPlan(plan(q("q_skipgram_cooc")))
    assert(!p.contains("CartesianProduct"),
      s"pair extraction must equi-join on doc_id:\n$p")
  }

  test("graph loops (bfs, lpa) never plan a cartesian product") {
    for (name <- Seq("q_graph_bfs", "q_lpa_communities")) {
      val p = finalPlan(plan(q(name)))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("prf and ndcg take their top-k via per-partition heaps") {
    for (name <- Seq("q_bm25_prf", "q_ndcg")) {
      val p = plan(q(name))
      assert(p.contains("TakeOrderedAndProject"),
        s"$name must lower its top-k to heaps:\n$p")
    }
  }

  test("NO query plans a partition-less window (all-to-one funnel)") {
    // a Window with an empty partitionSpec moves the whole input to one
    // task — the r5 scale-killer class; assert the entire registry is
    // clean at the optimized-plan level (cheap: no execution)
    val offenders = SparkEntry.allDefs.flatMap { qd =>
      val lp = qd.fn(spark, sf).queryExecution.optimizedPlan
      val bad = lp.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(qd.name) else None
    }
    assert(offenders.isEmpty,
      s"global windows in: ${offenders.mkString(", ")}")
  }
}

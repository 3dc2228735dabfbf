package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.words
import graft.operators.CorpusOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relations derived from the warehouse —
  * the dataflow family where the plan is a LOOP of join+aggregate rounds
  * (companion to [[Dedup.connectedComponents]]' min-label propagation).
  *
  * Scale design (100 TB): each PageRank round is one equi-join of the
  * edge relation against the current rank vector (both hash-partitioned
  * on the join key — on a real cluster the edge side is pre-partitioned
  * once and every round reuses its layout) plus an O(nodes) aggregate;
  * the dangling-mass and node-count terms are 1-row broadcasts. Ranks
  * are checkpointed every 3rd round by [[Iterate.fixpoint]] so the
  * lineage stays bounded.
  */
object GraphOps {

  /** Damping factor and iteration count (Page et al. 1999 defaults). */
  val Damping = 0.85
  val PrIters = 10

  /** One PageRank power-iteration step as a pure dataflow:
    * pr'(v) = (1-d)/N + d·(Σ_{u→v} pr(u)·p(u,v) + dangling/N).
    * `srcs` is None when the graph was detected dangling-free — then the
    * dangling term is the LITERAL 0.0 (bit-identical to the oracle's
    * empty-sum coalesce) and the round plans no anti-join and no 1-row
    * broadcast, halving the per-round job count. */
  private[operators] def pagerankStep(
      nodes: DataFrame, // (node)
      enorm: DataFrame, // (src, dst, p) with Σ_dst p = 1 per src
      srcs: Option[DataFrame], // distinct (src); None = no dangling nodes
      n: Long, // node count (aggregate-sized, driver-held)
      pr: DataFrame): DataFrame = { // (node, pr)
    val contrib = enorm
      .join(pr, pr("node") === enorm("src"))
      .groupBy(col("dst"))
      .agg(sum(col("pr") * col("p")).as("cin"))
    val joined = nodes
      .join(contrib, nodes("node") === contrib("dst"), "left")
    val withDang = srcs match {
      case Some(sr) =>
        joined.crossJoin(broadcast(pr
          .join(sr, pr("node") === sr("src"), "left_anti")
          .agg(coalesce(sum(col("pr")), lit(0.0)).as("dang"))))
      case None => joined.withColumn("dang", lit(0.0))
    }
    withDang.select(
      nodes("node"),
      (lit((1.0 - Damping) / n) +
        lit(Damping) *
        (coalesce(col("cin"), lit(0.0)) + col("dang") / lit(n.toDouble)))
        .as("pr"))
  }

  /** The damped power-iteration rounds as generated MATERIALIZED CTEs —
    * shared by every PageRank-family oracle. Expects CTEs `en(src, dst,
    * p)` (out-normalized edges), `n(node)`, `nn(cnt)`, and `r0(node,
    * pr)` to be in scope; materialization is required or DuckDB inlines
    * each r_k into its ~3 consumers and the expansion is 3^iters. */
  private def prItersSql(iters: Int): String =
    (0 until iters)
      .map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT coalesce(sum(pr), 0.0) AS dang FROM r$k
           |  WHERE node NOT IN (SELECT src FROM en)),
           |r${k + 1} AS MATERIALIZED (
           |  SELECT n.node,
           |         ${1.0 - Damping} / (SELECT cnt FROM nn)
           |         + $Damping * (coalesce(c.cin, 0.0)
           |             + (SELECT dang FROM d$k) / (SELECT cnt FROM nn))
           |           AS pr
           |  FROM n LEFT JOIN (
           |    SELECT en.dst AS node, sum(r$k.pr * en.p) AS cin
           |    FROM en JOIN r$k ON r$k.node = en.src
           |    GROUP BY en.dst) c ON c.node = n.node)""".stripMargin
      }
      .mkString(",\n")

  /** The same rounds as a Spark loop over (node, pr) DataFrames. The
    * dangling test runs ONCE (one aggregate-sized count): graphs whose
    * every node has out-edges (both registered graph queries — trade
    * flows and symmetrized co-occurrence) skip the dangling dataflow in
    * every round. */
  private def prIterate(
      nodes: DataFrame, enorm: DataFrame, n: Long,
      iters: Int): DataFrame = {
    val srcsDf = enorm.select(col("src")).distinct()
      .coalesce(1).localCheckpoint()
    val hasDangling = nodes
      .join(srcsDf, nodes("node") === srcsDf("src"), "left_anti")
      .limit(1).count() > 0
    val srcs = if (hasDangling) Some(srcsDf) else None
    val pr0 = nodes
      .select(col("node"), lit(1.0 / n).as("pr"))
      .coalesce(1).localCheckpoint()
    Iterate.fixpoint(pr0, iters, aqe = true) { (pr, _) =>
      Iterate.Round(pagerankStep(nodes, enorm, srcs, n, pr))
    }.state
  }

  /** Weighted PageRank over the nation-level trade graph: an edge
    * cust-nation → supp-nation per lineitem (via orders/customer/
    * supplier), weight = lineitem count; 10 damped power iterations
    * from the uniform vector. The corpus-scale work is the one-time
    * edge extraction (the 3-way join + group-by); the iteration then
    * runs on the aggregated graph. The oracle unrolls the same 10
    * rounds as generated CTEs — identical constants, identical
    * operation order, so the doubles agree to well inside the
    * 6-decimal rounding. */
  val qPagerank = QueryDef.sql(
    "q_pagerank", {
      val iters = prItersSql(PrIters)
      s"""WITH e AS MATERIALIZED (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         |         count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |ow AS MATERIALIZED (SELECT src, sum(w) AS wout FROM e GROUP BY src),
         |en AS MATERIALIZED (SELECT e.src, e.dst, e.w * 1.0 / ow.wout AS p
         |       FROM e JOIN ow USING (src)),
         |n AS MATERIALIZED (SELECT n_nationkey AS node, n_name FROM nation),
         |nn AS MATERIALIZED (SELECT count(*) AS cnt FROM n),
         |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT cnt FROM nn) AS pr FROM n),
         |$iters
         |SELECT n.n_name AS nation, round(r.pr, 6) AS pagerank
         |FROM r$PrIters r JOIN n ON n.node = r.node
         |ORDER BY nation""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val edges = Tables
      .lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
    val ow = edges.groupBy($"src").agg(sum($"w").as("wout"))
    // the aggregated graph is O(|nations|²) — checkpoint once so the 10
    // rounds iterate on it without replaying the corpus joins
    val enorm = edges
      .join(ow, "src")
      .select($"src", $"dst", ($"w" * lit(1.0) / $"wout").as("p"))
      .coalesce(1).localCheckpoint()
    val nodes = Tables.nation(s, d).select($"n_nationkey".as("node"))
    val pr = prIterate(nodes, enorm, nodes.count(), PrIters)
    Tables
      .nation(s, d)
      .join(pr, $"n_nationkey" === $"node")
      .select($"n_name".as("nation"), round($"pr", 6).as("pagerank"))
      .orderBy($"nation")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Texts"): PageRank over the corpus-wide word
    * co-occurrence graph — nodes are words, an undirected edge per
    * ADJACENT word pair weighted by its corpus count — surfacing the
    * words that sit at the center of the corpus' phrase structure
    * (versus raw frequency). Top 20 by rank.
    *
    * Scale: the bigram extraction is the corpus-scale pass (one narrow
    * explode + count shuffle — the same exchange shape as the PMI
    * miner); the iteration then runs on the vocabulary-sized graph,
    * which is exactly how TextRank behaves at 100 TB (vocab grows
    * ~log-linearly, not with the corpus). */
  val qTextrankKeywords = QueryDef.sql(
    "q_textrank_keywords", {
      val iters = prItersSql(PrIters)
      s"""WITH t AS MATERIALIZED (
         |  SELECT string_split_regex(trim(text), ' +') AS w FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT unnest([{'a': w[i], 'b': w[i+1]}
         |                 for i in range(1, len(w))]) AS p
         |  FROM t WHERE len(w) >= 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS wt FROM (
         |    SELECT p.a AS src, p.b AS dst FROM bg
         |    UNION ALL
         |    SELECT p.b, p.a FROM bg)
         |  GROUP BY src, dst),
         |ow AS MATERIALIZED (SELECT src, sum(wt) AS wout FROM e GROUP BY src),
         |en AS MATERIALIZED (SELECT e.src, e.dst, e.wt * 1.0 / ow.wout AS p
         |       FROM e JOIN ow USING (src)),
         |n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |nn AS MATERIALIZED (SELECT count(*) AS cnt FROM n),
         |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT cnt FROM nn) AS pr FROM n),
         |$iters
         |SELECT node AS word, round(pr, 6) AS textrank,
         |       CAST(rnk AS INT) AS rnk
         |FROM (
         |  SELECT node, pr,
         |         row_number() OVER (ORDER BY round(pr, 6) DESC, node) AS rnk
         |  FROM r$PrIters)
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val bigrams = Tables
      .documents(s, d)
      .select(words($"text").as("w"))
      .filter(size($"w") >= 2)
      .select(explode(
        transform(
          sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("a"),
            element_at($"w", i + 1).as("b")))).as("p"))
    val edges = bigrams
      .select($"p.a".as("src"), $"p.b".as("dst"))
      .unionAll(bigrams.select($"p.b".as("src"), $"p.a".as("dst")))
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("wt"))
    val ow = edges.groupBy($"src").agg(sum($"wt").as("wout"))
    val enorm = edges
      .join(ow, "src")
      .select($"src", $"dst", ($"wt" * lit(1.0) / $"wout").as("p"))
      .coalesce(1).localCheckpoint()
    val nodes = enorm.select($"src".as("node")).distinct()
      .coalesce(1).localCheckpoint()
    val pr = prIterate(nodes, enorm, nodes.count(), PrIters)
    // top-20 via orderBy+limit (per-partition heaps, no vocab-sized
    // global window), then 1..20 rank over the survivors
    val top = pr
      .select($"node", round($"pr", 6).as("textrank"))
      .orderBy($"textrank".desc, $"node")
      .limit(20)
    CorpusOps
      .boundedRank(top, struct((-$"textrank").as("nt"), $"node"), "rnk")
      .select($"node".as("word"), $"textrank", $"rnk")
      .orderBy($"rnk")
  }

  /** The undirected strong-trade graph behind the nation-graph audits
    * (triangles, BFS, LPA, assortativity, k-core): lineitem counts per
    * cust-nation → supp-nation pair, kept above the mean pair weight,
    * self-loops dropped, collapsed to one (a < b) row per pair.
    * [[strongTradeSql]] is the same relation as oracle CTEs `e`, `m`,
    * `und`. Not materialized: each query cuts lineage where it reuses
    * the graph. The oracle's `e` is MATERIALIZED: inlined into every
    * `und` reference, DuckDB spilled over 20 GB of temp storage on
    * q_triangle_count and q_assortativity at sf0.1. */
  private def strongTradeUnd(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables
      .lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
    val m = e.agg(avg($"w").as("mw"))
    e.crossJoin(broadcast(m))
      .filter($"w" > $"mw" && $"src" =!= $"dst")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
  }

  private def strongTradeSql: String =
    """e AS MATERIALIZED (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |m AS (SELECT avg(w) AS mw FROM e),
      |und AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e CROSS JOIN m WHERE w > mw AND src <> dst)""".stripMargin

  /** Triangle counting + local clustering coefficient over the nation
    * trade graph — the community-density audit beside [[qPagerank]]'s
    * centrality: directed trade edges are aggregated from the corpus,
    * thresholded to the above-average-weight "strong" partners,
    * collapsed to undirected (a < b) form, and each node reports its
    * strong-degree, triangle membership, and clustering coefficient
    * 2T/(deg·(deg−1)).
    *
    * Scale: the corpus-scale pass is the same edge aggregation PageRank
    * pays (one shuffle to O(|nations|²) rows); triangle enumeration is
    * the classic ordered three-way self-join (a < b < c, so each
    * triangle counts exactly once) on the AGGREGATED edge list — at
    * web-graph scale that join runs on the thresholded edge relation,
    * never the raw corpus. */
  val qTriangleCount = QueryDef.sql(
    "q_triangle_count",
    s"""WITH $strongTradeSql,
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY node),
      |tri AS (
      |  SELECT t1.a AS x, t1.b AS y, t2.b AS z
      |  FROM und t1
      |  JOIN und t2 ON t2.a = t1.b
      |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b),
      |tn AS (
      |  SELECT node, count(*) AS n_tri FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY node)
      |SELECT n.n_name AS nation,
      |       CAST(deg.deg AS BIGINT) AS strong_degree,
      |       CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
      |       round(CASE WHEN deg.deg >= 2
      |                  THEN 2.0 * coalesce(tn.n_tri, 0) / (deg.deg * (deg.deg - 1))
      |                  ELSE 0.0 END, 4) AS clustering
      |FROM deg
      |JOIN nation n ON n.n_nationkey = deg.node
      |LEFT JOIN tn ON tn.node = deg.node
      |ORDER BY nation""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val und = strongTradeUnd(s, d)
      .coalesce(1).localCheckpoint() // aggregate-sized; reused three ways
    val deg = und.select($"a".as("node"))
      .unionAll(und.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val t1 = und.select($"a".as("x"), $"b".as("y"))
    val t2 = und.select($"a".as("y2"), $"b".as("z2"))
    val t3 = und.select($"a".as("x3"), $"b".as("z3"))
    val tri = t1
      .join(t2, $"y2" === $"y")
      .join(t3, $"x3" === $"x" && $"z3" === $"z2")
      .select($"x", $"y", $"z2".as("z"))
    val tn = tri.select($"x".as("node"))
      .unionAll(tri.select($"y".as("node")))
      .unionAll(tri.select($"z".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    deg
      .join(Tables.nation(s, d), $"n_nationkey" === $"node")
      .join(tn, Seq("node"), "left")
      .select(
        $"n_name".as("nation"),
        $"deg".cast("long").as("strong_degree"),
        coalesce($"n_tri", lit(0L)).cast("long").as("n_triangles"),
        round(
          when($"deg" >= 2,
            lit(2.0) * coalesce($"n_tri", lit(0L)) /
              ($"deg" * ($"deg" - 1)))
            .otherwise(0.0), 4).as("clustering"))
      .orderBy($"nation")
  }

  /** Rounds of BFS relaxation — enough to cover any diameter of the
    * ≤|nations|-node strong-trade graph. */
  val BfsRounds = 8

  /** One min-plus relaxation round as SQL: dist_{k+1}(v) =
    * min(dist_k(v), min over edges (u,v) of dist_k(u)+1). Expects CTEs
    * `sym(src, dst)` (symmetrized edges) and `b$k(node, dist)`. */
  private def bfsItersSql(iters: Int): String =
    (0 until iters)
      .map { k =>
        s"""b${k + 1} AS MATERIALIZED (
           |  SELECT b.node,
           |         least(b.dist, coalesce(r.relax, 9223372036854775807))
           |           AS dist
           |  FROM b$k b LEFT JOIN (
           |    SELECT sym.dst AS node, min(b$k.dist + 1) AS relax
           |    FROM sym JOIN b$k ON b$k.node = sym.src
           |    WHERE b$k.dist < 99
           |    GROUP BY sym.dst) r ON r.node = b.node)""".stripMargin
      }
      .mkString(",\n")

  /** BFS hop distance (single-source shortest path, unit weights) over
    * the strong-trade graph — the reachability/radius read beside
    * [[qPagerank]]'s centrality and [[qTriangleCount]]'s density: from
    * the smallest strong-trading nation key, the minimum number of
    * strong-partner hops to every other nation (99 = unreachable
    * sentinel, never NULL — both engines' sorts then agree). Computed as
    * [[BfsRounds]] unrolled min-plus relaxation rounds — the
    * frontier-free formulation whose every round is one equi-join +
    * aggregate, the same dataflow shape as a PageRank step.
    *
    * Scale: the corpus-scale pass is the shared edge aggregation (one
    * shuffle to O(|nations|²) rows); each relaxation round joins the
    * O(nodes) distance vector against the aggregated edge list — on a
    * real cluster both sides stay hash-partitioned on the join key
    * across rounds, and a diameter-bounded loop (log-round doubling for
    * path halving, as in [[Dedup.connectedComponents]]) covers
    * billion-node graphs. */
  val qGraphBfs = QueryDef.sql(
    "q_graph_bfs", {
      val iters = bfsItersSql(BfsRounds)
      s"""WITH $strongTradeSql,
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und),
         |seed AS (SELECT min(src) AS s0 FROM sym),
         |b0 AS MATERIALIZED (
         |  SELECT node, CASE WHEN node = (SELECT s0 FROM seed)
         |                    THEN 0 ELSE 99 END AS dist
         |  FROM (SELECT DISTINCT src AS node FROM sym)),
         |$iters
         |SELECT n.n_name AS nation, CAST(b.dist AS BIGINT) AS hops
         |FROM b$BfsRounds b JOIN nation n ON n.n_nationkey = b.node
         |ORDER BY hops, nation""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val und = strongTradeUnd(s, d)
    val sym = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
      .coalesce(1).localCheckpoint() // aggregate-sized; reused every round
    val seed = sym.agg(min($"src")).as[Long].head()
    val dist0 = sym
      .select($"src".as("node")).distinct()
      .select($"node",
        when($"node" === seed, 0L).otherwise(99L).as("dist"))
      .coalesce(1).localCheckpoint()
    val dist = Iterate.fixpoint(dist0, BfsRounds, aqe = true) { (dist, _) =>
      val relax = sym
        .join(dist, dist("node") === sym("src"))
        .filter($"dist" < 99)
        .groupBy(sym("dst").as("rnode"))
        .agg(min($"dist" + 1).as("relax"))
      Iterate.Round(dist
        .join(relax, $"rnode" === dist("node"), "left")
        .select(dist("node"),
          least($"dist", coalesce($"relax", lit(Long.MaxValue))).as("dist")))
    }.state
    Tables
      .nation(s, d)
      .join(dist, $"n_nationkey" === $"node")
      .select($"n_name".as("nation"), $"dist".cast("long").as("hops"))
      .orderBy($"hops", $"nation")
  }

  /** Synchronous label-propagation rounds. */
  val LpaRounds = 5

  /** One synchronous LPA round as SQL: each node adopts its neighbors'
    * most frequent label (ties → smallest label; isolated nodes keep
    * their own). Expects `sym(src, dst)` and `l$k(node, lab)`. */
  private def lpaItersSql(iters: Int): String =
    (0 until iters)
      .map { k =>
        s"""l${k + 1} AS MATERIALIZED (
           |  SELECT l.node, coalesce(w.best, l.lab) AS lab
           |  FROM l$k l LEFT JOIN (
           |    SELECT node, lab AS best FROM (
           |      SELECT sym.dst AS node, l$k.lab, count(*) AS c,
           |             row_number() OVER (PARTITION BY sym.dst
           |               ORDER BY count(*) DESC, l$k.lab) AS rn
           |      FROM sym JOIN l$k ON l$k.node = sym.src
           |      GROUP BY sym.dst, l$k.lab)
           |    WHERE rn = 1) w ON w.node = l.node)""".stripMargin
      }
      .mkString(",\n")

  /** Label-propagation community detection (Raghavan, Albert & Kumara
    * 2007) over the strong-trade graph — the community partition beside
    * [[qTriangleCount]]'s density and [[qGraphBfs]]'s reachability:
    * every node starts as its own label and [[LpaRounds]] synchronous
    * rounds adopt the modal neighbor label (deterministic min-label
    * tie-break, so both engines converge identically). Distinct from
    * connected components: LPA splits a connected graph into dense
    * regions. Emits each nation's community and the community size.
    *
    * Scale: same loop shape as PageRank — per round one equi-join of
    * the O(edges) aggregated list against the O(nodes) label vector
    * plus a per-(node, label) count; label vectors localCheckpoint to
    * cut lineage. */
  val qLpaCommunities = QueryDef.sql(
    "q_lpa_communities", {
      val iters = lpaItersSql(LpaRounds)
      s"""WITH $strongTradeSql,
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und),
         |l0 AS MATERIALIZED (
         |  SELECT node, node AS lab
         |  FROM (SELECT DISTINCT src AS node FROM sym)),
         |$iters,
         |cs AS (SELECT lab, count(*) AS comm_size FROM l$LpaRounds
         |       GROUP BY lab)
         |SELECT n.n_name AS nation, CAST(l.lab AS BIGINT) AS community,
         |       CAST(cs.comm_size AS BIGINT) AS comm_size
         |FROM l$LpaRounds l
         |JOIN nation n ON n.n_nationkey = l.node
         |JOIN cs ON cs.lab = l.lab
         |ORDER BY community, nation""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val und = strongTradeUnd(s, d)
    val sym = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
      .coalesce(1).localCheckpoint()
    val lab0 = sym.select($"src".as("node")).distinct()
      .select($"node", $"node".as("lab"))
      .coalesce(1).localCheckpoint()
    val wMode = Window.partitionBy($"vnode")
      .orderBy($"c".desc, $"nlab")
    val lab = Iterate.fixpoint(lab0, LpaRounds, aqe = true) { (lab, _) =>
      val best = sym
        .join(lab, lab("node") === sym("src"))
        .groupBy(sym("dst").as("vnode"), $"lab".as("nlab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wMode))
        .filter($"rn" === 1)
        .select($"vnode", $"nlab".as("best"))
      Iterate.Round(lab
        .join(best, $"vnode" === lab("node"), "left")
        .select(lab("node"), coalesce($"best", $"lab").as("lab")))
    }.state
    val cs = lab.groupBy($"lab").agg(count(lit(1)).as("comm_size"))
    Tables
      .nation(s, d)
      .join(lab, $"n_nationkey" === $"node")
      .join(cs, "lab")
      .select($"n_name".as("nation"), $"lab".cast("long").as("community"),
        $"comm_size".cast("long").as("comm_size"))
      .orderBy($"community", $"nation")
  }

  /** Degree assortativity (Newman 2002, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees across
    * the symmetrized strong-trade edge list — positive = hubs trade
    * with hubs, negative = hub-and-spoke. One number the topology
    * audits (triangles, communities) get read against.
    *
    * Scale: degrees are one aggregate of the O(edges) list; the
    * correlation is a single-pass moment aggregate over the degree-
    * joined edges — no window, no iteration. */
  val qAssortativity = QueryDef.sql(
    "q_assortativity",
    s"""WITH $strongTradeSql,
      |sym AS (
      |  SELECT a AS src, b AS dst FROM und
      |  UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src)
      |SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
      |       round(corr(da.deg, db.deg), 4) + 0.0 AS assortativity
      |FROM sym
      |JOIN deg da ON da.node = sym.src
      |JOIN deg db ON db.node = sym.dst""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val und = strongTradeUnd(s, d)
    val sym = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
    val deg = sym.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    sym
      .join(broadcast(deg.select($"node".as("na"), $"deg".as("da"))),
        $"na" === $"src")
      .join(broadcast(deg.select($"node".as("nb"), $"deg".as("db"))),
        $"nb" === $"dst")
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"),
        (round(corr($"da", $"db"), 4) + 0.0).as("assortativity"))
  }

  /** Peel rounds for the k-core (diameter-bounded on ≤|nations| nodes). */
  val KCoreRounds = 6
  val KCoreK = 2

  /** One peeling round as SQL: keep nodes whose degree within the
    * surviving set is ≥ k. Expects `sym(src, dst)` and `s$r(node)`. */
  private def kcoreItersSql(iters: Int, k: Int): String =
    (0 until iters)
      .map { r =>
        s"""s${r + 1} AS MATERIALIZED (
           |  SELECT d.node FROM (
           |    SELECT sym.src AS node, count(*) AS deg
           |    FROM sym
           |    JOIN s$r a ON a.node = sym.src
           |    JOIN s$r b ON b.node = sym.dst
           |    GROUP BY sym.src) d
           |  WHERE d.deg >= $k)""".stripMargin
      }
      .mkString(",\n")

  /** k-core decomposition (Seidman 1983, k = 2): iteratively peel nodes
    * with fewer than k strong-trade partners inside the surviving set
    * until the fixpoint — the cohesion skeleton beside
    * [[qTriangleCount]]'s local density and [[qLpaCommunities]]'
    * partition (a 2-core strips pendant nations; what survives is the
    * cyclic trade backbone). Emits every strong-graph node with its
    * membership and its in-core degree (0 if peeled).
    *
    * Scale: the same loop shape as BFS/LPA — each peel round is one
    * join of the aggregated edge list against the surviving-node
    * vector; [[KCoreRounds]] rounds bound the fixpoint on this graph
    * (a production run loops until the count stops changing). */
  val qKcore = QueryDef.sql(
    "q_kcore", {
      val iters = kcoreItersSql(KCoreRounds, KCoreK)
      s"""WITH $strongTradeSql,
         |sym AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
         |$iters,
         |coredeg AS (
         |  SELECT sym.src AS node, count(*) AS deg
         |  FROM sym
         |  JOIN s$KCoreRounds a ON a.node = sym.src
         |  JOIN s$KCoreRounds b ON b.node = sym.dst
         |  GROUP BY sym.src)
         |SELECT n.n_name AS nation,
         |       (c.node IS NOT NULL) AS in_core,
         |       CAST(coalesce(c.deg, 0) AS BIGINT) AS core_degree
         |FROM s0
         |JOIN nation n ON n.n_nationkey = s0.node
         |LEFT JOIN coredeg c ON c.node = s0.node
         |ORDER BY nation""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val und = strongTradeUnd(s, d)
    val sym = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
      .coalesce(1).localCheckpoint()
    val all = sym.select($"src".as("node")).distinct()
      .coalesce(1).localCheckpoint()
    def coreDeg(surv: org.apache.spark.sql.DataFrame) = sym
      .join(surv.select($"node".as("na")), $"na" === sym("src"))
      .join(surv.select($"node".as("nb")), $"nb" === sym("dst"))
      .groupBy(sym("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val surv = Iterate.fixpoint(all, KCoreRounds, aqe = true) { (surv, _) =>
      Iterate.Round(coreDeg(surv).filter($"deg" >= KCoreK).select($"node"))
    }.state
    val cd = coreDeg(surv)
    all
      .join(Tables.nation(s, d), $"n_nationkey" === $"node")
      .join(cd.select($"node".as("cn"), $"deg"), $"cn" === $"node", "left")
      .select($"n_name".as("nation"), $"cn".isNotNull.as("in_core"),
        coalesce($"deg", lit(0L)).cast("long").as("core_degree"))
      .orderBy($"nation")
  }

  // ──────────────────────────────────────────────────────────────────
  // PRODUCTION-DIAL convergence variants (r10). The three registry
  // queries above unroll a FIXED round count (BfsRounds=8, LpaRounds=5,
  // KCoreRounds=6) so a DuckDB oracle can unroll the same rounds — safe
  // on the ≤25-node strong-trade graph whose diameter those constants
  // cover with margin, but a TRUNCATION on any graph deeper than the
  // constant: an 600-hop path leaves BFS distances at the unreached
  // sentinel, k-core peeling stops mid-peel, LPA freezes mid-flood.
  // These variants run the IDENTICAL per-round dataflow to its own
  // fixpoint, with the change count fused into each round's
  // materialization job (Iterate.fixpoint — one driver round-trip per
  // round). They are the code path a production run uses when the graph
  // shape is not known in advance; LinkageGraphSpec pins fixed-round
  // truncation vs converged exactness on 30- and 40-hop paths, and the
  // *_converged registry queries run them on a deep chain.
  // ──────────────────────────────────────────────────────────────────

  /** Distance sentinel for unreached nodes in [[bfsDistancesConverged]]
    * (the registry query's 99 only covers a ≤25-node graph). */
  val BfsUnreached = 999999999L

  /** Single-source BFS (min-plus relaxation, unit weights) from the
    * minimum node id, iterated until NO distance changes — rounds =
    * graph diameter, the true complexity of frontier BFS (no log-round
    * shortcut exists for single-source hop distance without an O(n²)
    * pair relation; high diameter costs rounds in every Pregel-family
    * system). `sym` must hold both directions of every edge. The edge
    * list is shuffled once onto the relaxation key and cached
    * (InMemoryRelation keeps its partitioning), so each round exchanges
    * only the O(nodes) distance vector plus the aggregated relaxation.
    * Returns (node, dist) with [[BfsUnreached]] for unreached nodes. */
  private[graft] def bfsDistancesConverged(symIn: DataFrame): DataFrame = {
    val s = symIn.sparkSession
    import s.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge.{
      localCheckpointFreshStats => ckpt}
    Iterate.withEdgeCache(symIn, "src") { sym =>
      val seed = sym.agg(min($"src")).head.getLong(0)
      val dist0 = ckpt(
        sym.select($"src".as("node")).distinct()
          .select($"node",
            when($"node" === seed, 0L).otherwise(BfsUnreached).as("dist")))
      // distances only DECREASE, each changing round lowers ≥1 node, and
      // values are bounded below by 0 — termination needs no round cap
      Iterate.fixpoint(dist0, Int.MaxValue, aqe = false) { (dist, _) =>
        val relax = sym
          .join(dist.withColumnRenamed("node", "dn"), $"dn" === $"src")
          .filter($"dist" < BfsUnreached)
          .groupBy($"dst".as("rnode"))
          .agg(min($"dist" + 1).as("relax"))
        Iterate.Round(
          dist
            .join(relax, $"rnode" === $"node", "left")
            .select($"node",
              least($"dist", coalesce($"relax", lit(Long.MaxValue)))
                .as("dist"),
              $"dist".as("old")),
          Some(count(when($"dist" =!= $"old", lit(1)))),
          Seq("old"))
      }.state
    }
  }

  /** k-core peeling iterated to the fixpoint (surviving set stops
    * shrinking). Peeling is monotone, so an unchanged COUNT means an
    * unchanged SET and the observed row count doubles as the change
    * test — one job per peel round. Worst case is Θ(n) rounds (a path
    * peels two ends per round — the adversarial shape LinkageGraphSpec
    * uses); real graphs converge in a handful. Returns the surviving
    * (node) set. */
  private[graft] def kcoreConverged(symIn: DataFrame, k: Int): DataFrame = {
    val s = symIn.sparkSession
    import s.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge.{
      localCheckpointFreshStats => ckpt}
    Iterate.withEdgeCache(symIn, "src") { sym =>
      val all = ckpt(sym.select($"src".as("node")).distinct())
      var size = all.count()
      // the change is the number peeled, |surv| − |next|; an emptied set
      // reads 0 and stops too
      Iterate.fixpoint(all, if (size > 0) Int.MaxValue else 0, aqe = false) {
        (surv, peeled) =>
          if (peeled > 0) size -= peeled
          val n = count(lit(1))
          Iterate.Round(
            sym
              .join(surv.select($"node".as("na")), $"na" === $"src")
              .join(surv.select($"node".as("nb")), $"nb" === $"dst")
              .groupBy($"src".as("node"))
              .agg(count(lit(1)).as("deg"))
              .filter($"deg" >= k)
              .select($"node"),
            Some(when(n === 0, lit(0L)).otherwise(lit(size) - n)))
      }.state
    }
  }

  /** Synchronous LPA run until labels stabilize OR `maxRounds`.
    * Synchronous label propagation can 2-CYCLE (bipartite-ish regions
    * flip labels forever — Raghavan et al. 2007 §3 note the oscillation;
    * their remedy is asynchronous update order, which is
    * nondeterministic and so unusable under an oracle), so unlike
    * BFS/k-core this loop is CAPPED, returns the round-`maxRounds`
    * labelling when it doesn't settle, and reports convergence honestly
    * via the second return value instead of a guard that would refuse a
    * legitimate oscillation. Returns ((node, lab), converged). */
  private[graft] def lpaStable(symIn: DataFrame,
      maxRounds: Int = 64): (DataFrame, Boolean) = {
    val s = symIn.sparkSession
    import s.implicits._
    import org.apache.spark.sql.graftbridge.DatasetBridge.{
      localCheckpointFreshStats => ckpt}
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy($"bnode").orderBy($"c".desc, $"nlab")
    Iterate.withEdgeCache(symIn, "src") { sym =>
      val lab0 = ckpt(
        sym.select($"src".as("node")).distinct().select($"node", $"node".as("lab")))
      val f = Iterate.fixpoint(lab0, maxRounds, aqe = false) { (lab, _) =>
        val best = sym
          .join(lab.withColumnRenamed("node", "ln"), $"ln" === $"src")
          .groupBy($"dst".as("bnode"), $"lab".as("nlab"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(wBest))
          .filter($"rn" === 1)
          .select($"bnode", $"nlab".as("best"))
        Iterate.Round(
          lab
            .join(best, $"bnode" === $"node", "left")
            .select($"node", coalesce($"best", $"lab").as("lab"),
              $"lab".as("old")),
          Some(count(when($"lab" =!= $"old", lit(1)))),
          Seq("old"))
      }
      (f.state, f.change == 0L)
    }
  }

  // ──────────────────────────────────────────────────────────────────
  // ORACLE-GATED fixpoint rows (r12). The three converged twins above
  // were spec-gated only; these registry queries run them on a DEEP
  // fixture graph — deeper than every unrolled constant (BfsRounds=8,
  // KCoreRounds=6, LpaRounds=5) — so the run-to-fixpoint loops are what
  // the DuckDB oracle checks, not the unrolled forms. Fixture: the
  // "deep chain" — a path through the DeepGraphN smallest distinct
  // o_custkey values in ascending key order, plus one chord closing a
  // triangle at the head. Measured dynamics (identical at sf0.001/
  // 0.01/0.1 — the smallest keys are 0..11 at all three): BFS reaches
  // its fixpoint in 11 rounds (max distance 10), the k=2 core peels
  // the tail one free end per round (10 rounds; the triangle survives),
  // and synchronous LPA floods the triangle's min label down the chain
  // in 11 rounds (a chord-closed head breaks the bipartite 2-cycle a
  // bare path could enter). The oracle unrolls a FIXED round count past
  // each fixpoint (16 peels / 20 label rounds / a recursive CTE for
  // BFS) — extra rounds are no-ops at a fixpoint, so row equality gates
  // exactly "the engine's converged answer = the true fixpoint".
  // Round CTEs that reference the previous round TWICE must be
  // MATERIALIZED or DuckDB's inliner expands 2^rounds copies of the
  // base scan (measured: "Too many open files" at 16 rounds).
  // ──────────────────────────────────────────────────────────────────

  /** Node budget of the deep fixture graph (diameter ≈ DeepGraphN − 2,
    * chosen > every unrolled round constant with margin while keeping
    * the per-round job cost bench-friendly). */
  val DeepGraphN = 12

  /** Shared oracle prologue: the deep chain graph as DuckDB CTEs,
    * ending in `sym(src, dst)` (both edge directions). */
  private def deepGraphSql: String =
    s"""keys AS (
       |  SELECT DISTINCT o_custkey AS k FROM orders ORDER BY k LIMIT $DeepGraphN),
       |idx AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS i FROM keys),
       |chain AS (
       |  SELECT a.k AS src, b.k AS dst FROM idx a JOIN idx b ON b.i = a.i + 1
       |  UNION ALL
       |  SELECT a.k, b.k FROM idx a JOIN idx b ON a.i = 0 AND b.i = 2),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM chain
       |  UNION ALL SELECT dst AS src, src AS dst FROM chain)""".stripMargin

  /** The deep chain graph, Spark side: symmetric (src, dst), one row
    * per directed edge. Deterministic at every SF: orderBy+limit is
    * TakeOrderedAndProject, and the rank comes from a ≤N²-row
    * self-join count (i = |{k' ≤ k}| − 1) rather than a partition-less
    * row_number window — the registry-wide PlanSpec guard (no
    * all-to-one window funnels) holds for fixture spines too. */
  private[graft] def deepGraph(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = Tables.orders(s, d)
      .select($"o_custkey".as("k")).distinct()
      .orderBy($"k").limit(DeepGraphN)
    val idx = keys.as("ka").join(keys.as("kb"), $"kb.k" <= $"ka.k")
      .groupBy($"ka.k".as("k")).agg((count(lit(1)) - 1).as("i"))
    val chain = idx.as("a").join(idx.as("b"), $"b.i" === $"a.i" + 1)
      .select($"a.k".as("src"), $"b.k".as("dst"))
      .unionAll(
        idx.as("a").join(idx.as("b"), $"a.i" === 0 && $"b.i" === 2)
          .select($"a.k".as("src"), $"b.k".as("dst")))
    chain.unionAll(chain.select($"dst".as("src"), $"src".as("dst")))
  }

  /** [[bfsDistancesConverged]] oracle-gated on the deep chain: hop
    * distances from the minimum node, run to the 11-round fixpoint the
    * 8-round unrolled [[qGraphBfs]] would truncate. The oracle is a
    * recursive CTE (UNION-distinct bounds the walk state at
    * nodes × the 64-hop guard even through the head cycle). */
  val qGraphBfsConverged = QueryDef.sql(
    "q_graph_bfs_converged",
    s"""WITH RECURSIVE $deepGraphSql,
       |seed AS (SELECT min(src) AS s FROM sym),
       |walk(node, dist) AS (
       |  SELECT s, CAST(0 AS BIGINT) FROM seed
       |  UNION
       |  SELECT sym.dst, walk.dist + 1
       |  FROM walk JOIN sym ON sym.src = walk.node
       |  WHERE walk.dist < 64)
       |SELECT node, min(dist) AS dist FROM walk GROUP BY node
       |ORDER BY node""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    bfsDistancesConverged(deepGraph(s, d)).orderBy($"node")
  }

  /** [[kcoreConverged]] oracle-gated on the deep chain: the k=2 core
    * (the head triangle) after a 10-round peel — one degree-1 free end
    * per round, deeper than the 6-round unrolled [[qKcore]]. Output is
    * every node with its core membership flag. */
  val qKcoreConverged = QueryDef.sql(
    "q_kcore_converged", {
      val rounds = (1 to 16).map { i =>
        s"""surv$i AS MATERIALIZED (
           |  SELECT sym.src AS node FROM sym
           |    JOIN surv${i - 1} a ON a.node = sym.src
           |    JOIN surv${i - 1} b ON b.node = sym.dst
           |  GROUP BY sym.src HAVING count(*) >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $deepGraphSql,
         |surv0 AS (SELECT DISTINCT src AS node FROM sym),
         |$rounds
         |SELECT s0.node, (c.node IS NOT NULL) AS in_core
         |FROM surv0 s0 LEFT JOIN surv16 c ON c.node = s0.node
         |ORDER BY s0.node""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val sym = deepGraph(s, d)
    val surv = kcoreConverged(sym, 2)
    sym.select($"src".as("node")).distinct()
      .join(surv.select($"node".as("cn")), $"cn" === $"node", "left")
      .select($"node", $"cn".isNotNull.as("in_core"))
      .orderBy($"node")
  }

  /** [[lpaStable]] oracle-gated on the deep chain: synchronous label
    * propagation run to its 11-round fixpoint (the 5-round unrolled
    * [[qLpaCommunities]] freezes mid-flood on this graph), plus the
    * honest convergence flag. The oracle unrolls 20 rounds and derives
    * `converged` by comparing the last two — at a fixpoint both equal
    * the engine's stable labelling. */
  val qLpaConverged = QueryDef.sql(
    "q_lpa_converged", {
      val L = 20
      val rounds = (1 to L).map { i =>
        s"""cnt$i AS (
           |  SELECT sym.dst AS node, l.lab, count(*) AS c
           |  FROM sym JOIN lab${i - 1} l ON l.node = sym.src
           |  GROUP BY 1, 2),
           |best$i AS (
           |  SELECT node, lab FROM cnt$i
           |  QUALIFY row_number() OVER (PARTITION BY node
           |                             ORDER BY c DESC, lab) = 1),
           |lab$i AS MATERIALIZED (
           |  SELECT l.node, coalesce(b.lab, l.lab) AS lab
           |  FROM lab${i - 1} l LEFT JOIN best$i b USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH $deepGraphSql,
         |lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
         |$rounds,
         |delta AS (
         |  SELECT count(*) AS ch
         |  FROM lab$L a JOIN lab${L - 1} b USING (node)
         |  WHERE a.lab <> b.lab)
         |SELECT a.node, a.lab, (d.ch = 0) AS converged
         |FROM lab$L a CROSS JOIN delta d
         |ORDER BY a.node""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val (lab, conv) = lpaStable(deepGraph(s, d), 64)
    lab.select($"node", $"lab", lit(conv).as("converged")).orderBy($"node")
  }

  def defs: Seq[QueryDef] =
    Seq(qPagerank, qTextrankKeywords, qTriangleCount, qGraphBfs,
      qLpaCommunities, qAssortativity, qKcore,
      qGraphBfsConverged, qKcoreConverged, qLpaConverged)
}

package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (north-star LLM pipeline).
  *
  * Scale design (100 TB):
  *  - exact dedup groups on a 128-bit content hash, never on the full text
  *    (shuffle carries 16-byte keys, not documents);
  *  - MinHash-LSH turns the quadratic all-pairs problem into an equi-join
  *    on (band, band_signature) — candidates only, verified afterwards;
  *  - the all-pairs n-gram Jaccard join is shingle-partitioned: a document
  *    pair meets only on shingles it shares, so the shuffle is bounded by
  *    the postings list, not |docs|².
  */
object Dedup {

  /** Document-frequency cap for the inverted shingle index: shingles
    * appearing in more than this many documents are dropped before the
    * postings self-join. Without it a single boilerplate trigram shared by
    * k docs contributes k²/2 pairs — the classic quadratic tail that kills
    * the join on a real corpus. Hot shingles carry no near-dup signal
    * (they're corpus-wide boilerplate), and the cap bounds any shingle's
    * pair contribution to dfCap²/2. Observed max df is 7 at sf0.01 and 25
    * at sf0.1, so 1000 provably leaves test-scale results unchanged (the
    * oracle computes the uncapped form); at 100 TB keep it O(1000) — the
    * hot set is small enough to broadcast for the anti-join.
    */
  val JaccardDfCap = 1000

  /** Drop postings for shingles with document frequency above `dfCap`.
    * The hot list is tiny by construction → broadcast left-anti join, so
    * the postings stream keeps its hash partitioning on `s` and the
    * downstream self-join still reuses one exchange.
    */
  private[graft] def cappedPostings(
      ds: org.apache.spark.sql.DataFrame,
      dfCap: Int): org.apache.spark.sql.DataFrame = {
    val hot = ds
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("s"))
    ds.join(broadcast(hot), Seq("s"), "left_anti")
  }

  /** Exact dedup: hash-groupBy on md5(text). Emits one row per distinct
    * content hash with its representative (min doc_id) and multiplicity. */
  val qDedupExact = QueryDef.sql(
    "q_dedup_exact",
    """SELECT md5(text) AS content_hash,
      |       count(*)  AS n_copies,
      |       min(doc_id) AS keeper
      |FROM documents
      |GROUP BY content_hash
      |ORDER BY content_hash""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .groupBy(md5($"text").as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper"))
      .orderBy($"content_hash")
  }

  private val duckShingles =
    """(SELECT doc_id,
      |        string_split_regex(trim(text), ' +') AS w
      | FROM documents)""".stripMargin

  /** N-gram Jaccard near-dedup: 3-word shingles, distinct per doc,
    * inverted-index self-join on shingle, Jaccard >= 0.8. */
  val qNgramJaccard = QueryDef.sql(
    "q_dedup_ngram_jaccard",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |       round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |FROM pairs
       |  JOIN cnt ca ON d1 = ca.doc_id
       |  JOIN cnt cb ON d2 = cb.doc_id
       |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    ngramJaccardPairs(Tables.documents(s, d)).orderBy($"d1", $"d2")
  }

  /** Exact n-gram Jaccard ≥ 0.8 near-dup pairs (d1 < d2, jaccard) over a
    * documents frame — [[qNgramJaccard]] and the ground-truth side of
    * [[qLshRecall]].
    *
    * Per-doc distinct via array_distinct BEFORE exploding (the shingle
    * set is per-document — no cross-doc distinct shuffle needed); the
    * words array is staged as a column so split() runs once per row,
    * and the postings list is explicitly hash-partitioned on the
    * shingle so BOTH self-join sides and the doc-count branch reuse
    * ONE exchange (ReusedExchange) instead of re-exploding per branch. */
  private[graft] def ngramJaccardPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    ngramJaccardAllPairs(docs)
      .filter($"jac" >= 0.8)
      .select($"d1", $"d2", round($"jac", 4).as("jaccard"))
  }

  /** Every shingle-sharing pair with its UNFILTERED exact Jaccard
    * (d1 < d2, jac) — the relation [[ngramJaccardPairs]] thresholds at
    * 0.8 and [[qDedupThresholdSweep]] sweeps. One postings exchange
    * (reused by both self-join sides and the doc-count branch), DF cap
    * bounding any shingle's pair contribution. */
  private[graft] def ngramJaccardAllPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ds = cappedPostings(
      docs
        .select($"doc_id", words($"text").as("w"))
        .select($"doc_id",
          explode(array_distinct(shingles($"w", 3))).as("s"))
        .repartition(col("s")),
      JaccardDfCap)
    val cnt = ds.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = ds
      .as("a")
      .join(ds.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(cnt.as("ca"), $"d1" === $"ca.doc_id")
      .join(cnt.as("cb"), $"d2" === $"cb.doc_id")
      .withColumn("jac", $"common" * lit(1.0) / ($"ca.n" + $"cb.n" - $"common"))
      .select($"d1", $"d2", $"jac")
  }

  /** The MinHash-LSH candidate-pair CTE chain (ends in `cand(d1, d2)`),
    * shared by the `q_dedup_minhash_lsh` oracle and the
    * connected-components grouping oracle so the two gates can never
    * silently diverge. Declared BEFORE both consumers: object vals
    * initialize in declaration order, and a forward reference here would
    * interpolate null into the SQL. */
  /** The MinHash-LSH candidate-pair CTE chain over an arbitrary
    * (doc_id, w) words relation — `wordsRel` must be a parenthesized
    * relation or CTE name. Lets composites run the chain on a FILTERED
    * document set (e.g. q_pipeline_curate_pack's rule survivors) while
    * the canonical `documents` chain stays byte-identical. */
  private[operators] def minhashPairsCtesOver(wordsRel: String): String = {
    val permSql = MinhashPerms.zipWithIndex
      .map { case ((a, b), i) =>
        s"min((h * $a + $b) % $MinhashP) AS sig_$i"
      }
      .mkString(",\n         ")
    val bandSql = (0 until 4)
      .map { bnd =>
        val cols = (0 until 4).map(r => s"sig_${bnd * 4 + r}").mkString(", ")
        s"SELECT doc_id, $bnd AS band, concat_ws('-', $cols) AS bkey FROM sigs"
      }
      .mkString("\n  UNION ALL\n  ")
    s"""ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $wordsRel
       |  WHERE len(w) >= 3),
       |hashed AS (
       |  SELECT doc_id,
       |         CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)
       |           % $MinhashP AS h
       |  FROM ds),
       |sigs AS (
       |  SELECT doc_id,
       |         $permSql
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  private[operators] val minhashPairsCtes: String =
    minhashPairsCtesOver(duckShingles)

  /** MinHash + LSH candidate generation: 16 permutations over md5-derived
    * shingle hashes, 4 bands x 4 rows; pairs sharing >= 1 band. This is
    * the shuffle-light path that replaces the quadratic join at scale —
    * validated here against the same computation in DuckDB. */
  val qMinhashLsh = QueryDef.sql(
    "q_dedup_minhash_lsh",
    s"""WITH $minhashPairsCtes
       |SELECT d1, d2 FROM cand
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    minhashPairs(s, d).orderBy($"d1", $"d2")
  }

  /** SimHash document signatures: 16-bit sign-aggregated fingerprint over
    * shingle hashes. Near-dups collide (or differ in few bits); emitted
    * per-doc so the oracle can bit-compare every signature. */
  val qSimhash = QueryDef.sql(
    "q_dedup_simhash", {
      val bitSql = (0 until 16)
        .map { j =>
          s"sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END)"
        }
        .zipWithIndex
        .map { case (e, j) => s"CASE WHEN $e > 0 THEN ${1L << j} ELSE 0 END" }
        .mkString(" +\n         ")
      s"""WITH ds AS (
         |  SELECT DISTINCT doc_id,
         |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in range(1, len(w)-1)]) AS s
         |  FROM $duckShingles
         |  WHERE len(w) >= 3),
         |hashed AS (
         |  SELECT doc_id,
         |         CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
         |  FROM ds)
         |SELECT doc_id,
         |       CAST($bitSql AS BIGINT) AS simhash
         |FROM hashed GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val ds = Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id",
        explode(array_distinct(shingles($"w", 3))).as("s"))
    val hashed = ds.select($"doc_id", stableHash60($"s").as("h"))
    // one custom aggregate instead of 16 sum(CASE...) trees — same
    // result (the oracle still computes the expanded form)
    hashed
      .groupBy($"doc_id")
      .agg(graft.plans.SimhashAgg.simhashAgg($"h", 16).as("simhash"))
      .orderBy($"doc_id")
  }

  /** MinHash-LSH candidate pairs as a DataFrame (d1 < d2) — the Spark twin
    * of [[minhashPairsCtes]], delegating to the column-parameterized
    * library form ([[CorpusOps.minhashCandidates]]). */
  private[operators] def minhashPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    CorpusOps.minhashCandidates(Tables.documents(s, d), "doc_id", "text")

  /** Connected components by iterative min-label propagation over an
    * undirected edge list `(d1, d2)`. Returns `(node, label)` where label
    * is the minimum node id in the component. Each round is one equi-join
    * plus one min-aggregate, both hash-partitioned on the node key;
    * `localCheckpoint` cuts the growing lineage so round N's plan doesn't
    * replay rounds 1..N-1. Rounds needed = graph diameter — near-dup
    * components are shallow (pairs and short chains of copies), so this
    * converges in a handful of rounds at any corpus size. The
    * order-independent min fixpoint makes the result deterministic
    * regardless of partitioning.
    */
  private[graft] def connectedComponents(
      pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // checkpoint the EDGE LIST before symmetrizing: the union's two
    // branches are two selects of `pairs`, and without the cut the whole
    // upstream candidate join (MinHash banding / LSH verify) executes
    // twice — no exchange boundary sits between the join and the union,
    // so ReuseExchange cannot dedupe it.
    // EVERY checkpoint in this loop is the stats-dropping variant:
    // plain localCheckpoint carries the origin plan's sizeInBytes into
    // the LogicalRDD, and because the round plan joins `labels` with
    // ITSELF (the pointer-jumping shortcut), the inherited estimate is
    // raised to the ~4th power per round — the BigInteger's bit-length
    // quadruples each iteration until round-15 planning spends minutes
    // of driver CPU multiplying 10⁸-digit numbers (caught by the r9
    // scale probe: the 10× corpus DNF'd a 900 s wall on 42M pairs of
    // real work, executors idle, driver in BigInteger.multiplyToomCook3
    // under visitJoin). See DatasetBridge.localCheckpointFreshStats.
    import org.apache.spark.sql.graftbridge.DatasetBridge.{
      localCheckpointFreshStats => ckpt}
    // AQE stays ON through the loop. Measured A/B (r10, min-of-3,
    // interleaved at settled load): disabling it inside the loop to save
    // AQE's per-exchange stage-jobs LOSES at every scale — x1 canonical
    // 2.7→3.4 s, x10 canonical 4.8→9.2 s, x10 logbits embed-dedup
    // 27.2→34.3 s — because AQE's runtime broadcast conversion of the
    // shrunken label table and its post-shuffle coalescing are worth
    // more than the extra driver round-trips they cost.
    val edges = ckpt(pairs.select($"d1", $"d2"))
    // symmetrize and shuffle the edge list ONCE onto the hook-join key:
    // at 1000× the edge list is the big relation in the loop — the r9
    // shape re-exchanged it every round. Cached (not checkpointed)
    // because the LogicalRDD a checkpoint produces reports NO
    // partitioning, which is exactly the reuse this exists for; joined
    // only against labels (never itself), so the r9 stats trap cannot
    // re-arm.
    val und = edges
      .select($"d1".as("src"), $"d2".as("dst"))
      .union(edges.select($"d2".as("src"), $"d1".as("dst")))
    Iterate.withEdgeCache(und, "dst") { sym =>
      // seed with the round-1 fixpoint state directly: label(n) =
      // min(n, min direct neighbor). One groupBy replaces the
      // distinct-then-propagate first round (every node of `sym` appears
      // as src, so no left join is needed); pair components — the common
      // near-dup case — then converge in a single verification round.
      val labels0 = ckpt(sym
        .groupBy($"src")
        .agg(least($"src", min($"dst")).as("label"))
        .select($"src".as("node"), $"label"))
      // ROUND MATERIALIZATION = ONE JOB (the r10 round-overhead dial,
      // SCALE.md): each round's state carries its pre-update label as
      // `old`, and the change count rides the checkpoint job itself
      // (Iterate.fixpoint's observed rounds). The r9 shape paid two driver
      // round-trips per step (checkpoint-materialize, then count); at
      // x1000 the ~120-small-job wall was round overhead, not work. Still
      // a CHECKPOINT every step: the plan stays a flat LogicalRDD leaf (a
      // persist-based variant was tried and rejected — logical lineage
      // through a round that references `labels` three times grows the
      // analyzed TREE 3^rounds, OOMing the driver before any stats math
      // starts). AQE stays on (see the r10 A/B above).
      val maxIter = 64
      // HOOK + FULL PATH COMPRESSION alternation (the Shiloach-Vishkin /
      // star-contraction shape; Kiveris et al. 2014 "Connected Components
      // in MapReduce and Beyond" analyze the round bound). Each outer
      // round: (1) COMPRESS — iterate label ← label(label) to ITS OWN
      // fixpoint, so every label tree becomes a star pointing at its
      // current root (the inner loop halves pointer depth per step, so it
      // is log(depth)-bounded and each step is one self-join of the
      // (node, label) table); (2) HOOK — one neighbor-min round hooks
      // adjacent stars together by their minima.
      //
      // Why not the single-shot label(label(n)) shortcut the r7 text used:
      // on sparse high-diameter graphs (a loose threshold over a blown-up
      // corpus produces exactly that — the r9 probe's 10x run formed a
      // ~1.15-avg-degree giant component), low-id nodes scattered along a
      // chain are LOCAL-MIN PLATEAUS: their label is self, so the jump
      // label(label(n)) = label(n) is a no-op and the global min crawls
      // hop-by-hop between plateaus — the measured convergence was a
      // 1-19-changes/round trickle still going at round 64 (and the
      // require below fired, correctly). Compressing to the ROOT between
      // hooks removes the plateau problem: after compression every
      // member's label is its tree root, so one hook round merges every
      // star with the minimum over its whole FRONTIER, and the number of
      // live stars at least halves per outer round — outer rounds ~
      // log2(n), inner steps ~ log2(depth), both scale-safe.
      //
      // Every label value stays a node id of the same component (it
      // entered via a neighbor or a label-of-label of one), labels only
      // decrease, and an edge (u,v) is stable only when label(u) =
      // label(v) — the fixpoint is exactly the component-min labelling
      // the neighbor-only iteration (and the recursive-CTE oracle)
      // reaches.
      val hooked = Iterate.fixpoint(labels0, maxIter, aqe = true) { (forest, _) =>
        // (1) compress the label forest to stars: label ← label(label)
        // until stable (label(m) ≤ m always, so this is monotone and its
        // depth halves per step)
        // each materialization applies p∘p∘p (two chained joins against the
        // SAME checkpointed relation), so pointer depth divides by 3 per
        // JOB instead of by 2 per two jobs. The exit observes
        // count(p³ ≠ p²): zero means p fixes every node in range(p²), and
        // then the NEW state p' = p³ already satisfies p'∘p' = p' — the
        // post-step forest is stars — so the usual "run one more pass to
        // confirm nothing changed" job is never paid. (Labels only
        // decrease along parent pointers, so p³ = p² pointwise really is
        // the star fixpoint, not a 2-cycle artifact.)
        val stars = Iterate.fixpoint(forest, maxIter, aqe = true) { (p, _) =>
          Iterate.Round(
            p
              .join(p.select($"node".as("jnode"), $"label".as("jl")),
                $"label" === $"jnode")
              .join(p.select($"node".as("knode"), $"label".as("kl")),
                $"jl" === $"knode")
              .select($"node", $"kl".as("label"), $"jl"),
            Some(count(when($"label" =!= $"jl", lit(1)))),
            Seq("jl"))
        }
        require(stars.change == 0,
          s"label compression did not stabilize after $maxIter steps — " +
            "pointer depth cannot exceed 2^64; the iteration is broken")
        val labels = stars.state
        // (2) hook WHOLE STARS, not members: per-node neighbor-min over
        // the compressed labels, then min-aggregated PER STAR ROOT, then
        // applied to every member through the label key. Hooking only the
        // member that owns the cross-edge (what the r7 text did) leaves
        // the root — and with it the rest of the star — unmoved, so stars
        // drain one frontier node per round instead of merging: the
        // measured trickle. With the star-level hook every non-minimal
        // star merges into another star every round (its neighbor-min is
        // smaller, or a neighbor sees IT as smaller), so live stars at
        // least halve per outer round.
        val prop = sym
          .join(labels.withColumnRenamed("node", "pnode"), $"dst" === $"pnode")
          .groupBy($"src")
          .agg(min($"label").as("nl"))
        val hook = labels
          .join(prop, $"node" === $"src")
          .groupBy($"label")
          .agg(min($"nl").as("m"))
          .select($"label".as("hroot"), $"m")
        // the old label rides along into the materialization so change
        // detection is part of the same single job, not a second action
        Iterate.Round(
          labels
            .join(hook, $"label" === $"hroot", "left")
            .select($"node",
              least($"label", coalesce($"m", $"label")).as("label"),
              $"label".as("old")),
          Some(count(when($"label" =!= $"old", lit(1)))),
          Seq("old"))
      }
      // a silent non-converged exit would emit plausible-but-wrong group
      // labels (and diverge from the recursive-CTE oracle); refuse instead.
      // star contraction at least halves the live-star count per outer
      // round, so 64 rounds cover any component 2^64 nodes could form —
      // hitting this means the iteration is broken, not the data.
      require(hooked.change == 0,
        s"connectedComponents did not converge after $maxIter rounds " +
          s"(${hooked.change} labels still changing); star contraction " +
          "halves the live-star count per round — this cannot be the data")
      hooked.state
    }
  }

  /** Dedup-group assignment: connected components over the MinHash-LSH
    * candidate graph, labelling every document with the minimum doc_id
    * reachable through near-dup edges (its canonical "keeper"). Singletons
    * keep their own id; group sizes come from a window over the label.
    *
    * The Spark side runs hook-and-compress star contraction (r9 fix) —
    * each outer round fully compresses the label forest to stars
    * (log-depth self-joins), then hooks whole stars together through a
    * per-root neighbor-min, all hash-partitioned on the node key, with
    * stats-dropping `localCheckpoint`s cutting lineage AND the
    * exponential join-stats inheritance. Live stars at least halve per
    * outer round, so even pathological high-diameter components (loose
    * thresholds over big corpora create them — the r9 scale probe did)
    * converge in ~log2(n) outer rounds, without leaving the DataFrame
    * planner. The oracle computes the same fixpoint as a recursive
    * transitive closure.
    */
  val qDedupGroups = QueryDef.sql(
    "q_dedup_groups",
    s"""WITH RECURSIVE $minhashPairsCtes,
       |sym AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |lbl AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a),
       |grp AS (
       |  SELECT d.doc_id,
       |         least(coalesce(l.m, d.doc_id), d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
       |SELECT doc_id, group_id,
       |       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT)
       |         AS n_members
       |FROM grp
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    CorpusOps
      .dedupGroups(Tables.documents(s, d), "doc_id", "text")
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"group_id")))
      .orderBy($"doc_id")
  }

  /** Canonical-keeper selection over the dedup groups — the decision a
    * pipeline actually ships: for every near-dup group, KEEP the longest
    * member (ties to the smallest doc_id) and drop the rest. Composes
    * [[CorpusOps.dedupGroups]] (iterative min-label CC) with a
    * max-score/min-id argmax expressed as aggregate + join-back, all
    * keyed on group_id so the exchange is reused. The oracle recomputes
    * the same fixpoint via the recursive transitive closure and the same
    * two-aggregate argmax. */
  val qDedupCanonical = QueryDef.sql(
    "q_dedup_canonical",
    s"""WITH RECURSIVE $minhashPairsCtes,
       |sym AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |lbl AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a),
       |grp AS (
       |  SELECT d.doc_id,
       |         least(coalesce(l.m, d.doc_id), d.doc_id) AS group_id,
       |         d.n_chars
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |st AS (
       |  SELECT group_id, max(n_chars) AS mx,
       |         CAST(count(*) AS BIGINT) AS n_members
       |  FROM grp GROUP BY group_id),
       |canon AS (
       |  SELECT g.group_id, min(g.doc_id) AS canonical_doc
       |  FROM grp g JOIN st ON g.group_id = st.group_id
       |                    AND g.n_chars = st.mx
       |  GROUP BY g.group_id)
       |SELECT g.doc_id, g.group_id, c.canonical_doc,
       |       g.doc_id = c.canonical_doc AS keep,
       |       st.n_members
       |FROM grp g
       |  JOIN canon c ON g.group_id = c.group_id
       |  JOIN st     ON g.group_id = st.group_id
       |ORDER BY g.doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .canonicalPerGroup(Tables.documents(s, d), "doc_id", "text", "n_chars")
      .orderBy($"doc_id")
  }

  /** LSH dedup quality measurement (the dedup twin of q_ann_recall):
    * MinHash-LSH candidate pairs scored against the exact Jaccard ≥ 0.8
    * ground truth — recall (how many true near-dup pairs the bands
    * surface) and precision (how much of the candidate set is real),
    * over the full corpus. The oracle inlines BOTH CTE chains (sharing
    * the distinct-shingle stream) and the ratios use the tie-safe
    * floor(x·10⁴+0.5) rounding — they are exact rationals of counts. */
  val qLshRecall = QueryDef.sql(
    "q_dedup_lsh_recall",
    s"""WITH $minhashPairsCtes,
       |tcnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |tpairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT d1, d2 FROM tpairs
       |    JOIN tcnt ca ON d1 = ca.doc_id
       |    JOIN tcnt cb ON d2 = cb.doc_id
       |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8),
       |hit AS (SELECT d1, d2 FROM truth INTERSECT SELECT d1, d2 FROM cand)
       |SELECT
       |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       |  floor((SELECT count(*) FROM hit) * 10000.0 /
       |        (SELECT count(*) FROM truth) + 0.5) / 10000.0 AS pair_recall,
       |  floor((SELECT count(*) FROM hit) * 10000.0 /
       |        (SELECT count(*) FROM cand) + 0.5) / 10000.0 AS pair_precision""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val truth = ngramJaccardPairs(docs).select($"d1", $"d2")
    val cand = CorpusOps.minhashCandidates(docs, "doc_id", "text")
    // ONE pass over each leg (r14 optimization, guide §2.4): the old
    // shape consumed `truth` twice (its own count + the hit join) and
    // `cand` twice — each consumer re-ran the exact-Jaccard self-join /
    // the LSH banding join end to end. Both legs are DISTINCT pair
    // sets, so a full-outer join on (d1, d2) preserves both counts:
    // count(t) = |truth|, count(c) = |cand|, and rows where both sides
    // matched are exactly the old inner-join hits.
    val joined = truth
      .withColumn("t", lit(1))
      .join(cand.withColumn("c", lit(1)), Seq("d1", "d2"), "full_outer")
      .agg(
        count($"t").as("n_truth"),
        count($"c").as("n_candidates"),
        count(when($"t".isNotNull && $"c".isNotNull, 1)).as("n_hit"))
    joined
      .select(
        $"n_truth", $"n_candidates", $"n_hit",
        (floor($"n_hit" * lit(10000.0) / $"n_truth" + 0.5) / 10000.0)
          .as("pair_recall"),
        (floor($"n_hit" * lit(10000.0) / $"n_candidates" + 0.5) / 10000.0)
          .as("pair_precision"))
  }

  /** Dedup-group size audit — the report a dedup pipeline publishes
    * before committing the drop decision: for each near-dup group SIZE,
    * how many groups and documents fall in it and that band's share of
    * the corpus (size 1 = unique docs; the tail bands are the mass the
    * dedup will remove). Composes [[CorpusOps.dedupGroups]] (iterative
    * min-label CC over the MinHash-LSH candidate graph) with two
    * aggregate-sized rollups: per-group counts (|groups| rows), then the
    * size histogram (a handful of rows); the corpus total joins back as
    * a broadcast 1-row aggregate — no global window, no second corpus
    * scan. Shares use the tie-safe floor(x·10⁴+0.5) rounding. */
  val qDedupGroupStats = QueryDef.sql(
    "q_dedup_group_stats",
    s"""WITH RECURSIVE $minhashPairsCtes,
       |sym AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION
       |  SELECT d2, d1 FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |lbl AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a),
       |grp AS (
       |  SELECT d.doc_id,
       |         least(coalesce(l.m, d.doc_id), d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |sz AS (
       |  SELECT group_id, count(*) AS group_size FROM grp GROUP BY group_id),
       |hist AS (
       |  SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
       |  FROM sz GROUP BY group_size),
       |tot AS (SELECT count(*) AS n FROM documents)
       |SELECT group_size, n_groups,
       |       CAST(group_size * n_groups AS BIGINT) AS n_docs,
       |       floor(group_size * n_groups * 10000.0 / tot.n + 0.5) / 10000.0
       |         AS doc_share
       |FROM hist, tot
       |ORDER BY group_size""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .dedupGroupStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"group_size")
  }

  /** N-gram novelty: the fraction of each document's distinct 3-gram
    * shingles whose globally-first owner (min doc_id) is that document —
    * the marginal-contribution metric a curation pass ranks documents by
    * (a doc whose shingles all appeared earlier adds nothing; dedup's
    * complement, scored per-doc instead of per-pair).
    *
    * Scale: the postings list is hash-partitioned ONCE on the shingle so
    * the ownership aggregate and the ownership join read the same
    * exchange (ReusedExchange, like [[ngramJaccardPairs]]); the final
    * per-doc rollup is the only other shuffle. No pair joins anywhere —
    * cost is linear in total shingle volume at any corpus size. Docs
    * under 3 words carry no shingles and are excluded, matching the
    * other shingle-family queries. */
  val qNgramNovelty = QueryDef.sql(
    "q_ngram_novelty",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |own AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY s)
       |SELECT ds.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(sum(CASE WHEN own.first_doc = ds.doc_id
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       round(sum(CASE WHEN own.first_doc = ds.doc_id
       |                      THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
       |         AS novelty
       |FROM ds JOIN own USING (s)
       |GROUP BY ds.doc_id ORDER BY ds.doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ds = Tables.documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
      .repartition($"s")
    val own = ds.groupBy($"s").agg(min($"doc_id").as("first_doc"))
    val novel = sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
    ds.join(own, "s")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        novel.as("n_novel"),
        round(novel * lit(1.0) / count(lit(1)), 4).as("novelty"))
      .orderBy($"doc_id")
  }

  /** Dedup threshold sweep — the calibration table a curation run reads
    * BEFORE committing to a similarity cutoff: for each candidate Jaccard
    * threshold, how many near-dup pairs fire and how many documents get
    * linked into some dup relation. The 0.8 the other dedup queries use
    * is a policy choice; this query shows what 0.5–0.9 would each cost,
    * from ONE computation of the exact pairwise-Jaccard relation (the
    * five thresholds scan the same pair table — the pairs are not
    * recomputed per cutoff).
    *
    * Scale (100 TB): the pair relation is the DF-capped postings
    * self-join every dedup query already pays; the sweep adds a 5-row
    * broadcast nested-loop against it (5× the pair rows, aggregated
    * immediately to 5 output rows). Thresholds with zero pairs still
    * emit a row (left join), so the curve is always complete. */
  val qDedupThresholdSweep = QueryDef.sql(
    "q_dedup_threshold_sweep",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT d1, d2, common * 1.0 / (ca.n + cb.n - common) AS jac
       |  FROM pairs
       |    JOIN cnt ca ON d1 = ca.doc_id
       |    JOIN cnt cb ON d2 = cb.doc_id),
       |dc AS (SELECT jac, unnest([d1, d2]) AS doc FROM j),
       |th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
       |SELECT th.threshold,
       |       CAST(count(dc.doc) / 2 AS BIGINT) AS n_pairs,
       |       CAST(count(DISTINCT dc.doc) AS BIGINT) AS n_docs
       |FROM th LEFT JOIN dc ON dc.jac >= th.threshold
       |GROUP BY th.threshold ORDER BY th.threshold""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val dc = ngramJaccardAllPairs(Tables.documents(s, d))
      .select($"jac", explode(array($"d1", $"d2")).as("doc"))
    val th = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
    broadcast(th)
      .join(dc, $"jac" >= $"threshold", "left")
      .groupBy($"threshold")
      .agg(
        (count($"doc") / 2).cast("long").as("n_pairs"),
        countDistinct($"doc").as("n_docs"))
      .orderBy($"threshold")
  }

  /** Band configurations for the S-curve sweep: (bands, rows/band) over
    * the same 16 MinHash permutations. */
  private val BandConfigs = Seq((16, 1), (8, 2), (4, 4), (2, 8))

  /** LSH banding S-curve sweep (Leskovec/Rajaraman/Ullman, "Mining of
    * Massive Datasets" ch.3): one signature matrix (16 MinHash perms),
    * four band layouts — many narrow bands catch low-similarity pairs
    * (high recall, many candidates), few wide bands only catch
    * near-identical pairs (cheap, low recall). For each layout, the
    * measured candidate count, recall and precision against the exact
    * Jaccard ≥ 0.7 truth — the table a pipeline reads BEFORE fixing
    * (b, r) for a 100 TB dedup run, where candidate volume IS the cost.
    *
    * Scale: signatures are one shingle exchange + 16 min-aggregates;
    * all four layouts share it, adding only Σ bands = 30 band-key rows
    * per doc to the banded equi-join. The exact truth join is the
    * fixture-scale audit side. */
  val qLshBandSweep = QueryDef.sql(
    "q_lsh_band_sweep", {
      val p = graft.functions.TextFunctions.MinhashP
      val sigCols = graft.functions.TextFunctions.MinhashPerms.zipWithIndex
        .map { case ((a, b), i) => s"min((base * $a + $b) % $p) AS m$i" }
        .mkString(",\n       |         ")
      val bandSelects = BandConfigs.flatMap { case (nb, r) =>
        (0 until nb).map { j =>
          val key = (0 until r).map(k => s"m${j * r + k}").mkString(", ")
          s"""SELECT doc_id, '${nb}x$r' AS cfg, $j AS bj,
             |         concat_ws('|', $key) AS bkey FROM sig""".stripMargin
        }
      }.mkString("\n       |  UNION ALL\n       |  ")
      s"""WITH ds AS (
         |  SELECT DISTINCT doc_id,
         |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                 for i in range(1, len(w)-1)]) AS s
         |  FROM $duckShingles
         |  WHERE len(w) >= 3),
         |bh AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % $p
         |           AS base
         |  FROM ds),
         |sig AS MATERIALIZED (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM bh GROUP BY doc_id),
         |bk AS MATERIALIZED (
         |  $bandSelects),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.cfg, a.doc_id AS d1, b.doc_id AS d2
         |  FROM bk a JOIN bk b
         |    ON a.cfg = b.cfg AND a.bj = b.bj AND a.bkey = b.bkey
         |   AND a.doc_id < b.doc_id),
         |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
         |pairs AS MATERIALIZED (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
         |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT d1, d2
         |  FROM pairs
         |    JOIN cnt ca ON d1 = ca.doc_id
         |    JOIN cnt cb ON d2 = cb.doc_id
         |  WHERE round(common * 1.0 / (ca.n + cb.n - common), 4) >= 0.7),
         |tn AS (SELECT count(*) AS n_true FROM truth),
         |caught AS (
         |  SELECT c.cfg, count(*) AS n_caught
         |  FROM cand c JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2
         |  GROUP BY c.cfg),
         |cc AS (SELECT cfg, count(*) AS n_candidates FROM cand GROUP BY cfg)
         |SELECT cc.cfg AS cfg, CAST(cc.n_candidates AS BIGINT) AS n_candidates,
         |       CAST((SELECT n_true FROM tn) AS BIGINT) AS n_true,
         |       CAST(coalesce(caught.n_caught, 0) AS BIGINT) AS n_caught,
         |       round(coalesce(caught.n_caught, 0) * 1.0
         |             / greatest((SELECT n_true FROM tn), 1), 4) AS recall,
         |       round(coalesce(caught.n_caught, 0) * 1.0
         |             / greatest(cc.n_candidates, 1), 4) AS precision
         |FROM cc LEFT JOIN caught ON caught.cfg = cc.cfg
         |ORDER BY cfg""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val cand = lshSweepCandidates(docs)
    val truth = ngramJaccardAllPairs(docs)
      .filter(round($"jac", 4) >= 0.7)
      .select($"d1".as("t1"), $"d2".as("t2"))
      .localCheckpoint()
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    // ONE pass over the candidate stream for both per-cfg counts
    // (r14 optimization, guide §2.4): the old shape consumed `cand`
    // twice — a plain per-cfg count plus a separate truth-join count —
    // recomputing the banded self-join (the scale-dominant term) end to
    // end per consumer. `truth` is a distinct pair set, so a LEFT join
    // preserves candidate multiplicity exactly: count(1) is the old
    // n_candidates, count(t1) the old inner-join n_caught (0 for
    // uncaught cfgs, matching the old left-join coalesce).
    val cc = cand
      .join(truth, $"d1" === $"t1" && $"d2" === $"t2", "left")
      .groupBy($"cfg")
      .agg(count(lit(1)).as("n_candidates"), count($"t1").as("n_caught"))
    cc.crossJoin(broadcast(nTrue))
      .select(
        $"cfg", $"n_candidates",
        $"n_true".cast("long").as("n_true"),
        $"n_caught".cast("long").as("n_caught"),
        round($"n_caught" * lit(1.0) /
          greatest($"n_true", lit(1L)), 4).as("recall"),
        round($"n_caught" * lit(1.0) /
          greatest($"n_candidates", lit(1L)), 4).as("precision"))
      .orderBy($"cfg")
  }

  /** First-matching-band emission predicate: true iff 0-based band
    * index `bj` is the FIRST position where the two carried band-hash
    * arrays agree — each agreeing pair survives at exactly one band.
    * NOT the element_at OR-chain minhashCandidates uses at 4 bands:
    * widened to 16 bands that condition is ~136 comparisons, which
    * blows the generated join-condition method past the JIT limit and
    * the whole SMJ drops to interpreted eval — measured 47 µs/matched-
    * row on the dense x100 probe (982 s) vs this compact form (one
    * zip_with + array_position per row; the HOF itself is interpreted
    * but the expression is three nodes, so the join stays codegen'd).
    * Shared with DedupSpec's forced-collision pin (r13 VERDICT #4). */
  private[graft] def firstMatchingBand(
      ak1: org.apache.spark.sql.Column,
      ak2: org.apache.spark.sql.Column,
      bj: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_position(zip_with(ak1, ak2, (x, y) => x === y), lit(true)) ===
      bj + 1

  /** The sweep's candidate relation, (cfg, d1, d2), one row per pair per
    * band layout.
    *
    * First-matching-band emission (r13; join key hashed r14): each
    * side carries the cfg's band-key hashes so the banded join's
    * multi-emissions dedup by a first-matching-band FILTER
    * instead of a distinct() — CandidateStreamSpec's registry walker
    * caught the sweep as the one remaining distinct-over-banded-join;
    * the filter form never exchanges a candidate row, and the per-cfg
    * counts become plain map-side-combined counts. The carried array
    * holds xxhash64 of each band key, not the key strings: the extra
    * banding-exchange bytes are corpus-LINEAR (Σ nb² · 8 B per doc
    * ≈ 2.7 kB) but the string form measured 1.14× on the sf0.1
    * fixture — hashing buys that back ~3×. The JOIN KEY is that same
    * hash (r14): the r13 form joined on the exact band-key string
    * while the first-match test read hashes, so an earlier-band 64-bit
    * collision strictly before a pair's first TRUE match pointed
    * array_position at a band with no join row and silently LOST the
    * pair — no later band could catch it (the first hash agreement
    * precedes every later true match by construction). With the hash
    * as the join key the first hash-agreeing band always HAS a join
    * row, so a pair with any truly matching band is emitted exactly
    * once, never zero; the sole failure mode left is a pair with NO
    * true band match whose hashes collide somewhere — a one-sided
    * false MERGE, ≤ nb/2⁶⁴ per pair, the same accepted class as the
    * verify arrays (oracle parity certifies none fired; shape pinned
    * by DedupSpec's "forced earlier-band hash agreement" case, r13
    * VERDICT #4). The pre-r13 `distinct()` form had pair-sized partial
    * state and exchange — clique-quadratic on dense corpora. */
  private[graft] def lshSweepCandidates(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.functions.TextFunctions._
    val bh = docs
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id",
        explode(array_distinct(shingles($"w", 3))).as("sh"))
      .select($"doc_id", minhashBase($"sh").as("base"))
    val sig = bh
      .groupBy($"doc_id")
      .agg(
        MinhashPerms.zipWithIndex.map { case (_, i) =>
          min(minhashPerm($"base", i)).as(s"m$i")
        }.head,
        MinhashPerms.zipWithIndex.tail.map { case (_, i) =>
          min(minhashPerm($"base", i)).as(s"m$i")
        }: _*)
    def bandKeys(nb: Int, r: Int): Seq[org.apache.spark.sql.Column] =
      (0 until nb).map { j =>
        concat_ws("|",
          (0 until r).map(k => col(s"m${j * r + k}").cast("string")): _*)
      }
    val bk = BandConfigs
      .map { case (nb, r) =>
        sig.select($"doc_id", lit(s"${nb}x$r").as("cfg"),
            array(bandKeys(nb, r).map(xxhash64(_)): _*).as("allkh"))
          .select($"doc_id", $"cfg", $"allkh",
            posexplode($"allkh").as(Seq("bj", "kh")))
      }
      .reduce(_.unionAll(_))
    bk.select($"cfg", $"bj", $"kh", $"allkh".as("ak1"),
        $"doc_id".as("d1"))
      .join(
        bk.select($"cfg", $"bj", $"kh", $"allkh".as("ak2"),
          $"doc_id".as("d2")),
        Seq("cfg", "bj", "kh"))
      .filter($"d1" < $"d2" && firstMatchingBand($"ak1", $"ak2", $"bj"))
      .select($"cfg", $"d1", $"d2")
  }

  /** Prefix-filter length for a `n`-shingle set at Jaccard 4/5 — exact
    * integer form of n − ⌈0.8·n⌉ + 1: (4n+4) div 5 is ⌈4n/5⌉ with no
    * dependence on double rounding (0.8 is not representable; a
    * float-ceil that ever rounded the product up would silently shorten
    * the prefix and cost recall, so the correctness-critical bound
    * stays in integers on both engines). */
  private[graft] def prefixLen(n: Long): Long = n - ((4 * n + 4) / 5) + 1

  /** Exact Jaccard ≥ 0.8 similarity join via PREFIX FILTERING
    * (Chaudhuri/Ganjam/Kaushik 2006 "primitive operator for similarity
    * joins"; Xiao et al. 2008 PPJoin) — the deterministic alternative to
    * MinHash-LSH candidates: provably NO false negatives, so the output
    * is bit-identical to the brute-force inverted-index join
    * (`q_dedup_ngram_jaccard`), which is exactly what the oracle checks.
    *
    * Mechanics: shingles get a global rarity order (ascending document
    * frequency, shingle tiebreak); a doc with ℓ distinct shingles only
    * indexes its first ℓ − ⌈0.8ℓ⌉ + 1 rarest shingles (the prefix-filter
    * lemma: two sets with overlap ≥ α must collide within their first
    * ℓ − α + 1 elements, and J ≥ t forces α ≥ ⌈t·ℓ⌉ on both sides); the
    * self-join runs on that ~20% sliver, plus the 5n₁ ≥ 4n₂ length
    * filter, then candidates verify against the full postings.
    *
    * Scale (100 TB): postings volume into the self-join drops ~5× at
    * t=0.8, and — unlike the DF-capped full join — hot boilerplate
    * shingles are STRUCTURALLY excluded: high-df shingles sort last in
    * the rarity order and never enter a prefix (no cap heuristic, no
    * lost pairs). The df ranking reuses the shingle-partitioned
    * exchange; the per-doc prefix rank and count share one
    * doc-partitioned window pass. */
  val qPrefixFilterJoin = QueryDef.sql(
    "q_prefix_filter_join",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |       round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |FROM pairs
       |  JOIN cnt ca ON d1 = ca.doc_id
       |  JOIN cnt cb ON d2 = cb.doc_id
       |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    prefixFilterPairs(Tables.documents(s, d)).orderBy($"d1", $"d2")
  }

  /** Shared prefix-filter postings: one distinct (doc_id, shingle) row
    * per doc, hash-partitioned on the shingle — the one exchange the
    * df count, the rarity ranking and the verify arrays all reuse. */
  private[graft] def prefixPosts(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
      .repartition(col("s"))
  }

  /** The prefix-filtered CANDIDATE relation (d1, d2, n1, n2).
    *
    * FIRST-COMMON-HASH EMISSION (r14), mirroring [[lshSweepCandidates]].
    * The candidate pair meets once per shared prefix
    * shingle, and this multi-emission used to be deduped by
    * distinct() — a pair-sized exchange with pair-keyed partial maps,
    * the r11e class the LSH sweep already abandoned; the r13 walker's
    * string-taint extension (CandidateStreamSpec) flagged it on its
    * first registry-wide run. Now each doc carries its sorted
    * prefix-HASH array once (~8·ℓ/5 B), the self-join runs on the
    * 64-bit hash, and a stateless FILTER keeps only the row whose hash
    * is the first common element of the two arrays
    * ([[graft.plans.SortedLongFirstCommon]]): exactly one emission per
    * pair, nothing pair-sized ever exchanged before the verify. The
    * join key BEING the tested hash means the first common element
    * always has a join row, so no pair sharing a true prefix shingle
    * can be lost (the sweep's r14 lesson); a cross-doc collision can
    * only ADD a candidate, which the verify scores with the same hash
    * arrays — folding into its existing one-sided false-merge term
    * (~ℓ²/2⁶⁵ per pair). Within-doc collisions are deduped by
    * array_distinct, keeping the exploded hash unique per doc. The
    * hash join key is also 8 B against the ~40 B shingle string the
    * r13 join exchanged. */
  private[graft] def prefixCandidates(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val posts = prefixPosts(docs)
    val dfs = posts.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    val rarity = byDoc.orderBy($"df", $"s")
    val ranked = posts
      .join(dfs, "s")
      .select($"doc_id", $"s",
        row_number().over(rarity).as("r"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked
      // integer div — see prefixLen's double-ceil trap
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .select($"doc_id", $"s", $"n")
    val perDoc = prefix
      .select($"doc_id", $"n", xxhash64($"s").as("kh"))
      .groupBy($"doc_id")
      .agg(sort_array(array_distinct(collect_list($"kh"))).as("ph"),
        max($"n").as("n"))
    val side = perDoc.select($"doc_id", $"n", $"ph", explode($"ph").as("kh"))
    side.as("a")
      .join(side.as("b"),
        $"a.kh" === $"b.kh" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 5 >= $"b.n" * 4 && $"b.n" * 5 >= $"a.n" * 4)
      .filter($"a.kh" ===
        graft.plans.SortedIntersect.firstCommon($"a.ph", $"b.ph"))
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        $"a.n".as("n1"), $"b.n".as("n2"))
  }

  /** The prefix-filtered join body behind [[qPrefixFilterJoin]] —
    * returns (d1, d2, jaccard) for exact Jaccard ≥ 0.8, d1 < d2. */
  private[graft] def prefixFilterPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cands = prefixCandidates(docs)
    // Hash-array verify (r12, SCALE.md r11 residual #1): the common
    // count used to come from joining candidates back to the string
    // postings, so the pair stream crossed its exchange as
    // (pair × common-shingle) STRING rows — Θ(pairs·ℓ·~40 B), the
    // dense-probe scratch killer. Each doc's shingle set now travels
    // ONCE as a sorted xxhash64 array (~8ℓ B/doc); the only pair-sized
    // exchange carries one array per row and the count is a codegen'd
    // sorted-merge (graft.plans.SortedLongIntersectCount). Hashing is
    // engine-internal — the oracle still counts string shingles, and
    // parity holds unless two distinct shingles in one pair's union
    // collide at 64 bits (~ℓ²/2⁶⁵ per pair; accepted error term that
    // scales with pair count on dense fixtures). The failure mode's
    // SHAPE is pinned by SortedIntersectSpec "a forced 64-bit
    // collision inflates common by exactly one": a collision adds one
    // to `common`, which can only push jac UP across the threshold —
    // a false merge, never a false split.
    val hashed = docShingleHashes(prefixPosts(docs))
    cands
      .join(hashed.as("h1"), $"d1" === $"h1.doc_id")
      .join(hashed.as("h2"), $"d2" === $"h2.doc_id")
      .select($"d1", $"d2", $"n1", $"n2",
        graft.plans.SortedIntersect.count($"h1.sh", $"h2.sh").as("common"))
      .withColumn("jac",
        $"common" * lit(1.0) / ($"n1" + $"n2" - $"common"))
      .filter($"jac" >= 0.8)
      .select($"d1", $"d2", round($"jac", 4).as("jaccard"))
  }

  /** One sorted 64-bit shingle-hash array per doc — the verify-side
    * representation of the postings (see [[prefixFilterPairs]]). */
  private def docShingleHashes(
      posts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = posts.sparkSession
    import s.implicits._
    posts.groupBy($"doc_id")
      .agg(sort_array(collect_list(xxhash64($"s"))).as("sh"))
  }

  /** Per-doc emission cap for [[qPrefixFilterCapped]]. */
  val PrefixCapK = 5

  /** Group-capped emission mode of the prefix-filter join — the
    * production dial for CLIQUE-HEAVY corpora (SCALE.md r10 residual
    * #4): on a corpus of near-dup cliques the TRUE pair count is
    * Σ size²/2 — the dense x100 probe measured 24.7M pairs from 100-
    * cliques, output-bound by the data, not the plan — but a dedup
    * consumer only needs each doc's best few partners, not the full
    * quadratic clique interior. This variant runs the IDENTICAL
    * lossless prefix-filtered candidate+verify dataflow
    * ([[prefixFilterPairs]] — no recall loss in what is RANKED) and
    * caps the EMISSION: per left doc, the [[PrefixCapK]] highest-
    * Jaccard partners (rounded-score rank, d2 tiebreak — ulps cannot
    * flip an emission), plus the doc's total qualifying-partner count
    * so downstream sees the truncation instead of mistaking the cap
    * for the clique size. Output is ≤ n·K rows on ANY corpus shape.
    *
    * Scale: the cap is a d1-partitioned window over the verified-pair
    * relation (bounded per partition by the doc's partner count); the
    * quadratic intermediate still flows through the verify aggregate —
    * that term is the data's, and the probe battery measures it
    * honestly — but the materialized/written output, the downstream
    * shuffle, and every consumer after this operator drop from
    * Σ size² to n·K. */
  val qPrefixFilterCapped = QueryDef.sql(
    "q_prefix_filter_capped",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
       |  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT d1, d2,
       |         round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
       |  FROM pairs
       |    JOIN cnt ca ON d1 = ca.doc_id
       |    JOIN cnt cb ON d2 = cb.doc_id
       |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.8)
       |SELECT d1, d2, jaccard,
       |       CAST(row_number() OVER w AS INT) AS pair_rank,
       |       CAST(count(*) OVER (PARTITION BY d1) AS BIGINT) AS n_partners
       |FROM jac
       |WINDOW w AS (PARTITION BY d1 ORDER BY jaccard DESC, d2)
       |QUALIFY row_number() OVER w <= $PrefixCapK
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val jac = prefixFilterPairs(Tables.documents(s, d))
    val byD1 = Window.partitionBy($"d1")
    // rank by the ROUNDED jaccard (already round(.,4) in the pair body)
    // with d2 tiebreak, so both engines rank identical quantized keys
    val w = byD1.orderBy($"jaccard".desc, $"d2")
    jac
      .select($"d1", $"d2", $"jaccard",
        row_number().over(w).cast("int").as("pair_rank"),
        count(lit(1)).over(byD1).cast("long").as("n_partners"))
      .filter($"pair_rank" <= PrefixCapK)
      .orderBy($"d1", $"d2")
  }

  /** Per-doc CANDIDATE cap for [[qPrefixFilterSampled]] — sized above
    * [[PrefixCapK]] so the emission rank still has slack to rank within
    * the sample. */
  val PrefixSampleK = 20

  /** Sample-per-clique prefix join — the dial that bounds the VERIFY
    * intermediate, which [[qPrefixFilterCapped]]'s post-verify emission
    * cap cannot: on a clique-dense corpus the candidate set ≈ the
    * clique interiors (Σ size²/2 pairs — the r10 dense battery's 24.7M
    * at x100), and the capped query still pushes every candidate
    * through the common-shingle verify shuffle, which is exactly the
    * stage that exceeded this box's scratch at dense x100 (uncapped
    * ERR at 474 s, post-verify-capped ERR at 322 s — scaleprobe-r10d /
    * -r11b). This variant caps CANDIDATES per left doc to the
    * [[PrefixSampleK]] smallest d2 (a deterministic, oracle-replayable
    * order) BEFORE verification, so verify work per doc is bounded by
    * K'·|shingles| on ANY clique size. The cap itself is the
    * bounded-partial-state [[graft.plans.SmallestKAgg]] (not a
    * window): map-side combine bounds the exchange at ≤ K' longs per
    * (d1, partition), so the pre-cap candidate stream — quadratic
    * inside cliques — is streamed through the aggregate, never
    * shuffled (late-r11; the window form's exchange of that stream was
    * the dense-x1000 ENOSPC, scaleprobe-r11f.json). SEMANTICS ARE
    * SAMPLING, stated
    * loudly: a qualifying partner outside the K'-smallest-d2 candidate
    * sample is never scored — on clique-heavy data that is the point
    * (any K partners of a clique member represent the clique), and the
    * lossless [[qPrefixFilterJoin]] stays the exactness path.
    *
    * The oracle cannot shortcut through the full exact join here (the
    * sample depends on the PREFIX-generated candidate set), so it
    * replays the prefix machinery longhand: document frequencies,
    * (df, shingle) rarity ranks, the integer prefix bound, the
    * length-ratio filter — each deterministic, so both engines derive
    * the identical candidate sample. */
  val qPrefixFilterSampled = QueryDef.sql(
    "q_prefix_filter_sampled",
    s"""WITH ds AS (
       |  SELECT DISTINCT doc_id,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM $duckShingles
       |  WHERE len(w) >= 3),
       |dfr AS (SELECT s, count(*) AS df FROM ds GROUP BY s),
       |rk AS (
       |  SELECT ds.doc_id, ds.s,
       |         row_number() OVER (PARTITION BY ds.doc_id
       |                            ORDER BY dfr.df, ds.s) AS r,
       |         count(*) OVER (PARTITION BY ds.doc_id) AS n
       |  FROM ds JOIN dfr USING (s)),
       |pfx AS (SELECT doc_id, s, n FROM rk
       |        WHERE r <= n - ((n * 4 + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |         a.n AS n1, b.n AS n2
       |  FROM pfx a JOIN pfx b
       |    ON a.s = b.s AND a.doc_id < b.doc_id
       |   AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4),
       |samp AS (
       |  SELECT d1, d2, n1, n2 FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY d1 ORDER BY d2)
       |          <= $PrefixSampleK),
       |common AS (
       |  SELECT c.d1, c.d2, c.n1, c.n2, count(*) AS common
       |  FROM samp c
       |  JOIN ds p1 ON p1.doc_id = c.d1
       |  JOIN ds p2 ON p2.doc_id = c.d2 AND p2.s = p1.s
       |  GROUP BY c.d1, c.d2, c.n1, c.n2),
       |jac AS (
       |  SELECT d1, d2,
       |         round(common * 1.0 / (n1 + n2 - common), 4) AS jaccard
       |  FROM common
       |  WHERE common * 1.0 / (n1 + n2 - common) >= 0.8)
       |SELECT d1, d2, jaccard,
       |       CAST(row_number() OVER w AS INT) AS pair_rank,
       |       CAST(count(*) OVER (PARTITION BY d1) AS BIGINT)
       |         AS n_sampled_partners
       |FROM jac
       |WINDOW w AS (PARTITION BY d1 ORDER BY jaccard DESC, d2)
       |QUALIFY row_number() OVER w <= $PrefixCapK
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val posts = docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
      .repartition(col("s"))
    val dfs = posts.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    val rarity = byDoc.orderBy($"df", $"s")
    val ranked = posts
      .join(dfs, "s")
      .select($"doc_id", $"s",
        row_number().over(rarity).as("r"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .select($"doc_id", $"s", $"n")
    // The K'-smallest-d2 cap as a BOUNDED-PARTIAL-STATE aggregate
    // (r11f finding): the prior distinct + row_number form exchanged
    // the whole pre-cap candidate stream — data-quadratic on clique
    // corpora, the measured dense-x1000 ENOSPC at 541 s. smallestK's
    // map-side combine collapses each partition's candidates per d1 to
    // ≤ K' longs BEFORE the exchange, so the quadratic stream is
    // CPU-streamed, never shuffled (the pHash first-matching-band
    // lesson applied to a top-K cap). Same sample set: K' smallest
    // DISTINCT d2 per d1. n2 is re-attached from the per-doc shingle
    // counts — a corpus-sized (linear) join on the capped pairs.
    val docN = prefix.select($"doc_id", $"n").distinct()
    val samp = prefix.as("a")
      .join(prefix.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 5 >= $"b.n" * 4 && $"b.n" * 5 >= $"a.n" * 4)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"), $"a.n".as("n1"))
      .groupBy($"d1", $"n1")
      .agg(graft.plans.SmallestKAgg.smallestK($"d2", PrefixSampleK)
        .as("d2s"))
      .select($"d1", $"n1", explode($"d2s").as("d2"))
      .join(docN.select($"doc_id".as("d2key"), $"n".as("n2")),
        $"d2" === $"d2key")
      .select($"d1", $"d2", $"n1", $"n2")
    // Hash-array verify (r12): same rewrite as [[prefixFilterPairs]] —
    // the capped candidates attach one sorted shingle-hash array per
    // side and the common count is the codegen'd sorted-merge, so the
    // verify's pair-sized exchange carries ~8ℓ B/row instead of the
    // (pair × common-shingle) string stream that was the dense-x1000
    // ~500 GB intermediate (SCALE.md r11 residual #1).
    val hashed = docShingleHashes(posts)
    val jac = samp
      .join(hashed.as("h1"), $"d1" === $"h1.doc_id")
      .join(hashed.as("h2"), $"d2" === $"h2.doc_id")
      .select($"d1", $"d2", $"n1", $"n2",
        graft.plans.SortedIntersect.count($"h1.sh", $"h2.sh").as("common"))
      .withColumn("jac",
        $"common" * lit(1.0) / ($"n1" + $"n2" - $"common"))
      .filter($"jac" >= 0.8)
      .select($"d1", $"d2", round($"jac", 4).as("jaccard"))
    val byD1 = Window.partitionBy($"d1")
    val wEmit = byD1.orderBy($"jaccard".desc, $"d2")
    jac
      .select($"d1", $"d2", $"jaccard",
        row_number().over(wEmit).cast("int").as("pair_rank"),
        count(lit(1)).over(byD1).cast("long").as("n_sampled_partners"))
      .filter($"pair_rank" <= PrefixCapK)
      .orderBy($"d1", $"d2")
  }

  def defs: Seq[QueryDef] =
    Seq(qDedupExact, qNgramJaccard, qMinhashLsh, qSimhash, qDedupGroups,
      qDedupCanonical, qDedupGroupStats, qLshRecall, qNgramNovelty,
      qDedupThresholdSweep, qLshBandSweep, qPrefixFilterJoin,
      qPrefixFilterCapped, qPrefixFilterSampled)
}

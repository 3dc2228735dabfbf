package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeSet, BinaryComparison, Expression, IsNotNull,
  Murmur3Hash, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.execution.{
  BaseLimitExec, ExpandExec, FilterExec, GenerateExec, LocalTableScanExec,
  ProjectExec, RDDScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec,
  UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Structural enforcement of the r11 scale rule: a data-quadratic
  * candidate stream may be STREAMED but never EXCHANGED (SCALE.md
  * "de-quadraticized twice"; VERDICT r11 task #5).
  *
  * The rule was established by audit: every banded self-join in the
  * dedup family (MinHash-LSH, pHash, prefix-filter sampled) emits each
  * candidate pair exactly once via a first-matching-band FILTER, or
  * caps it through a bounded-partial-state aggregate
  * ([[graft.plans.SmallestKAgg]]) — never a `distinct()` or a window,
  * both of which shuffle the raw (clique-quadratic) join output and
  * were the measured dense-x1000 ENOSPCs (scaleprobe-r11e/f).
  *
  * Two layers of enforcement (r12 VERDICT task #1 — the r12 spec
  * guarded four producers by hand-enumeration; a new banded join
  * landing outside that list was unguarded until someone remembered to
  * register it):
  *
  *  1. The HAND LIST (minimum coverage): each known candidate
  *     producer's plan is walked root→first-binary-node and every
  *     shuffle on that path must be legitimized. Kept as a pin even
  *     though discovery now covers all of its families (r13: the
  *     string-keyed mode below closed the prefix-filter gap).
  *  2. AUTO-DISCOVERY (the whole registry): every `SparkEntry.allDefs`
  *     plan is prepared (AQE off, auto-broadcast off so fixture-sized
  *     stats cannot hide the at-scale shuffle structure; explicit
  *     `broadcast()` hints — the adjudicated linear ANN query-side
  *     class — survive, are excluded from the banded-join check, and
  *     must instead pass the BOUNDED-LINEAGE broadcast guard below)
  *     and scanned in two taint modes:
  *      - [[HashTaint]]: equi-joins whose keys derive, through any
  *        chain of projections / aggregates / generators / windows /
  *        expands, from a band or bucket hash (xxhash64, murmur3,
  *        [[graft.plans.StableHash60]],
  *        [[graft.plans.HyperplaneBuckets]],
  *        [[graft.plans.PhashBandCodes]]);
  *      - [[GenStringTaint]] (r13 VERDICT #2): equi-joins whose keys
  *        are generator-produced STRINGS (the prefix-filter family's
  *        raw shingle keys, which hash taint cannot see). A
  *        string-keyed join only counts as banded when NEITHER side
  *        is key-unique: the postings×df-count join is string-keyed
  *        but linear because the df side is grouped exactly on the
  *        join key.
  *     Every banded join must have no unlegitimized shuffle between
  *     it and the plan root segment above it. A NEW banded self-join
  *     landing anywhere in the registry — hash- or string-keyed — is
  *     guarded the day it lands.
  *
  * Legitimizers between a banded join and a shuffle above it:
  *  - a Filter with at least one REAL predicate (r12 ADVICE: a filter
  *    whose condition is solely IsNotNull conjuncts — the shape the
  *    planner inserts for null-intolerant keys — does NOT legitimize;
  *    the emission filters this rule exists for always carry a
  *    comparison);
  *  - a graft.plans bounded-state aggregate partial (≤ k rows per
  *    group cross the wire);
  *  - a global (no-grouping) aggregate partial (one row per partition);
  *  - a grouped aggregate whose functions are all declarative
  *    (constant-width per-group state): a pair-KEYED such aggregate is
  *    computing the pair relation the query declares as OUTPUT — the
  *    adjudicated output-sized class (q_winnow_pairs, the ngram-Jaccard
  *    common counts).
  * The deliberate non-legitimizers: a function-less grouped aggregate
  * (= `distinct()`, pure multi-emission dedup — the measured r11e
  * ENOSPC) and imperative collectors (`collect_list` — unbounded
  * buffers, r11f). The `groupBy(d1,d2).agg(count(1))` loophole (r13
  * ADVICE) is narrower than it reads: using it as a DEDUP step means
  * dropping the count downstream, and Catalyst column pruning then
  * rewrites the node to a function-less aggregate, which this guard
  * flags — measured by the "dedup-in-disguise" test below. What
  * remains accepted (SCALE.md residual #2) is the shape that KEEPS
  * the count in the declared output, i.e. the pair relation is the
  * query's result — the adjudicated output-sized class.
  */
class CandidateStreamSpec extends SparkSpec {
  import spark.implicits._

  /** r12 ADVICE #4: a condition that is nothing but IsNotNull
    * conjuncts is planner null-intolerance plumbing, not an emission
    * filter — it must not clear a pending exchange. */
  private def isNullGuardOnly(cond: Expression): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).forall {
      case IsNotNull(_) => true
      case _ => false
    }
  }

  /** Does this node legitimize the stream for exchanges ABOVE it?
    * (Shared by the hand walker and the registry discovery walker.)
    *
    * Aggregates: what crosses the wire above an aggregate partial is
    * one buffer per (partition, group), so the class of the BUFFER
    * decides:
    *  - graft.plans bounded-state aggs (SmallestKAgg, sketches): ≤ k
    *    values per group by construction — legitimize;
    *  - declarative aggs (count/sum/min/max/avg): constant-width
    *    per-group state, and a pair-KEYED aggregate with real functions
    *    is computing the pair relation the query declares as output —
    *    the adjudicated output-sized class (q_winnow_pairs,
    *    q_dedup_ngram_jaccard common counts; SCALE.md:1088) —
    *    legitimize;
    *  - an aggregate with NO functions is a `distinct()` — pure
    *    multi-emission dedup, always expressible as an emission filter,
    *    the measured r11e ENOSPC — does NOT legitimize;
    *  - non-graft imperative collectors (collect_list & friends) carry
    *    group-size-proportional state — the unbounded-buffer trap
    *    SmallestKAgg exists to avoid (r11f) — do NOT legitimize. */
  private def legitimizes(n: SparkPlan): Boolean = n match {
    case f: FilterExec => !isNullGuardOnly(f.condition)
    case a: BaseAggregateExec =>
      (a.groupingExpressions.isEmpty && a.aggregateExpressions.nonEmpty) ||
      (a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall { ae =>
        ae.aggregateFunction match {
          case f if f.getClass.getName.startsWith("graft.plans.") => true
          case _: DeclarativeAggregate => true
          case _ => false
        }
      })
    case _ => false
  }

  /** Prepared physical plan: post-EnsureRequirements (sparkPlan has no
    * Exchange nodes — a guard on it is vacuous), AQE off (else the tree
    * is an adaptive wrapper), auto-broadcast off (fixture-sized stats
    * would otherwise plan the at-scale shuffled self-joins as broadcast
    * and hide their shuffle structure; explicit broadcast() hints are
    * design intent and survive the -1 threshold). */
  private def preparedPlan(df: DataFrame): SparkPlan = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try df.queryExecution.executedPlan
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** Walks root→first-binary-node; fails on an unlegitimized shuffle.
    * The hand-list walker: it needs no key taint, so it also guards
    * string-keyed self-joins (the prefix-filter family). */
  private def assertStreamedNotExchanged(df: DataFrame, what: String): Unit = {
    val root = preparedPlan(df)
    var sawJoin = false
    def walk(n: SparkPlan, pendingExchange: Boolean): Unit = {
      if (n.children.size == 2) {
        // the banded self-join (the only binary nodes in these plans
        // are joins); everything below is the linear code/sig builder
        sawJoin = true
        assert(!pendingExchange,
          s"$what: shuffle exchange above the candidate self-join with no " +
            s"bounded-aggregate or filter between — the raw candidate " +
            s"stream would cross the wire\n${root.treeString}")
      } else {
        val pending = n match {
          case _: ShuffleExchangeLike => true
          case x if legitimizes(x) => false
          case _ => pendingExchange
        }
        n.children.foreach(walk(_, pending))
      }
    }
    walk(root, pendingExchange = false)
    assert(sawJoin, s"$what: no join found — guard is vacuous\n${root.treeString}")
  }

  // ---------------------------------------------------------------------
  // Registry-wide auto-discovery (r12 VERDICT task #1)
  // ---------------------------------------------------------------------

  /** Band/bucket hash sources. NOT the whole graft.plans package: the
    * bounded-state aggregates (SmallestKAgg) output plain doc ids and
    * must not taint them. */
  private def isBandMarker(e: Expression): Boolean = e.exists {
    case _: XxHash64 | _: Murmur3Hash => true
    case _: graft.plans.StableHash60 => true
    case _: graft.plans.HyperplaneBuckets => true
    case _: graft.plans.PhashBandCodes => true
    case _ => false
  }

  /** Two discovery modes share one walker (r13 VERDICT #2):
    * [[HashTaint]] seeds at band/bucket hash EXPRESSIONS; its join rule
    * flags any tainted-key equi-join. [[GenStringTaint]] seeds at
    * generator (explode) STRING outputs — the raw shingle keys of the
    * prefix-filter family that hash taint cannot see; its join rule
    * additionally requires BOTH sides non-key-unique, because a
    * string-keyed join against a relation grouped exactly on the join
    * key (the postings×df-count join) is linear, not a candidate
    * blow-up. */
  private sealed trait TaintMode
  private case object HashTaint extends TaintMode
  private case object GenStringTaint extends TaintMode

  /** Is this join side at-most-one-row-per-key by construction?
    * Walking down from the join through unary tuple-preserving nodes,
    * the first cardinality-changing node decides: a grouped aggregate
    * whose grouping attrs are a subset of the side's join-key attrs
    * (or a global aggregate) collapses to unique keys; a generator /
    * expand / union / join below re-multiplies (conservative: treated
    * as non-unique without looking further). */
  private def keyUnique(side: SparkPlan, sideKeys: Seq[Expression]): Boolean = {
    // key attrs are rewritten through Alias chains on the way down
    // (aggregates collapse output renames into resultExpressions — a
    // grouped-by-doc_id agg whose output aliases doc_id must still
    // read as unique)
    def remap(keys: AttributeSet,
        named: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        : AttributeSet =
      AttributeSet(keys.toSeq.flatMap { a =>
        named.collectFirst {
          case al: Alias if al.exprId == a.exprId => al.child.references.toSeq
        }.getOrElse(Seq(a))
      })
    def down(n: SparkPlan, keys: AttributeSet): Boolean = n match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          AttributeSet(a.groupingExpressions.map(_.toAttribute))
            .subsetOf(remap(keys, a.resultExpressions))
      case p: ProjectExec => down(p.child, remap(keys, p.projectList))
      case u if u.children.size == 1 => down(u.children.head, keys)
      case _ => false
    }
    down(side, AttributeSet(sideKeys.flatMap(_.references)))
  }

  /** One combined pass over a prepared plan: taint flows BOTTOM-UP
    * through projections/aggregates/generators/windows/expands/unions;
    * the pending-exchange flag flows TOP-DOWN with the shared
    * legitimizer rules. At every non-broadcast equi-join the mode
    * declares banded, a pending exchange is a violation: the raw
    * candidate stream would cross the wire.
    * Returns (violations, banded-join hit count). */
  private def scanBandedJoins(
      root: SparkPlan, mode: TaintMode = HashTaint): (Seq[String], Int) = {
    def taintedBy(e: Expression, t: AttributeSet): Boolean = mode match {
      case HashTaint => isBandMarker(e) || e.references.exists(t.contains)
      case GenStringTaint => e.references.exists(t.contains)
    }
    val violations = Seq.newBuilder[String]
    var hits = 0
    def go(n: SparkPlan, pending: Boolean): AttributeSet = n match {
      case j: BaseJoinExec =>
        // below a join each side is its own (pre-join, linear) stream
        val t = j.children.map(go(_, false)).reduceLeft(_ ++ _)
        val keys = j.leftKeys ++ j.rightKeys
        val keyTainted = keys.nonEmpty && keys.exists(taintedBy(_, t))
        val banded = mode match {
          case HashTaint => keyTainted
          case GenStringTaint =>
            keyTainted &&
              !keyUnique(j.left, j.leftKeys) &&
              !keyUnique(j.right, j.rightKeys)
        }
        // an explicit broadcast() hint survived the -1 threshold: the
        // adjudicated linear class (ANN query-side, centroid sidecars)
        val hinted = j.isInstanceOf[BroadcastHashJoinExec]
        // EMISSION/VERIFY AT THE JOIN: the optimizer pushes post-join
        // filters into the residual condition, so the first-matching-
        // band predicate (q_media_phash_neardup) or the similarity
        // threshold (q_embed_neardup_lsh's cos_sim > 0.45) may live
        // HERE instead of in a FilterExec above — the join's output is
        // then already the emitted/verified (output-sized) stream.
        // Discriminators (either suffices):
        //  - the residual references TAINTED band columns beyond the
        //    equi keys (first-matching-band tests over the band-key
        //    arrays, whether literal band-index compares or
        //    forall/zip_with lambdas — q_media_phash_neardup,
        //    q_lsh_band_sweep), or
        //  - a residual comparison against a LITERAL (a similarity
        //    threshold over untainted payload columns —
        //    q_embed_neardup_lsh's cos_sim > 0.45).
        // A pure attr-vs-attr residual over untainted columns (the
        // d1 < d2 pair-ordering) halves the raw stream but leaves it
        // quadratic and does NOT self-legitimize. If a refactor makes
        // the emission/verify predicate non-pushable, the plan
        // genuinely regresses to a raw-stream exchange and this guard
        // goes red.
        val verifyAtJoin = j.condition.exists(c =>
          c.references.exists(t.contains) || c.exists {
            case b: BinaryComparison => b.left.foldable || b.right.foldable
            case _ => false
          })
        if (banded && !hinted) {
          hits += 1
          if (pending && !verifyAtJoin) {
            violations += s"banded self-join (${keys.mkString(", ")}) under " +
              s"an unlegitimized shuffle exchange:\n${j.treeString}"
          }
        }
        t
      case e: ShuffleExchangeLike => go(e.children.head, pending = true)
      case b: BroadcastExchangeLike => go(b.children.head, pending = false)
      // Taint accumulation is MONOTONE — sets are never filtered down to
      // a node's output. ExprIds are globally unique, so out-of-scope
      // entries are inert, and keeping them is load-bearing: a FINAL-
      // mode aggregate's expressions still reference the ORIGINAL input
      // attribute (not the partial buffer attr), which only exists in
      // the taint gathered below the partial agg.
      case r: ReusedExchangeExec =>
        val t = go(r.child, pending)
        t ++ AttributeSet(r.output.zip(r.child.output).collect {
          case (o, c) if t.contains(c) => o
        })
      case p: ProjectExec =>
        val t = go(p.child, pending)
        t ++ AttributeSet(p.projectList.collect {
          case a: Alias if taintedBy(a.child, t) => a.toAttribute
        })
      case a: BaseAggregateExec =>
        val t = go(a.child, if (legitimizes(a)) false else pending)
        val childOut = AttributeSet(a.child.output)
        val fresh = a.output.filterNot(childOut.contains)
        val srcs: Seq[Expression] =
          a.aggregateExpressions.map(_.aggregateFunction) ++ a.groupingExpressions
        if (srcs.exists(taintedBy(_, t))) t ++ AttributeSet(fresh) else t
      case g: GenerateExec =>
        val t = go(g.child, pending)
        mode match {
          case HashTaint =>
            if (taintedBy(g.generator, t)) t ++ AttributeSet(g.generatorOutput)
            else t
          case GenStringTaint =>
            // every exploded string is a potential shingle key: taint
            // seeds HERE (the mode has no expression-level marker);
            // a tainted generator also propagates to non-string
            // outputs (exploding a collected array of tainted hashes
            // keeps the lineage — the prefix family's r14 shape)
            val propagated =
              if (taintedBy(g.generator, t)) g.generatorOutput else Nil
            t ++ AttributeSet(propagated ++
              g.generatorOutput.filter(_.dataType == StringType))
        }
      case w: WindowExec =>
        val t = go(w.child, pending)
        t ++ AttributeSet(w.windowExpression.collect {
          case a: Alias if taintedBy(a.child, t) => a.toAttribute
        })
      case ex: ExpandExec =>
        val t = go(ex.child, pending)
        t ++ AttributeSet(ex.output.indices.collect {
          case i if ex.projections.exists(p => taintedBy(p(i), t)) =>
            ex.output(i)
        })
      case u: UnionExec =>
        // tuple-preserving: an exchange above a union still carries the
        // children's streams, so pending flows through
        val ts = u.children.map(go(_, pending))
        val all = ts.reduceLeft(_ ++ _)
        all ++ AttributeSet(u.output.indices.collect {
          case i if ts.zip(u.children).exists { case (t, c) =>
            i < c.output.size && t.contains(c.output(i))
          } => u.output(i)
        })
      case f: FilterExec =>
        go(f.child, if (legitimizes(f)) false else pending)
      case other =>
        // unknown binary nodes start fresh streams below; unary
        // tuple-preserving nodes (Sort, codegen wrappers, limits,
        // InputAdapter) pass both taint and pending through
        val childPending = if (other.children.size >= 2) false else pending
        if (other.children.isEmpty) AttributeSet.empty
        else other.children.map(go(_, childPending)).reduceLeft(_ ++ _)
    }
    val t = go(root, pending = false)
    val _ = t
    (violations.result(), hits)
  }

  /** r13 VERDICT #5: every explicitly-broadcast side must have bounded
    * lineage — the walker excludes `broadcast()` hints from the
    * banded-join check (the adjudicated linear ANN query-side class),
    * so without this a future corpus-sized broadcast() would sail
    * through the guard AND OOM every executor at scale. Bounding
    * nodes: TakeOrdered / limits, literal & parallelized relations,
    * small literal ranges, aggregates (the centroid / codebook /
    * vocab sidecar class — their group domains are model-sized
    * constants), and literal point/range FILTERS (the adjudicated ANN
    * query-side class: `vec_id < 3` selects a constant COUNT at any
    * corpus size because ids are dense). Accepted residuals, same
    * class as SCALE.md residual #2: a corpus-KEYED grouped aggregate
    * or a constant-FRACTION literal filter (`lang = 'en'`) would pass
    * — static analysis cannot tell a fraction from a count, so
    * selectivity stays the author's responsibility and the repo rule
    * is hints only on provably-constant relations (r14 dropped every
    * hint on raw catalog scans — supplier/part/customer/nation — in
    * favor of stats/AQE, which broadcast them wherever they truly
    * fit). The raw-scan broadcast — the shape that actually OOMs — is
    * caught by construction (red self-test below). Joins require ALL
    * children bounded: an inner join's output is only bounded when
    * both inputs are. */
  private def boundedLineage(n: SparkPlan): Boolean = n match {
    case _: TakeOrderedAndProjectExec => true
    case _: BaseLimitExec => true
    case _: LocalTableScanExec => true
    case _: RDDScanExec => true
    case r: RangeExec => r.numElements <= BigInt(1000000)
    case _: BaseAggregateExec => true
    case f: FilterExec if f.condition.exists {
        case b: BinaryComparison => b.left.foldable || b.right.foldable
        case _ => false
      } => true
    case r: ReusedExchangeExec => boundedLineage(r.child)
    case j if j.children.size >= 2 => j.children.forall(boundedLineage)
    case u if u.children.size == 1 => boundedLineage(u.children.head)
    case _ => false
  }

  // NO limit(): GlobalLimit outputs SinglePartition, which satisfies
  // every required distribution — EnsureRequirements would then insert
  // no exchanges at all and every guard here would pass vacuously. The
  // walker never executes the plans, so full-table dfs cost nothing.
  private def docs = Tables.documents(spark, sf)

  test("MinHash-LSH candidates: first-matching-band, not distinct (r11 e3fb148)") {
    assertStreamedNotExchanged(
      graft.operators.CorpusOps.minhashCandidates(docs, "doc_id", "text"),
      "minhashCandidates")
  }

  test("pHash near-dup pairs: first-matching-band at both registry dials") {
    assertStreamedNotExchanged(
      graft.operators.Multimodal.phashPairs(docs, 64, 4, 3), "phashPairs 64/4")
    assertStreamedNotExchanged(
      graft.operators.Multimodal.phashPairs(docs, 256, 4, 16), "phashPairs 256/4")
  }

  test("sampled prefix-filter cap: bounded-partial-state aggregate, not a window") {
    // The samp stage of qPrefixFilterSampled, reconstructed as in
    // DedupSpec's window-equivalence test: the SmallestKAgg partial
    // must be the ONLY thing between the prefix self-join and its
    // exchange (the window/distinct forms were the r11f ENOSPC).
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.expressions.Window
    val posts = docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
      .repartition(col("s"))
    val dfs = posts.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    val prefix = posts.join(dfs, "s")
      .select($"doc_id", $"s",
        row_number().over(byDoc.orderBy($"df", $"s")).as("r"),
        count(lit(1)).over(byDoc).as("n"))
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .select($"doc_id", $"s", $"n")
    val samp = prefix.as("a")
      .join(prefix.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 5 >= $"b.n" * 4 && $"b.n" * 5 >= $"a.n" * 4)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"), $"a.n".as("n1"))
      .groupBy($"d1", $"n1")
      .agg(graft.plans.SmallestKAgg
        .smallestK($"d2", graft.operators.Dedup.PrefixSampleK).as("d2s"))
    assertStreamedNotExchanged(samp, "sampled prefix cap")
  }

  test("auto-discovery: every banded join in the registry streams, not exchanges") {
    // r12 VERDICT task #1 (hash taint) + r13 VERDICT #2 (string taint)
    // + r13 VERDICT #5 (bounded broadcasts): the whole registry, one
    // preparation per plan, three checks on it. Plans are only
    // PREPARED (never executed), but queries that converge driver-side
    // (fixpoint graphs, k-means) run their construction jobs —
    // sf0.001 keeps that cheap.
    val results = SparkEntry.allDefs.map { d =>
      val plan =
        try preparedPlan(d.fn(spark, sf))
        catch {
          case e: Throwable =>
            fail(s"${d.name}: plan preparation failed: ${e.getMessage}", e)
        }
      val (hashViol, hashHits) = scanBandedJoins(plan, HashTaint)
      val (strViol, strHits) = scanBandedJoins(plan, GenStringTaint)
      val unboundedBc = plan.collect {
        case b: BroadcastExchangeLike if !boundedLineage(b.children.head) =>
          b.children.head.treeString.linesIterator.take(14).mkString("\n")
      }
      (d.name, hashViol ++ strViol, hashHits, strHits, unboundedBc)
    }
    val violations = results.filter(_._2.nonEmpty)
    assert(violations.isEmpty,
      violations.map { case (n, v, _, _, _) => s"$n:\n${v.mkString("\n")}" }
        .mkString("\n\n"))
    // non-vacuity: the known hash-banded families must be discovered
    val hashHit = results.filter(_._3 > 0).map(_._1).toSet
    val expectedHash = Seq("q_dedup_minhash_lsh", "q_lsh_band_sweep",
      "q_media_phash_neardup", "q_media_phash_neardup_256")
    val missedHash = expectedHash.filterNot(hashHit)
    assert(missedHash.isEmpty,
      s"discovery no longer sees known banded joins: $missedHash — taint " +
        s"tracking broke (hits found in: ${hashHit.toSeq.sorted.mkString(", ")})")
    // non-vacuity for the string mode (r13 VERDICT #2): the
    // prefix-filter family must now be auto-discovered, not hand-listed
    val strHit = results.filter(_._4 > 0).map(_._1).toSet
    val expectedStr =
      Seq("q_prefix_filter_join", "q_prefix_filter_sampled",
        "q_dedup_ngram_jaccard")
    val missedStr = expectedStr.filterNot(strHit)
    assert(missedStr.isEmpty,
      s"string-keyed discovery no longer sees the prefix family: " +
        s"$missedStr (hits found in: ${strHit.toSeq.sorted.mkString(", ")})")
    // bounded-broadcast guard (r13 VERDICT #5), registry-wide
    val badBc = results.filter(_._5.nonEmpty)
    assert(badBc.isEmpty,
      badBc.map { case (n, _, _, _, b) =>
        s"$n: unbounded broadcast side(s): ${b.mkString(", ")}"
      }.mkString("\n"))
  }

  test("the guard itself goes red on a distinct() over a banded join") {
    // Self-test: the pre-r11 reverted shape the rule exists to catch —
    // a banded self-join whose output is deduped by distinct() INSTEAD
    // of an emission filter (distinct-downstream-of-the-filter is the
    // adjudicated output-sized class and rightly passes; the bad form
    // has no filter, so the raw multi-emission stream feeds the
    // distinct's exchange). Must FAIL the walker, else the guard is
    // decorative.
    val t = docs.select($"doc_id", pmod(xxhash64($"text"), lit(16)).as("bkey"))
    val bad = t.as("a").join(t.as("b"), $"a.bkey" === $"b.bkey")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val caught = intercept[org.scalatest.exceptions.TestFailedException] {
      assertStreamedNotExchanged(bad, "reverted distinct form")
    }
    assert(caught.getMessage.contains("shuffle exchange above"))
  }

  test("auto-discovery catches a NEW banded query no hand list mentions") {
    // The point of task #1: a synthetic bad query — banded self-join,
    // distinct() instead of an emission filter — registered NOWHERE in
    // this spec must still be flagged by the registry scanner's walker.
    val t = docs.select($"doc_id", pmod(xxhash64($"text"), lit(16)).as("bkey"))
    val bad = t.as("a").join(t.as("b"), $"a.bkey" === $"b.bkey")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val badDef = QueryDef.rowsOnly("q_synthetic_bad_banded")((s, _) => bad)
    val (viol, hits) = scanBandedJoins(preparedPlan(badDef.fn(spark, sf)))
    assert(hits >= 1, "synthetic banded join not discovered — taint broke")
    assert(viol.nonEmpty, "synthetic distinct-over-banded-join not flagged")
  }

  test("a planner-style IsNotNull-only filter does not legitimize (r12 ADVICE)") {
    // Narrowing red-test: insert a null-intolerance FilterExec directly
    // under the bad plan's shuffle — the pre-narrowing rule would have
    // green-lit it (any FilterExec cleared pending); the narrowed rule
    // must still flag the exchange.
    val t = docs.select($"doc_id", pmod(xxhash64($"text"), lit(16)).as("bkey"))
    val bad = t.as("a").join(t.as("b"), $"a.bkey" === $"b.bkey")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val patched = preparedPlan(bad).transformUp {
      case e: ShuffleExchangeExec =>
        e.copy(child = FilterExec(IsNotNull(e.child.output.head), e.child))
    }
    val (viol, hits) = scanBandedJoins(patched)
    assert(hits >= 1)
    assert(viol.nonEmpty,
      s"IsNotNull-only filter legitimized the exchange:\n${patched.treeString}")
  }

  test("dedup-in-disguise: a pair agg whose count is DROPPED prunes to distinct and flags") {
    // Residual #2's documented loophole: groupBy(d1,d2).agg(count(1))
    // carries pair-sized partial state exactly like distinct() but
    // passes the guard because its declarative function marks it as
    // the output-sized class. This test measures the loophole's actual
    // reach: if a refactor computes the count and then DROPS it — the
    // only way the agg is a dedup step rather than a result — Catalyst
    // column pruning removes the unused function, the node becomes a
    // function-less grouped aggregate (= distinct), and the existing
    // rule flags it. The loophole therefore requires keeping the count
    // in the OUTPUT, at which point the pair relation is the declared
    // result and the adjudication applies.
    val t = docs.select($"doc_id", pmod(xxhash64($"text"), lit(16)).as("bkey"))
    val bad = t.as("a").join(t.as("b"), $"a.bkey" === $"b.bkey")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("n"))
      .select($"d1", $"d2") // the count is computed, then dropped
    val plan = preparedPlan(bad)
    val (viol, hits) = scanBandedJoins(plan)
    assert(hits >= 1, s"banded join not discovered\n${plan.treeString}")
    assert(viol.nonEmpty,
      s"dropped-count pair agg was NOT pruned to a flagged distinct — " +
        s"the disguise loophole is real, implement demand tracking\n${plan.treeString}")
  }

  test("auto-discovery catches a string-keyed banded query too (r13 VERDICT #2)") {
    // The prefix-filter family's failure shape, registered nowhere: a
    // raw shingle-string self-join deduped by distinct(). Hash taint
    // cannot see it (the keys are never hashed) — the GenStringTaint
    // mode must discover AND flag it, and the linear postings×df join
    // inside the real family must keep passing (asserted registry-wide
    // above via zero violations + expectedStr hits).
    import graft.functions.TextFunctions._
    val posts = docs
      .select($"doc_id",
        explode(array_distinct(shingles(words($"text"), 3))).as("s"))
    val bad = posts.as("a")
      .join(posts.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    val badDef = QueryDef.rowsOnly("q_synthetic_bad_string_banded")((s, _) => bad)
    val plan = preparedPlan(badDef.fn(spark, sf))
    val (viol, hits) = scanBandedJoins(plan, GenStringTaint)
    assert(hits >= 1, s"string-keyed banded join not discovered\n${plan.treeString}")
    assert(viol.nonEmpty, "string-keyed distinct-over-banded-join not flagged")
    // and hash taint alone is blind to it — the reason the mode exists
    val (_, hashHits) = scanBandedJoins(plan, HashTaint)
    assert(hashHits === 0,
      "hash taint unexpectedly sees raw string keys — mode split is stale")
  }

  test("catalog dims still broadcast at fixture scale WITHOUT hints (stats/AQE)") {
    // r14 removed the explicit broadcast() hints on raw catalog scans
    // (supplier/part/customer/nation) so a 100 TB planner can degrade
    // them to shuffle joins instead of OOMing every executor. The
    // trade must cost nothing locally: at fixture scale the planner
    // still picks broadcast joins for the dimensions from file
    // statistics alone (all are far under the 10 MB threshold). Uses
    // DEFAULT confs — this is the one test here that must NOT disable
    // auto-broadcast.
    val plan = graft.operators.Relational.q5StarJoin.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension joins no longer broadcast at fixture scale:\n$plan")
  }

  test("broadcast guard goes red on an unbounded corpus broadcast (r13 VERDICT #5)") {
    // A corpus-sized broadcast() would survive the banded-join walker's
    // explicit-hint exclusion; the boundedness guard must catch it.
    val bad = docs.as("a")
      .join(broadcast(docs.as("b")), $"a.doc_id" === $"b.doc_id")
    val badPlan = preparedPlan(bad)
    val badBc = badPlan.collect {
      case b: BroadcastExchangeLike if !boundedLineage(b.children.head) => b
    }
    assert(badBc.nonEmpty,
      s"corpus-sized broadcast passed the boundedness guard:\n${badPlan.treeString}")
    // while the legitimate shapes pass: a limited build side...
    val okLimit = docs.as("a")
      .join(broadcast(docs.limit(100).as("b")), $"a.doc_id" === $"b.doc_id")
    // ...and an aggregate sidecar (the centroid/codebook class)
    val okAgg = docs.as("a").join(
      broadcast(docs.groupBy($"doc_id").agg(count(lit(1)).as("n")).as("g")),
      $"a.doc_id" === $"g.doc_id")
    Seq("limit" -> okLimit, "agg" -> okAgg).foreach { case (what, df) =>
      val plan = preparedPlan(df)
      val bcs = plan.collect { case b: BroadcastExchangeLike => b }
      assert(bcs.nonEmpty, s"$what: no broadcast planned\n${plan.treeString}")
      assert(bcs.forall(b => boundedLineage(b.children.head)),
        s"$what: bounded broadcast side flagged as unbounded\n${plan.treeString}")
    }
  }
}

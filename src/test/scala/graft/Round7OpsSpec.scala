package graft

import graft.operators.{Events, Multimodal, Similarity, SqlPlane}
import org.apache.spark.sql.functions._

/** Round-7 batch-4 operators: perceptual-hash media dedup, SQL-plane
  * linkage, Markov event transitions, embedding drift.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  test("media phash: identical payloads pair at hamming 0; pairs are canonical") {
    val rows = Multimodal.qMediaPhashNearDup
      .fn(spark, sf)
      .select($"d1", $"d2", $"hamming")
      .as[(Long, Long, Long)]
      .collect()
    assert(rows.forall { case (a, b, h) => a < b && h >= 0 && h <= 10 })
    // any two docs with IDENTICAL text must surface with hamming 0
    val exactDups = Tables
      .documents(spark, sf)
      .groupBy($"text")
      .agg(collect_list($"doc_id").as("ids"), count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select($"ids")
      .as[Seq[Long]]
      .collect()
    val pairSet = rows.map { case (a, b, h) => (a, b) -> h }.toMap
    exactDups.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) {
        assert(pairSet.get((s(i), s(j))).contains(0L),
          s"exact dup pair (${s(i)}, ${s(j)}) missing or nonzero")
      }
    }
  }

  test("256-bit phash dial: exact dups at hamming 0; radius honored; 64-dial pairs covered") {
    val rows = Multimodal.qMediaPhashNearDup256
      .fn(spark, sf)
      .select($"d1", $"d2", $"hamming")
      .as[(Long, Long, Long)]
      .collect()
    assert(rows.forall { case (a, b, h) => a < b && h >= 0 && h <= 40 })
    // identical text ⇒ identical 256-bit code ⇒ hamming 0 at this dial too
    val exactDups = Tables
      .documents(spark, sf)
      .groupBy($"text")
      .agg(collect_list($"doc_id").as("ids"), count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select($"ids")
      .as[Seq[Long]]
      .collect()
    val pairSet = rows.map { case (a, b, h) => (a, b) -> h }.toMap
    exactDups.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) {
        assert(pairSet.get((s(i), s(j))).contains(0L),
          s"exact dup pair (${s(i)}, ${s(j)}) missing or nonzero at 256-bit dial")
      }
    }
    // the longer code REFINES: every 64-dial hamming-0 pair whose text
    // really is identical reappears at the 256 dial with hamming 0
    val h0at64 = Multimodal.qMediaPhashNearDup.fn(spark, sf)
      .filter($"hamming" === 0).select($"d1", $"d2")
      .as[(Long, Long)].collect()
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    h0at64.filter { case (a, b) => texts(a) == texts(b) }.foreach { p =>
      assert(pairSet.get(p).contains(0L), s"identical-text pair $p lost at 256")
    }
  }

  test("sql-plane linkage groups by name length and bounds similarity counts") {
    val rows = SqlPlane.qSqlLinkage
      .fn(spark, sf)
      .select($"name_len", $"n_pairs", $"n_similar", $"sketch_h8")
      .as[(Long, Long, Long, Long)]
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 <= r._2))
    // the sketch probe is one global value, identical on every row
    assert(rows.map(_._4).toSet.size === 1)
    val lens = Tables.part(spark, sf)
      .select(length($"p_name").cast("long")).distinct().as[Long].collect().toSet
    // a length with a single name has no pairs; every emitted length is real
    assert(rows.map(_._1).toSet.subsetOf(lens))
  }

  test("event transitions are a row-stochastic matrix") {
    val rows = Events.qEventTransitions
      .fn(spark, sf)
      .select($"from_type", $"prob".cast("double"), $"n")
      .as[(String, Double, Long)]
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val total = g.map(_._2).sum
      assert(math.abs(total - 1.0) < 0.001,
        s"outgoing probabilities must sum to 1, got $total")
    }
    assert(rows.forall(r => r._2 > 0.0 && r._2 <= 1.0 && r._3 > 0))
  }

  test("ddsketch quantile estimates honor the 2% relative-error guarantee") {
    val rows = Events.qEventsDdsketch
      .fn(spark, sf)
      .select($"event_type", $"p50_est".cast("double"),
        $"p99_est".cast("double"))
      .as[(String, Double, Double)]
      .collect()
    assert(rows.nonEmpty)
    // the gamma bound holds against the rank ELEMENT (the query's
    // rel_err columns compare to the INTERPOLATED percentile, which
    // adds slack at fixture n); recompute the rank element here and
    // assert the sketch's actual guarantee: |est - x|/x <= (γ-1)/... ~2%
    val vals = Tables.events(spark, sf)
      .filter($"value" > 0)
      .select($"event_type", $"value")
      .as[(String, Double)]
      .collect()
      .groupBy(_._1)
      .map { case (t, vs) => t -> vs.map(_._2).sorted }
    rows.foreach { case (t, p50, p99) =>
      val v = vals(t)
      def rankEl(q: Double) = v(math.ceil(q * v.length).toInt - 1)
      val e50 = math.abs(p50 - rankEl(0.50)) / rankEl(0.50)
      val e99 = math.abs(p99 - rankEl(0.99)) / rankEl(0.99)
      assert(e50 <= 0.0201, s"$t p50 rel err $e50 breaks the gamma bound")
      assert(e99 <= 0.0201, s"$t p99 rel err $e99 breaks the gamma bound")
    }
  }

  test("readability emits a valid flesch decomposition per document") {
    val rows = graft.operators.TextOps.qReadability
      .fn(spark, sf)
      .select($"n_words", $"n_sentences", $"n_syllables",
        $"flesch".cast("double"), $"band")
      .as[(Long, Long, Long, Double, String)]
      .collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { case (nw, ns, syl, fl, band) =>
      assert(ns === (nw + 9) / 10)
      assert(syl >= nw, "every word counts at least one syllable")
      val expected =
        if (fl >= 60) "easy" else if (fl >= 30) "medium" else "hard"
      assert(band === expected)
    }
  }

  test("lsh band sweep: nested band layouts give monotone recall and cost") {
    // an r-row band match implies its sub-bands match, so candidates
    // (and recall) are nested: 16x1 >= 8x2 >= 4x4 >= 2x8
    val rows = graft.operators.Dedup.qLshBandSweep
      .fn(spark, sf)
      .select($"cfg", $"n_candidates", $"recall".cast("double"))
      .as[(String, Long, Double)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    val order = Seq("16x1", "8x2", "4x4", "2x8")
    assert(order.forall(rows.contains))
    order.sliding(2).foreach { case Seq(wide, narrow) =>
      assert(rows(wide)._1 >= rows(narrow)._1,
        s"$wide candidates must dominate $narrow")
      assert(rows(wide)._2 >= rows(narrow)._2 - 1e-9,
        s"$wide recall must dominate $narrow")
    }
    // every layout reads the one exact truth, and catches no more pairs
    // than it has candidates or true pairs
    val nTrue = graft.operators.Dedup
      .ngramJaccardAllPairs(Tables.documents(spark, sf))
      .filter(round($"jac", 4) >= 0.7).count()
    graft.operators.Dedup.qLshBandSweep.fn(spark, sf)
      .select($"n_candidates", $"n_true", $"n_caught").as[(Long, Long, Long)]
      .collect().foreach { case (cand, truth, caught) =>
        assert(truth === nTrue)
        assert(caught <= truth && caught <= cand)
      }
  }

  test("rolling distinct: KMV union estimate tracks the exact WAU") {
    val rows = Events.qRollingDistinct
      .fn(spark, sf)
      .select($"est_users", $"exact_users", $"rel_err".cast("double"))
      .as[(Long, Long, Double)]
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 > 0 && r._2 > 0))
    // KMV k=64 has ~1/sqrt(62) ~ 13% standard error; allow generous tail
    val errs = rows.map(_._3)
    assert(errs.max <= 0.6, s"worst rel err ${errs.max}")
    assert(errs.sum / errs.length <= 0.2,
      s"mean rel err ${errs.sum / errs.length}")
    // exact when the 7-day population never filled the sketch
    rows.filter(_._2 <= 64).foreach { case (est, exact, _) =>
      assert(est === exact, "sub-k windows must be exact")
    }
  }

  test("mad anomaly flags agree with an independent recomputation") {
    val rows = Events.qMadAnomaly
      .fn(spark, sf)
      .select($"event_id", $"event_type", $"mz".cast("double"))
      .as[(Long, String, Double)]
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 > 3.5))
    // robust scores: recompute med/MAD per type in plain Scala and check
    // every flagged id really exceeds the cut (and none is missed)
    val vals = Tables.events(spark, sf)
      .select($"event_type", $"event_id", $"value")
      .as[(String, Long, Double)].collect().groupBy(_._1)
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val flagged = rows.map(r => (r._2, r._1)).toSet
    vals.foreach { case (t, rs) =>
      val m = med(rs.map(_._3))
      val mad = med(rs.map(x => math.abs(x._3 - m)))
      rs.foreach { case (_, id, v) =>
        val mz = math.floor(0.6745 * math.abs(v - m) / mad * 10000 + 0.5) / 10000.0
        assert(flagged.contains((t, id)) === (mz > 3.5),
          s"flag mismatch for ($t, $id): mz=$mz")
      }
    }
  }

  test("rerank sweep: recall is monotone in shortlist depth") {
    val rows = graft.operators.Quantization.qRerankSweep
      .fn(spark, sf)
      .select($"depth", $"qid", $"recall".cast("double"))
      .as[(Int, Long, Double)]
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).values.foreach { g =>
      val byDepth = g.sortBy(_._1).map(_._3)
      assert(byDepth.zip(byDepth.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"recall must not drop as the shortlist deepens: ${g.sortBy(_._1).toSeq}")
    }
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("governance gate agrees with its component audits") {
    val rows = graft.operators.Pipeline.qGovernance
      .fn(spark, sf)
      .select($"source", $"n_docs", $"n_blocked", $"risky_groups",
        $"homog_groups", $"release_ok")
      .as[(String, Long, Long, Long, Long, Boolean)]
      .collect()
    val nSources = Tables.documents(spark, sf)
      .select($"source").distinct().count()
    assert(rows.length === nSources)
    assert(rows.map(_._2).sum === Tables.documents(spark, sf).count())
    // risky_groups must match the standalone k-anonymity audit
    val kan = graft.operators.Curation.qKAnonymity
      .fn(spark, sf)
      .filter($"risky")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    rows.foreach { case (src, _, _, risky, _, _) =>
      assert(risky === kan.getOrElse(src, 0L),
        s"$src risky-group count diverges from q_k_anonymity")
    }
  }

  test("embedding drift: one row per label, cosine within [-1, 1]") {
    val rows = Similarity.qEmbedDrift
      .fn(spark, sf)
      .select($"label", $"n_a", $"n_b", $"drift_cos".cast("double"))
      .as[(Int, Long, Long, Double)]
      .collect()
    val labels = Tables.embeddings(spark, sf)
      .select($"label").distinct().count()
    assert(rows.length === labels)
    assert(rows.forall(r => r._4 >= -1.0 && r._4 <= 1.0))
    assert(rows.forall(r => r._2 > 0 && r._3 > 0))
    // parity split partitions each label's population
    val perLabel = Tables.embeddings(spark, sf)
      .groupBy($"label").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    rows.foreach { case (l, na, nb, _) =>
      assert(na + nb === perLabel(l))
    }
  }
}

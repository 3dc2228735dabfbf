package graft

import graft.operators.{Dedup, TextOps}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Guards the document-frequency cap on the inverted shingle index — the
  * defense against the quadratic hot-shingle tail in the Jaccard join.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val postings = Tables
    .documents(spark, sf)
    .select($"doc_id", words($"text").as("w"))
    .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))

  private def pairCount(ds: org.apache.spark.sql.DataFrame): Long =
    ds.as("a")
      .join(ds.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .count()

  test("default cap is provably inactive at test scale (oracle unchanged)") {
    val maxDf = postings
      .groupBy($"s")
      .agg(count(lit(1)).as("df"))
      .agg(max($"df"))
      .head()
      .getLong(0)
    assert(maxDf <= Dedup.JaccardDfCap,
      s"observed max df $maxDf exceeds the cap — the oracle would diverge")
    assert(Dedup.cappedPostings(postings, Dedup.JaccardDfCap).count() ===
      postings.count())
  }

  test("cap bounds the postings self-join pair count") {
    val cap = 2
    val capped = Dedup.cappedPostings(postings, cap)
    // every surviving shingle has df <= cap, so its pair contribution is
    // <= cap*(cap-1)/2; total pairs <= nShingles * cap*(cap-1)/2
    val nShingles = capped.select($"s").distinct().count()
    val cappedPairs = pairCount(capped)
    assert(cappedPairs <= nShingles * cap * (cap - 1) / 2)
    assert(cappedPairs <= pairCount(postings))
    // and the hot shingles really are gone
    val survivorMaxDf = capped
      .groupBy($"s")
      .agg(count(lit(1)).as("df"))
      .agg(coalesce(max($"df"), lit(0L)))
      .head()
      .getLong(0)
    assert(survivorMaxDf <= cap)
  }

  test("ngram novelty matches a plain-Scala first-owner computation") {
    import spark.implicits._
    val all = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.trim.split(" +").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      .filter(_._2.nonEmpty)
    val firstOwner = all.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = all.map { case (id, ss) =>
      val novel = ss.count(firstOwner(_) == id)
      id -> (ss.size.toLong, novel.toLong)
    }.toMap
    val got = Dedup.qNgramNovelty.fn(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length === expected.size)
    got.foreach { case (id, ns, nn, ratio) =>
      val (ens, enn) = expected(id)
      assert(ns === ens, s"doc $id shingle count")
      assert(nn === enn, s"doc $id novel count")
      assert(math.abs(ratio - nn.toDouble / ns) < 1e-4, s"doc $id ratio")
    }
    // the metric must separate docs: the fixture has both dup and
    // original content, so novelty cannot be constant
    assert(got.map(_._4).distinct.length > 1, "novelty is degenerate")
  }

  test("winnow-pair screen catches every true near-dup pair") {
    import spark.implicits._
    val candidates = TextOps.qWinnowPairs.fn(spark, sf)
      .as[(Long, Long, Long)].collect()
    candidates.foreach { case (d1, d2, n) =>
      assert(d1 < d2, "pairs must be ordered")
      assert(n >= 2, "screen threshold is >= 2 shared fingerprints")
    }
    val candSet = candidates.map(c => (c._1, c._2)).toSet
    // recall of the screen: every exact-Jaccard >= 0.8 pair must be a
    // winnow candidate (shared full content implies shared fingerprints)
    val truth = Dedup.qNgramJaccard.fn(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    assert(truth.nonEmpty, "fixture must contain true near-dup pairs")
    truth.foreach { p =>
      assert(candSet.contains(p), s"true dup pair $p missed by the screen")
    }
    // and the screen is a SCREEN, not the answer: it over-generates
    assert(candidates.length > truth.length,
      "candidate set should be broader than the verified truth")
  }

  test("group-stats bands partition the corpus exactly") {
    import spark.implicits._
    val rows = Dedup.qDedupGroupStats.fn(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum === n, "n_docs across bands must cover the corpus")
    assert(rows.map(_._1).distinct.length === rows.length, "one row per size")
    rows.foreach { case (sz, ng, nd, share) =>
      assert(nd === sz * ng, s"band $sz bookkeeping")
      assert(share === math.floor(nd * 10000.0 / n + 0.5) / 10000.0,
        s"band $sz share")
    }
    // the fixture has true near-dups (asserted above), so a size>=2 band
    // must exist, and unique docs must still dominate
    assert(rows.exists(_._1 >= 2), "no dup band found")
    val singles = rows.find(_._1 == 1).map(_._3).getOrElse(0L)
    assert(singles > n / 2, "unique-doc band should dominate the fixture")
  }

  test("canonical selection keeps exactly one member per group, the argmax") {
    import spark.implicits._
    val rows = Dedup.qDedupCanonical.fn(spark, sf)
      .as[(Long, Long, Long, Boolean, Long)].collect()
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    assert(rows.length === docs.size, "selection must be total")
    rows.groupBy(_._2).foreach { case (gid, members) =>
      // group bookkeeping is consistent
      assert(members.forall(_._5 == members.length), s"group $gid n_members")
      val canon = members.map(_._3).distinct
      assert(canon.length === 1, s"group $gid canonical not unique")
      // exactly one keeper, and it IS the canonical doc
      val keepers = members.filter(_._4)
      assert(keepers.length === 1, s"group $gid keeper count")
      assert(keepers.head._1 === canon.head)
      // the keeper maximizes the score; ties break to the smallest id
      val best = members.map(m => (docs(m._1), m._1)).max
      val expected = members.map(_._1).filter(docs(_) == best._1).min
      assert(canon.head === expected, s"group $gid argmax")
    }
    // singletons keep themselves
    rows.filter(_._5 == 1).foreach { r => assert(r._4 && r._3 == r._1) }
    // the fixture has real dup groups, so some docs must be dropped
    assert(rows.count(!_._4) > 0, "no docs dropped — fixture degenerate?")
  }
  test("prefix-filter join reproduces the exact jaccard pair set") {
    val exact = Dedup.ngramJaccardAllPairs(Tables.documents(spark, sf))
      .filter($"jac" >= 0.8)
      .select($"d1", $"d2", round($"jac", 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val prefixed = Dedup.prefixFilterPairs(Tables.documents(spark, sf))
      .as[(Long, Long, Double)].collect().toSet
    assert(prefixed === exact,
      "prefix filtering is exact: no false negatives, verify kills false positives")
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("prefix emission is exactly-once on a clone corpus (r14 first-common-hash)") {
    // The r14 rewrite replaced the candidate distinct() with the
    // first-common-hash emission filter (SortedLongFirstCommon over
    // per-doc prefix-hash arrays). Clones share EVERY prefix shingle,
    // so each clone pair meets once per prefix entry — the
    // multi-emission path is maximally exercised; a double emission
    // would surface as a duplicate verified output row.
    val base = Tables.documents(spark, sf).limit(30)
      .select($"doc_id", $"text")
    val clones = base.select(($"doc_id" + 50000L).as("doc_id"), $"text")
    val got = Dedup.prefixFilterPairs(base.unionAll(clones))
      .as[(Long, Long, Double)].collect()
    assert(got.length === got.toSet.size, "a candidate pair was emitted twice")
    assert(got.toSet.size >= 30, "clone pairs must survive the verify")
  }

  test("prefix postings are a strict sliver of the full postings") {
    val full = postings.count()
    val pre = postings
      .join(postings.groupBy($"s").agg(count(lit(1)).as("df")), "s")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"df", $"s")))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .count()
    // t = 0.8 keeps ~n/5 + 1 of each doc's shingles
    assert(pre < full / 2, s"prefix $pre of $full")
    assert(pre > 0)
  }

  test("prefix length is the exact integer ceil at every set size") {
    for (n <- 1L to 2000L) {
      val exactCeil = BigDecimal(4 * n)./(BigDecimal(5))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLongExact
      assert(Dedup.prefixLen(n) === n - exactCeil + 1, s"n=$n")
      assert(Dedup.prefixLen(n) >= 1 && Dedup.prefixLen(n) <= n, s"bounds n=$n")
    }
  }

  test("capped emission is the per-doc top-K slice of the exact pair set") {
    val full = Dedup.prefixFilterPairs(Tables.documents(spark, sf))
      .as[(Long, Long, Double)].collect()
    val capped = Dedup.qPrefixFilterCapped.fn(spark, sf)
      .select($"d1", $"d2", $"jaccard", $"pair_rank", $"n_partners")
      .as[(Long, Long, Double, Int, Long)].collect()
    val byD1 = full.groupBy(_._1)
    // every emitted row is a true pair, ranks are 1..K, and n_partners
    // reports the UNCAPPED partner count
    val fullSet = full.map(r => (r._1, r._2)).toSet
    capped.foreach { case (d1, d2, _, rk, np) =>
      assert(fullSet.contains((d1, d2)), s"($d1,$d2) not a true pair")
      assert(rk >= 1 && rk <= Dedup.PrefixCapK, s"rank $rk")
      assert(np === byD1(d1).length.toLong, s"n_partners of $d1")
    }
    // per-doc output is capped at K; docs at/under the cap emit ALL
    // their partners; over-cap docs emit exactly the top-K by
    // (jaccard desc, d2 asc)
    capped.groupBy(_._1).foreach { case (d1, rows) =>
      val want = byD1(d1).sortBy(r => (-r._3, r._2))
        .take(Dedup.PrefixCapK).map(r => (r._1, r._2)).toSet
      assert(rows.length <= Dedup.PrefixCapK, s"doc $d1 over cap")
      assert(rows.map(r => (r._1, r._2)).toSet === want, s"doc $d1 top-K")
    }
    // every doc with any partner emits at least its rank-1 row
    assert(capped.groupBy(_._1).keySet === byD1.keySet)
    assert(capped.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("sampled emission scores only true pairs and matches capped under the sample size") {
    val sampled = Dedup.qPrefixFilterSampled.fn(spark, sf)
      .select($"d1", $"d2", $"jaccard", $"pair_rank", $"n_sampled_partners")
      .as[(Long, Long, Double, Int, Long)].collect()
    val exact = Dedup.prefixFilterPairs(Tables.documents(spark, sf))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // every emitted row is a TRUE >= 0.8 pair with the exact jaccard
    // (the sample can only DROP candidates, never invent or rescore)
    sampled.foreach { case (d1, d2, j, rk, np) =>
      assert(exact.get((d1, d2)).contains(j), s"($d1,$d2) not exact")
      assert(rk >= 1 && rk <= Dedup.PrefixCapK)
      assert(np >= sampled.count(r => r._1 == d1).toLong)
    }
    sampled.groupBy(_._1).foreach { case (d1, rows) =>
      assert(rows.length <= Dedup.PrefixCapK, s"doc $d1 over cap")
    }
    // per-d1 candidate census via the same prefix construction: where a
    // doc's candidate count fits inside the sample, sampling is a no-op
    // and the emitted set must EQUAL the exact-top-K capped query's
    val dfs = postings.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    val ranked = postings.join(dfs, "s")
      .select($"doc_id", $"s",
        row_number().over(byDoc.orderBy($"df", $"s")).as("r"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .select($"doc_id", $"s", $"n")
    val candPerD1 = prefix.as("a")
      .join(prefix.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 5 >= $"b.n" * 4 && $"b.n" * 5 >= $"a.n" * 4)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
      .groupBy($"d1").agg(count(lit(1)).as("nc"))
      .as[(Long, Long)].collect().toMap
    val capped = Dedup.qPrefixFilterCapped.fn(spark, sf)
      .select($"d1", $"d2", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val sampledBy = sampled.groupBy(_._1)
    val cappedBy = capped.groupBy(_._1)
    candPerD1.filter(_._2 <= Dedup.PrefixSampleK).keys.foreach { d1 =>
      val sa = sampledBy.getOrElse(d1, Array.empty).map(r => (r._2, r._3)).toSet
      val ca = cappedBy.getOrElse(d1, Array.empty).map(r => (r._2, r._3)).toSet
      assert(sa === ca, s"doc $d1: sampling was a no-op but outputs differ")
    }
    assert(sampled.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("minhash candidate emission equals distinct over the banded join") {
    // minhashCandidates moved from distinct() (which exchanged the
    // banded join's pair stream) to first-matching-band emission; the
    // pair SET must be unchanged. Clones collide on all four bands, so
    // the multi-band dedup path is genuinely exercised.
    import graft.operators.CorpusOps
    val base = Tables.documents(spark, sf).limit(30)
      .select($"doc_id", $"text")
    val clones = base.select(($"doc_id" + 50000L).as("doc_id"), $"text")
    val docs = base.unionAll(clones)
    val got = CorpusOps.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    val gotSet = got.toSet
    assert(got.length === gotSet.size, "a pair was emitted twice")
    assert(gotSet.size >= 30, "clone pairs must collide on every band")
    // reference pair set: the pre-r11 dataflow — same signatures and
    // banding, join + distinct() dedup — rebuilt longhand
    val ds = docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
    val hashed = ds.select($"doc_id", minhashBase($"s").as("h"))
    val sigCols =
      MinhashPerms.indices.map(i => min(minhashPerm($"h", i)).as(s"sig_$i"))
    val sigs = hashed.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bands = sigs.select(
      $"doc_id",
      posexplode(
        array((0 until 4).map { bnd =>
          concat_ws("-", (0 until 4).map(r => col(s"sig_${bnd * 4 + r}")): _*)
        }: _*)).as(Seq("band", "bkey")))
    val ref = bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(gotSet === ref)
  }

  test("smallestK aggregate equals distinct-sort-take-k at any partitioning") {
    // The bounded-partial-state cap behind the sampled emission
    // (r11f): the result must be a pure function of the value SET —
    // identical under map-side combine, any partition count, and
    // duplicate-heavy input (clique candidates repeat once per shared
    // prefix shingle).
    import graft.plans.SmallestKAgg.smallestK
    // 200 groups > the 128-key ObjectHashAggregate fallback threshold,
    // so the sort-based partial-aggregation path is exercised too (the
    // production sessions raise the threshold; the result must be
    // identical either way)
    val rows = for {
      g <- 0L until 200L
      v <- Seq(5L, 3L, 9L, 3L, 11L, 2L, 5L, 7L, 2L, 13L, 1L).map(_ + g)
      _ <- 0 until 3 // duplicates
    } yield (g, v)
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("g", "v").repartition(parts)
      val got = df.groupBy($"g").agg(smallestK($"v", 4).as("ks"))
        .as[(Long, Seq[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).distinct.sorted.take(4)
      }
      assert(got === want, s"parts=$parts")
    }
  }

  test("smallestK at k = 1 degenerates to min (Buffer's untested floor)") {
    // SmallestKAgg permits k >= 1 but reuses KmvAgg.Buffer, whose other
    // consumer requires k >= 2 (r11 ADVICE): pin the k = 1 path of
    // Buffer.add/mergeWith across partitionings and duplicate input.
    import graft.plans.SmallestKAgg.smallestK
    val rows = for {
      g <- 0L until 150L
      v <- Seq(9L, 4L, 17L, 4L, 6L).map(_ + g)
      _ <- 0 until 2
    } yield (g, v)
    for (parts <- Seq(1, 5, 32)) {
      val got = rows.toDF("g", "v").repartition(parts)
        .groupBy($"g").agg(smallestK($"v", 1).as("ks"))
        .as[(Long, Seq[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> Seq(vs.map(_._2).min)
      }
      assert(got === want, s"parts=$parts")
    }
  }

  test("sampled emission equals the window-cap form on a clique corpus") {
    // The aggregate cap must reproduce the pre-r11f window form's
    // sample EXACTLY (K' smallest distinct d2 per d1) where it
    // matters: many docs per clique, so candidates repeat across
    // shared prefix shingles and some d1 exceed the sample size.
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf).limit(8)
      .select($"doc_id", $"text")
    val clique = (0 until 30).map { k =>
      // one-word swap per replica — same shape as the dense blow-up
      docs.select(($"doc_id" + lit(k.toLong * 1000)).as("doc_id"),
        when(lit(k) === 0, $"text").otherwise(
          concat_ws(" ",
            slice(split($"text", " "), 1, 3),
            lit(s"swap$k"),
            slice(split($"text", " "), 5, 100000))).as("text"))
    }.reduce(_.unionAll(_))
    val posts = clique
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
    val dfs = posts.groupBy($"s").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    val ranked = posts.join(dfs, "s")
      .select($"doc_id", $"s",
        row_number().over(byDoc.orderBy($"df", $"s")).as("r"),
        count(lit(1)).over(byDoc).as("n"))
    val prefix = ranked
      .filter($"r" <= $"n" - expr("(n * 4 + 4) div 5") + 1)
      .select($"doc_id", $"s", $"n")
    val joined = prefix.as("a")
      .join(prefix.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * 5 >= $"b.n" * 4 && $"b.n" * 5 >= $"a.n" * 4)
    // window form (the old implementation)
    val wSamp = Window.partitionBy($"d1").orderBy($"d2")
    val viaWindow = joined
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
      .withColumn("cr", row_number().over(wSamp))
      .filter($"cr" <= Dedup.PrefixSampleK)
      .select($"d1", $"d2")
      .as[(Long, Long)].collect().toSet
    // aggregate form (the production implementation)
    val viaAgg = joined
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .groupBy($"d1")
      .agg(graft.plans.SmallestKAgg
        .smallestK($"d2", Dedup.PrefixSampleK).as("d2s"))
      .select($"d1", explode($"d2s").as("d2"))
      .as[(Long, Long)].collect().toSet
    assert(viaAgg === viaWindow)
    // the clique must actually exercise the cap
    assert(viaAgg.groupBy(_._1).values.map(_.size).max ===
      Dedup.PrefixSampleK)
  }
  test("sweep emission: forced earlier-band hash agreement emits the pair there, exactly once (r13 VERDICT #4)") {
    // The sweep's accepted error shape (Dedup.lshSweepCandidates,
    // emission=true; r14 hash-keyed join). Real xxhash64 collisions are
    // unconstructible from text, so — like SortedIntersectSpec's
    // forced-collision case — build the carried band-hash arrays
    // directly and drive the production join shape + the shared
    // Dedup.firstMatchingBand predicate over them.
    //
    //   doc A: allkh = [42, 1, 7]     band 0's 42 stands for TWO
    //   doc B: allkh = [42, 2, 7]     DIFFERENT band-key strings whose
    //                                 hashes collide; band 2 is a TRUE
    //                                 band match.
    //
    // Required behavior: the pair is emitted AT the colliding band
    // (bj=0), count exactly 1, never 0 — the join key IS the hash the
    // first-match test reads, so the first hash-agreeing band always
    // has a join row. (The pre-r14 string-keyed join LOST this pair:
    // array_position pointed at band 0, where no string-keyed join row
    // existed — the exact loss precondition was "an earlier-band
    // collision strictly before the first true match".) The loss class
    // left is one-sided: a pair with NO true band match and a single
    // collision is a false MERGE (second case), never a false split.
    import spark.implicits._
    def candidates(rows: Seq[(String, Array[Long])]) = {
      val bk = rows.toDF("doc_id", "allkh")
        .select($"doc_id", lit("3x1").as("cfg"), $"allkh",
          posexplode($"allkh").as(Seq("bj", "kh")))
      bk.select($"cfg", $"bj", $"kh", $"allkh".as("ak1"), $"doc_id".as("d1"))
        .join(bk.select($"cfg", $"bj", $"kh", $"allkh".as("ak2"),
            $"doc_id".as("d2")),
          Seq("cfg", "bj", "kh"))
        .filter($"d1" < $"d2" &&
          Dedup.firstMatchingBand($"ak1", $"ak2", $"bj"))
        .select($"bj", $"d1", $"d2")
    }
    val withTrueMatch = candidates(Seq(
      ("A", Array(42L, 1L, 7L)), ("B", Array(42L, 2L, 7L)))).collect()
    assert(withTrueMatch.length === 1,
      "pair must be emitted exactly once per cfg (never 0: a true band match exists)")
    assert(withTrueMatch.head.getInt(0) === 0,
      "emission must happen at the first agreeing (here: colliding) band")
    // no true match anywhere, one collision: emitted once = the
    // accepted one-sided false merge (~nb/2^64 per pair)
    val mergeOnly = candidates(Seq(
      ("A", Array(42L, 1L, 7L)), ("B", Array(42L, 2L, 8L)))).collect()
    assert(mergeOnly.length === 1 && mergeOnly.head.getInt(0) === 0)
    // and no agreement at all emits nothing
    assert(candidates(Seq(
      ("A", Array(1L, 2L, 3L)), ("B", Array(4L, 5L, 6L)))).count() === 0)
  }
}

package graft

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val got = df.select(round(cosine($"a", $"b"), 6)).collect().map(_.getDouble(0))
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
  }

  test("LSH ANN recall@10 vs brute force is useful (>= 0.4)") {
    val brute = Similarity.qCosineKnn
      .fn(spark, sf)
      .select($"qid", $"nid")
      .as[(Long, Long)]
      .collect()
      .toSet
    val lsh = Similarity.qAnnLsh
      .fn(spark, sf)
      .select($"qid", $"nid")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"recall@10 = $recall (|brute|=${brute.size}, |lsh|=${lsh.size})")
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("multi-probe LSH recall is >= single-probe at the same table count") {
    def pairs(q: QueryDef): Set[(Long, Long)] = q
      .fn(spark, sf)
      .select($"qid", $"nid")
      .as[(Long, Long)]
      .collect()
      .toSet
    val brute = pairs(Similarity.qCosineKnn)
    val single = pairs(Similarity.qAnnLsh)
    val multi = pairs(Similarity.qAnnLshMultiprobe)
    val rSingle = (brute & single).size.toDouble / brute.size
    val rMulti = (brute & multi).size.toDouble / brute.size
    info(s"recall single=$rSingle multi=$rMulti")
    // the probe set is a strict superset of the base bucket, so the
    // candidate pool — and hence recall@10 — can only grow
    assert(rMulti >= rSingle,
      s"multi-probe recall $rMulti below single-probe $rSingle")
    // and the extra probes must actually surface something at fixture
    // scale, or the margin-flip machinery is dead code
    assert(multi.size >= single.size)
  }

  test("IVF ANN recall@10 vs brute force is useful (>= 0.4)") {
    val brute = Similarity.qCosineKnn
      .fn(spark, sf)
      .select($"qid", $"nid")
      .as[(Long, Long)]
      .collect()
      .toSet
    val ivf = Similarity.qAnnIvf
      .fn(spark, sf)
      .select($"qid", $"nid")
      .as[(Long, Long)]
      .collect()
      .toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"IVF recall@10 = $recall (|brute|=${brute.size}, |ivf|=${ivf.size})")
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("SQL extension functions work end-to-end (vec_dot, hist_buckets)") {
    graft.plans.GraftExtensions.register(spark)
    val dotv = spark
      .sql("SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dotv === 11.0)
    val hist = spark
      .sql("""SELECT hist_buckets(v, 10.0) AS h FROM VALUES (5.0), (15.0), (17.0) AS t(v)""")
      .head().getMap[Int, Long](0)
    assert(hist === Map(0 -> 1L, 1 -> 2L))
  }

  test("LSH candidates are a strict subset of all pairs (no fabrication)") {
    val lsh = Similarity.qAnnLsh.fn(spark, sf)
    assert(lsh.filter($"qid" === $"nid").count() === 0)
    assert(lsh.groupBy($"qid").count().collect().forall(_.getLong(1) <= 10))
  }

  test("int8 quantization: error bounded by half an ULP, high cosine fidelity") {
    val rows = Similarity.qEmbedQuantize.fn(spark, sf)
      .select($"scale", $"max_err", $"cos_fidelity")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (scale, maxErr, fid) =>
      // round-to-nearest: reconstruction error <= (scale/127)/2, plus the
      // 1e-5 display rounding both columns carry
      assert(maxErr <= scale / 127 / 2 + 1e-5,
        s"err $maxErr exceeds half-ULP ${scale / 127 / 2}")
      assert(fid >= 0.999, s"cosine fidelity too low: $fid")
    }
  }

  test("LSH near-dup: perfect precision vs the sampled ground truth, useful recall") {
    // q_embed_neardup computes truth over a deterministic hash sample
    // (the quadratic audit runs sampled by design), so the comparison is
    // restricted to pairs whose BOTH endpoints survived the sample
    val nEmb = Tables.embeddings(spark, sf).count()
    val sampleIds = Tables.embeddings(spark, sf)
      .filter(Similarity.nearDupSampleKeep($"vec_id",
        Similarity.nearDupSamplePpb(nEmb)))
      .select($"vec_id").as[Long].collect().toSet
    val exact = Similarity.qEmbedNearDup.fn(spark, sf)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    val lshAll = Similarity.qEmbedNearDupLsh.fn(spark, sf)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    val lsh = lshAll.filter { case (a, b) =>
      sampleIds.contains(a) && sampleIds.contains(b)
    }
    assert((lsh -- exact).isEmpty,
      "exact verify means every emitted pair must be a true near-dup")
    assert(exact.nonEmpty, "sampled test data must contain near-dup pairs")
    val recall = (lsh & exact).size.toDouble / exact.size
    info(s"LSH near-dup recall = $recall (|exact|=${exact.size}, " +
      s"|sample|=${sampleIds.size})")
    assert(recall >= 0.25, s"recall too low to be a useful candidate path: $recall")
  }

  test("near-dup ground-truth sample is fixed-SIZE across corpus scales") {
    val K = Similarity.NearDupSampleTarget
    // analytic: expected kept rows ≈ n·ppb/mod stays pinned near K from
    // n = 2·K out to n = K·10⁹ — the truth cost is O(K²) at any scale
    for (n <- Seq(2000L, 200000L, 20000000L, 2000000000L)) {
      val expect =
        n.toDouble * Similarity.nearDupSamplePpb(n) / Similarity.NearDupSampleMod
      assert(expect >= K * 0.99 && expect <= K * 1.01 + 1,
        s"n=$n: expected sample size $expect drifted from target $K")
    }
    // empirical: the hash predicate admits ~K of a synthetic 1M-id corpus
    val n = 1000000L
    val kept = spark.range(n).select($"id".as("vec_id"))
      .filter(Similarity.nearDupSampleKeep($"vec_id",
        Similarity.nearDupSamplePpb(n)))
      .count()
    info(s"kept $kept of $n (target $K)")
    assert(kept >= K / 3 && kept <= 3 * K,
      s"hash sample of $n ids kept $kept rows; target $K")
  }

  test("ANN recall measurement: one row per query vector, recall in [0, 1]") {
    val rows = Similarity.qAnnRecall.fn(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq === Seq(0L, 1L, 2L))
    rows.foreach { case (_, hits, r) =>
      assert(hits >= 0 && hits <= 10 && r >= 0.0 && r <= 1.0)
    }
  }

  test("embed outlier report: conservation, bounds, and p10 semantics") {
    val got = operators.Similarity.qEmbedOutliers.fn(spark, sf)
      .as[(Int, Long, Double, Long, Double)]
      .collect()
    assert(got.nonEmpty)
    // every nonzero vector lands in exactly one cell
    val nonzero = Tables.embeddings(spark, sf)
      .filter(graft.functions.VectorFunctions.norm($"embedding") =!= 0.0)
      .count()
    assert(got.map(_._2).sum === nonzero, "assignment conserves vectors")
    got.foreach { case (cid, n, p10, outliers, minSim) =>
      assert(minSim <= p10 + 1e-9, s"cell $cid min above p10")
      // strictly-below-p10 mass is ≤10% by the quantile definition
      assert(outliers <= math.ceil(n * 0.1).toLong + 1,
        s"cell $cid flags $outliers of $n")
      assert(p10 >= -1.0 && p10 <= 1.0, s"cell $cid p10 out of range")
    }
    // the screen must actually flag something at fixture scale
    assert(got.map(_._4).sum > 0, "no outliers flagged anywhere")
  }

  test("random projection matches plain Scala and preserves norms (JL)") {
    import spark.implicits._
    val proj = Similarity.qEmbedProject.fn(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (1 to Similarity.RpDimOut).map(r.getDouble).toSeq)
      .toMap
    val orig = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    assert(proj.keySet === orig.keySet)
    assert(proj.values.forall(_.length === Similarity.RpDimOut))
    // exact recomputation of the first few vectors from the md5 formula
    def sign(j: Int, i: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp|$j|$i".getBytes("UTF-8"))
      val h = java.lang.Long
        .parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
      if (h % 2 == 0) 1.0 else -1.0
    }
    orig.toSeq.sortBy(_._1).take(5).foreach { case (id, e) =>
      val expect = (0 until Similarity.RpDimOut).map { j =>
        val s = e.indices.foldLeft(0.0)((acc, i) =>
          acc + e(i).toDouble * sign(j, i))
        math.floor(s / 4 * 1e4 + (if (s >= 0) 0.5 else -0.5)) / 1e4
      }
      proj(id).zip(expect).zipWithIndex.foreach { case ((got, exp), j) =>
        assert(math.abs(got - exp) < 2e-4, s"vec $id dim $j: $got vs $exp")
      }
    }
    // JL property: squared pairwise distances are preserved in
    // expectation (E||ya-yb||^2 = ||a-b||^2 for y = Rx/sqrt(dout));
    // the MEAN ratio over many pairs concentrates near 1
    val ids = orig.keySet.toSeq.sorted.take(60)
    val ratios = for {
      Seq(a, b) <- ids.combinations(2).toSeq.take(500)
      da = orig(a).zip(orig(b)).map { case (x, y) => (x - y).toDouble }
            .map(d => d * d).sum
      if da > 1e-9
      dp = proj(a).zip(proj(b)).map { case (x, y) => x - y }
            .map(d => d * d).sum
    } yield dp / da
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3,
      s"JL mean distortion $mean out of range over ${ratios.length} pairs")
  }

  test("cluster silhouette: conservation, margin >= 0, cohesion bounds") {
    val got = Similarity.qClusterSilhouette.fn(spark, sf)
      .as[(Int, Long, Double, Double, Double)]
      .collect()
    assert(got.nonEmpty)
    // every nonzero vector lands in exactly one cell (same conservation
    // law the outlier report obeys — both read the same assignment)
    val nonzero = Tables.embeddings(spark, sf)
      .filter(graft.functions.VectorFunctions.norm($"embedding") =!= 0.0)
      .count()
    assert(got.map(_._2).sum === nonzero, "assignment conserves vectors")
    got.foreach { case (cid, n, meanM, minM, cohesion) =>
      // a is the MAX similarity, b the runner-up: margins cannot go
      // negative, and the per-cell mean dominates the min
      assert(minM >= 0.0, s"cell $cid min margin $minM < 0")
      assert(meanM >= minM - 1e-9, s"cell $cid mean $meanM below min $minM")
      assert(cohesion >= -1.0 && cohesion <= 1.0 + 1e-9,
        s"cell $cid cohesion $cohesion out of [-1,1]")
      assert(n > 0)
    }
    // the fixture embeddings are near-random, so absolute cohesion is
    // modest — but every vector chose its NEAREST centroid, so mean
    // cohesion must at least be positive in some cell, and cells with a
    // seeded centroid member can't average below zero everywhere
    assert(got.map(_._5).max > 0.0, "no cell coheres — assignment broken")
  }

  test("hard negatives: label disjointness, ranking, and determinism") {
    val got = Similarity.qHardNegatives.fn(spark, sf)
      .as[(Long, Long, Int, Double, Int)]
      .collect()
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label".cast("int")).as[(Long, Int)]
      .collect().toMap
    // 3 query vectors × top-5 each, ranks dense from 1
    assert(got.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._5).sorted.toSeq === (1 to 5).toSeq,
        s"query $qid ranks not dense")
      // negatives NEVER share the query's label — the whole point
      rows.foreach { case (_, nid, negLab, _, _) =>
        assert(negLab !== labels(qid), s"query $qid mined same-label $nid")
        assert(negLab === labels(nid), "neg_label must be the corpus label")
      }
      // cos_sim non-increasing in rank
      val byRank = rows.sortBy(_._5).map(_._4).toSeq
      byRank.zip(byRank.tail).foreach { case (a, b) =>
        assert(a >= b - 1e-9, s"query $qid similarity increases with rank")
      }
    }
    // deterministic: a second run returns the identical row set
    val again = Similarity.qHardNegatives.fn(spark, sf)
      .as[(Long, Long, Int, Double, Int)].collect()
    assert(got.toSet === again.toSet)
  }

  test("LSH near-dup pairs: exact precision; dedup groups keep each pair together") {
    // every emitted pair is exact-verified, so precision is 1.0 whatever
    // the bucket layout; only recall trades off. Truth = all-pairs cosine
    // at the same rounded threshold, accumulated in index order like the
    // engine's dot.
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      i <- emb.indices.iterator; j <- (i + 1) until emb.length
      if BigDecimal(cos(emb(i)._2, emb(j)._2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) > 0.45
    } yield (emb(i)._1, emb(j)._1)).toSet
    val pairs = Similarity.qEmbedNearDupLsh.fn(spark, sf)
      .select($"v1", $"v2").as[(Long, Long)].collect()
    assert((pairs.toSet -- truth).isEmpty,
      "emitted a pair the exact truth rejects")
    info(s"|pairs|=${pairs.length} |truth|=${truth.size}")
    // the grouped composition: both endpoints of every emitted pair
    // share a group label
    val g = Similarity.qEmbedDedupGroups.fn(spark, sf)
      .select($"vec_id", $"group_id").as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) =>
      assert(g(a) === g(b), s"pair ($a,$b) split across groups")
    }
  }

  test("HyperplaneBuckets: bit-identical to a plain-Scala plane loop at both dials") {
    // the r10 native expression (one flat-matrix loop) vs a third-engine
    // reimplementation of the OLD composed semantics (per-plane double
    // dot, index order, strict > 0 sign test). Both the registry dial
    // (4×4) and the production dial the x1000 probe runs (12×16) — the
    // latter is exactly where the composed form left JIT'd codegen.
    // codegen.fallback=false so a Janino failure in the new doGenCode
    // would throw here instead of silently passing interpreted.
    val was = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val vecs = Tables.embeddings(spark, sf)
        .select($"vec_id", $"embedding")
        .as[(Long, Array[Float])].collect()
      for ((nt, b) <- Seq((4, 4), (12, 16))) {
        val hp = Similarity.hyperplanes(nt * b, 64)
        val got = Tables.embeddings(spark, sf)
          .select($"vec_id",
            Similarity.lshBuckets($"embedding", nt, b, 64).as("bk"))
          .as[(Long, Seq[Long])].collect().toMap
        vecs.foreach { case (id, v) =>
          val exp = (0 until nt).map { t =>
            (0 until b).foldLeft(0L) { (acc, j) =>
              val plane = hp(t * b + j)
              val n = math.min(v.length, 64)
              var s = 0.0
              var i = 0
              while (i < n) { s += v(i).toDouble * plane(i); i += 1 }
              if (s > 0.0) acc | (1L << j) else acc
            }
          }
          assert(got(id) === exp, s"vec $id dial ${nt}x$b")
        }
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", was)
  }
}

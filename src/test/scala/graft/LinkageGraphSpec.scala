package graft

import graft.operators.{Curation, GraphOps, Linkage, Similarity}
import graft.plans.JaroWinkler
import graft.plans.KmvAgg.kmvSketch
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Round-7 additions: Jaro–Winkler linkage, KMV sketch set ops,
  * Hamming-code ANN, boilerplate stripping, DoReMi reweighting, and
  * PageRank.
  */
class LinkageGraphSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro_winkler matches the published reference values") {
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("dwayne", "duane") - 0.84) < 1e-15)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("", "") === 0.0) // DuckDB convention: empty side → 0
    assert(jw("ab", "") === 0.0)
    assert(jw("abc", "xyz") === 0.0)
  }

  test("jaro_winkler floors the transposition count (DuckDB/rapidfuzz)") {
    // odd raw transposition count: textbook half-transpositions would
    // give 0.5833..; the floored convention gives 0.6166.. (= DuckDB)
    assert(math.abs(jw("abecbfea", "cfafcecb") - 0.6166666666666667) < 1e-15)
  }

  test("jaro_winkler prefix bonus gates on the 0.7 boost threshold") {
    // shared 2-char prefix but jaro <= 0.7: NO bonus may apply
    val base = jw("aabcde", "aaxyzw")
    assert(base <= 0.7, s"fixture pair must sit below the threshold: $base")
    // and a high-jaro pair gets the bonus: strictly above its raw jaro
    assert(jw("martha", "marhta") > 0.9444444444444444 - 1e-15)
  }

  test("jaro_winkler is registered as a SQL function") {
    graft.plans.GraftExtensions.register(spark)
    val got = spark
      .sql("SELECT round(jaro_winkler('martha', 'marhta'), 4) AS j")
      .head()
      .getDouble(0)
    assert(got === 0.9611)
  }

  test("jaro_winkler column expression is null-safe and codegen-evaluable") {
    val df = Seq(("martha", "marhta"), (null, "x"), ("y", null))
      .toDF("a", "b")
      .select(JaroWinkler.jaroWinkler($"a", $"b").as("j"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("kmv_sketch keeps the k smallest distinct hashes, sorted") {
    val df = Seq(5L, 3L, 9L, 3L, 1L, 7L, 1L).toDF("h")
    val sk = df.agg(kmvSketch($"h", 4)).head().getSeq[Long](0)
    assert(sk === Seq(1L, 3L, 5L, 7L))
  }

  test("kmv_sketch is partitioning-invariant (mergeable partials)") {
    val data = (1 to 5000).map(i => stableHashLong(s"v$i"))
    val one = data.toDF("h").coalesce(1).agg(kmvSketch($"h", 64)).head().getSeq[Long](0)
    val many = data.toDF("h").repartition(13).agg(kmvSketch($"h", 64)).head().getSeq[Long](0)
    assert(one === many)
    assert(one === data.distinct.sorted.take(64))
  }

  test("kmv_sketch rejects k < 2 through both the Column and the SQL API") {
    val df = Seq(5L, 3L).toDF("h")
    val col = intercept[IllegalArgumentException](df.agg(kmvSketch($"h", 1)))
    assert(col.getMessage.contains("k must be at least 2"))
    df.createOrReplaceTempView("kmv_k1")
    val sql = intercept[Exception](spark.sql("SELECT kmv_sketch(h, 1) FROM kmv_k1"))
    assert(Iterator.iterate[Throwable](sql)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("k must be at least 2")),
      sql.toString)
  }

  private def stableHashLong(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  test("kmv source-jaccard estimates track the exact jaccard") {
    val est = Curation.qKmvSourceJaccard
      .fn(spark, sf)
      .select($"src_a", $"src_b", $"est_jaccard")
      .as[(String, String, Double)]
      .collect()
      .map { case (a, b, j) => (a, b) -> j }
      .toMap
    val sets = Tables
      .documents(spark, sf)
      .select($"source", explode(array_distinct(shingles(words($"text"), 3))).as("s"))
      .distinct()
      .as[(String, String)]
      .collect()
      .groupBy(_._1)
      .map { case (src, rows) => src -> rows.map(_._2).toSet }
    var errSum = 0.0
    est.foreach { case ((a, b), j) =>
      val exact = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
      errSum += math.abs(j - exact)
    }
    val mae = errSum / est.size
    info(s"pairs=${est.size} mean |est - exact| = $mae")
    assert(mae < 0.12, s"KMV jaccard too far from exact: mae=$mae")
  }

  test("hamming ANN emits 10 ranked neighbors per query, distances in [0,64]") {
    val rows = Similarity.qAnnHamming
      .fn(spark, sf)
      .select($"qid", $"hamming", $"rnk")
      .as[(Long, Long, Int)]
      .collect()
    assert(rows.length === 30)
    assert(rows.forall { case (_, h, _) => h >= 0 && h <= 64 })
    // within each query the hamming distance is non-decreasing in rank
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("hamming-code recall@10 is measured and non-degenerate") {
    val recalls = Similarity.qHammingRecall
      .fn(spark, sf)
      .select($"recall".cast("double"))
      .as[Double]
      .collect()
    assert(recalls.length === 3)
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(recalls.sum > 0.0, "1-bit codes should recover at least one true neighbor")
  }

  test("fuzzy linkage resolves every typo'd record back to its master row") {
    val rows = Linkage.qErFuzzyMatch
      .fn(spark, sf)
      .select($"is_exact", $"jw", $"margin")
      .as[(Boolean, Double, Double)]
      .collect()
    assert(rows.nonEmpty)
    val acc = rows.count(_._1).toDouble / rows.length
    info(s"n=${rows.length} accuracy=$acc")
    assert(acc >= 0.95, s"swap-typo linkage accuracy degraded: $acc")
    assert(rows.forall(_._2 >= 0.84))
    assert(rows.forall(_._3 >= 0.0), "best score must dominate the runner-up")
  }

  test("boilerplate strip removes EVERY occurrence of a frequent chunk") {
    val out = Curation.qBoilerplateStrip.fn(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(out.count() === docs)
    // re-derive the boilerplate set independently and check no cleaned
    // text still contains a boilerplate chunk of its source
    val chunks = Tables
      .documents(spark, sf)
      .select($"doc_id", $"source", words($"text").as("w"))
      .select($"doc_id", $"source",
        explode(
          transform(
            sequence(lit(0), ceil(size($"w") / lit(10.0)).cast("int") - 1),
            i => array_join(slice($"w", i * 10 + 1, lit(10)), " ")))
          .as("chunk"))
    val boiler = chunks
      .groupBy($"source", $"chunk")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 3)
      .as[(String, String, Long)]
      .collect()
    val cleaned = out
      .join(Tables.documents(spark, sf).select($"doc_id", $"source"), "doc_id")
      .select($"source", $"cleaned_text")
      .as[(String, String)]
      .collect()
    boiler.foreach { case (src, chunk, _) =>
      cleaned.filter(_._1 == src).foreach { case (_, text) =>
        assert(!text.contains(chunk), s"boilerplate chunk survived in $src")
      }
    }
  }

  test("domain reweight is a valid smoothed distribution that upweights drift") {
    val rows = Corpus7Helper.reweight(spark, sf)
    val sum = rows.map(_._4).sum
    assert(math.abs(sum - 1.0) < 0.01, s"weights must renormalize: $sum")
    assert(rows.forall(r => r._4 > 0.0 && r._4 < 1.0))
    // the multiplicative update moves weight toward high-excess sources:
    // among equal-share sources, higher excess must never get less weight
    val byShare = rows.groupBy(_._2)
    byShare.values.filter(_.size > 1).foreach { g =>
      val s = g.sortBy(_._3)
      s.zip(s.tail).foreach { case (lo, hi) =>
        assert(hi._4 >= lo._4 - 1e-9)
      }
    }
  }

  test("entity clustering resolves variants back to the true name set") {
    val rows = Linkage.qErEntityClusters
      .fn(spark, sf)
      .select($"name", $"entity_id", $"entity_size")
      .as[(String, String, Long)]
      .collect()
    val masters = Tables.part(spark, sf)
      .select($"p_name").distinct().as[String].collect().toSet
    val entities = rows.map(_._2).toSet
    info(s"names=${rows.length} entities=${entities.size} masters=${masters.size}")
    // every observed variant lands in exactly one entity, and the
    // entity count matches the true name universe (the swap model
    // never bridges two masters at the 0.92 threshold)
    assert(entities.size === masters.size)
    // entity_size is consistent: the label's size equals its member count
    rows.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).toSet === Set(members.length.toLong))
    }
  }

  test("textrank ranks 20 keywords with a valid rank sequence") {
    val rows = GraphOps.qTextrankKeywords
      .fn(spark, sf)
      .select($"word", $"textrank".cast("double"), $"rnk")
      .as[(String, Double, Int)]
      .collect()
    assert(rows.length === 20)
    assert(rows.map(_._3).sorted === (1 to 20).toArray)
    val byRank = rows.sortBy(_._3).map(_._2)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_._2 > 0.0))
  }

  test("matryoshka recall is 1.0 at full dim and measured at every prefix") {
    val rows = Similarity.qMatryoshkaRecall
      .fn(spark, sf)
      .select($"dim", $"qid", $"recall".cast("double"))
      .as[(Int, Long, Double)]
      .collect()
    assert(rows.length === 12) // 4 dims x 3 queries
    assert(rows.filter(_._1 == 64).forall(_._3 === 1.0),
      "full-dim prefix must reproduce the exact top-10")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("blocklist filter counts hits exactly and never flags clean docs") {
    val rows = Curation.qBlocklistFilter
      .fn(spark, sf)
      .select($"doc_id", $"n_tokens", $"n_blocked", $"keep")
      .as[(Long, Long, Long, Boolean)]
      .collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    assert(rows.forall(r => r._3 <= r._2))
    // independently recount one known term
    val slowDocs = Tables.documents(spark, sf)
      .select($"doc_id",
        size(filter(words($"text"), x => x === "slow")).as("n"))
      .as[(Long, Int)].collect().toMap
    rows.foreach { case (id, _, blocked, _) =>
      assert(blocked >= slowDocs(id),
        "blocked count must cover every 'slow' occurrence")
    }
    rows.filter(_._3 == 0).foreach(r => assert(r._4, "clean doc must keep"))
  }

  test("ewma forecast stays inside the series' value envelope") {
    val rows = Events7Helper.ewma(spark, sf)
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_._1)
    byType.values.foreach { g =>
      val lo = g.map(_._2).min
      val hi = g.map(_._2).max
      // a convex combination of past values can never leave [min, max]
      g.foreach { case (_, _, f) =>
        assert(f >= lo - 1e-4 && f <= hi + 1e-4,
          s"forecast $f outside value envelope [$lo, $hi]")
      }
    }
  }

  test("k-anonymity partitions the corpus and flags small groups") {
    val rows = Curation.qKAnonymity
      .fn(spark, sf)
      .select($"n", $"risky", $"share".cast("double"))
      .as[(Long, Boolean, Double)]
      .collect()
    assert(rows.map(_._1).sum === Tables.documents(spark, sf).count())
    rows.foreach { case (n, risky, _) => assert(risky === (n < 5)) }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 0.01)
  }

  test("pagerank is a probability vector over all nations") {
    val rows = GraphOps.qPagerank
      .fn(spark, sf)
      .select($"nation", $"pagerank".cast("double"))
      .as[(String, Double)]
      .collect()
    assert(rows.length === 25)
    val sum = rows.map(_._2).sum
    assert(math.abs(sum - 1.0) < 0.001, s"ranks must sum to 1: $sum")
    assert(rows.forall(_._2 > 0.0))
  }

  // ── convergence-dial variants (r10): exactly the shapes the fixed
  // round counts (BfsRounds=8 / KCoreRounds=6 / LpaRounds=5) TRUNCATE on

  private def symOf(und: Seq[(Long, Long)]) = {
    val u = und.toDF("src", "dst")
    u.unionAll(u.select($"dst".as("src"), $"src".as("dst")))
  }

  test("bfsDistancesConverged: exact hop counts on a 40-hop path (8 fixed rounds reach only 8)") {
    val sym = symOf((0L until 40L).map(i => (i, i + 1)))
    val got = GraphOps.bfsDistancesConverged(sym)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 41)
    (0L to 40L).foreach(i => assert(got(i) === i,
      s"node $i must sit at hop $i"))
  }

  test("bfsDistancesConverged: disconnected component keeps the unreached sentinel") {
    val sym = symOf(Seq((0L, 1L), (1L, 2L), (10L, 11L)))
    val got = GraphOps.bfsDistancesConverged(sym)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) === 0L && got(1L) === 1L && got(2L) === 2L)
    assert(got(10L) === GraphOps.BfsUnreached)
    assert(got(11L) === GraphOps.BfsUnreached)
  }

  test("kcoreConverged: a 30-node path peels to the EMPTY 2-core (15 rounds > the 6 fixed)") {
    // peeling strips exactly the two endpoints per round — the Θ(n)
    // adversarial shape; the fixed-6-round registry form would stop
    // mid-peel and wrongly keep the interior
    val sym = symOf((0L until 29L).map(i => (i, i + 1)))
    assert(GraphOps.kcoreConverged(sym, 2).count() === 0L)
  }

  test("kcoreConverged: triangle with a pendant tail keeps only the triangle") {
    val sym = symOf(Seq((0L, 1L), (1L, 2L), (0L, 2L), // triangle
      (2L, 3L), (3L, 4L), (4L, 5L))) // tail
    val got = GraphOps.kcoreConverged(sym, 2).as[Long].collect().sorted
    assert(got.toSeq === Seq(0L, 1L, 2L))
  }

  test("lpaStable: two bridged cliques settle into two communities; a lone edge oscillates honestly") {
    val cliqueA = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    val cliqueB = for { a <- 10L until 15L; b <- (a + 1) until 15L } yield (a, b)
    val (lab, conv) = GraphOps.lpaStable(
      symOf(cliqueA ++ cliqueB ++ Seq((4L, 10L))))
    assert(conv, "bridged cliques must stabilize")
    val m = lab.as[(Long, Long)].collect().toMap
    assert((0L until 5L).map(m).toSet.size === 1, "clique A one label")
    assert((10L until 15L).map(m).toSet.size === 1, "clique B one label")
    // synchronous LPA on a single edge swaps labels forever — the cap
    // must report non-convergence instead of refusing or spinning
    val (_, conv2) = GraphOps.lpaStable(symOf(Seq((0L, 1L))), maxRounds = 6)
    assert(!conv2, "a lone edge 2-cycles under synchronous update")
  }
}

/** Typed reader for the ewma spec (type, value, forecast). */
private object Events7Helper {
  def ewma(spark: org.apache.spark.sql.SparkSession, sf: String)
      : Array[(String, Double, Double)] = {
    import spark.implicits._
    graft.operators.Events.qEwmaForecast
      .fn(spark, sf)
      .select($"event_type", $"value".cast("double"),
        $"forecast".cast("double"))
      .as[(String, Double, Double)]
      .collect()
  }
}

/** Small helper so the reweight spec reads the typed columns once. */
private object Corpus7Helper {
  def reweight(spark: org.apache.spark.sql.SparkSession, sf: String)
      : Array[(String, Double, Double, Double)] = {
    import spark.implicits._
    graft.operators.Corpus.qDomainReweight
      .fn(spark, sf)
      .select($"source", $"old_share".cast("double"),
        $"excess".cast("double"), $"new_weight".cast("double"))
      .as[(String, Double, Double, Double)]
      .collect()
  }
}

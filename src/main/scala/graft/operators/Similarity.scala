package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.stableHash60
import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star ANN).
  *
  * Scale design (100 TB): the brute-force paths here broadcast the *query*
  * side (small) against the corpus (large), so the corpus is never
  * shuffled — each scan partition computes its candidates independently
  * and only top-k rows move. The LSH variant buckets the corpus once
  * (narrow map) and joins on bucket id, replacing the all-pairs product
  * with per-bucket products; recall is validated in ScalaTest against the
  * brute-force baseline.
  */
object Similarity {

  /** Brute-force cosine top-k: for each query vector (vec_id < 3), the 10
    * nearest corpus vectors. Query side broadcast; ranking via window. */
  val qCosineKnn = QueryDef.sql(
    "q_cosine_knn",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT qid, e.vec_id AS nid,
      |         list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM q JOIN embeddings e ON e.vec_id <> qid),
      |ranked AS (
      |  SELECT qid, nid, round(c, 4) AS cos_sim,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, nid, cos_sim, rnk FROM ranked
      |WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    cosineKnnPairs(Tables.embeddings(s, d)).orderBy($"qid", $"rnk")
  }

  /** Brute-force cosine top-10 (qid, nid, cos_sim, rnk) over an
    * embeddings frame — [[qCosineKnn]] and the ground-truth side of
    * [[qAnnRecall]]. */
  private[graft] def cosineKnnPairs(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // norms precomputed per side: the join then does ONE dot per pair
    val q = emb
      .filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        norm($"embedding").as("qn"))
    val scored = emb
      .select($"vec_id".as("nid"), $"embedding".as("nv"),
        norm($"embedding").as("nn"))
      .join(broadcast(q), $"nid" =!= $"qid")
      .select($"qid", $"nid", (dot($"qv", $"nv") / ($"qn" * $"nn")).as("c"))
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    scored
      .select($"qid", $"nid", round($"c", 4).as("cos_sim"),
        row_number().over(w).as("rnk"))
      .filter($"rnk" <= 10)
  }

  /** Target ROW COUNT of the all-pairs ground-truth sample: the sampled
    * quadratic then costs O(K²) pairs at ANY corpus size. Fixed-SIZE, not
    * fixed-rate — a fixed admission rate keeps O((rate·n)²) and the
    * quadratic returns at a 100× scale-up. Same recipe as
    * [[Curation.semanticCellCount]] / `Pipeline.shardBucketSize`: scale
    * the knob from a driver-cheap (parquet-metadata) count(). */
  val NearDupSampleTarget = 500L

  /** Modulus of the sample's hash predicate: parts-per-BILLION, because a
    * permille knob bottoms out at 1‰ and goes quadratic again past
    * n = target·1000 rows; ppb holds the sample near `target` out to
    * n = target·10⁹. */
  val NearDupSampleMod = 1000000000L

  /** Admitted hash range (ppb) for a corpus of `n` vectors: the exact
    * integer ceiling of target·mod/n, floored at 1 and capped at 50% so
    * tiny fixtures keep a multi-row sample rather than swallowing the
    * whole corpus. Mirrored digit-for-digit in the oracle CTE via
    * DuckDB's integer `//`. */
  private[graft] def nearDupSamplePpb(n: Long): Long = {
    val nn = math.max(1L, n) // empty corpus: no rows to sample anyway
    math.min(NearDupSampleMod / 2,
      math.max(1L, (NearDupSampleTarget * NearDupSampleMod + nn - 1) / nn))
  }

  /** The deterministic keep-predicate for the near-dup ground-truth
    * sample (DuckDB twin: `CAST(concat('0x', substr(md5('nd|' || vec_id),
    * 1, 15)) AS BIGINT) % mod < ppb`). */
  private[graft] def nearDupSampleKeep(id: org.apache.spark.sql.Column,
      ppb: Long): org.apache.spark.sql.Column =
    pmod(stableHash60(concat(lit("nd|"), id.cast("string"))),
      lit(NearDupSampleMod)) < ppb

  /** Embedding-cosine near-duplicate pairs (threshold 0.45) over a
    * deterministic hash sample of the corpus. The all-pairs product is
    * O(n²) — the quality-audit ground truth, not a production path (that
    * is [[qEmbedNearDupLsh]]) — so it runs on a fixed-SIZE ~`target`-row
    * sample: the corpus near-dup RATE estimate a curation pipeline
    * actually needs, at O(target²) cost no matter the corpus size. The
    * oracle computes the identical sampled definition, deriving the
    * admission threshold from the same exact-integer formula. */
  val qEmbedNearDup = QueryDef.sql(
    "q_embed_neardup",
    s"""WITH pp AS (
      |  SELECT least(${NearDupSampleMod / 2}, greatest(1,
      |           (${NearDupSampleTarget * NearDupSampleMod}
      |              + greatest(count(*), 1) - 1)
      |             // greatest(count(*), 1))) AS p
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE CAST(concat('0x', substr(md5('nd|' || vec_id), 1, 15))
      |             AS BIGINT) % $NearDupSampleMod < (SELECT p FROM pp))
      |SELECT v1, v2, round(c, 4) AS cos_sim FROM (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2,
      |         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                CAST(b.embedding AS DOUBLE[])) AS c
      |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
      |WHERE round(c, 4) > 0.45
      |ORDER BY v1, v2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val sampled = emb.filter(nearDupSampleKeep($"vec_id",
      nearDupSamplePpb(emb.count())))
    val a = sampled.select($"vec_id".as("v1"),
      $"embedding".as("e1"), norm($"embedding").as("n1"))
    val b = sampled.select($"vec_id".as("v2"),
      $"embedding".as("e2"), norm($"embedding").as("n2"))
    // cross join + ordered filter chain, NOT a.join(b, v1 < v2) with the
    // threshold filtered afterwards: Catalyst merges both predicates into
    // the BNLJ condition either way, but AND evaluates left-to-right with
    // short-circuit — this ordering puts the cheap v1 < v2 BEFORE the
    // 64-wide dot product, so half the n² ordered pairs never pay for it
    a.join(b)
      .filter($"v1" < $"v2")
      .withColumn("c", dot($"e1", $"e2") / ($"n1" * $"n2"))
      // threshold on the ROUNDED value so a ~1e-12 fp difference between
      // engines can't flip a row that sits on the raw boundary
      .filter(round($"c", 4) > 0.45)
      .select($"v1", $"v2", round($"c", 4).as("cos_sim"))
      .orderBy($"v1", $"v2")
  }

  /** Deterministic random hyperplanes for the LSH signature (seeded — the
    * whole engine must be replay-stable, mirroring the reference's
    * deterministic bucket placement, local_file_kv_store.rs:62-70). */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Multi-table LSH bucket ids: `nTables` independent signatures of
    * `bitsPerTable` random-hyperplane bits each. A pair is a candidate if
    * it collides in ANY table — the standard recall/cost dial (more
    * tables → higher recall, more candidates). */
  private[graft] def lshBuckets(v: org.apache.spark.sql.Column, nTables: Int,
      bitsPerTable: Int, dim: Int): org.apache.spark.sql.Column =
    // ONE native expression for all nTables·bits planes. The previous
    // composed form (array of per-bit when(dot > 0) trees) unrolled
    // every plane into the codegen method: harmless at the registry's
    // 4×4 dial, but at a large-corpus layout (12×16 = 192 planes)
    // the generated method blew HotSpot's huge-method JIT limit and the
    // bucketing scan ran as interpreted bytecode — 370+ s of CPU per
    // task at the x1000 corpus (see HyperplaneBuckets' scaladoc). Same
    // doubles, same index-order accumulation, same sign test — every
    // bucket id is bit-identical, which SimilaritySpec pins against a
    // plain-Scala third engine.
    graft.plans.VectorExpressions.hyperplaneBuckets(
      v, hyperplanes(nTables * bitsPerTable, dim), nTables, bitsPerTable, dim)

  /** The hyperplane constants as a DuckDB `VALUES` CTE body —
    * `(tbl, bit, [h1, ..., hdim])` rows. `Double.toString` emits enough
    * digits to round-trip uniquely (JLS guarantee) and DuckDB's parser is
    * correctly rounded, so the oracle evaluates against bit-identical
    * doubles; `list_inner_product` then accumulates double products in
    * index order exactly like [[graft.plans.FloatVectorDot]], making the
    * sign test (and thus every bucket id) engine-independent. */
  private def hpValuesSql(nTables: Int, bitsPerTable: Int, dim: Int): String = {
    val hp = hyperplanes(nTables * bitsPerTable, dim)
    (for { t <- 0 until nTables; j <- 0 until bitsPerTable } yield {
      val vec = hp(t * bitsPerTable + j).mkString("[", ",", "]")
      s"($t,$j,$vec)"
    }).mkString(",\n  ")
  }

  /** Shared oracle CTE: per-(vector, table) LSH bucket ids computed from
    * the inlined hyperplane literals — the DuckDB twin of [[lshBuckets]]
    * + posexplode. */
  private def lshBucketsCte(nTables: Int, bitsPerTable: Int, dim: Int): String =
    s"""hp(tbl, bit, h) AS (VALUES
       |  ${hpValuesSql(nTables, bitsPerTable, dim)}),
       |b AS (
       |  SELECT e.vec_id, hp.tbl,
       |         sum(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), hp.h) > 0
       |                  THEN 1 << hp.bit ELSE 0 END) AS bucket
       |  FROM embeddings e CROSS JOIN hp
       |  GROUP BY e.vec_id, hp.tbl)""".stripMargin

  /** ANN via multi-table LSH: corpus vectors sharing any of 4 4-bit
    * buckets with a query vector are candidates; top-k by true cosine
    * among candidates only. At 100 TB this replaces the broadcast
    * brute-force scan with an equi-join on (table, bucket) — the corpus
    * explodes x4 (table replicas) but never pairs outside a bucket.
    * Oracle-gated: the seeded hyperplane constants are inlined into the
    * DuckDB SQL as a VALUES CTE (see [[hpValuesSql]]); recall vs brute
    * force is additionally asserted in SimilaritySpec. */
  val qAnnLsh = QueryDef.sql(
    "q_ann_lsh",
    s"""WITH ${lshBucketsCte(4, 4, 64)},
       |q AS (SELECT vec_id AS qid, tbl, bucket FROM b WHERE vec_id < 3),
       |cand AS (
       |  SELECT DISTINCT q.qid, b.vec_id AS nid
       |  FROM b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
       |                AND b.vec_id <> q.qid),
       |scored AS (
       |  SELECT c.qid, c.nid,
       |         list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |                                CAST(en.embedding AS DOUBLE[])) AS c
       |  FROM cand c
       |    JOIN embeddings eq ON eq.vec_id = c.qid
       |    JOIN embeddings en ON en.vec_id = c.nid),
       |ranked AS (
       |  SELECT qid, nid, round(c, 4) AS cos_sim,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS INT) AS rnk
       |  FROM scored)
       |SELECT qid, nid, cos_sim, rnk FROM ranked
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val dim = 64
    val bucketed = emb.select(
      $"vec_id",
      $"embedding",
      posexplode(lshBuckets($"embedding", 4, 4, dim)).as(Seq("tbl", "bucket")))
    val q = bucketed
      .filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"tbl".as("qt"),
        $"bucket".as("qb"))
    val cands = bucketed
      .join(broadcast(q),
        $"tbl" === $"qt" && $"bucket" === $"qb" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"qv", $"embedding".as("nv"))
      .distinct()
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    cands
      .select($"qid", $"nid", cosine($"qv", $"nv").as("c"))
      .select($"qid", $"nid", round($"c", 4).as("cos_sim"),
        row_number().over(w).as("rnk"))
      .filter($"rnk" <= 10)
      .orderBy($"qid", $"rnk")
  }

  /** ANN via IVF (inverted-file) coarse quantization: the first
    * `nCentroids` corpus vectors act as deterministic centroids (a
    * k-means-free quantizer — replay-stable, no training job); every
    * vector is assigned to its nearest centroid cell, queries probe the
    * `nProbe` nearest cells and rank candidates by true cosine. At scale
    * the cell id becomes the table's partition/bucket key, so a query
    * touches nProbe/nCentroids of the corpus. The quantizer is
    * deterministic, so the full cell-assignment + probe + rank dataflow is
    * SQL-expressible and oracle-gated; recall vs brute force additionally
    * asserted in SimilaritySpec.
    */
  val qAnnIvf = QueryDef.sql(
    "q_ann_ivf",
    """WITH c AS (
      |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
      |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS cs
      |  FROM embeddings e CROSS JOIN c),
      |assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT vec_id, v, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk
      |    FROM scored) WHERE rk = 1),
      |probes AS (
      |  SELECT qid, qv, probe_cid FROM (
      |    SELECT vec_id AS qid, v AS qv, cid AS probe_cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk
      |    FROM scored WHERE vec_id < 3) WHERE rk <= 4),
      |cands AS (
      |  SELECT DISTINCT p.qid, a.vec_id AS nid,
      |         list_cosine_similarity(p.qv, a.v) AS cs2
      |  FROM assigned a
      |  JOIN probes p ON a.cid = p.probe_cid AND a.vec_id <> p.qid)
      |SELECT qid, nid, cos_sim, rnk FROM (
      |  SELECT qid, nid, round(cs2, 4) AS cos_sim,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cs2 DESC, nid) AS INT) AS rnk
      |  FROM cands)
      |WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    annIvfPairs(Tables.embeddings(s, d)).orderBy($"qid", $"rnk")
  }

  /** IVF top-10 (qid, nid, cos_sim, rnk) over an embeddings frame —
    * [[qAnnIvf]] and the path under test in [[qAnnRecall]]. */
  private[graft] def annIvfPairs(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val nCentroids = 16
    val nProbe = 4
    val centroids = emb
      .filter($"vec_id" < nCentroids)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"),
        norm($"embedding").as("cn"))
    // assign every vector to its nearest centroid (cell)
    val scoredCells = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .join(broadcast(centroids), $"vn" * $"cn" =!= 0.0)
      .select($"vec_id", $"embedding", $"vn", $"cid",
        (dot($"embedding", $"cv") / ($"vn" * $"cn")).as("cs"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cs".desc, $"cid")
    val assigned = scoredCells
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"vn", $"cid")
    // queries probe their nProbe nearest cells
    val probes = scoredCells
      .filter($"vec_id" < 3)
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" <= nProbe)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"vn".as("qn"),
        $"cid".as("probe_cid"))
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    assigned
      .join(broadcast(probes), $"cid" === $"probe_cid" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        (dot($"qv", $"embedding") / ($"qn" * $"vn")).as("c"))
      .distinct()
      .select($"qid", $"nid", round($"c", 4).as("cos_sim"),
        row_number().over(w).as("rnk"))
      .filter($"rnk" <= 10)
  }

  /** The 100 TB production form of [[qEmbedNearDup]]: LSH-bucketed
    * candidate pairs (12 tables × 6 hyperplane bits — any-table collision)
    * followed by an EXACT cosine verify at the same rounded threshold.
    * Replaces the all-pairs theta join (BroadcastNestedLoopJoin, O(n²))
    * with an equi-join on (table, bucket): cost is Σ|bucket|² per table,
    * so bits-per-table is the dial to keep mean bucket size roughly
    * constant as the corpus grows (bits ∝ log₂|corpus|). Precision is
    * 1.0 by construction (every emitted pair is exact-verified); recall
    * is measured against the all-pairs ground truth in SimilaritySpec.
    * Oracle-gated via the same inlined-hyperplane VALUES CTE as
    * [[qAnnLsh]]. */
  val qEmbedNearDupLsh = QueryDef.sql(
    "q_embed_neardup_lsh",
    s"""WITH ${lshBucketsCte(12, 6, 64)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
       |  FROM b a JOIN b b2
       |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |   AND a.vec_id < b2.vec_id),
       |scored AS (
       |  SELECT p.v1, p.v2,
       |         list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
       |                                CAST(e2.embedding AS DOUBLE[])) AS c
       |  FROM cand p
       |    JOIN embeddings e1 ON e1.vec_id = p.v1
       |    JOIN embeddings e2 ON e2.vec_id = p.v2)
       |SELECT v1, v2, round(c, 4) AS cos_sim
       |FROM scored WHERE round(c, 4) > 0.45
       |ORDER BY v1, v2""".stripMargin
  ) { (s, d) =>
    embedNearDupLshPairs(s, d)
  }

  /** The LSH near-dup pair path of [[qEmbedNearDupLsh]], which
    * [[qEmbedDedupGroups]] also runs: 12 tables × 6 bits = 64 buckets,
    * the layout both oracles inline. Candidate cost is Σ|bucket|²/2 per
    * table, so a corpus n× the fixture needs `bitsPerTable ≈ 6 + log₂ n`
    * to hold mean bucket size — and with it per-row join work — constant
    * (SCALE.md finding 2). */
  private def embedNearDupLshPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val bucketed = Tables.embeddings(s, d).select(
      $"vec_id",
      $"embedding",
      posexplode(lshBuckets($"embedding", 12, 6, 64))
        .as(Seq("tbl", "bucket")))
    val a = bucketed.select($"vec_id".as("v1"), $"embedding".as("e1"),
      norm($"embedding").as("n1"), $"tbl", $"bucket")
    val b = bucketed.select($"vec_id".as("v2"), $"embedding".as("e2"),
      norm($"embedding").as("n2"), $"tbl".as("t2"), $"bucket".as("b2"))
    // exact-verify INSIDE the join projection, threshold BEFORE the
    // dedup: a pair colliding in k tables pays k cheap codegen'd dots,
    // but the distinct then shuffles only surviving (v1, v2, cos) rows
    // (24 bytes) instead of every candidate with both 64-float vectors
    // (~0.5 KB) — at corpus scale the dedup exchange is the bottleneck,
    // not the dot product
    a.join(b, $"tbl" === $"t2" && $"bucket" === $"b2" && $"v1" < $"v2")
      .select($"v1", $"v2", (dot($"e1", $"e2") / ($"n1" * $"n2")).as("c"))
      .filter(round($"c", 4) > 0.45)
      .select($"v1", $"v2", round($"c", 4).as("cos_sim"))
      .distinct()
      .orderBy($"v1", $"v2")
  }

  /** Symmetric int8 quantization roundtrip — the storage-scale technique
    * for a 100 TB embedding store (4× smaller than float32, dot products
    * stay SIMD-friendly). Per vector: scale = max|v|, qᵢ = round(127·vᵢ/
    * scale); the query reports the reconstruction error and the cosine
    * between original and dequantized vector, all in double so the DuckDB
    * oracle reproduces it bit-for-bit (float32 list funcs would not —
    * see the CAST rule in the knn oracles). */
  val qEmbedQuantize = QueryDef.sql(
    "q_embed_quantize",
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id < 200),
      |s AS (
      |  SELECT vec_id, e,
      |         list_max(list_transform(e, x -> abs(x))) AS scale
      |  FROM v
      |  -- an all-zero vector has no quantization scale; both engines
      |  -- drop it rather than diverge on x/0 semantics
      |  WHERE list_max(list_transform(e, x -> abs(x))) > 0),
      |q AS (
      |  SELECT vec_id, e, scale,
      |         [round(x * 127 / scale) for x in e] AS qv
      |  FROM s),
      |d AS (
      |  SELECT vec_id, e, scale,
      |         [x * scale / 127 for x in qv] AS dq
      |  FROM q)
      |SELECT vec_id,
      |       round(scale, 5) AS scale,
      |       round(list_max([abs(dq[i] - e[i])
      |                       for i in range(1, len(e) + 1)]), 5) AS max_err,
      |       round(list_cosine_similarity(e, dq), 5) AS cos_fidelity
      |FROM d
      |ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val e = transform($"embedding", x => x.cast("double"))
    Tables
      .embeddings(s, d)
      .filter($"vec_id" < 200)
      .select($"vec_id", e.as("e"))
      .withColumn("scale", array_max(transform($"e", abs(_))))
      .filter($"scale" > 0) // all-zero vector: no scale, dropped both sides
      .withColumn("qv", transform($"e", x => round(x * 127 / $"scale")))
      .withColumn("dq", transform($"qv", q => q * $"scale" / 127))
      .select(
        $"vec_id",
        round($"scale", 5).as("scale"),
        round(
          array_max(zip_with($"dq", $"e", (a, b) => abs(a - b))), 5)
          .as("max_err"),
        round(
          aggregate(zip_with($"dq", $"e", (a, b) => a * b), lit(0.0d), _ + _)
            / (sqrt(aggregate(transform($"dq", x => x * x), lit(0.0d), _ + _))
              * sqrt(aggregate(transform($"e", x => x * x), lit(0.0d), _ + _))),
          5).as("cos_fidelity"))
      .orderBy($"vec_id")
  }

  /** Output dimensionality of the random projection. */
  val RpDimOut = 16

  /** The ±1 Rademacher sign for projection row j, input dim i — parity
    * of stableHash60("rp|j|i"), identical to the DuckDB md5 formula. */
  private def rpSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp|$j|$i".getBytes("UTF-8"))
    val h = java.lang.Long
      .parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    if (h % 2 == 0) 1.0 else -1.0
  }

  /** Random-projection dimensionality reduction (Achlioptas 2003 /
    * Johnson–Lindenstrauss): y = R·x / √d_out with a ±1 Rademacher
    * matrix derived from stableHash60("rp|j|i") parity, 64 → 16 dims.
    * The cheap first stage before clustering or coarse ANN — 4× smaller
    * vectors with bounded pairwise-distance distortion.
    *
    * Scale design: the 16×64 sign matrix is a pure function of (j, i),
    * so the Spark side folds it into the plan as a LITERAL nested array
    * — no per-row hashing, no model relation, no broadcast; the whole
    * projection is one narrow codegen'd pass over the scan. The oracle
    * recomputes every sign from md5 per element (cost irrelevant
    * there), proving the fold matches the formula. Sums run as
    * sequential folds over the same doubles in both engines.
    *
    * Output shape: one SCALAR column per projection component
    * (p0..p15) rather than a DOUBLE[] — the driver's oracle harness
    * sorts/hashes cells and cannot hash array values.
    *
    * Signed-zero fence (r8): both engine texts append `+ 0.0` to every
    * rounded component. IEEE 754 defines `-0.0 + 0.0 = +0.0`, so a
    * tiny negative sum that rounds to zero hashes identically on both
    * engines (Spark's round() lowers through BigDecimal and loses the
    * sign bit; DuckDB's keeps it — r7 diverged on exactly one cell). */
  val qEmbedProject = QueryDef.sql(
    "q_embed_project",
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
       |SELECT vec_id,
       |${(0 until RpDimOut).map { j =>
          s"""       round(list_sum(
             |          [e[i + 1] * (CASE WHEN CAST(concat('0x',
             |               substr(md5('rp|$j|' || CAST(i AS VARCHAR)), 1, 15))
             |             AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END)
             |           for i in range(0, 64)]) / 4, 4) + 0.0 AS p$j""".stripMargin
        }.mkString(",\n")}
       |FROM v ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .embeddings(s, d)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double")).as("e"))
      .select(
        $"vec_id" +: (0 until RpDimOut).map { j =>
          val signs = array((0 until 64).map(i => lit(rpSign(j, i))): _*)
          (round(
            aggregate(zip_with($"e", signs, (a, b) => a * b),
              lit(0.0d), _ + _) / 4, 4) + lit(0.0d)).as(s"p$j")
        }: _*)
      .orderBy($"vec_id")
  }

  /** Cross-table join of the LLM tables: mean embedding norm and vector
    * count per document language (doc_id = vec_id). Exercises vector
    * math composed with a relational join + aggregation. */
  val qLangEmbedStats = QueryDef.sql(
    "q_lang_embed_stats",
    """SELECT d.lang,
      |       count(*) AS n_vecs,
      |       round(avg(sqrt(list_sum(list_transform(
      |         CAST(e.embedding AS DOUBLE[]), x -> x * x)))), 4) AS avg_norm
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .join(Tables.embeddings(s, d), $"doc_id" === $"vec_id")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg(norm($"embedding")), 4).as("avg_norm"))
      .orderBy($"lang")
  }

  /** ANN quality as a QUERY: recall@10 of the IVF path against the
    * brute-force ground truth, per query vector — the search-quality
    * measurement a 100 TB index deployment runs continuously, here
    * oracle-gated end-to-end because both sides of the comparison are
    * themselves deterministic SQL-expressible dataflows. Composes the
    * exact q_cosine_knn and q_ann_ivf definitions (Spark side reuses
    * their DataFrames; oracle side inlines both CTE chains, renamed
    * apart). */
  val qAnnRecall = QueryDef.sql(
    "q_ann_recall",
    """WITH bq AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |bscored AS (
      |  SELECT qid, e.vec_id AS nid,
      |         list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM bq JOIN embeddings e ON e.vec_id <> qid),
      |brute AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |           row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
      |    FROM bscored) WHERE rnk <= 10),
      |ic AS (
      |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings WHERE vec_id < 16),
      |iscored AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, ic.cid,
      |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ic.cv) AS cs
      |  FROM embeddings e CROSS JOIN ic),
      |iassigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT vec_id, v, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk
      |    FROM iscored) WHERE rk = 1),
      |iprobes AS (
      |  SELECT qid, qv, probe_cid FROM (
      |    SELECT vec_id AS qid, v AS qv, cid AS probe_cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rk
      |    FROM iscored WHERE vec_id < 3) WHERE rk <= 4),
      |icands AS (
      |  SELECT DISTINCT p.qid, a.vec_id AS nid,
      |         list_cosine_similarity(p.qv, a.v) AS cs2
      |  FROM iassigned a
      |  JOIN iprobes p ON a.cid = p.probe_cid AND a.vec_id <> p.qid),
      |ivf AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |           row_number() OVER (PARTITION BY qid ORDER BY cs2 DESC, nid) AS rnk
      |    FROM icands) WHERE rnk <= 10)
      |SELECT b.qid,
      |       count(i.nid) AS n_hits,
      |       round(count(i.nid) * 1.0 / count(*), 2) AS recall_at_10
      |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.nid = i.nid
      |GROUP BY b.qid
      |ORDER BY b.qid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val brute = cosineKnnPairs(emb).select($"qid", $"nid")
    val ivf = annIvfPairs(emb)
      .select($"qid".as("iqid"), $"nid".as("inid"))
    // denominator = the per-query TRUTH size (≤ 10), not a literal 10:
    // on a corpus with fewer than 10 non-query vectors the truncated
    // recall@k definition keeps a perfect result at 1.0 instead of
    // capping at |truth|/10
    brute
      .join(ivf, $"qid" === $"iqid" && $"nid" === $"inid", "left")
      .groupBy($"qid")
      .agg(count($"inid").as("n_hits"), count(lit(1)).as("n_truth"))
      .select($"qid", $"n_hits",
        round($"n_hits" * lit(1.0) / $"n_truth", 2).as("recall_at_10"))
      .orderBy($"qid")
  }

  /** Embedding-level dedup groups: connected components over the LSH
    * near-duplicate pair graph ([[qEmbedNearDupLsh]]) — every vector gets
    * the minimum vec_id reachable through near-dup edges as its
    * `group_id` (the SemDeDup-style "keep one per cluster" assignment,
    * but from the exact-verified LSH graph rather than IVF cells).
    * Composes the banded equi-join candidate path with the iterative
    * min-label propagation of [[Dedup.connectedComponents]] (join +
    * min-agg rounds, lineage cuts, diameter-bounded) — both pieces
    * already hold at 100 TB, and so does their composition. Oracle:
    * the same inlined-hyperplane CTE chain feeding a recursive-CTE
    * transitive closure, exactly like q_dedup_groups' oracle. */
  val qEmbedDedupGroups = QueryDef.sql(
    "q_embed_dedup_groups",
    s"""WITH RECURSIVE ${lshBucketsCte(12, 6, 64)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
       |  FROM b a JOIN b b2
       |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |   AND a.vec_id < b2.vec_id),
       |verified AS (
       |  SELECT p.v1, p.v2
       |  FROM cand p
       |    JOIN embeddings e1 ON e1.vec_id = p.v1
       |    JOIN embeddings e2 ON e2.vec_id = p.v2
       |  WHERE round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
       |                                     CAST(e2.embedding AS DOUBLE[])),
       |              4) > 0.45),
       |sym AS (
       |  SELECT v1 AS a, v2 AS b FROM verified
       |  UNION
       |  SELECT v2, v1 FROM verified),
       |reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |lbl AS (SELECT a AS vec_id, min(b) AS m FROM reach GROUP BY a),
       |grp AS (
       |  SELECT e.vec_id,
       |         least(coalesce(l.m, e.vec_id), e.vec_id) AS group_id
       |  FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.vec_id)
       |SELECT vec_id, group_id,
       |       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT)
       |         AS n_members
       |FROM grp
       |ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val pairs = embedNearDupLshPairs(s, d)
      .select($"v1".as("d1"), $"v2".as("d2"))
    val labels = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", "lnode")
    Tables.embeddings(s, d)
      .select($"vec_id")
      .join(labels, $"vec_id" === $"lnode", "left")
      .select($"vec_id",
        least(coalesce($"label", $"vec_id"), $"vec_id").as("group_id"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"group_id")))
      .orderBy($"vec_id")
  }

  /** Multi-probe LSH ANN (Lv et al. 2007): each query probes its base
    * bucket PLUS the two buckets reachable by flipping the query's two
    * lowest-|margin| hyperplane bits — the sign decisions it was least
    * confident about, where a true neighbor most likely landed on the
    * other side. Recall rises at the SAME table count, so the candidate
    * volume grows ~3× on the query side while the corpus-side index cost
    * (the dominant term at 100 TB) is unchanged — the standard
    * alternative to "just add tables", whose cost lands on the corpus.
    *
    * Engine parity: margins are |dot| values both engines compute
    * bit-identically (index-order accumulation, see [[hpValuesSql]]);
    * the flip choice orders by (margin, bit) so ties cannot diverge, and
    * bucket arithmetic is exact integer XOR. The probe superset also
    * guarantees recall ≥ [[qAnnLsh]] per query (spec-asserted). */
  val qAnnLshMultiprobe = QueryDef.sql(
    "q_ann_lsh_multiprobe",
    s"""WITH ${lshBucketsCte(4, 4, 64)},
       |m AS (
       |  SELECT e.vec_id, hp.tbl, hp.bit,
       |         abs(list_inner_product(CAST(e.embedding AS DOUBLE[]), hp.h))
       |           AS mg,
       |         CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]),
       |                                      hp.h) > 0
       |              THEN 1 << hp.bit ELSE 0 END AS bval
       |  FROM embeddings e CROSS JOIN hp
       |  WHERE e.vec_id < 3),
       |qb AS (
       |  SELECT vec_id, tbl, CAST(sum(bval) AS BIGINT) AS bucket
       |  FROM m GROUP BY 1, 2),
       |flips AS (
       |  SELECT vec_id, tbl, bit FROM (
       |    SELECT vec_id, tbl, bit,
       |           row_number() OVER (PARTITION BY vec_id, tbl
       |                              ORDER BY mg, bit) AS rk
       |    FROM m) WHERE rk <= 2),
       |probes AS (
       |  SELECT vec_id AS qid, tbl, bucket FROM qb
       |  UNION
       |  SELECT f.vec_id, f.tbl, xor(qb.bucket, CAST(1 << f.bit AS BIGINT))
       |  FROM flips f JOIN qb ON f.vec_id = qb.vec_id AND f.tbl = qb.tbl),
       |cand AS (
       |  SELECT DISTINCT p.qid, b.vec_id AS nid
       |  FROM b JOIN probes p
       |    ON b.tbl = p.tbl AND CAST(b.bucket AS BIGINT) = p.bucket
       |   AND b.vec_id <> p.qid),
       |scored AS (
       |  SELECT c.qid, c.nid,
       |         list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |                                CAST(en.embedding AS DOUBLE[])) AS c
       |  FROM cand c
       |    JOIN embeddings eq ON eq.vec_id = c.qid
       |    JOIN embeddings en ON en.vec_id = c.nid),
       |ranked AS (
       |  SELECT qid, nid, round(c, 4) AS cos_sim,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                                 ORDER BY c DESC, nid) AS INT) AS rnk
       |  FROM scored)
       |SELECT qid, nid, cos_sim, rnk FROM ranked
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val dim = 64
    val nT = 4
    val bits = 4
    val hp = hyperplanes(nT * bits, dim)
    val bucketed = emb.select(
      $"vec_id",
      $"embedding",
      posexplode(lshBuckets($"embedding", nT, bits, dim))
        .as(Seq("tbl", "bucket")))
    // bits is 4, so 2^bit is a tiny exact CASE — no shift-by-column needed
    def pow2(b: org.apache.spark.sql.Column) =
      when(b === 0, 1L).when(b === 1, 2L).when(b === 2, 4L).otherwise(8L)
    val perTable = (0 until nT).map { t =>
      val contribs = (0 until bits).map { j =>
        val h = array(hp(t * bits + j).map(lit): _*)
        (when(dot($"embedding", h) > 0.0, lit(1L << j)).otherwise(lit(0L)),
          abs(dot($"embedding", h)), j)
      }
      val bucket = contribs.map(_._1).reduce(_ + _)
      // sort_array on (mg, bit) structs == the oracle's ORDER BY mg, bit
      val margins = sort_array(array(contribs.map { case (_, mg, j) =>
        struct(mg.as("mg"), lit(j).as("bit"))
      }: _*))
      val b1 = margins.getItem(0).getField("bit")
      val b2 = margins.getItem(1).getField("bit")
      struct(
        lit(t).as("tbl"),
        array(bucket, bucket.bitwiseXOR(pow2(b1)),
          bucket.bitwiseXOR(pow2(b2))).as("probes"))
    }
    val qprobes = emb
      .filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        explode(array(perTable: _*)).as("tp"))
      .select($"qid", $"qv", $"tp.tbl".as("qt"),
        explode($"tp.probes").as("qb"))
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    bucketed
      .join(broadcast(qprobes),
        $"tbl" === $"qt" && $"bucket" === $"qb" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"qv", $"embedding".as("nv"))
      .distinct()
      .select($"qid", $"nid", cosine($"qv", $"nv").as("c"))
      .select($"qid", $"nid", round($"c", 4).as("cos_sim"),
        row_number().over(w).as("rnk"))
      .filter($"rnk" <= 10)
      .orderBy($"qid", $"rnk")
  }

  /** Embedding-space outlier report: assign every vector to its nearest
    * seeded centroid (the q_kmeans_step assignment, round-4 ranked with
    * cid tiebreak), then per cell flag vectors whose cosine similarity
    * falls below the cell's own p10 — the distribution-aware screen that
    * catches corrupt or off-manifold embeddings before they poison a
    * semantic-dedup or ANN pass (a global cut would over-flag whichever
    * cell is naturally loosest, the same argument as
    * q_quality_threshold's per-language cuts).
    *
    * Scale: k centroids broadcast against a never-shuffled corpus scan;
    * the percentile aggregate shuffles (cell, sim)-sized rows and its
    * k-row cut table broadcasts back. The outlier decision compares the
    * ROUNDED similarity against the interpolated percentile, the exact
    * comparison q_quality_threshold already proved engine-stable. */
  val qEmbedOutliers = QueryDef.sql(
    "q_embed_outliers",
    s"""WITH kk AS (
       |  SELECT greatest(16, CAST(ceil(count(*) / ${Curation.SemanticCellTarget}.0)
       |                           AS BIGINT)) AS k
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings
       |  WHERE vec_id < (SELECT k FROM kk)
       |    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |                                x -> x * x)) > 0),
       |v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |                                x -> x * x)) > 0),
       |a0 AS (
       |  SELECT vec_id, cid, cs4 FROM (
       |    SELECT v.vec_id, c0.cid,
       |           round(list_cosine_similarity(v.v, c0.cv), 4) AS cs4,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY round(list_cosine_similarity(v.v, c0.cv), 4) DESC,
       |                      c0.cid) AS rk
       |    FROM v CROSS JOIN c0) WHERE rk = 1),
       |cuts AS (
       |  SELECT cid, quantile_cont(cs4, 0.1) AS p10 FROM a0 GROUP BY cid)
       |SELECT a0.cid,
       |       CAST(count(*) AS BIGINT) AS n_vecs,
       |       round(any_value(p10), 4) AS p10_sim,
       |       CAST(sum(CASE WHEN cs4 < p10 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_outliers,
       |       min(cs4) AS min_sim
       |FROM a0 JOIN cuts USING (cid)
       |GROUP BY a0.cid ORDER BY a0.cid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val k = Curation.semanticCellCount(emb.count())
    val centroids = emb
      .filter($"vec_id" < k)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"),
        norm($"embedding").as("cn"))
      .filter($"cn" =!= 0.0)
    val wAssign = Window.partitionBy($"vec_id")
      .orderBy($"cs4".desc, $"cid")
    val a0 = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .filter($"vn" =!= 0.0)
      .crossJoin(broadcast(centroids))
      .select($"vec_id", $"cid",
        round(dot($"embedding", $"cv") / ($"vn" * $"cn"), 4).as("cs4"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"cid", $"cs4")
    val cuts = a0.groupBy($"cid")
      .agg(expr("percentile(cs4, 0.1)").as("p10"))
    a0.join(broadcast(cuts), "cid")
      .groupBy($"cid")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(first($"p10"), 4).as("p10_sim"),
        sum(when($"cs4" < $"p10", 1L).otherwise(0L)).as("n_outliers"),
        min($"cs4").as("min_sim"))
      .orderBy($"cid")
  }

  /** Per-cell clustering-quality audit over the seeded-centroid
    * assignment: the simplified-silhouette margin. For every vector,
    * a = cosine to its own (nearest) centroid and b = cosine to the
    * second-nearest; the margin a − b is the vector's separation (0 =
    * sitting on a cell boundary, large = deep inside its cell). Per cell
    * we report mean/min margin and mean cohesion — the health check run
    * after every k-means build to find cells that should be split or
    * merged before the IVF index inherits them (q_embed_outliers finds
    * bad VECTORS; this finds bad CELLS).
    *
    * Engine determinism: similarities become INTEGERS in 1e-4 units
    * (floor(c·10⁴ + 0.5)) before any aggregation, so sums are
    * order-independent and the only floats are final divisions of
    * identical integers — the q_quality_classifier recipe.
    *
    * Scale (100 TB): k centroids broadcast against a never-shuffled
    * corpus scan (k = corpus-scaled via [[Curation.semanticCellCount]]);
    * the per-vector window partitions by vec_id (parallel everywhere);
    * the final rollup is k rows. */
  val qClusterSilhouette = QueryDef.sql(
    "q_cluster_silhouette",
    s"""WITH kk AS (
       |  SELECT greatest(16, CAST(ceil(count(*) / ${Curation.SemanticCellTarget}.0)
       |                           AS BIGINT)) AS k
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings
       |  WHERE vec_id < (SELECT k FROM kk)
       |    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |                                x -> x * x)) > 0),
       |v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |                                x -> x * x)) > 0),
       |r AS (
       |  SELECT v.vec_id, c0.cid,
       |         CAST(floor(list_cosine_similarity(v.v, c0.cv) * 10000 + 0.5)
       |              AS BIGINT) AS cs4i,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY floor(list_cosine_similarity(v.v, c0.cv) * 10000
       |                          + 0.5) DESC, c0.cid) AS rk
       |  FROM v CROSS JOIN c0),
       |ab AS (
       |  SELECT vec_id,
       |         max(CASE WHEN rk = 1 THEN cid END) AS cid,
       |         max(CASE WHEN rk = 1 THEN cs4i END) AS a4,
       |         max(CASE WHEN rk = 2 THEN cs4i END) AS b4
       |  FROM r WHERE rk <= 2 GROUP BY vec_id)
       |SELECT cid,
       |       CAST(count(*) AS BIGINT) AS n_vecs,
       |       floor(sum(a4 - b4) * 1.0 / count(*) + 0.5) / 10000.0
       |         AS mean_margin,
       |       min(a4 - b4) / 10000.0 AS min_margin,
       |       floor(sum(a4) * 1.0 / count(*) + 0.5) / 10000.0
       |         AS mean_cohesion
       |FROM ab GROUP BY cid ORDER BY cid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    silhouetteReport(Tables.embeddings(s, d)).orderBy($"cid")
  }

  /** (cid, n_vecs, mean_margin, min_margin, mean_cohesion) per seeded
    * cell over an arbitrary embeddings slice — the DataFrame-
    * parameterized body of [[qClusterSilhouette]]. */
  private[graft] def silhouetteReport(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val k = Curation.semanticCellCount(emb.count())
    val centroids = emb
      .filter($"vec_id" < k)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"),
        norm($"embedding").as("cn"))
      .filter($"cn" =!= 0.0)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cs4i".desc, $"cid")
    val r = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .filter($"vn" =!= 0.0)
      .crossJoin(broadcast(centroids))
      .select($"vec_id", $"cid",
        floor(dot($"embedding", $"cv") / ($"vn" * $"cn") * 10000.0 + 0.5)
          .cast("long").as("cs4i"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" <= 2)
    val ab = r
      .groupBy($"vec_id")
      .agg(
        max(when($"rk" === 1, $"cid")).as("cid"),
        max(when($"rk" === 1, $"cs4i")).as("a4"),
        max(when($"rk" === 2, $"cs4i")).as("b4"))
    ab.groupBy($"cid")
      .agg(
        count(lit(1)).as("n_vecs"),
        (floor(sum($"a4" - $"b4") * lit(1.0) / count(lit(1)) + lit(0.5))
          / 10000.0).as("mean_margin"),
        (min($"a4" - $"b4") / lit(10000.0)).as("min_margin"),
        (floor(sum($"a4") * lit(1.0) / count(lit(1)) + lit(0.5))
          / 10000.0).as("mean_cohesion"))
  }

  /** Hard-negative mining for contrastive/embedding-model training: for
    * each query vector, the top-5 most-similar corpus vectors whose
    * LABEL differs from the query's — exactly the near-miss pairs a
    * retrieval trainer wants as negatives (the easy random negatives
    * teach nothing; the high-cosine wrong-label ones carry the
    * gradient). Brute-force scored so the row set is the exact mining
    * ground truth; at corpus scale the candidate generation swaps to the
    * ANN paths (q_ann_ivf / q_ann_lsh_multiprobe) and this definition
    * becomes their verifier, the same relationship q_ann_recall has to
    * q_cosine_knn.
    *
    * Scale: query side (3 rows + labels) broadcast; the corpus never
    * shuffles; only top-k rows leave each scan partition via the
    * per-query window. */
  val qHardNegatives = QueryDef.sql(
    "q_hard_negatives",
    """WITH q AS (
      |  SELECT vec_id AS qid, label AS qlab,
      |         CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT qid, e.vec_id AS nid, e.label AS neg_label,
      |         list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM q JOIN embeddings e ON e.label <> qlab),
      |ranked AS (
      |  SELECT qid, nid, neg_label, round(c, 4) AS cos_sim,
      |         CAST(row_number() OVER (PARTITION BY qid
      |           ORDER BY c DESC, nid) AS INT) AS rnk
      |  FROM scored)
      |SELECT qid, nid, CAST(neg_label AS INT) AS neg_label, cos_sim, rnk
      |FROM ranked WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    hardNegatives(Tables.embeddings(s, d)).orderBy($"qid", $"rnk")
  }

  /** (qid, nid, neg_label, cos_sim, rnk) top-5 wrong-label neighbors per
    * query over an arbitrary embeddings slice — the body of
    * [[qHardNegatives]]. */
  private[graft] def hardNegatives(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val q = emb
      .filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"label".as("qlab"),
        $"embedding".as("qv"), norm($"embedding").as("qn"))
    val scored = emb
      .select($"vec_id".as("nid"), $"label".as("neg_label"),
        $"embedding".as("nv"), norm($"embedding").as("nn"))
      .join(broadcast(q), $"neg_label" =!= $"qlab")
      .select($"qid", $"nid", $"neg_label",
        (dot($"qv", $"nv") / ($"qn" * $"nn")).as("c"))
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    scored
      .select($"qid", $"nid", $"neg_label".cast("int").as("neg_label"),
        round($"c", 4).as("cos_sim"), row_number().over(w).as("rnk"))
      .filter($"rnk" <= 5)
  }

  /** IVF probe-budget sweep — the recall-vs-cost tuning curve an index
    * operator reads before fixing nprobe: for each probe budget
    * (1/2/4/8/16 of 16 cells) and each query, the candidates scanned and
    * the recall@10 against corpus-wide brute-force truth. The 4 the other
    * ANN queries use is a policy choice; this prices every alternative
    * from ONE cell assignment (the probe list is ranked once to depth 16
    * and a 5-row budget table selects prefixes — nothing is re-assigned
    * or re-scored per budget). n_scanned makes the cost axis explicit:
    * recall buys linearly into scan fraction.
    *
    * Scale (100 TB): identical dataflow to q_ann_ivf (broadcast
    * centroids, cell-pruned candidate join) plus a 5-row broadcast
    * against the probe list; the brute-force truth side is the verifier
    * and runs on a hash-sampled slice in production (q_ann_recall's
    * composition). */
  val qAnnNprobeSweep = QueryDef.sql(
    "q_ann_nprobe_sweep",
    """WITH c AS (
      |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
      |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv)
      |           AS cs
      |  FROM embeddings e CROSS JOIN c),
      |assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT vec_id, v, cid,
      |           row_number() OVER (PARTITION BY vec_id
      |                              ORDER BY cs DESC, cid) AS rk
      |    FROM scored) WHERE rk = 1),
      |pr AS (
      |  SELECT vec_id AS qid, v AS qv, cid AS probe_cid,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY cs DESC, cid) AS rk
      |  FROM scored WHERE vec_id < 3),
      |np AS (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe),
      |cands AS (
      |  SELECT np.nprobe, p.qid, a.vec_id AS nid,
      |         list_cosine_similarity(p.qv, a.v) AS cs2
      |  FROM np JOIN pr p ON p.rk <= np.nprobe
      |  JOIN assigned a ON a.cid = p.probe_cid AND a.vec_id <> p.qid),
      |atop AS (
      |  SELECT nprobe, qid, nid FROM (
      |    SELECT nprobe, qid, nid,
      |           row_number() OVER (PARTITION BY nprobe, qid
      |                              ORDER BY cs2 DESC, nid) AS rnk
      |    FROM cands) WHERE rnk <= 10),
      |sc AS (SELECT nprobe, qid, count(*) AS n_scanned
      |       FROM cands GROUP BY nprobe, qid),
      |qv2 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |        FROM embeddings WHERE vec_id < 3),
      |truth AS (
      |  SELECT qid, nid FROM (
      |    SELECT q.qid, e.vec_id AS nid,
      |           row_number() OVER (
      |             PARTITION BY q.qid
      |             ORDER BY list_cosine_similarity(
      |                        q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                      e.vec_id) AS rnk
      |    FROM qv2 q JOIN embeddings e ON e.vec_id <> q.qid)
      |  WHERE rnk <= 10)
      |SELECT sc.nprobe, t.qid,
      |       CAST(sc.n_scanned AS BIGINT) AS n_scanned,
      |       CAST(count(a.nid) AS BIGINT) AS hits,
      |       count(a.nid) / 10.0 AS recall
      |FROM truth t
      |JOIN sc ON sc.qid = t.qid
      |LEFT JOIN atop a
      |  ON a.nprobe = sc.nprobe AND a.qid = t.qid AND a.nid = t.nid
      |GROUP BY sc.nprobe, t.qid, sc.n_scanned
      |ORDER BY sc.nprobe, t.qid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val nCentroids = 16
    val centroids = emb
      .filter($"vec_id" < nCentroids)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"),
        norm($"embedding").as("cn"))
    val scoredCells = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .join(broadcast(centroids), $"vn" * $"cn" =!= 0.0)
      .select($"vec_id", $"embedding", $"vn", $"cid",
        (dot($"embedding", $"cv") / ($"vn" * $"cn")).as("cs"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cs".desc, $"cid")
    val assigned = scoredCells
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"vn", $"cid")
    val pr = scoredCells
      .filter($"vec_id" < 3)
      .withColumn("rk", row_number().over(wAssign))
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"vn".as("qn"),
        $"cid".as("probe_cid"), $"rk")
    val np = Seq(1, 2, 4, 8, 16).toDF("nprobe")
    val prN = broadcast(np).join(pr, $"rk" <= $"nprobe")
    val cands = assigned
      .join(broadcast(prN), $"cid" === $"probe_cid" && $"vec_id" =!= $"qid")
      .select($"nprobe", $"qid", $"vec_id".as("nid"),
        (dot($"qv", $"embedding") / ($"qn" * $"vn")).as("c"))
    val wT = Window.partitionBy($"nprobe", $"qid").orderBy($"c".desc, $"nid")
    val atop = cands
      .withColumn("rnk", row_number().over(wT))
      .filter($"rnk" <= 10)
      .select($"nprobe".as("a_np"), $"qid".as("a_qid"), $"nid".as("a_nid"))
    val sc = cands.groupBy($"nprobe", $"qid").agg(count(lit(1)).as("n_scanned"))
    val qv2 = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("tqid"), $"embedding".as("qe"),
        norm($"embedding").as("qen"))
    val wB = Window.partitionBy($"tqid").orderBy($"tc".desc, $"tnid")
    val truth = emb
      .select($"vec_id".as("tnid"), $"embedding".as("te"),
        norm($"embedding").as("ten"))
      .crossJoin(broadcast(qv2))
      .filter($"tnid" =!= $"tqid")
      .select($"tqid", $"tnid",
        (dot($"qe", $"te") / ($"qen" * $"ten")).as("tc"))
      .withColumn("rnk", row_number().over(wB))
      .filter($"rnk" <= 10)
      .select($"tqid", $"tnid")
    truth
      .join(sc, $"qid" === $"tqid")
      .join(atop,
        $"a_np" === $"nprobe" && $"a_qid" === $"tqid" && $"a_nid" === $"tnid",
        "left")
      .groupBy($"nprobe", $"tqid".as("qid"), $"n_scanned")
      .agg(count($"a_nid").as("hits"),
        (count($"a_nid") / lit(10.0)).as("recall"))
      .orderBy($"nprobe", $"qid")
  }

  /** Number of 16-bit sign-code bands (4 × 16 = 64 code bits). */
  private val HamBands = 4

  /** Spark-side 16-bit sign-code band columns b0..b3: bit j of band i is
    * set iff embedding[16i+j] > 0. Pure per-row arithmetic fused into the
    * scan — the 256-byte float vector becomes an 8-byte code. */
  private def hamBandCols(e: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    (0 until HamBands).map { i =>
      (0 until 16)
        .map(j =>
          when(element_at(e, 16 * i + j + 1) > 0f, lit(1L << j))
            .otherwise(lit(0L)))
        .reduce(_ + _)
        .as(s"b$i")
    }

  /** The same bands in the DuckDB dialect (1-based list index). */
  private def hamBandsSql: String =
    (0 until HamBands)
      .map { i =>
        val terms = (0 until 16)
          .map(j => s"(CASE WHEN e[${16 * i + j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ")
        s"($terms) AS b$i"
      }
      .mkString(",\n       ")

  private def hamDistSql(a: String, b: String): String =
    (0 until HamBands)
      .map(i => s"bit_count(xor($a$i, $b$i))")
      .mkString(" + ")

  /** Binary-sketch ANN: binarize each 64-dim embedding to a 64-bit sign
    * code (bit j = dim j > 0 — the 1-bit quantizer, 32× smaller than the
    * float vector), scan Hamming distance for each query's top-10, and
    * re-rank the survivors by exact cosine (asymmetric refinement). The
    * production shape for a first-stage filter at 100 TB: the corpus scan
    * reads 8 bytes/vector instead of 256, Hamming is a handful of
    * xor+popcount ALU ops (here: codegen'd bit_count over four 16-bit
    * bands), the query side broadcasts, and only 10 rows/query pay for
    * the float reread. (Banded multi-index candidate generation — MIH,
    * Norouzi & Fleet 2012 — applies when the search radius is below the
    * band count; this corpus' nearest pairs sit at Hamming ≥ 15 of 64,
    * so the honest plan is the linear code scan.) */
  val qAnnHamming = QueryDef.sql(
    "q_ann_hamming",
    s"""WITH bands AS (
       |  SELECT vec_id, e,
       |       $hamBandsSql
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |        FROM embeddings)),
       |q AS (SELECT vec_id AS qid, e AS qe, b0 qb0, b1 qb1, b2 qb2, b3 qb3
       |      FROM bands WHERE vec_id < 3),
       |scored AS (
       |  SELECT qid, c.vec_id AS nid,
       |         ${hamDistSql("qb", "c.b")} AS hamming,
       |         list_cosine_similarity(qe, c.e) AS cs
       |  FROM q JOIN bands c ON c.vec_id <> qid),
       |ranked AS (
       |  SELECT qid, nid, hamming, round(cs, 4) AS cos_sim,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                                 ORDER BY hamming, nid) AS INT) AS rnk
       |  FROM scored)
       |SELECT qid, nid, CAST(hamming AS BIGINT) AS hamming, cos_sim, rnk
       |FROM ranked WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bands = Tables
      .embeddings(s, d)
      .select(
        $"vec_id" +: $"embedding" +: norm($"embedding").as("vn") +:
          hamBandCols($"embedding"): _*)
    val q = bands
      .filter($"vec_id" < 3)
      .select(
        $"vec_id".as("qid"), $"embedding".as("qe"), $"vn".as("qn"),
        $"b0".as("qb0"), $"b1".as("qb1"), $"b2".as("qb2"), $"b3".as("qb3"))
    val ham = (0 until HamBands)
      .map(i => bit_count(col(s"qb$i").bitwiseXOR(col(s"b$i"))))
      .reduce(_ + _)
    val w = Window.partitionBy($"qid").orderBy($"hamming", $"nid")
    bands
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), ham.cast("long").as("hamming"),
        round(dot($"qe", $"embedding") / ($"qn" * $"vn"), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter($"rnk" <= 10)
      .orderBy($"qid", $"rnk")
  }

  /** What the 1-bit code costs: recall@10 of Hamming-code top-10 against
    * exact-cosine top-10 per query — the audit that decides whether the
    * 32× binary prefilter needs a wider rerank window before it ships.
    * Same ground-truth construction as [[qAnnRecall]]. */
  val qHammingRecall = QueryDef.sql(
    "q_hamming_recall",
    s"""WITH bands AS (
       |  SELECT vec_id, e,
       |       $hamBandsSql
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |        FROM embeddings)),
       |q AS (SELECT vec_id AS qid, e AS qe, b0 qb0, b1 qb1, b2 qb2, b3 qb3
       |      FROM bands WHERE vec_id < 3),
       |htop AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, c.vec_id AS nid,
       |           row_number() OVER (
       |             PARTITION BY qid
       |             ORDER BY ${hamDistSql("qb", "c.b")}, c.vec_id) AS rnk
       |    FROM q JOIN bands c ON c.vec_id <> qid)
       |  WHERE rnk <= 10),
       |truth AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, c.vec_id AS nid,
       |           row_number() OVER (
       |             PARTITION BY qid
       |             ORDER BY list_cosine_similarity(qe, c.e) DESC,
       |                      c.vec_id) AS rnk
       |    FROM q JOIN bands c ON c.vec_id <> qid)
       |  WHERE rnk <= 10)
       |SELECT t.qid, CAST(count(h.nid) AS BIGINT) AS hits,
       |       count(h.nid) / 10.0 AS recall
       |FROM truth t LEFT JOIN htop h ON h.qid = t.qid AND h.nid = t.nid
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bands = Tables
      .embeddings(s, d)
      .select(
        $"vec_id" +: $"embedding" +: norm($"embedding").as("vn") +:
          hamBandCols($"embedding"): _*)
    val q = bands
      .filter($"vec_id" < 3)
      .select(
        $"vec_id".as("qid"), $"embedding".as("qe"), $"vn".as("qn"),
        $"b0".as("qb0"), $"b1".as("qb1"), $"b2".as("qb2"), $"b3".as("qb3"))
    val scored = bands
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        (0 until HamBands)
          .map(i => bit_count(col(s"qb$i").bitwiseXOR(col(s"b$i"))))
          .reduce(_ + _).as("hamming"),
        (dot($"qe", $"embedding") / ($"qn" * $"vn")).as("cs"))
    val wH = Window.partitionBy($"qid").orderBy($"hamming", $"nid")
    val wC = Window.partitionBy($"qid").orderBy($"cs".desc, $"nid")
    val htop = scored
      .withColumn("rnk", row_number().over(wH))
      .filter($"rnk" <= 10)
      .select($"qid".as("h_qid"), $"nid".as("h_nid"))
    val truth = scored
      .withColumn("rnk", row_number().over(wC))
      .filter($"rnk" <= 10)
      .select($"qid", $"nid")
    truth
      .join(htop, $"h_qid" === $"qid" && $"h_nid" === $"nid", "left")
      .groupBy($"qid")
      .agg(count($"h_nid").as("hits"),
        (count($"h_nid") / lit(10.0)).as("recall"))
      .orderBy($"qid")
  }

  /** Matryoshka prefix dimensions to audit (full dim last). */
  private val MrlDims = Seq(8, 16, 32, 64)

  /** Matryoshka truncation audit (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): recall@10 of prefix-dimension cosine
    * search (first 8/16/32/64 dims) against the full-dimension exact
    * top-10, per query. The read a pipeline takes before committing to
    * truncated vectors for its coarse stage — dim 8 is an 8× cheaper
    * scan IF the recall holds (these fixture embeddings are not
    * MRL-trained, so the curve also shows what truncating an untrained
    * space costs). One corpus broadcast-scan computes every prefix
    * score (the prefix dot is a slice of the same row — no re-read);
    * zero-norm prefixes are filtered on both engines per the suite's
    * zero-norm convention. */
  val qMatryoshkaRecall = QueryDef.sql(
    "q_matryoshka_recall",
    s"""WITH dims AS (SELECT unnest([${MrlDims.mkString(", ")}]) AS dim),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |      FROM embeddings),
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 3),
       |scored AS (
       |  SELECT d.dim, q.qid, v.vec_id AS nid,
       |         list_cosine_similarity(q.qe[1:d.dim], v.e[1:d.dim]) AS cs
       |  FROM dims d
       |  CROSS JOIN q JOIN v ON v.vec_id <> q.qid
       |  WHERE list_sum([x*x for x in v.e[1:d.dim]]) > 0
       |    AND list_sum([x*x for x in q.qe[1:d.dim]]) > 0),
       |atop AS (
       |  SELECT dim, qid, nid FROM (
       |    SELECT dim, qid, nid,
       |           row_number() OVER (PARTITION BY dim, qid
       |                              ORDER BY cs DESC, nid) AS rnk
       |    FROM scored) WHERE rnk <= 10),
       |truth AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY cs DESC, nid) AS rnk
       |    FROM scored WHERE dim = ${MrlDims.max}) WHERE rnk <= 10)
       |SELECT d.dim, t.qid,
       |       CAST(count(a.nid) AS BIGINT) AS hits,
       |       count(a.nid) / 10.0 AS recall
       |FROM dims d CROSS JOIN truth t
       |LEFT JOIN atop a ON a.dim = d.dim AND a.qid = t.qid AND a.nid = t.nid
       |GROUP BY d.dim, t.qid
       |ORDER BY d.dim, t.qid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb
      .filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val dims = MrlDims.toDF("dim")
    val scored = emb
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .crossJoin(broadcast(dims))
      .select($"dim", $"qid", $"vec_id".as("nid"),
        slice($"embedding", lit(1), $"dim").as("ep"),
        slice($"qe", lit(1), $"dim").as("qp"))
      .select($"dim", $"qid", $"nid",
        norm($"ep").as("en"), norm($"qp").as("qn"),
        dot($"ep", $"qp").as("dp"))
      .filter($"en" * $"qn" =!= 0.0)
      .select($"dim", $"qid", $"nid", ($"dp" / ($"en" * $"qn")).as("cs"))
    val wD = Window.partitionBy($"dim", $"qid").orderBy($"cs".desc, $"nid")
    val atop = scored
      .withColumn("rnk", row_number().over(wD))
      .filter($"rnk" <= 10)
      .select($"dim".as("a_dim"), $"qid".as("a_qid"), $"nid".as("a_nid"))
    val truth = scored
      .filter($"dim" === MrlDims.max)
      .withColumn("rnk", row_number().over(wD))
      .filter($"rnk" <= 10)
      .select($"qid".as("t_qid"), $"nid".as("t_nid"))
    dims
      .crossJoin(truth)
      .join(atop,
        $"a_dim" === $"dim" && $"a_qid" === $"t_qid" && $"a_nid" === $"t_nid",
        "left")
      .groupBy($"dim", $"t_qid".as("qid"))
      .agg(count($"a_nid").as("hits"),
        (count($"a_nid") / lit(10.0)).as("recall"))
      .orderBy($"dim", $"qid")
  }

  /** Embedding-space drift audit between two corpus versions: per label,
    * the cosine between version-A and version-B centroids (versions =
    * the deterministic vec_id-parity split, standing in for "last
    * month's embeddings vs this month's"). The check an embedding
    * pipeline runs after a model refresh or a re-crawl — a label whose
    * centroid moved is re-indexed first. Companion to the text-side
    * `q_corpus_diff`.
    *
    * Scale: one exchange keyed (label, version, dim) for the component
    * means; everything after is |labels|·|dims| rows. Components round
    * to 4 decimals BEFORE the cosine (the [[Curation]] centroid
    * convention) so both engines compose identical vectors. */
  val qEmbedDrift = QueryDef.sql(
    "q_embed_drift",
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |                                x -> x * x)) > 0),
      |comp AS (
      |  SELECT label, ver, u.dim AS dim, round(avg(u.x), 4) AS m FROM (
      |    SELECT label, vec_id % 2 AS ver,
      |           unnest([{'dim': i, 'x': v[i]}
      |                   for i in range(1, len(v)+1)]) AS u
      |    FROM v) GROUP BY label, ver, u.dim),
      |cent AS (
      |  SELECT label, ver, list(m ORDER BY dim) AS cv
      |  FROM comp GROUP BY label, ver),
      |cnt AS (
      |  SELECT label, vec_id % 2 AS ver, count(*) AS n
      |  FROM v GROUP BY label, vec_id % 2)
      |SELECT a.label AS label,
      |       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
      |       round(list_cosine_similarity(a.cv, b.cv), 4) + 0.0 AS drift_cos
      |FROM cent a
      |JOIN cent b ON a.label = b.label AND a.ver = 0 AND b.ver = 1
      |JOIN cnt ca ON ca.label = a.label AND ca.ver = 0
      |JOIN cnt cb ON cb.label = a.label AND cb.ver = 1
      |ORDER BY a.label""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val v = Tables
      .embeddings(s, d)
      .filter(norm($"embedding") > 0)
      .select($"label", ($"vec_id" % 2).as("ver"),
        transform($"embedding", x => x.cast("double")).as("v"))
    val comp = v
      .select($"label", $"ver", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"label", $"ver", $"dim")
      .agg(round(avg($"x"), 4).as("m"))
    val cent = comp
      .groupBy($"label", $"ver")
      .agg(transform(array_sort(collect_list(struct($"dim", $"m"))),
        x => x.getField("m")).as("cv"))
    val cnt = v.groupBy($"label", $"ver").agg(count(lit(1)).as("n"))
    val a = cent.filter($"ver" === 0).select($"label", $"cv".as("cva"))
    val b = cent.filter($"ver" === 1)
      .select($"label".as("lb"), $"cv".as("cvb"))
    val ca = cnt.filter($"ver" === 0).select($"label".as("la"), $"n".as("n_a"))
    val cb = cnt.filter($"ver" === 1).select($"label".as("lc"), $"n".as("n_b"))
    a.join(b, $"label" === $"lb")
      .join(broadcast(ca), $"label" === $"la")
      .join(broadcast(cb), $"label" === $"lc")
      .select($"label", $"n_a".cast("long").as("n_a"),
        $"n_b".cast("long").as("n_b"),
        (round(dot($"cva", $"cvb") / (norm($"cva") * norm($"cvb")), 4) + 0.0)
          .as("drift_cos"))
      .orderBy($"label")
  }

  /** kNN classification accuracy — the label-propagation evaluation an
    * embedding pipeline runs before trusting its space: every 10th
    * vector is held out, classified by the majority label of its 5
    * nearest training neighbors (exact cosine; ties → smaller label),
    * and accuracy is reported per true label. The exact scorer doubles
    * as the verifier for an IVF-routed variant at scale (swap the
    * broadcast-exact candidate set for the index probe — the ANN
    * queries' established upgrade path).
    *
    * Scale: the held-out side is the broadcast (fixed sampling rate of
    * the corpus — at 100 TB classify in batches); the training corpus
    * scans once, never shuffles; neighbor ranking is per-query. */
  val qKnnClassify = QueryDef.sql(
    "q_knn_classify",
    """WITH q AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |         label AS true_label
      |  FROM embeddings
      |  WHERE vec_id % 10 = 0 AND len(embedding) = 64
      |    AND list_sum([x * x for x in embedding]) > 0),
      |t AS (
      |  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv, label
      |  FROM embeddings
      |  WHERE vec_id % 10 <> 0 AND len(embedding) = 64
      |    AND list_sum([x * x for x in embedding]) > 0),
      |ranked AS (
      |  SELECT qid, true_label, label,
      |         CAST(row_number() OVER (PARTITION BY qid
      |                ORDER BY list_cosine_similarity(qv, nv) DESC, nid)
      |              AS INT) AS rnk
      |  FROM q JOIN t ON true),
      |votes AS (
      |  SELECT qid, true_label, label, count(*) AS v
      |  FROM ranked WHERE rnk <= 5
      |  GROUP BY 1, 2, 3),
      |winner AS (
      |  SELECT qid, true_label, label AS pred FROM (
      |    SELECT qid, true_label, label,
      |           row_number() OVER (PARTITION BY qid
      |             ORDER BY v DESC, label) AS wr
      |    FROM votes) WHERE wr = 1)
      |SELECT true_label AS label,
      |       CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_correct,
      |       round(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
      |             * 1.0 / count(*), 4) AS accuracy
      |FROM winner GROUP BY 1 ORDER BY label""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val base = Tables.embeddings(s, d)
      .filter(size($"embedding") === 64 && norm($"embedding") =!= 0.0)
    val q = base.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        norm($"embedding").as("qn"), $"label".as("true_label"))
    val t = base.filter($"vec_id" % 10 =!= 0)
      .select($"vec_id".as("nid"), $"embedding".as("nv"),
        norm($"embedding").as("nn"), $"label")
    val w = Window.partitionBy($"qid")
      .orderBy((dot($"qv", $"nv") / ($"qn" * $"nn")).desc, $"nid")
    val votes = t
      .crossJoin(broadcast(q))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .groupBy($"qid", $"true_label", $"label")
      .agg(count(lit(1)).as("v"))
    val wWin = Window.partitionBy($"qid").orderBy($"v".desc, $"label")
    votes
      .withColumn("wr", row_number().over(wWin))
      .filter($"wr" === 1)
      .select($"true_label", $"label".as("pred"))
      .groupBy($"true_label")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when($"pred" === $"true_label", 1L).otherwise(0L))
          .as("n_correct"))
      .select($"true_label".as("label"), $"n_queries", $"n_correct",
        round($"n_correct" * lit(1.0) / $"n_queries", 4).as("accuracy"))
      .orderBy($"label")
  }

  /** kNN-distance outlier screen (Ramaswamy, Rastogi & Shim 2000,
    * "Efficient algorithms for mining outliers from large data sets"):
    * outlier score = cosine distance to the 5th nearest neighbor,
    * computed EXACTLY for a fixed-size hash sample of query points
    * against the FULL corpus — the density-based partner of
    * [[qEmbedOutliers]]' centroid-distance screen (centroid distance
    * misses outliers between clusters; kNN distance does not). Top 10
    * most isolated sampled vectors.
    *
    * Scale: the sample rides the same ppb admission as
    * [[qEmbedNearDup]] (O(target) rows at ANY corpus size) and is
    * broadcast against one corpus scan — O(target·n) dot products,
    * linear in the corpus, corpus never shuffled. Zero-norm vectors
    * are excluded on both engines per the established convention. */
  val qKnnOutliers = QueryDef.sql(
    "q_knn_outliers",
    s"""WITH pp AS (
      |  SELECT least(${NearDupSampleMod / 2}, greatest(1,
      |           (${NearDupSampleTarget * NearDupSampleMod}
      |              + greatest(count(*), 1) - 1)
      |             // greatest(count(*), 1))) AS p
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings
      |  WHERE CAST(concat('0x', substr(md5('nd|' || vec_id), 1, 15))
      |             AS BIGINT) % $NearDupSampleMod < (SELECT p FROM pp)
      |    AND list_sum([x * x FOR x IN CAST(embedding AS DOUBLE[])]) > 0),
      |scored AS (
      |  SELECT s.qid, e.vec_id AS nid,
      |         list_cosine_similarity(s.qv, CAST(e.embedding AS DOUBLE[]))
      |           AS c
      |  FROM s JOIN embeddings e ON e.vec_id <> s.qid
      |  WHERE list_sum([x * x FOR x IN CAST(e.embedding AS DOUBLE[])]) > 0),
      |k5 AS (
      |  SELECT qid, c,
      |         row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid)
      |           AS rnk
      |  FROM scored QUALIFY rnk = 5)
      |SELECT qid, round(1.0 - c, 4) AS knn_dist,
      |       CAST(row_number()
      |            OVER (ORDER BY round(1.0 - c, 4) DESC, qid) AS INT)
      |         AS rank
      |FROM k5 QUALIFY rank <= 10 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb
      .filter(nearDupSampleKeep($"vec_id", nearDupSamplePpb(emb.count())))
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        norm($"embedding").as("qn"))
      .filter($"qn" =!= 0.0)
    val scored = emb
      .select($"vec_id".as("nid"), $"embedding".as("nv"),
        norm($"embedding").as("nn"))
      .filter($"nn" =!= 0.0)
      .join(broadcast(q), $"nid" =!= $"qid")
      .select($"qid", $"nid", (dot($"qv", $"nv") / ($"qn" * $"nn")).as("c"))
    val w = Window.partitionBy($"qid").orderBy($"c".desc, $"nid")
    val k5 = scored
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" === 5)
      .select($"qid", round(lit(1.0) - $"c", 4).as("knn_dist"))
    val top = k5.orderBy($"knn_dist".desc, $"qid").limit(10)
    graft.operators.CorpusOps
      .boundedRank(top, struct((-$"knn_dist").as("nd"), $"qid"), "rank")
      .select($"qid", $"knn_dist", $"rank")
      .orderBy($"rank")
  }

  def defs: Seq[QueryDef] =
    Seq(qCosineKnn, qEmbedNearDup, qEmbedNearDupLsh, qAnnLsh, qAnnIvf,
      qEmbedQuantize, qEmbedProject, qLangEmbedStats, qAnnRecall,
      qEmbedDedupGroups, qEmbedOutliers, qAnnLshMultiprobe,
      qClusterSilhouette, qHardNegatives, qAnnNprobeSweep,
      qAnnHamming, qHammingRecall, qMatryoshkaRecall, qEmbedDrift,
      qKnnClassify, qKnnOutliers)
}

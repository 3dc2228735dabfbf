package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 corpus-curation operators: the training-data hygiene passes a
  * production pipeline runs between raw ingest and tokenization —
  * benchmark decontamination, incremental (cross-corpus) dedup,
  * paragraph/chunk-level dedup, and semantic (embedding-cluster) dedup.
  *
  * Scale design (100 TB):
  *  - decontamination broadcasts the BENCHMARK shingle set (eval suites
  *    are tiny — MBs against a 100 TB corpus), so the corpus is scanned
  *    once and never shuffled;
  *  - cross-corpus dedup joins the new batch against the existing
  *    corpus's shingle postings on the shingle key (df-capped, like
  *    [[Dedup]]), instead of re-deduping the union from scratch;
  *  - chunk dedup shuffles once on the chunk key; the reassembly is a
  *    per-document aggregate;
  *  - semantic dedup confines the quadratic pair search to IVF cells
  *    (the SemDeDup recipe: cluster first, compare within clusters).
  */
object Curation {

  /** Training docs never see benchmark shingles: every 50th document
    * plays the held-out eval set; per training doc we count 3-gram
    * shingles that also occur in the benchmark slice and flag docs above
    * a 10% overlap ratio (on the ROUNDED ratio, so an ulp can't flip the
    * flag). The benchmark shingle set is broadcast — the 100 TB corpus
    * side is a single scan with no shuffle before the per-doc count. */
  val qDecontaminate = QueryDef.sql(
    "q_decontaminate",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |ds AS (
      |  SELECT DISTINCT doc_id,
      |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                 for i in range(1, len(w)-1)]) AS s
      |  FROM t WHERE len(w) >= 3),
      |bench AS (SELECT DISTINCT s FROM ds WHERE doc_id % 50 = 0),
      |tr AS (
      |  SELECT doc_id, count(*) AS n_shingles,
      |         sum(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
      |           AS n_overlap
      |  FROM ds WHERE doc_id % 50 <> 0
      |  GROUP BY doc_id)
      |SELECT doc_id,
      |       CAST(n_shingles AS BIGINT) AS n_shingles,
      |       CAST(n_overlap AS BIGINT) AS n_overlap,
      |       round(n_overlap * 1.0 / n_shingles, 4) AS overlap_ratio,
      |       CAST(CASE WHEN round(n_overlap * 1.0 / n_shingles, 4) >= 0.1
      |                 THEN 1 ELSE 0 END AS INT) AS contaminated
      |FROM tr ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val ds = Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
    val bench = ds.filter($"doc_id" % 50 === 0).select($"s").distinct()
    val train = ds.filter($"doc_id" % 50 =!= 0)
    val hits = train
      .join(broadcast(bench), Seq("s"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    val totals = train.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    totals
      .join(hits, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"n_shingles",
        coalesce($"n_overlap", lit(0L)).as("n_overlap"),
        round(coalesce($"n_overlap", lit(0L)) * lit(1.0) / $"n_shingles", 4)
          .as("overlap_ratio"))
      .withColumn("contaminated",
        when($"overlap_ratio" >= 0.1, 1).otherwise(0).cast("int"))
      .orderBy($"doc_id")
  }

  /** Incremental ingest dedup: the odd-id half of the corpus arrives as a
    * "new batch" and is near-dup-checked against the even-id "existing
    * corpus" via the shingle postings join (Jaccard >= 0.8). Emits, per
    * duplicate new document, its best existing match (highest Jaccard,
    * ties to the smallest existing id). At scale the existing side is the
    * persisted postings index — the batch joins against it on the shingle
    * key instead of re-deduping the whole corpus. */
  val qCrossCorpusDedup = QueryDef.sql(
    "q_crosscorpus_dedup",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |ds AS (
      |  SELECT DISTINCT doc_id,
      |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                 for i in range(1, len(w)-1)]) AS s
      |  FROM t WHERE len(w) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      |pairs AS (
      |  SELECT n.doc_id AS new_doc, e.doc_id AS old_doc, count(*) AS common
      |  FROM ds n JOIN ds e
      |    ON n.s = e.s AND n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT new_doc, old_doc,
      |         common * 1.0 / (cn.n + ce.n - common) AS jac
      |  FROM pairs
      |    JOIN cnt cn ON new_doc = cn.doc_id
      |    JOIN cnt ce ON old_doc = ce.doc_id
      |  WHERE common * 1.0 / (cn.n + ce.n - common) >= 0.8)
      |SELECT new_doc, old_doc AS dup_of, round(jac, 4) AS jaccard FROM (
      |  SELECT new_doc, old_doc, jac,
      |         row_number() OVER (PARTITION BY new_doc
      |                            ORDER BY jac DESC, old_doc) AS rk
      |  FROM j) WHERE rk = 1
      |ORDER BY new_doc""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // one deliberate hash partitioning on the shingle key that BOTH join
    // branches reuse (same exchange-reuse shape as q_dedup_ngram_jaccard),
    // df-capped so a boilerplate shingle can't contribute a quadratic tail
    val ds = Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(array_distinct(shingles($"w", 3))).as("s"))
      .repartition(col("s"))
    val posts = Dedup.cappedPostings(ds, Dedup.JaccardDfCap)
    // cnt from the CAPPED postings (same as q_dedup_ngram_jaccard): if the
    // cap ever triggers, numerator and denominator stay consistent — the
    // cap provably no-ops at test scale, so the uncapped oracle matches
    val cnt = posts.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val newSide = posts
      .filter($"doc_id" % 2 === 1)
      .select($"doc_id".as("new_doc"), $"s")
    val oldSide = posts
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id".as("old_doc"), $"s")
    val pairs = newSide
      .join(oldSide, "s")
      .groupBy($"new_doc", $"old_doc")
      .agg(count(lit(1)).as("common"))
    val w = Window.partitionBy($"new_doc").orderBy($"jac".desc, $"old_doc")
    pairs
      .join(cnt.withColumnRenamed("doc_id", "new_doc")
        .withColumnRenamed("n", "n_new"), "new_doc")
      .join(cnt.withColumnRenamed("doc_id", "old_doc")
        .withColumnRenamed("n", "n_old"), "old_doc")
      .withColumn("jac",
        $"common" * lit(1.0) / ($"n_new" + $"n_old" - $"common"))
      .filter($"jac" >= 0.8)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"new_doc", $"old_doc".as("dup_of"), round($"jac", 4).as("jaccard"))
      .orderBy($"new_doc")
  }

  /** Paragraph-level dedup (CCNet-style line dedup; 10-word chunks stand
    * in for paragraphs on the single-line fixture text): the first
    * occurrence of a chunk — ordered by (doc_id, position) — is kept,
    * every later occurrence anywhere in the corpus is dropped, and each
    * document is reassembled from its surviving chunks. One shuffle on
    * the chunk key (the window), then a per-document ordered aggregate. */
  val qParagraphDedup = QueryDef.sql(
    "q_paragraph_dedup",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         unnest([i for i in range(0, CAST(ceil(len(w)/10.0) AS INT))])
      |           AS pos,
      |         unnest([list_aggregate(w[i*10+1:i*10+10], 'string_agg', ' ')
      |                 for i in range(0, CAST(ceil(len(w)/10.0) AS INT))])
      |           AS chunk
      |  FROM t),
      |r AS (
      |  SELECT doc_id, pos, chunk,
      |         row_number() OVER (PARTITION BY chunk
      |                            ORDER BY doc_id, pos) AS occ
      |  FROM c)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END,
      |                           ' ' ORDER BY pos), '') AS cleaned_text
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val chunks = Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id",
        posexplode(
          transform(
            sequence(lit(0), ceil(size($"w") / lit(10.0)).cast("int") - 1),
            i => array_join(slice($"w", i * 10 + 1, lit(10)), " ")))
          .as(Seq("pos", "chunk")))
    val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"pos")
    chunks
      .withColumn("occ", row_number().over(w))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"occ" === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips nulls → only first-occurrence chunks survive;
        // array_sort on (pos, chunk) structs restores document order
        coalesce(
          array_join(
            transform(
              array_sort(collect_list(when($"occ" === 1,
                struct($"pos", $"chunk")))),
              x => x.getField("chunk")),
            " "),
          lit("")).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  /** A chunk is boilerplate within its source when it appears in at
    * least this many distinct documents of that source. */
  private val BoilerplateMinDf = 3

  /** Per-source boilerplate stripping (the C4 / RefinedWeb template
    * pass): a chunk that recurs across ≥ [[BoilerplateMinDf]] distinct
    * documents OF THE SAME SOURCE is navigation/footer/template text,
    * not content — remove every occurrence (unlike [[qParagraphDedup]],
    * which keeps the first) and reassemble each document from its
    * surviving chunks. 10-word chunks stand in for paragraphs on the
    * single-line fixture text, as in [[qParagraphDedup]].
    *
    * Scale: one exchange keyed on (source, chunk-hash) computes the
    * document frequencies; only the tiny df ≥ threshold slice joins
    * back (broadcast at any realistic template count), so the corpus is
    * scanned once and reassembled with a per-document aggregate. */
  val qBoilerplateStrip = QueryDef.sql(
    "q_boilerplate_strip",
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split_regex(trim(text), ' +') AS w
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source,
       |         unnest([i for i in range(0, CAST(ceil(len(w)/10.0) AS INT))])
       |           AS pos,
       |         unnest([list_aggregate(w[i*10+1:i*10+10], 'string_agg', ' ')
       |                 for i in range(0, CAST(ceil(len(w)/10.0) AS INT))])
       |           AS chunk
       |  FROM t),
       |df AS (
       |  SELECT source, chunk, count(DISTINCT doc_id) AS df
       |  FROM c GROUP BY source, chunk),
       |b AS (SELECT source, chunk FROM df WHERE df >= $BoilerplateMinDf),
       |m AS (
       |  SELECT c.doc_id, c.pos, c.chunk,
       |         (b.chunk IS NOT NULL) AS is_boiler
       |  FROM c LEFT JOIN b ON b.source = c.source AND b.chunk = c.chunk)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_boiler,
       |       coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END,
       |                           ' ' ORDER BY pos), '') AS cleaned_text
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val chunks = Tables
      .documents(s, d)
      .select($"doc_id", $"source", words($"text").as("w"))
      .select($"doc_id", $"source",
        posexplode(
          transform(
            sequence(lit(0), ceil(size($"w") / lit(10.0)).cast("int") - 1),
            i => array_join(slice($"w", i * 10 + 1, lit(10)), " ")))
          .as(Seq("pos", "chunk")))
    val boiler = chunks
      .groupBy($"source", $"chunk")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= BoilerplateMinDf)
      .select($"source".as("b_source"), $"chunk".as("b_chunk"))
    chunks
      .join(broadcast(boiler),
        $"source" === $"b_source" && $"chunk" === $"b_chunk", "left")
      .withColumn("is_boiler", $"b_chunk".isNotNull)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"is_boiler", 1L).otherwise(0L)).as("n_boiler"),
        coalesce(
          array_join(
            transform(
              array_sort(collect_list(when(!$"is_boiler",
                struct($"pos", $"chunk")))),
              x => x.getField("chunk")),
            " "),
          lit("")).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  /** Blocked terms for the term-filter pass (fixture-vocabulary terms so
    * the filter exercises real hits). */
  private val Blocklist = Seq("slow", "merge", "window")

  /** Term-blocklist screen (the C4 "bad words" pass): per document,
    * token count, blocked-token hits, hit share, and the keep verdict
    * (share < 5%). The blocklist is a LITERAL array folded into the
    * scan — `array_contains` per token inside one codegen'd projection,
    * no join, no shuffle, no explode; the per-doc arithmetic never
    * leaves the row. At 100 TB this pass is I/O-bound by construction
    * (real deployments compile the list into an Aho–Corasick automaton;
    * at three terms the array test is the same O(tokens) scan). */
  val qBlocklistFilter = QueryDef.sql(
    "q_blocklist_filter",
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(w) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(w, x -> list_contains(
       |         [${Blocklist.map("'" + _ + "'").mkString(", ")}], x)))
       |         AS BIGINT) AS n_blocked,
       |       round(len(list_filter(w, x -> list_contains(
       |         [${Blocklist.map("'" + _ + "'").mkString(", ")}], x)))
       |         * 1.0 / len(w), 4) AS blocked_share,
       |       (len(list_filter(w, x -> list_contains(
       |         [${Blocklist.map("'" + _ + "'").mkString(", ")}], x)))
       |         * 1.0 / len(w) < 0.05) AS keep
       |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bl = array(Blocklist.map(lit): _*)
    Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select(
        $"doc_id",
        size($"w").cast("long").as("n_tokens"),
        size(filter($"w", x => array_contains(bl, x))).cast("long")
          .as("n_blocked"))
      .select(
        $"doc_id", $"n_tokens", $"n_blocked",
        round($"n_blocked" * lit(1.0) / $"n_tokens", 4).as("blocked_share"),
        ($"n_blocked" * lit(1.0) / $"n_tokens" < 0.05).as("keep"))
      .orderBy($"doc_id")
  }

  /** k-anonymity group-size floor: a quasi-identifier combination held
    * by fewer than k documents is a re-identification risk. */
  private val KAnonK = 5

  /** k-anonymity audit (Sweeney 2002, "k-Anonymity: a model for
    * protecting privacy") over the release-style quasi-identifier
    * (lang, source, length band): every combination's population, its
    * risk flag (n < k), and the suppression share the release would
    * pay — the data-governance check a corpus distribution runs beside
    * [[graft.operators.Scoring]]'s PII scrub. One count-shuffle on the
    * quasi-identifier; output is O(|QI combinations|). */
  val qKAnonymity = QueryDef.sql(
    "q_k_anonymity",
    s"""WITH g AS (
       |  SELECT lang, source, n_chars // 256 AS len_band,
       |         count(*) AS n
       |  FROM documents GROUP BY 1, 2, 3),
       |tot AS (SELECT sum(n) AS total FROM g)
       |SELECT lang, source, CAST(len_band AS BIGINT) AS len_band,
       |       CAST(n AS BIGINT) AS n,
       |       (n < $KAnonK) AS risky,
       |       round(n * 1.0 / total, 4) AS share
       |FROM g CROSS JOIN tot
       |ORDER BY lang, source, len_band""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val g = Tables
      .documents(s, d)
      .groupBy($"lang", $"source",
        ($"n_chars".cast("long") / 256).cast("long").as("len_band"))
      .agg(count(lit(1)).as("n"))
    val tot = g.agg(sum($"n").as("total"))
    g.crossJoin(broadcast(tot))
      .select(
        $"lang", $"source", $"len_band", $"n",
        ($"n" < KAnonK).as("risky"),
        round($"n" * lit(1.0) / $"total", 4).as("share"))
      .orderBy($"lang", $"source", $"len_band")
  }

  /** l-diversity floor: a QI group whose sensitive attribute takes fewer
    * than l distinct values is homogeneous — membership alone leaks it. */
  private val LDivL = 2

  /** l-diversity audit (Machanavajjhala et al. 2007, "l-Diversity:
    * privacy beyond k-anonymity") — the companion check to
    * [[qKAnonymity]]: a group can be k-large yet still leak when every
    * member shares the sensitive value. Here QI = (source, length band),
    * sensitive attribute = lang: per group, its size, the number of
    * distinct langs, and the homogeneity flag (distinct < l). Same one
    * count-shuffle shape as the k-anonymity pass. */
  val qLDiversity = QueryDef.sql(
    "q_l_diversity",
    s"""WITH g AS (
       |  SELECT source, n_chars // 256 AS len_band,
       |         count(*) AS n,
       |         count(DISTINCT lang) AS n_langs
       |  FROM documents GROUP BY 1, 2)
       |SELECT source, CAST(len_band AS BIGINT) AS len_band,
       |       CAST(n AS BIGINT) AS n,
       |       CAST(n_langs AS BIGINT) AS n_langs,
       |       (n_langs < $LDivL) AS homogeneous
       |FROM g ORDER BY source, len_band""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .groupBy($"source",
        ($"n_chars".cast("long") / 256).cast("long").as("len_band"))
      .agg(count(lit(1)).as("n"), countDistinct($"lang").as("n_langs"))
      .select($"source", $"len_band", $"n", $"n_langs",
        ($"n_langs" < LDivL).as("homogeneous"))
      .orderBy($"source", $"len_band")
  }

  /** t-closeness distance ceiling: a QI group whose sensitive-attribute
    * distribution sits farther than t (total-variation distance) from
    * the corpus-wide distribution leaks attribute skew. */
  private val TCloseT = 0.2

  /** t-closeness audit (Li et al. 2007, "t-Closeness: privacy beyond
    * k-anonymity and l-diversity") — third leg of the governance trio
    * beside [[qKAnonymity]] and [[qLDiversity]]: l-diversity counts
    * DISTINCT sensitive values, but a group can be l-diverse and still
    * skewed (99% one lang); here each QI group (source, length band) is
    * scored by the total-variation distance 0.5·Σ|p − q| between its
    * lang distribution p and the corpus-wide distribution q, flagged
    * when the ROUNDED distance exceeds t. Scale: one count-shuffle on
    * (source, len_band, lang); the global distribution is a |langs|-row
    * broadcast, and the group×lang completion grid is O(groups·langs)
    * output-sized — the corpus is scanned once. */
  val qTCloseness = QueryDef.sql(
    "q_t_closeness",
    s"""WITH g AS (
       |  SELECT source, n_chars // 256 AS len_band, lang, count(*) AS n
       |  FROM documents GROUP BY 1, 2, 3),
       |gt AS (SELECT source, len_band, sum(n) AS gn FROM g GROUP BY 1, 2),
       |gl AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |tot AS (SELECT sum(n) AS t FROM gl),
       |q AS (SELECT lang, n * 1.0 / t AS q FROM gl CROSS JOIN tot),
       |pairs AS (
       |  SELECT gt.source, gt.len_band, gt.gn, q.q,
       |         coalesce(g.n, 0) * 1.0 / gt.gn AS p
       |  FROM gt CROSS JOIN q
       |  LEFT JOIN g ON g.source = gt.source AND g.len_band = gt.len_band
       |             AND g.lang = q.lang)
       |SELECT source, CAST(len_band AS BIGINT) AS len_band,
       |       CAST(any_value(gn) AS BIGINT) AS n,
       |       round(0.5 * sum(abs(p - q)), 4) AS tvd,
       |       (round(0.5 * sum(abs(p - q)), 4) > $TCloseT) AS leaky
       |FROM pairs GROUP BY source, len_band
       |ORDER BY source, len_band""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val g = docs
      .groupBy($"source",
        ($"n_chars".cast("long") / 256).cast("long").as("len_band"),
        $"lang")
      .agg(count(lit(1)).as("n"))
    val gt = g.groupBy($"source", $"len_band").agg(sum($"n").as("gn"))
    val glob = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
    val tot = glob.agg(sum($"n").as("t"))
    val q = glob
      .crossJoin(broadcast(tot))
      .select($"lang", ($"n" * lit(1.0) / $"t").as("q"))
    gt.crossJoin(broadcast(q))
      .join(g, Seq("source", "len_band", "lang"), "left")
      .select($"source", $"len_band", $"gn", $"q",
        (coalesce($"n", lit(0L)) * lit(1.0) / $"gn").as("p"))
      .groupBy($"source", $"len_band")
      .agg(
        first($"gn").as("n"),
        round(lit(0.5) * sum(abs($"p" - $"q")), 4).as("tvd"))
      .select($"source", $"len_band", $"n", $"tvd",
        ($"tvd" > TCloseT).as("leaky"))
      .orderBy($"source", $"len_band")
  }

  /** DP release privacy budget (ε) and the Laplace scale for a count
    * query (sensitivity 1 → b = 1/ε). */
  private val DpEpsilon = 1.0

  /** Differentially-private count release (Dwork et al. 2006, Laplace
    * mechanism) — the fourth leg of the governance family beside
    * [[qKAnonymity]]/[[qLDiversity]]/[[qTCloseness]]: per-language
    * document counts released with Laplace(1/ε) noise. The noise is
    * DETERMINISTIC here — u ~ hash-uniform per cell, inverse-CDF
    * transform −b·sign(u−½)·ln(1−2|u−½|) — which is what makes the
    * release oracle-checkable; a production caller swaps the hash
    * uniform for a secret-seeded one and the plan is unchanged. True
    * counts are emitted BESIDE the release as the calibration audit
    * (the gate checks the mechanism, not a real disclosure).
    *
    * Scale: one count-shuffle to O(|langs|) cells; the noise transform
    * is per-cell arithmetic. */
  val qDpRelease = QueryDef.sql(
    "q_dp_release",
    s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
       |           FROM documents GROUP BY 1),
       |u AS (
       |  SELECT lang, n,
       |         (CAST(concat('0x', substr(md5('dp|' || lang), 1, 15))
       |            AS BIGINT) % 1000000) / 1000000.0 + 0.0000005 AS uu
       |  FROM c),
       |z AS (
       |  SELECT lang, n,
       |         -(1.0 / $DpEpsilon)
       |           * CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
       |           * ln(1 - 2 * abs(uu - 0.5)) AS noise
       |  FROM u)
       |SELECT lang,
       |       CAST(n AS BIGINT) AS true_n,
       |       round(n + noise, 2) AS released_n,
       |       round(noise, 2) AS noise,
       |       $DpEpsilon AS epsilon
       |FROM z ORDER BY lang""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TextFunctions.stableHash60
    val c = Tables.documents(s, d)
      .groupBy($"lang").agg(count(lit(1)).cast("double").as("n"))
    val uu = (stableHash60(concat(lit("dp|"), $"lang")) % 1000000) /
      lit(1000000.0) + 0.0000005
    val noise = (lit(-1.0 / DpEpsilon) *
      when($"uu" >= 0.5, 1.0).otherwise(-1.0) *
      log(lit(1) - lit(2) * abs($"uu" - 0.5)))
    c.withColumn("uu", uu)
      .withColumn("noise", noise)
      .select($"lang",
        $"n".cast("long").as("true_n"),
        round($"n" + $"noise", 2).as("released_n"),
        round($"noise", 2).as("noise"),
        lit(DpEpsilon).as("epsilon"))
      .orderBy($"lang")
  }

  /** Target rows per semantic-dedup cell: the within-cell all-pairs cost
    * is O(cellRows²), so holding cellRows constant (and letting the CELL
    * COUNT grow with the corpus — the SemDeDup recipe's ~10⁴-10⁵
    * clusters at web scale) keeps per-partition work flat at any corpus
    * size. 16 is the floor so tiny fixtures still exercise multi-cell
    * dataflow. */
  val SemanticCellTarget = 1000L

  /** Cluster count for a corpus of `nVectors`: ceil(n / target), min 16.
    * Matches the oracle's `greatest(16, ceil(count(*) / target))`. */
  private[graft] def semanticCellCount(nVectors: Long): Int =
    math.max(16L, (nVectors + SemanticCellTarget - 1) / SemanticCellTarget)
      .toInt

  /** Deterministic cell assignment shared by [[qSemanticDedup]] and the
    * bounded-cell spec — TWO-LEVEL (coarse→fine) IVF routing, the r10
    * scale fix. Fine centroids are the first `nCentroids` ids, coarse
    * centroids the first ⌈√nCentroids⌉ (zero-norm ones dropped —
    * mirrored in the oracle). Each fine centroid routes to its nearest
    * coarse centroid; each vector routes to its nearest LIVE coarse
    * centroid (one whose fine group is non-empty — a tie can leave a
    * coarse id with no fines) and is then assigned the nearest fine
    * centroid WITHIN that group.
    *
    * Why two-level: the cell count k grows ∝ corpus (the within-cell
    * pair bound), so a FLAT assignment is n·k = n²/target cosines —
    * the quadratic term the r9 probe saw emerging (×14 at x100 →
    * ×656 at x1000 — the pair stage itself is linear at n·target/2).
    * Routing coarse-then-fine costs n·(√k + k/√k) = 2n√k: at the x1000
    * corpus that is ~45× less assignment arithmetic, and every stage
    * stays a broadcast of ≤k centroid rows against a never-shuffled
    * corpus scan. Every ranking is on the ROUNDED cosine (id tiebreak)
    * so an ulp of engine difference near a tie can't flip a cell.
    * Returns (vec_id, embedding, vn, cid). */
  private[graft] def semanticCells(
      emb: org.apache.spark.sql.DataFrame,
      nCentroids: Int): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val nCoarse = math.ceil(math.sqrt(nCentroids.toDouble)).toInt
    val fine = emb
      .filter($"vec_id" < nCentroids)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cv"),
        norm($"embedding").as("cn"))
      .filter($"cn" =!= 0.0)
    val coarse = emb
      .filter($"vec_id" < nCoarse)
      .select($"vec_id".cast("int").as("ccid"), $"embedding".as("ccv"),
        norm($"embedding").as("ccn"))
      .filter($"ccn" =!= 0.0)
    val wF2c = Window.partitionBy($"cid").orderBy(round($"cs", 4).desc, $"ccid")
    val f2c = fine
      .crossJoin(broadcast(coarse))
      .select($"cid", $"cv", $"cn", $"ccid",
        (dot($"cv", $"ccv") / ($"cn" * $"ccn")).as("cs"))
      .withColumn("rk", row_number().over(wF2c))
      .filter($"rk" === 1)
      .select($"cid", $"cv", $"cn", $"ccid")
    // only coarse groups that received ≥1 fine centroid are routable —
    // otherwise a vector could land in an empty group and vanish
    val live = coarse.join(f2c.select($"ccid").distinct(), "ccid")
    val wRoute = Window.partitionBy($"vec_id")
      .orderBy(round($"cs", 4).desc, $"ccid")
    val routed = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .filter($"vn" =!= 0.0)
      .crossJoin(broadcast(live))
      .select($"vec_id", $"embedding", $"vn", $"ccid",
        (dot($"embedding", $"ccv") / ($"vn" * $"ccn")).as("cs"))
      .withColumn("rk", row_number().over(wRoute))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"vn", $"ccid")
    val wAssign = Window.partitionBy($"vec_id")
      .orderBy(round($"cs", 4).desc, $"cid")
    routed
      .join(broadcast(f2c.withColumnRenamed("ccid", "fccid")),
        $"ccid" === $"fccid")
      .select($"vec_id", $"embedding", $"vn", $"cid",
        (dot($"embedding", $"cv") / ($"vn" * $"cn")).as("cs"))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"vn", $"cid")
  }

  /** Semantic dedup (the SemDeDup recipe): embeddings are clustered to
    * `max(16, ceil(n/1000))` deterministic IVF centroids (cell count
    * grows with the corpus so per-cell all-pairs work stays bounded — a
    * fixed cell count would make each cell O((N/k)²), a scale-killer),
    * and only WITHIN a cell are pairs compared — cosine above the
    * q_embed_neardup threshold marks the higher id as a duplicate of its
    * smallest same-cell partner. Assignment is the TWO-LEVEL
    * coarse→fine route of [[semanticCells]]: with k ∝ n a flat n·k
    * assignment is the quadratic term (the r9 probe measured it
    * emerging — ×656 wall over three decades), while coarse-then-fine
    * costs 2n√k. At 100 TB the cell is the partition key, so each
    * partition runs its own ~target² pair search while the corpus-level
    * product never forms. The single driver-side `count()` that sizes
    * the quantizer is parquet-metadata cheap. */
  /** The two-level (coarse→fine) assignment as oracle CTEs — the DuckDB
    * twin of [[semanticCells]], ending in `assigned(vec_id, v, cid)`.
    * Shared by [[qSemanticDedup]] and [[qKmeansStep]] so the two oracles
    * cannot drift from each other (they both gate the SAME production
    * assignment path). */
  private def twoLevelAssignCtes: String =
    s"""kk AS (
      |  SELECT greatest(16, CAST(ceil(count(*) / $SemanticCellTarget.0)
      |                           AS BIGINT)) AS k,
      |         CAST(ceil(sqrt(greatest(16.0, ceil(count(*) / $SemanticCellTarget.0))))
      |              AS BIGINT) AS kc
      |  FROM embeddings),
      |c AS (
      |  SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings
      |  WHERE vec_id < (SELECT k FROM kk)
      |    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |                                x -> x * x)) > 0),
      |cc AS (
      |  SELECT CAST(vec_id AS INT) AS ccid, CAST(embedding AS DOUBLE[]) AS ccv
      |  FROM embeddings
      |  WHERE vec_id < (SELECT kc FROM kk)
      |    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |                                x -> x * x)) > 0),
      |f2c AS (
      |  SELECT cid, cv, ccid FROM (
      |    SELECT c.cid, c.cv, cc.ccid,
      |           row_number() OVER (PARTITION BY c.cid
      |             ORDER BY round(list_cosine_similarity(c.cv, cc.ccv), 4)
      |                        DESC, cc.ccid) AS rk
      |    FROM c CROSS JOIN cc) WHERE rk = 1),
      |live AS (
      |  SELECT cc.ccid, cc.ccv FROM cc
      |  WHERE cc.ccid IN (SELECT DISTINCT ccid FROM f2c)),
      |v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |                                x -> x * x)) > 0),
      |routed AS (
      |  SELECT vec_id, v, ccid FROM (
      |    SELECT v.vec_id, v.v, live.ccid,
      |           row_number() OVER (PARTITION BY v.vec_id
      |             ORDER BY round(list_cosine_similarity(v.v, live.ccv), 4)
      |                        DESC, live.ccid) AS rk
      |    FROM v CROSS JOIN live) WHERE rk = 1),
      |assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT r.vec_id, r.v, f2c.cid,
      |           row_number() OVER (PARTITION BY r.vec_id
      |             ORDER BY round(list_cosine_similarity(r.v, f2c.cv), 4)
      |                        DESC, f2c.cid) AS rk
      |    FROM routed r JOIN f2c ON r.ccid = f2c.ccid) WHERE rk = 1)"""
      .stripMargin

  val qSemanticDedup = QueryDef.sql(
    "q_semantic_dedup",
    s"""WITH $twoLevelAssignCtes,
      |pairs AS (
      |  SELECT a.cid, b.vec_id AS dropped, a.vec_id AS keeper,
      |         list_cosine_similarity(a.v, b.v) AS cs
      |  FROM assigned a JOIN assigned b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 4) > 0.45)
      |SELECT dropped, cid, keeper, round(cs, 4) AS cos_sim FROM (
      |  SELECT cid, dropped, keeper, cs,
      |         row_number() OVER (PARTITION BY dropped ORDER BY keeper) AS rk
      |  FROM pairs) WHERE rk = 1
      |ORDER BY dropped""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val assigned = semanticCells(emb, semanticCellCount(emb.count()))
    val a = assigned.select($"cid", $"vec_id".as("keeper"),
      $"embedding".as("kv"), $"vn".as("kn"))
    val b = assigned.select($"cid".as("cid2"), $"vec_id".as("dropped"),
      $"embedding".as("dv"), $"vn".as("dn"))
    val w = Window.partitionBy($"dropped").orderBy($"keeper")
    a.join(b, $"cid" === $"cid2" && $"keeper" < $"dropped")
      .withColumn("c", dot($"kv", $"dv") / ($"kn" * $"dn"))
      .filter(round($"c", 4) > 0.45)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"dropped", $"cid", $"keeper", round($"c", 4).as("cos_sim"))
      .orderBy($"dropped")
  }

  /** Window length (tokens) for substring-level dedup: long enough that a
    * match is a real copied span, short enough that the fixture's injected
    * duplicates are caught (47 of 500 sf0.01 docs carry ≥1 duplicated
    * 8-gram). Lee et al. (2022, "Deduplicating Training Data Makes
    * Language Models Better") use 50 BPE tokens at web scale. */
  val SpanK = 8

  /** Substring (span-level) dedup: every overlapping [[SpanK]]-token
    * window is hashed; a window whose hash occurs ≥2 times corpus-wide is
    * a duplicated span, and per document we report how many token
    * positions duplicated spans cover (merged-interval coverage, the
    * gaps-and-islands running-max trick — no island grouping pass).
    *
    * Scale: the stride-1 window index is the honest cost of substring
    * dedup (~n_tokens rows — what the suffix-array formulation also
    * touches), but each shuffled row is only (doc_id, pos, hash64) ≈ 24
    * bytes, never the window text. The dup flag is a COUNT OVER
    * (PARTITION BY h) window, not an aggregate+join-back: one window
    * Generate pass, exactly two exchanges (h, then doc_id), and no
    * broadcast of the duplicate-hash set — which is corpus-sized in the
    * worst case and must never be a build side. */
  val qSubstringDedup = QueryDef.sql(
    "q_substring_dedup",
    s"""WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, len(w) AS n_words,
      |         unnest([{'pos': i, 'h':
      |           CAST(concat('0x', substr(md5(
      |             list_aggregate(w[i:i+${SpanK - 1}], 'string_agg', ' ')),
      |             1, 15)) AS BIGINT)}
      |           for i in range(1, len(w) - ${SpanK - 2})]) AS x
      |  FROM t WHERE len(w) >= $SpanK),
      |wp AS (SELECT doc_id, n_words, x.pos AS pos, x.h AS h FROM win),
      |dup AS (SELECT h FROM wp GROUP BY h HAVING count(*) >= 2),
      |flagged AS (
      |  SELECT doc_id, n_words, pos,
      |         CASE WHEN h IN (SELECT h FROM dup) THEN 1 ELSE 0 END AS is_dup
      |  FROM wp),
      |cov AS (
      |  SELECT doc_id, n_words, pos, is_dup,
      |         max(CASE WHEN is_dup = 1 THEN pos + ${SpanK - 1} END) OVER
      |           (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM flagged)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_windows,
      |       CAST(sum(is_dup) AS BIGINT) AS n_dup_windows,
      |       CAST(sum(CASE WHEN is_dup = 1
      |                THEN greatest(0, pos + ${SpanK - 1} -
      |                     greatest(coalesce(prev_end, 0), pos - 1))
      |                ELSE 0 END) AS BIGINT) AS dup_tokens,
      |       round(sum(CASE WHEN is_dup = 1
      |                THEN greatest(0, pos + ${SpanK - 1} -
      |                     greatest(coalesce(prev_end, 0), pos - 1))
      |                ELSE 0 END) * 1.0 / any_value(n_words), 4)
      |         AS dup_token_frac
      |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // the SAME column-parameterized operator the library exposes
    // (CorpusOps.spanDedupStats) — gate and API cannot drift
    CorpusOps
      .spanDedupStats(Tables.documents(s, d), "doc_id", "text", SpanK)
      .orderBy($"doc_id")
  }

  /** One k-means Lloyd refinement over the embedding corpus — the
    * clustering engine under [[qSemanticDedup]] / the IVF index, surfaced
    * as its own operator: seed centroids (the [[semanticCells]]
    * assignment), recompute each cell's mean vector, re-assign, and report
    * per-cell membership before/after, cohesion, and arrivals.
    *
    * Scale: assignment is a broadcast of k centroid rows against a
    * never-shuffled corpus scan; the centroid recompute is a (cid, dim)
    * mean — k·64 rows out of a map-side-combined aggregate. Each further
    * Lloyd round is the same two steps, so the full iterative loop is
    * round-count × (one scan + one tiny agg). Centroid components are
    * ROUNDED (4 dp) before the re-assignment, so both engines rank on
    * identical inputs — same ulp-guard as the assignment itself. */
  val qKmeansStep = QueryDef.sql(
    "q_kmeans_step",
    s"""WITH $twoLevelAssignCtes,
      |a0 AS (SELECT vec_id, v, cid FROM assigned),
      |comp AS (
      |  SELECT cid, u.dim AS dim, round(avg(u.x), 4) AS m FROM (
      |    SELECT cid, unnest([{'dim': i, 'x': v[i]}
      |                        for i in range(1, len(v)+1)]) AS u
      |    FROM a0) GROUP BY cid, u.dim),
      |c1 AS (
      |  SELECT cid AS ncid, cv FROM (
      |    SELECT cid, list(m ORDER BY dim) AS cv FROM comp GROUP BY cid)
      |  WHERE list_sum(list_transform(cv, x -> x * x)) > 0),
      |a1 AS (
      |  SELECT vec_id, ncid, cs, cid0 FROM (
      |    SELECT a0.vec_id, a0.cid AS cid0, c1.ncid,
      |           list_cosine_similarity(a0.v, c1.cv) AS cs,
      |           row_number() OVER (PARTITION BY a0.vec_id
      |             ORDER BY round(list_cosine_similarity(a0.v, c1.cv), 4) DESC,
      |                      c1.ncid) AS rk
      |    FROM a0 CROSS JOIN c1) WHERE rk = 1),
      |bef AS (SELECT cid, count(*) AS n_before FROM a0 GROUP BY cid),
      |aft AS (SELECT ncid AS cid, count(*) AS n_after,
      |               round(avg(round(cs, 4)), 4) AS cohesion,
      |               CAST(sum(CASE WHEN ncid <> cid0 THEN 1 ELSE 0 END)
      |                    AS BIGINT) AS n_moved_in
      |        FROM a1 GROUP BY ncid)
      |SELECT bef.cid,
      |       CAST(n_before AS BIGINT) AS n_before,
      |       CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
      |       cohesion,
      |       coalesce(n_moved_in, 0) AS n_moved_in
      |FROM bef LEFT JOIN aft ON bef.cid = aft.cid
      |ORDER BY bef.cid""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val a0 = semanticCells(emb, semanticCellCount(emb.count()))
    // element-wise cell means: (cid, dim) mean → re-assembled double array
    // (array_sort on (dim, m) structs restores component order)
    val c1 = a0
      .select($"cid", posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"cid", $"dim")
      .agg(round(avg($"x"), 4).as("m"))
      .groupBy($"cid")
      .agg(
        transform(array_sort(collect_list(struct($"dim", $"m"))),
          x => x.getField("m")).as("cv"))
      .select($"cid".as("ncid"), $"cv", norm($"cv").as("cn"))
      .filter($"cn" =!= 0.0)
    val wA = Window.partitionBy($"vec_id")
      .orderBy(round($"cs", 4).desc, $"ncid")
    val a1 = a0
      .select($"vec_id", $"embedding", $"vn", $"cid".as("cid0"))
      .crossJoin(broadcast(c1))
      .withColumn("cs", dot($"embedding", $"cv") / ($"vn" * $"cn"))
      .withColumn("rk", row_number().over(wA))
      .filter($"rk" === 1)
    val bef = a0.groupBy($"cid").agg(count(lit(1)).as("n_before"))
    val aft = a1
      .groupBy($"ncid".as("cid"))
      .agg(
        count(lit(1)).as("n_after"),
        round(avg(round($"cs", 4)), 4).as("cohesion"),
        sum(when($"ncid" =!= $"cid0", 1L).otherwise(0L)).as("n_moved_in"))
    bef
      .join(aft, Seq("cid"), "left")
      .select(
        $"cid",
        $"n_before",
        coalesce($"n_after", lit(0L)).as("n_after"),
        $"cohesion",
        coalesce($"n_moved_in", lit(0L)).as("n_moved_in"))
      .orderBy($"cid")
  }

  /** Result of a spherical k-means training run ([[lloydTrain]]):
    * `assignment` = (vec_id, unit_vec, cell) against the FINAL centroids;
    * `centroids` = (cell, cv) UNIT centroid vectors; `cohesionPerRound` =
    * the avg-cosine objective at each round's assignment step. */
  final case class LloydResult(
      assignment: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame,
      cohesionPerRound: Seq[Double])

  /** Multi-round Lloyd loop — spherical k-means (Dhillon & Modha 2001,
    * "Concept decompositions for large sparse text data using
    * clustering"): unit vectors, cosine assignment, normalized-mean
    * centroid update. On the unit sphere both half-steps improve the
    * Σ x·c objective (argmax re-assignment for fixed centroids; the
    * normalized mean maximizes Σ x·c for a fixed assignment), so the
    * per-round cohesion is monotone non-decreasing — the convergence
    * guarantee the spec asserts. Feeds [[graft.sources.EmbeddingIndex]]'s
    * trained build, replacing the first-k seed quantizer.
    *
    * Scale shape, per round: ONE corpus scan against k broadcast
    * centroid rows (the corpus is localCheckpoint'ed once up front and
    * never re-shuffled), one map-side-combined (cell, dim) mean of k·dim
    * rows, and a lineage cut on the k-row centroid relation (the
    * [[Dedup.connectedComponents]] pattern — round N's plan must not
    * replay rounds 1..N-1). Total cost = rounds × (scan + tiny agg); the
    * early-stop fires when the objective gain drops under `tol`. */
  def lloydTrain(emb: org.apache.spark.sql.DataFrame, k: Int,
      maxRounds: Int = 8, tol: Double = 1e-6): LloydResult = {
    val s = emb.sparkSession
    import s.implicits._
    val unit = emb
      .select($"vec_id", $"embedding", norm($"embedding").as("vn"))
      .filter($"vn" =!= 0.0)
      .select($"vec_id",
        transform($"embedding", x => x.cast("double") / $"vn").as("uv"))
      .localCheckpoint()
    // seed: the first k unit vectors (same replay-stable quantizer the
    // one-step q_kmeans_step starts from)
    var centroids = unit
      .orderBy($"vec_id")
      .limit(k)
      .select($"vec_id".cast("int").as("cell"), $"uv".as("cv"))
      .localCheckpoint()
    val wA = Window.partitionBy($"vec_id").orderBy($"cs".desc, $"cell")
    def assign(c: org.apache.spark.sql.DataFrame) = unit
      .crossJoin(broadcast(c))
      .withColumn("cs", dot($"uv", $"cv")) // unit × unit: dot IS cosine
      .withColumn("rk", row_number().over(wA))
      .filter($"rk" === 1)
      .select($"vec_id", $"uv", $"cell", $"cs")
    var cohesions = Vector.empty[Double]
    var round = 0
    var converged = false
    var lastAssigned: org.apache.spark.sql.DataFrame = null
    while (round < maxRounds && !converged) {
      val assigned = assign(centroids)
      lastAssigned = assigned
      val coh = assigned.agg(avg($"cs")).head().getDouble(0)
      converged = cohesions.nonEmpty && coh - cohesions.last < tol
      cohesions = cohesions :+ coh
      if (!converged) {
        // normalized mean per cell; an (impossible on the sphere, but
        // guarded) zero-norm mean drops its cell rather than emitting NaN
        centroids = assigned
          .select($"cell", posexplode($"uv").as(Seq("dim", "x")))
          .groupBy($"cell", $"dim")
          .agg(avg($"x").as("m"))
          .groupBy($"cell")
          .agg(
            transform(array_sort(collect_list(struct($"dim", $"m"))),
              x => x.getField("m")).as("mv"))
          .select($"cell", $"mv", norm($"mv").as("mn"))
          .filter($"mn" =!= 0.0)
          .select($"cell", transform($"mv", x => x / $"mn").as("cv"))
          .localCheckpoint()
      }
      round += 1
    }
    // converged exit: centroids were NOT updated after the last
    // assignment, so it is already the final one — recomputing would
    // replay a full corpus scan for an identical answer. Only the
    // round-cap exit (centroids updated, then loop ended) needs a
    // fresh assignment.
    val finalAssigned =
      if (converged && lastAssigned != null) lastAssigned
      else assign(centroids)
    LloydResult(
      assignment = finalAssigned.select($"vec_id", $"uv".as("unit_vec"),
        $"cell"),
      centroids = centroids,
      cohesionPerRound = cohesions)
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over 1024 hashed
    * unigram buckets — the audit that catches a drifted source (scraper
    * regression, mislabeled dump) before it trains. Delegates to
    * [[CorpusOps.sourceDivergence]]; the only corpus-scale operation is
    * one count-shuffle, and KL sums the full smoothed bucket domain so
    * the score is a true divergence. */
  val qSourceKl = QueryDef.sql(
    "q_source_kl",
    """WITH t AS (
      |  SELECT source, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |tok AS (SELECT source, unnest(w) AS token FROM t),
      |sb AS (
      |  SELECT source,
      |         CAST(concat('0x', substr(md5('ds|' || token), 1, 15))
      |              AS BIGINT) % 1024 AS b,
      |         count(*) AS c
      |  FROM tok GROUP BY 1, 2),
      |stot AS (SELECT source, sum(c) AS ns FROM sb GROUP BY source),
      |cb AS (SELECT b, sum(c) AS cbn FROM sb GROUP BY b),
      |tot AS (SELECT sum(cbn) AS n FROM cb),
      |dom AS (
      |  SELECT source, d.b
      |  FROM stot CROSS JOIN
      |       (SELECT unnest(generate_series(0, 1023)) AS b) d),
      |terms AS (
      |  SELECT dom.source, stot.ns, sb.c,
      |         (coalesce(sb.c, 0) + 1.0) / (stot.ns + 1024.0) AS q,
      |         (coalesce(cb.cbn, 0) + 1.0) / (tot.n + 1024.0) AS p
      |  FROM dom
      |  JOIN stot USING (source)
      |  LEFT JOIN sb ON sb.source = dom.source AND sb.b = dom.b
      |  LEFT JOIN cb ON cb.b = dom.b
      |  CROSS JOIN tot)
      |SELECT source, CAST(any_value(ns) AS BIGINT) AS n_tokens,
      |       CAST(count(c) AS BIGINT) AS n_buckets,
      |       round(sum(q * ln(q / p)), 4) + 0.0 AS kl_to_corpus
      |FROM terms GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .sourceDivergence(Tables.documents(s, d), "source", "text")
      .orderBy($"source")
  }

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions (Lin 1991) — the symmetric, bounded distance matrix
    * beside [[qSourceKl]]'s KL-to-corpus: same 1024-bucket hashed
    * distributions and add-one smoothing (same salt, shared hashing),
    * ½KL(P‖M) + ½KL(Q‖M) with M the midpoint, reported in nats and
    * bits. Near-0 = same distribution crawled twice; near-ln 2 =
    * disjoint vocabularies. The matrix is what a mixing planner
    * clusters sources by before assigning dedup order and weights.
    *
    * Scale: one corpus token count-shuffle to |sources|·1024 rows; the
    * pair join runs on that aggregate keyed by bucket —
    * ≤ |sources|²·1024/2 rows, corpus-independent. */
  val qSourceJsd = QueryDef.sql(
    "q_source_jsd",
    """WITH t AS (
      |  SELECT source, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |tok AS (SELECT source, unnest(w) AS token FROM t),
      |sb AS (
      |  SELECT source,
      |         CAST(concat('0x', substr(md5('ds|' || token), 1, 15))
      |              AS BIGINT) % 1024 AS b,
      |         count(*) AS c
      |  FROM tok GROUP BY 1, 2),
      |stot AS (SELECT source, sum(c) AS ns FROM sb GROUP BY source),
      |dom AS (
      |  SELECT stot.source, d.b,
      |         (coalesce(sb.c, 0) + 1.0) / (stot.ns + 1024.0) AS p
      |  FROM stot CROSS JOIN
      |       (SELECT unnest(generate_series(0, 1023)) AS b) d
      |  LEFT JOIN sb ON sb.source = stot.source AND sb.b = d.b),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         round((sum(a.p * ln(2.0 * a.p / (a.p + b.p)))
      |                + sum(b.p * ln(2.0 * b.p / (a.p + b.p)))) * 0.5, 4)
      |           + 0.0 AS jsd
      |  FROM dom a JOIN dom b ON a.b = b.b AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, jsd, round(jsd / ln(2.0), 4) AS jsd_bits
      |FROM pairs ORDER BY src_a, src_b""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .sourceJsd(Tables.documents(s, d), "source", "text")
      .orderBy($"src_a", $"src_b")
  }

  /** Source-overlap matrix — the cross-source contamination audit a
    * corpus report publishes: for every ordered source pair (A, B), how
    * much of A's distinct 3-gram shingle vocabulary also appears in B
    * (Broder's containment, "On the resemblance and containment of
    * documents", 1997). High containment means B largely re-crawls A —
    * the signal that drives source-level mixing and dedup-order
    * decisions before any per-document pass runs.
    *
    * Scale: the distinct (source, shingle) stream is computed once,
    * hash-partitioned on the shingle, and self-joined there — both join
    * branches read the same exchange (ReusedExchange), and each shingle
    * contributes at most |sources|² pair rows, so the join output is
    * bounded by the shingle vocabulary, never the corpus. The
    * |sources|-row denominators broadcast back; the answer is ≤
    * |sources|² rows. Containment uses the tie-safe floor(x·10⁴+0.5)
    * rounding. */
  val qSourceOverlap = QueryDef.sql(
    "q_source_overlap",
    """WITH t AS (
      |  SELECT source, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |ds AS (
      |  SELECT DISTINCT source,
      |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                 for i in range(1, len(w)-1)]) AS s
      |  FROM t WHERE len(w) >= 3),
      |cnt AS (SELECT source, count(*) AS n FROM ds GROUP BY source),
      |pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      |  FROM ds a JOIN ds b ON a.s = b.s AND a.source <> b.source
      |  GROUP BY 1, 2)
      |SELECT pr.src_a, pr.src_b, ca.n AS n_a, pr.n_common,
      |       floor(pr.n_common * 10000.0 / ca.n + 0.5) / 10000.0
      |         AS containment
      |FROM pr JOIN cnt ca ON pr.src_a = ca.source
      |ORDER BY src_a, src_b""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .sourceOverlap(Tables.documents(s, d), "source", "text")
      .orderBy($"src_a", $"src_b")
  }

  /** Mean chunk length for content-defined chunking: a word ends a chunk
    * when stable_hash60(word) % CdcDivisor == 0, so chunks average
    * ~CdcDivisor words. */
  val CdcDivisor = 16

  /** Content-defined chunking (CDC) dedup — gear-hash chunking at word
    * granularity: a chunk boundary falls AFTER any word whose stable hash
    * is ≡ 0 mod [[CdcDivisor]], so boundaries depend only on local
    * content. That is the property fixed-width chunking (q_paragraph_dedup)
    * lacks: inserting one word there shifts EVERY later chunk and breaks
    * all their dedup matches, while CDC re-synchronizes at the next
    * boundary, so an edit dirties only the chunk containing it
    * (spec-asserted). This is the storage/transfer dedup recipe (LBFS,
    * Muthitacharoen et al. 2001; FastCDC) applied to corpus text: per doc,
    * how many of its chunks are duplicates of an earlier chunk anywhere in
    * the corpus, and the characters that chunk-level dedup would save.
    *
    * Scale (100 TB): the boundary decision is a pure per-word projection
    * (no model, no join); the chunk-assembly window is per-document
    * (bounded); the only corpus-wide exchange is the occurrence ranking,
    * which shuffles one (hash, doc, pos) row per CHUNK — ~1/[[CdcDivisor]]
    * of the token stream. Min/max chunk bounds of production CDC are
    * omitted (they only tighten the chunk-size distribution; the dataflow
    * is identical). */
  val qCdcDedup = QueryDef.sql(
    "q_cdc_dedup",
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(w) AS word,
       |         unnest(range(1, len(w) + 1)) AS pos
       |  FROM t),
       |b AS (
       |  SELECT doc_id, pos, word,
       |         CASE WHEN CAST(concat('0x', substr(md5(word), 1, 15))
       |                    AS BIGINT) % $CdcDivisor = 0
       |              THEN 1 ELSE 0 END AS cut
       |  FROM tok),
       |c AS (
       |  SELECT doc_id, pos, word,
       |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
       |                                 ROWS BETWEEN UNBOUNDED PRECEDING
       |                                 AND 1 PRECEDING), 0) AS chunk
       |  FROM b),
       |ch AS (
       |  SELECT doc_id, chunk,
       |         string_agg(word, ' ' ORDER BY pos) AS chunk_text,
       |         count(*) AS n_words
       |  FROM c GROUP BY doc_id, chunk),
       |r AS (
       |  SELECT doc_id, chunk, chunk_text,
       |         row_number() OVER (PARTITION BY md5(chunk_text)
       |                            ORDER BY doc_id, chunk) AS occ
       |  FROM ch)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dup_chunks,
       |       CAST(sum(CASE WHEN occ > 1 THEN len(chunk_text) ELSE 0 END)
       |            AS BIGINT) AS chars_saved
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .cdcDedupStats(Tables.documents(s, d), "doc_id", "text", CdcDivisor)
      .orderBy($"doc_id")
  }

  /** KMV sketch size for the sketched overlap audit. */
  private val KmvK = 128

  /** Sketched cross-source Jaccard: the [[qSourceOverlap]] audit rebuilt
    * on k-minimum-values sketches (Beyer et al. 2007, "On synopses for
    * distinct-value estimation under multiset operations") so its cost
    * stops depending on the shingle vocabulary. Each source's distinct
    * 3-shingle set is summarized by its k=128 smallest stableHash60
    * values via the mergeable `KmvAgg.kmvSketch`; every
    * pairwise estimate — union cardinality and Jaccard — is then array
    * arithmetic over two 1 KB rows.
    *
    * Estimators: with X = the k smallest of A ∪ B (merge of the two
    * sketches), ĵ = |X ∩ A ∩ B| / |X|, and û = the [[KmvAgg]] density
    * formula on X's k-th value (exact when the union never filled k).
    *
    * Scale: the exact path shuffles every distinct (source, shingle)
    * pair and self-joins on the shingle — fine at sf0.1, linear in the
    * vocabulary at 100 TB. This path ships ≤ k longs per partial
    * buffer (map-side combining aggregate straight off the scan, no
    * pre-distinct needed — the buffer dedups), one |sources|-row
    * result, and a broadcast self-join. The sketch row count never
    * grows with the corpus. */
  val qKmvSourceJaccard = QueryDef.sql(
    "q_kmv_source_jaccard",
    s"""WITH t AS (
       |  SELECT source, string_split_regex(trim(text), ' +') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source,
       |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                 for i in range(1, len(w)-1)]) AS s
       |  FROM t WHERE len(w) >= 3),
       |h AS (
       |  SELECT DISTINCT source,
       |         CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
       |  FROM sh),
       |rk AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |  FROM h),
       |sk AS (
       |  SELECT source, list(h ORDER BY h) AS sk
       |  FROM rk WHERE r <= $KmvK GROUP BY source),
       |m AS (
       |  SELECT a.source AS src_a, b.source AS src_b, a.sk AS ska, b.sk AS skb,
       |         (list_sort(list_distinct(list_concat(a.sk, b.sk))))[:$KmvK] AS mg
       |  FROM sk a JOIN sk b ON a.source < b.source)
       |SELECT src_a, src_b,
       |       CAST(CASE WHEN len(mg) < $KmvK THEN len(mg)
       |                 ELSE floor(${KmvK - 1}.0 *
       |                        (1152921504606846976.0 / mg[$KmvK]))
       |            END AS BIGINT) AS est_union,
       |       round(len(list_filter(mg,
       |               x -> list_contains(ska, x) AND list_contains(skb, x)))
       |             * 1.0 / len(mg), 4) AS est_jaccard
       |FROM m ORDER BY src_a, src_b""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val sketches = Tables
      .documents(s, d)
      .select($"source", words($"text").as("w"))
      .select($"source", explode(shingles($"w", 3)).as("sh"))
      .select($"source", stableHash60($"sh").as("h"))
      .groupBy($"source")
      .agg(graft.plans.KmvAgg.kmvSketch($"h", KmvK).as("sk"))
    val pairs = sketches
      .select($"source".as("src_a"), $"sk".as("ska"))
      .join(
        broadcast(sketches.select($"source".as("src_b"), $"sk".as("skb"))),
        $"src_a" < $"src_b")
      .withColumn("mg",
        slice(array_sort(array_union($"ska", $"skb")), 1, KmvK))
    pairs
      .select(
        $"src_a", $"src_b",
        when(size($"mg") < KmvK, size($"mg").cast("long"))
          .otherwise(
            floor(lit((KmvK - 1).toDouble) *
              (lit(graft.plans.KmvAgg.M) / element_at($"mg", KmvK)))
              .cast("long"))
          .as("est_union"),
        round(
          size(array_intersect($"mg", array_intersect($"ska", $"skb"))) *
            lit(1.0) / size($"mg"), 4).as("est_jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  def defs: Seq[QueryDef] =
    Seq(qDecontaminate, qCrossCorpusDedup, qParagraphDedup, qSemanticDedup,
      qSubstringDedup, qKmeansStep, qSourceKl, qSourceJsd, qSourceOverlap,
      qCdcDedup, qKmvSourceJaccard, qBoilerplateStrip, qBlocklistFilter,
      qKAnonymity, qLDiversity, qTCloseness, qDpRelease)
}
